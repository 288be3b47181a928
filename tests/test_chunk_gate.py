"""The pipeline and chunk-stage gate queries against their DuckDB oracles.

Each query in ``GATE_QUERIES`` is compared with its ``oracle_sql()``
text on sf0.001 by the same per-query comparison
``scripts/check_correctness.py`` uses, and must report MATCH:

- the pipeline queries, from the derived transcripts through parse,
  classify, routing, the MELT projection and fills, enrichment and the
  trace decode;
- the chunk queries ``chunk_census``, ``chunk_gz_parity``,
  ``chunk_raw_costs`` and ``chunk_events_by_sink``, which run through the
  chunk staging (operators/chunks.py ``_staged`` and ``_per_conv``) and, for
  ``chunk_gz_parity``, both gzip replays."""

from __future__ import annotations

import os

import pytest

SF_DIR = "/root/testdata/sf0.001"
GATE_QUERIES = [
    "transcripts_derive",
    "parse_flags",
    "classify_sinks",
    "route_counts",
    "infra_lambda_filtered",
    "agent_reformat",
    "request_id_fill",
    "melt_shape",
    "conv_meta_derive",
    "enrich_owner",
    "trace_decode",
    "chunk_census",
    "chunk_gz_parity",
    "chunk_raw_costs",
    "chunk_events_by_sink",
]

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"gate input {SF_DIR} is absent"
)


@pytest.fixture(scope="module")
def duck():
    from scripts.check_correctness import duckdb_views

    con = duckdb_views(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", GATE_QUERIES)
def test_chunk_gate_query_matches_oracle(spark, duck, name):
    import __spark_entry__ as e
    from scripts.check_correctness import compare_query

    ok, detail = compare_query(
        spark, duck, SF_DIR, name, e.queries()[name], e.oracle_sql()[name]
    )
    assert ok, detail
    assert detail.startswith("MATCH"), detail
