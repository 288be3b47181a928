"""Every gate query of ``__spark_entry__.queries()`` against its DuckDB
oracle.

Each query is compared with its ``oracle_sql()`` text on sf0.001 by the
same per-query comparison ``scripts/check_correctness.py`` uses, and must
report MATCH. The set covers the pipeline (parse, classify, routing, the
MELT projection and fills, enrichment, the trace decode), the chunk stage
(operators/chunks.py ``_staged`` and ``_per_conv``; ``chunk_gz_parity``
runs both gzip replays) and the corpus-curation and media operators,
many of which run Python UDFs.
"""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as e

SF_DIR = "/root/testdata/sf0.001"
GATE_QUERIES = list(e.queries())

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
    from scripts.check_correctness import compare_query

    ok, detail = compare_query(
        spark, duck, SF_DIR, name, e.queries()[name], e.oracle_sql()[name]
    )
    assert ok, detail
    assert detail.startswith("MATCH"), detail
