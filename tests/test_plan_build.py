"""Building a plan costs few py4j round trips.

With ``spark.python.sql.dataFrameDebugging.enabled`` on (PySpark's
default), every ``functions.*`` and ``Column`` call captures its Python
call site and makes about six extra JVM calls. ``get_spark`` turns it
off; these tests pin the setting and the round trips ``write_sinks``
spends building its three frames.
"""

from __future__ import annotations

import threading

import pyspark.errors.utils
from py4j.clientserver import ClientServerConnection

from aws_log_ingestion_spark.config import PipelineConfig
from aws_log_ingestion_spark.operators import checkpoint as ckpt
from aws_log_ingestion_spark.operators.route import write_sinks
from aws_log_ingestion_spark.plans.job import prepare

CFG = PipelineConfig(logging_enabled=True)
# measured: ~2,700 round trips without call-site capture, ~8,600 with it
ROUND_TRIP_BUDGET = 4_000


def test_session_disables_dataframe_debugging(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_write_sinks_builds_frames_within_round_trip_budget(
    spark, template_df, template_meta_df, tmp_path, monkeypatch
):
    """The sink frames over a hub read back from parquet, as
    ``run_pipeline`` builds them, with a commit that writes nothing."""
    hub = prepare(template_df, template_meta_df, CFG, skew_threshold=0)
    path = str(tmp_path / "hub")
    ckpt.write_parquet(hub, path)
    hub = ckpt.read_with_schema(spark, hub.schema.json(), path)
    # PySpark caches the setting at a process's first functions.* call;
    # cleared, it is read again from this session's conf
    monkeypatch.setattr(pyspark.errors.utils, "_enable_debugging_cache", None)
    calls = 0
    send = ClientServerConnection.send_command
    # py4j's finalizer thread deletes Java objects that Python's GC frees
    # meanwhile; only this thread's commands build the frames
    caller = threading.get_ident()

    def counted(self, command):
        nonlocal calls
        if threading.get_ident() == caller:
            calls += 1
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    committed = []
    write_sinks(hub, CFG, lambda name, *_a, **_k: committed.append(name))
    monkeypatch.undo()
    assert committed == ["infra", "logging", "chunk_stats"]
    assert calls <= ROUND_TRIP_BUDGET, calls
