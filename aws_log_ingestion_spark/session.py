"""SparkSession factory tuned for the pipeline.

Local-mode knobs are proxies for cluster settings: on a real 1000-executor
cluster the same builder is used with ``master`` unset (picked up from
spark-submit) and ``spark.sql.shuffle.partitions`` sized to ~2-3x total
cores. AQE is on so the shuffle partition count self-corrects at runtime
(coalesce for small stages, skew-split for hot conversations).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


# the default local heap never exceeds this share of physical RAM: the
# Python workers and the JVM's off-heap memory need the rest
RAM_SHARE = 0.5
_MEM_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _physical_ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def _mem_bytes(spec: str) -> int:
    """Bytes in a JVM memory string (``8g``, ``3072m``, ``512mb``); no
    unit means MiB, as for ``spark.driver.memory``."""
    m = re.fullmatch(r"(\d+)([kmgt]?)(b?)", spec.strip().lower())
    if not m:
        raise ValueError(f"{spec!r} is not a JVM memory string such as 8g or 3072m")
    n, unit, b = m.groups()
    if unit:
        return int(n) * _MEM_UNITS[unit]
    return int(n) if b else int(n) << 20


def _heap_for(cores: int | None) -> str:
    """Heap scales with task-slot count (1.5 GB/core, floor 16 GB),
    capped at ``RAM_SHARE`` of physical RAM.

    This is the cluster-faithful model: a real N-executor cluster has
    N x executor-memory total, so a 4N-core local[] arm must get ~4x the
    heap of the N-core arm — a FIXED heap starves the wide arm's G1
    (measured: local[32] on 15M turns, 16g -> 394 CPU-s, 48g -> 299
    CPU-s and 16.1s -> 12.0s wall). On a box with less RAM than that the
    cap wins: a heap the machine cannot back fails late, under load.
    SPARK_DRIVER_MEMORY still overrides.
    """
    want_gb = 16 if cores is None else max(16, int(cores * 1.5))
    cap_mb = int(_physical_ram_bytes() * RAM_SHARE) >> 20
    return f"{min(want_gb << 10, cap_mb)}m"


def _driver_memory(cores: int | None, master_env: str) -> str:
    """``spark.driver.memory``: SPARK_DRIVER_MEMORY when set — refused
    when it asks for more than physical RAM — else the default."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        ram = _physical_ram_bytes()
        if _mem_bytes(env) > ram:
            raise ValueError(
                f"SPARK_DRIVER_MEMORY={env} exceeds this machine's physical "
                f"RAM ({ram >> 20} MiB)"
            )
        return env
    # under local-cluster the EXECUTORS hold the data; the driver only
    # plans and collects small results
    return "8g" if master_env.startswith("local-cluster") else _heap_for(cores)


def _extra_conf_env() -> dict[str, str]:
    """``SPARK_GRAFT_EXTRA_CONF="k1=v1;k2=v2"`` as a dict: Spark conf
    overrides without code changes, e.g. ``spark.ui.enabled=true``, a
    codec A/B (``spark.sql.parquet.compression.codec=snappy``) or JVM
    flags (``spark.driver.extraJavaOptions=-XX:+UseParallelGC``).

    Measured and not adopted: ``-XX:TieredStopAtLevel=1`` (C1 only, to
    cut the JIT share of a warm run) made warm batch_bucketed ops slower,
    3.5-4.6 s against 2.1-3.7 s with one session per setting on 4 vCPUs,
    and roughly doubled executor-thread CPU: the generated code needs C2.
    """
    conf = {}
    for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if not kv.strip():
            continue
        k, sep, v = kv.partition("=")
        if not sep or not k.strip():
            raise ValueError(
                f"SPARK_GRAFT_EXTRA_CONF entry {kv.strip()!r} is not key=value "
                "(entries are separated by ';')"
            )
        conf[k.strip()] = v.strip()
    return conf


def get_spark(
    app_name: str = "transcript-log-pipeline",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores=None`` leaves the master to spark-submit (cluster mode); an
    integer forces ``local[cores]`` (tests / bench). Shuffle partitions
    default to 2x cores locally — AQE coalesces down when input is small.
    """
    # parsed first, so a malformed entry fails before any builder or JVM work
    env_conf = _extra_conf_env()
    builder = SparkSession.builder.appName(app_name)
    # SPARK_GRAFT_MASTER overrides the topology without touching callers:
    # e.g. "local-cluster[4,8,14336]" = 4 SEPARATE executor JVMs x 8 cores
    # x 14 GiB workers — the faithful proxy for "N vs 4N executors" (own
    # heap/GC per executor, real netty shuffle between processes), unlike
    # one fat local[4N] JVM. ``cores`` keeps sizing shuffle partitions.
    master_env = os.environ.get("SPARK_GRAFT_MASTER")
    if master_env:
        builder = builder.master(master_env)
        if master_env.startswith("local-cluster"):
            m = re.match(r"local-cluster\[(\d+),(\d+),(\d+)\]", master_env)
            if not m:
                # A malformed string (spaces, 'g' suffix) would silently
                # leave executors at the 1g default and OOM at bench
                # scale with no hint why (ADVICE r3) — fail loud instead.
                raise ValueError(
                    f"SPARK_GRAFT_MASTER={master_env!r} does not match "
                    "local-cluster[nExec,coresPerExec,memMB] (memory must "
                    "be plain MB, no unit suffix)"
                )
            _n_exec, _exec_cores, mem_mb = (int(x) for x in m.groups())
            # executor heap fits inside the worker allowance; the
            # driver only plans/collects, so it keeps a small heap
            builder = builder.config(
                "spark.executor.memory", f"{max(mem_mb - 2048, 1024)}m"
            )
            repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
            # executor Python workers must import this package
            builder = builder.config("spark.executorEnv.PYTHONPATH", repo_root)
    elif cores is not None:
        builder = builder.master(f"local[{cores}]")
    if cores is not None and shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 8)
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))

    builder = (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # 8m instead of the default 64MB advisory size, so large
        # shuffles split finer. Small ones are not helped: with
        # coalescePartitions.parallelismFirst on (the default) AQE ignores
        # the advisory size and coalesces down to the 1 MB minPartitionSize
        # floor. Over a random layout at benchmark scale the hub's ~1.7 MB
        # shuffle therefore runs its fill window, sort and write as ONE
        # task while the other cores idle. Over conv_id-bucketed input the
        # hub has no exchange and writes one task per bucket
        # (plans/job.py::prepare); see ROADMAP Direction 2.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        # Generated-class cache (static conf; LRU, default 100 entries).
        # Measured working sets, in distinct generated classes: template
        # corpus, cold run_pipeline 130; pipebench batch_bucketed, set-up
        # included, 113; pipebench incremental_append, bootstrap and two
        # appends, ~240. At 100 every warm run evicted its own classes and
        # Janino plus HotSpot's C2 recompiled them: ~57 compilations per
        # warm batch_bucketed op on 4 vCPUs, 0-6 at 1024, and cpu_s fell
        # 14%. 1024 is > 4x the largest working set.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        # PySpark's call-site capture (errors/utils.py::_with_origin) walks
        # the Python stack and calls the JVM (active session, a conf read,
        # PySparkCurrentOrigin set/clear) on every functions.* and Column
        # call: one F.col costs 13 py4j round trips (~490 us) with it and
        # 3 (~170 us) without. Building route.write_sinks' three frames
        # over the template hub takes ~8,600 round trips with it and
        # ~2,700 without (tests/test_plan_build.py). A warm batch_bucketed
        # op's wall_s fell 2.25 ->
        # 2.07 s (medians of 10 interleaved pairs, 4 vCPUs). Trade-off: an
        # error raised from an expression loses the Python file:line in its
        # "DataFrame query context"; the exception and its Spark-side
        # context stay. PySpark reads this once per process, at the first
        # functions.* call, so the session conf is the place to set it.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # subset-key co-partitioning (pre-3.3 behavior): a side already
        # hash-clustered on conv_id satisfies a join on
        # (conv_id, turn_idx) without re-shuffling — the bucketed-ingest
        # marker-join fill depends on this (operators/melt.py)
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batches feed the two pandas UDFs; 10k rows balances Python
        # worker latency against per-batch memory for long text columns.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # zstd: storage-efficient finals
        .config("spark.sql.parquet.compression.codec", "zstd")
        # committer v2: task commits rename straight into the destination
        # instead of a serial driver-side job-commit rename pass —
        # interleaved A/B on the 4x2-executor arm: 26.1s/181.7 CPU-s vs
        # 29.4s/203.7 base (~11% both measures; v2 won every rep). Safe
        # for the overwrite writes because each is gated by a checkpoint
        # record (commit_stage's, or an incremental batch's): a stage
        # without its record is rewritten whole, and the overwrite removes
        # a failed job's partial files. Appends have no such gate, and the
        # run_pipeline hub must publish nothing from a failed job, so
        # checkpoint.write_parquet's "append" and "publish" modes pin
        # committer v1 per write (ADVICE r4).
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", _driver_memory(cores, master_env or ""))
    )
    # SPARK_GRAFT_EXTRA_CONF, then ``extra_conf``, override any key above
    for k, v in {**env_conf, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # DEBUG_LOGGING_ENABLED parity (/root/reference/src/function.py:353-359)
    from .config import debug_logging_enabled

    spark.sparkContext.setLogLevel(
        "DEBUG" if debug_logging_enabled(os.environ.get("DEBUG_LOGGING_ENABLED")) else "WARN"
    )
    return spark
