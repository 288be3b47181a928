"""Pipeline benchmark: the production ``run_pipeline`` and
``run_incremental`` plans, timed from outside through their public entry
points, with every run's sink counts checked against the DuckDB oracle.

    python3 pipebench/run.py --workload batch_bucketed --seed 1 --seconds 20 --trace 0
    python3 pipebench/run.py --report [--seed 1] [--seconds 20]

One run starts a ``local[<cores>]`` Spark session, writes its inputs from
``--seed`` under ``.pipebench_work/`` in the repository root, sets up
(layout, bootstrap, discarded warm-up), then repeats the workload's
operation one caller at a time (closed loop) until ``--seconds`` have
passed. ``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps
the functions the plans call, turns on the Spark event log, and prints
the per-layer metrics instead. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
``--report`` runs every workload untraced and traced and prints both
tables, the correctness verdict, the error rate and the tracing
overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from aws_log_ingestion_spark.config import PipelineConfig  # noqa: E402
from aws_log_ingestion_spark.operators import checkpoint as ckpt  # noqa: E402
from aws_log_ingestion_spark.plans import incremental, job, maintenance  # noqa: E402
from aws_log_ingestion_spark.session import get_spark  # noqa: E402
from aws_log_ingestion_spark.sources import derive  # noqa: E402

import inputs  # noqa: E402
import probes  # noqa: E402

# Explicit: session._heap_for floors the heap at 16g, more RAM than a
# small machine has. 3g holds this input with room to spare. The heap is
# also its initial size (-Xms), as Spark starts executor JVMs: a heap
# left to grow made the JVM's peak RSS range 1.6-2.0 GB between runs of
# the same append, and 3.3 GB +-2% with the fixed heap.
DRIVER_HEAP = "3g"
# Base users before amplification (sf0.1's events table has 1500) and
# the amplification factor: ~50k turns. At this size a warm job is mostly
# the plans' fixed per-job cost (30-64 Spark jobs and their JIT
# compilation), and one run, set-up included, stays near a minute; see
# the workload notes below.
USERS, FACTOR = 175, 4
# --smoke: sf0.001-sized input (15 users), one timed operation.
SMOKE_USERS, SMOKE_FACTOR = 15, 2
RANDOM_FILES = 64  # the random landing layout most tables have
# The sizing runs' 64 buckets at 500k turns, scaled to this input (~6k
# turns a bucket). At 64 buckets here each hub stage ran 64 tasks that
# each wrote up to 8 bucket directories, and a warm job took 35 s.
BUCKETS = 8


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, trace: bool):
    """A self-contained session: every file Spark, Derby or the JVM
    writes lands under ``work``, and there are no more task threads than
    cores."""
    for d in ("warehouse", "local", "derby", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_HEAP} -Dderby.system.home={work}/derby -Djava.io.tmpdir={work}/tmp"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark("pipebench", cores=cores(), extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, then wait until every process
    the session started (JVM, Python workers) has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    started = [p for p in probes.descendants(os.getpid()) if p != os.getpid()]
    spark.stop()
    if gateway is not None and gateway.proc is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway JVM exits on EOF
        gateway.proc.wait(timeout=60)
    deadline = time.time() + 60
    while any(os.path.exists(f"/proc/{p}") for p in started) and time.time() < deadline:
        time.sleep(0.1)


def tree_bytes(path: str) -> dict[str, tuple[int, int]]:
    """{file: (size, mtime_ns)} for every file under ``path``."""
    out = {}
    for cur, _dirs, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(cur, f))
            out[os.path.join(cur, f)] = (st.st_size, st.st_mtime_ns)
    return out


def corpus(seed: int, smoke: bool):
    """(events, amplified transcripts, amplification factor) for a seed."""
    users, factor = (SMOKE_USERS, SMOKE_FACTOR) if smoke else (USERS, FACTOR)
    ev = inputs.events(seed, users)
    return ev, inputs.transcripts(ev, factor, seed), factor


class Op:
    """One timed call and what the benchmark measured around it."""

    def __init__(self, turns: int, t0: float, t1: float, cpu: probes.ProcSample):
        self.turns, self.t0, self.t1, self.cpu = turns, t0, t1, cpu
        self.out_bytes = 0
        self.counts: dict = {}
        self.problems: list[str] = []
        self.layer: dict[str, float] = {}
        self.jit_s = 0.0

    @property
    def wall_s(self) -> float:
        return self.t1 - self.t0


def timed(fn, turns: int) -> tuple[Op, object]:
    before, jit = probes.sample(), probes.jit_cpu_s()
    t0 = time.time()
    result = fn()
    t1 = time.time()
    op = Op(turns, t0, t1, probes.sample() - before)
    op.jit_s = probes.jit_cpu_s() - jit
    return op, result


class BatchBucketed:
    """``run_pipeline`` (infra + logging on, fresh output dir) over the
    amplified transcripts after ``maintenance.bucketize_transcripts``
    (``BUCKETS`` buckets), read with ``spark.table``.

    Why: it is the batch job an operator runs, end to end: skew probe,
    4-batch resumable hub write (classify + melt fills + Arrow trace
    decode + enrich, one exchange and sort), infra and logging sinks,
    chunk stage and manifest. The input is clustered by conv_id, so a
    change that reuses the clustering (zero exchange, ROADMAP direction
    5, after Disco, EDBT 2020) moves this workload and leaves
    ``incremental_append``, whose input is the random layout, flat.
    Today ``run_pipeline`` ignores the clustering.

    A random-layout batch workload was planned next to this one and
    left out: the benchmark's total time budget allows about a minute a
    run at two workloads and less at three, and a cold session plus a
    cold first job already take ~30 s. Every layer it would measure is
    measured here, and the random layout's hub runs on
    ``incremental_append``.

    Sizing on a 4-core box, 8g heap, sf0.1 x5 = 500,000 turns (the
    benchmark runs smaller, see USERS/FACTOR):

      input                                  cold first job   warm jobs 2-4
      random layout, meta from un-amplified  39-44 s/141-155  20-25 s/64-81
        events (every amplified conv_id        CPU-s            CPU-s
        misses the enrich join)
      random layout, meta from the           37 s/131 CPU-s   30-32 s/90-104
        amplified transcripts                                   CPU-s
      bucketize_transcripts (64 buckets),    57 s/208 CPU-s   39-44 s/134-155
        same meta                                               CPU-s

    Sink counts were 99,565 / 125,140 / 186,520 / 500,000 (infra lambda
    / vpc / other / logging), identical on every layout. Here, ~50k
    turns: bucketize ~7 s, cold job ~21 s, warm job ~14 s and ~46 CPU-s
    (of which JIT compilation ~9 CPU-s and Python workers ~8 CPU-s).
    """

    TABLE = "pipebench_transcripts"

    def __init__(self, seed: int, smoke: bool):
        self.seed, self.smoke = seed, smoke

    def setup(self, spark, work: str, cfg: PipelineConfig) -> float:
        ev, table, factor = corpus(self.seed, self.smoke)
        self.expected = {k: v * factor for k, v in inputs.route_counts_events(ev).items()}
        self.n_turns = table.num_rows
        self.spark, self.work, self.cfg = spark, work, cfg
        t0 = time.time()
        raw = os.path.join(work, "landing")
        inputs.write_files(table, raw, RANDOM_FILES)
        self.transcripts = maintenance.bucketize_transcripts(
            spark, raw, os.path.join(work, "bucketed"), self.TABLE, BUCKETS
        )
        # enrichment joins for real: meta comes from the amplified rows
        self.meta = derive.conv_meta_from_transcripts(self.transcripts)
        layout_s = time.time() - t0
        self.warmup = [self.step("warmup")]
        return layout_s

    def step(self, tag: str) -> Op:
        out = os.path.join(self.work, f"out_{tag}")
        shutil.rmtree(out, ignore_errors=True)
        op, result = timed(
            lambda: job.run_pipeline(self.spark, self.transcripts, self.meta, out, self.cfg),
            self.n_turns,
        )
        op.counts = result["counts"]
        op.out_bytes = sum(size for size, _ in tree_bytes(out).values())
        op.problems = inputs.check_outputs(op.counts, self.expected, out, self.n_turns)
        shutil.rmtree(out, ignore_errors=True)
        return op

    def has_next(self) -> bool:
        return True


class IncrementalAppend:
    """``run_incremental`` appends to a table that already holds ~85% of
    the corpus.

    Why: it is the plan that runs as the table grows. Each append
    publishes the same mix: 5% of conversations that are new, plus the
    later halves of 5% of conversations bootstrapped earlier. The late
    turns force the copy-on-write (COW) rewrite of the old batches those
    conversations live in. The same hub and sink layers run here on
    small deltas over the random layout, where listing, fixed per-job
    cost and the COW rewrite of old data dominate. Set-up bootstraps
    over the rest of the corpus; that bootstrap is the warm-up.

    The first append after the bootstrap is timed, not discarded, so it
    includes compiling the staging and COW plans. A discarded append
    cost ~18 s and took one run to ~75 s, past the share of the
    benchmark's time budget one run may use.

    Sizing on a 4-core box, 8g heap, 500,000-turn corpus:

      run_incremental appends of ~5k turns of   7-9 s; CPU still falling
        new conversations only                  25 -> 13 CPU-s over 6 appends
      appends of ~7.5k turns, ~75 of them late  18.5-22 s / 44-64 CPU-s,
        turns on existing conversations         steady from the 3rd append
      bootstrap over ~460k turns                34 s / 111-117 CPU-s

    Here, ~50k turns in ~700 conversations: bootstrap ~27 s; the first
    append, ~3.5k turns, takes ~15-17 s and ~50 CPU-s and rewrites most old
    rows (COW granularity is a whole (batch, bucket) hub partition and a
    whole batch of each sink).
    """

    APPENDS = 2  # timed while --seconds allow
    SHARE = 0.05
    APPEND_FILES = 4

    def __init__(self, seed: int, smoke: bool):
        self.seed, self.smoke = seed, smoke
        self.appends = 1 if smoke else self.APPENDS

    def setup(self, spark, work: str, cfg: PipelineConfig) -> float:
        _ev, table, _factor = corpus(self.seed, self.smoke)
        frame = table.select(["conv_id", "turn_idx"]).to_pandas()
        convs = np.sort(frame["conv_id"].unique())
        order = np.random.default_rng([self.seed, 2]).permutation(len(convs))
        k = max(1, round(self.SHARE * len(convs)))
        # append i: new conversations order[i*k:(i+1)*k], late halves of
        # the conversations at order[(appends+i)*k:...]
        slot = np.full(len(convs), -1)
        late = np.zeros(len(convs), dtype=bool)
        for i in range(self.appends):
            slot[order[i * k : (i + 1) * k]] = i
            held = order[(self.appends + i) * k : (self.appends + i + 1) * k]
            slot[held] = i
            late[held] = True
        pos = np.searchsorted(convs, frame["conv_id"].to_numpy())
        size = frame.groupby("conv_id")["turn_idx"].transform("size").to_numpy()
        row_slot = slot[pos]
        second_half = frame["turn_idx"].to_numpy() >= size // 2
        row_slot[late[pos] & ~second_half] = -1
        self.batches = [table.filter(pa.array(row_slot == i)) for i in range(self.appends)]
        self.spark, self.work, self.cfg = spark, work, cfg
        self.in_dir = os.path.join(work, "landing")
        self.out = os.path.join(work, "out")
        self.next = 0

        t0 = time.time()
        base = table.filter(pa.array(row_slot == -1))
        inputs.write_files(base, os.path.join(self.in_dir, "base"), RANDOM_FILES)
        incremental.run_incremental(spark, self.in_dir, self.out, cfg)
        self.warmup = []
        return time.time() - t0

    def has_next(self) -> bool:
        return self.next < self.appends

    def step(self, tag: str) -> Op:
        batch = self.batches[self.next]
        inputs.write_files(
            batch, os.path.join(self.in_dir, f"append-{self.next:03d}"), self.APPEND_FILES
        )
        self.next += 1
        before = tree_bytes(self.out)
        op, result = timed(
            lambda: incremental.run_incremental(self.spark, self.in_dir, self.out, self.cfg),
            batch.num_rows,
        )
        after = tree_bytes(self.out)
        written = [f for f, st in after.items() if before.get(f) != st]
        op.out_bytes = sum(after[f][0] for f in written)
        own = f"{os.sep}ingest_batch={result['batch_id']}{os.sep}"
        rewritten = [f for f in written if f.endswith(".parquet") and own not in f]
        record = ckpt.CheckpointLog(self.out).read(f"ingest.b{result['batch_id']}")
        op.layer = {
            "incremental.cow_buckets": len(record["affected_pairs"]),
            "incremental.rewritten_rows": sum(
                pq.ParquetFile(f).metadata.num_rows for f in rewritten
            ),
        }
        op.counts = result["counts"]
        published = inputs.route_counts_files(self.in_dir)
        op.problems = inputs.check_outputs(
            op.counts, published, self.out, published["logging_rows"]
        )
        return op


WORKLOADS = {"batch_bucketed": BatchBucketed, "incremental_append": IncrementalAppend}


def trace_program(tracer: probes.Tracer) -> None:
    """Spans around the module functions the two plans call. Each is
    looked up on its module at call time, so wrapping the attribute is
    enough."""
    tracer.wrap(job, "max_conv_rows", "probe")
    tracer.wrap(ckpt, "observed_write_bucketed", "hub", python_cpu=True)
    tracer.wrap(ckpt, "observed_write", "logging")
    tracer.wrap(ckpt, "file_lineage", "listing")
    tracer.wrap(incremental, "list_input_files", "listing")
    tracer.wrap(ckpt, "read_manifest", "manifest", detail=lambda *a, **k: "read_manifest")
    tracer.wrap(ckpt.CheckpointLog, "read", "manifest")
    tracer.wrap(ckpt.CheckpointLog, "record", "manifest")
    tracer.wrap(
        incremental,
        "_write_batch_partition",
        "batch_write",
        detail=lambda df, root, *a, **k: os.path.basename(root),
        python_cpu=True,
    )


def layer_intervals(spans: list[probes.Span]) -> tuple[dict, list[probes.Span]]:
    """Each layer's intervals within one operation, and its hub spans.

    ``run_pipeline`` writes the infra sink and the chunk stage inline, so
    those are the gaps between its neighbouring calls: hub write ->
    logging write, and logging write -> ``read_manifest``.
    ``run_incremental`` writes every batch partition through one
    function: its first write per output root is that layer, the later
    ones are the COW commit and count as plan self time."""
    iv: dict[str, list[tuple[float, float]]] = {
        k: [] for k in ("probe", "hub", "infra", "logging", "chunks", "listing", "manifest")
    }
    first: dict[str, probes.Span] = {}
    for s in spans:
        if s.name == "batch_write":
            first.setdefault(s.detail, s)
        else:
            iv[s.name].append((s.t0, s.t1))
    if first:
        roots = {
            "hub": "classified", "infra": "infra", "logging": "logging", "chunks": "chunk_stats"
        }
        for layer, root in roots.items():
            if root in first:
                iv[layer].append((first[root].t0, first[root].t1))
        return iv, [first["classified"]] if "classified" in first else []
    hub = [s for s in spans if s.name == "hub"]
    logging = [s for s in spans if s.name == "logging"]
    manifest = [s for s in spans if s.detail == "read_manifest"]
    if hub and logging:
        iv["infra"].append((hub[-1].t1, logging[0].t0))
    if logging and manifest:
        iv["chunks"].append((logging[-1].t1, manifest[0].t0))
    return iv, hub


def layer_metrics(op: Op, spans: list[probes.Span], log: probes.EventLog) -> dict[str, float]:
    iv, hub_spans = layer_intervals(spans)
    span_s = {k: sum(b - a for a, b in v) for k, v in iv.items()}
    hub = log.work(iv["hub"])
    route = log.work(iv["infra"])
    chunks = log.work(iv["chunks"])
    total = log.work([(op.t0, op.t1)])
    m = {
        "job.skew_probe_s": span_s["probe"],
        "plan.self_s": op.wall_s - probes.covered([x for v in iv.values() for x in v]),
        "checkpoint.hub_write_s": span_s["hub"],
        "checkpoint.logging_write_s": span_s["logging"],
        "checkpoint.listing_s": span_s["listing"],
        "checkpoint.manifest_s": span_s["manifest"],
        "route.infra_write_s": span_s["infra"],
        "route.shuffle_write_bytes": route.shuffle_write_bytes,
        "chunks.stage_s": span_s["chunks"],
        "chunks.executor_cpu_s": chunks.executor_cpu_s,
        "chunks.shuffle_write_bytes": chunks.shuffle_write_bytes,
        "hub.executor_cpu_s": hub.executor_cpu_s,
        "hub.python_cpu_s": sum(s.python_cpu_s for s in hub_spans),
        "hub.shuffle_write_bytes": hub.shuffle_write_bytes,
        "hub.spill_bytes": hub.spill_bytes,
        "hub.task_skew": hub.task_skew,
        "spark.jobs": total.jobs,
        "spark.stages": total.stages,
        "spark.tasks": total.tasks,
        "spark.executor_cpu_s": total.executor_cpu_s,
        "spark.shuffle_write_bytes": total.shuffle_write_bytes,
        "spark.spill_bytes": total.spill_bytes,
        "proc.jvm_cpu_s": op.cpu.jvm_s,
        "proc.python_cpu_s": op.cpu.python_s,
        "proc.jit_cpu_s": op.jit_s,
        "incremental.cow_buckets": 0,
        "incremental.rewritten_rows": 0,
    }
    m.update(op.layer)
    m["incremental.useful_ratio"] = op.turns / (op.turns + m["incremental.rewritten_rows"])
    return m


def run(args, work: str) -> dict:
    cfg = PipelineConfig(logging_enabled=True)
    workload = WORKLOADS[args.workload](args.seed, args.smoke)
    tracer = probes.Tracer()
    if args.trace:
        trace_program(tracer)

    t_setup = time.time()
    spark = start_session(work, bool(args.trace))
    try:
        session_s = time.time() - t_setup
        layout_s = workload.setup(spark, work, cfg)
        setup_s = time.time() - t_setup
        print(
            f"set-up: session {session_s:.1f} s, layout {layout_s:.1f} s, "
            f"total {setup_s:.1f} s",
            file=sys.stderr,
        )
        # a discarded warm-up operation is still checked and counted
        attempted = len(workload.warmup)
        failed = 0
        for op in workload.warmup:
            if op.problems:
                print("warm-up: " + "; ".join(op.problems), file=sys.stderr)
                failed += 1

        ops: list[Op] = []
        timed_attempts = 0
        t_start = time.time()
        with probes.PeakRss() as rss:
            while workload.has_next() and (
                not timed_attempts
                or (not args.smoke and time.time() - t_start < args.seconds)
            ):
                timed_attempts += 1
                attempted += 1
                try:
                    op = workload.step(f"op{attempted}")
                except Exception:
                    # a failed operation counts against error_rate; the loop goes on
                    traceback.print_exc()
                    failed += 1
                    continue
                if op.problems:
                    print(f"op {attempted}: " + "; ".join(op.problems), file=sys.stderr)
                    failed += 1
                ops.append(op)
                print(
                    f"op {attempted}: {op.wall_s:.2f} s, {op.cpu.total_s:.1f} CPU-s",
                    file=sys.stderr,
                )
        print(
            f"peak rss: jvm {rss.peak_jvm_bytes / 2**20:.0f} MB, "
            f"python workers {rss.peak_python_bytes / 2**20:.0f} MB",
            file=sys.stderr,
        )
    finally:
        tracer.restore()
        stop_session(spark)

    if not ops:
        metrics = {}
    elif args.trace:
        log = probes.EventLog(os.path.join(work, "eventlog"))
        per_op = [layer_metrics(op, tracer.within(op.t0, op.t1), log) for op in ops]
        metrics = {k: statistics.median(m[k] for m in per_op) for k in per_op[0]}
        metrics.update(
            {
                "session.start_s": session_s,
                "setup.layout_s": layout_s,
                "trace.wall_s": statistics.median(op.wall_s for op in ops),
                "trace.cpu_s": statistics.median(op.cpu.total_s for op in ops),
                "proc.jvm_peak_rss_mb": rss.peak_jvm_bytes / 2**20,
                "proc.python_peak_rss_mb": rss.peak_python_bytes / 2**20,
            }
        )
    else:
        metrics = {
            "setup_s": setup_s,
            "wall_s": statistics.median(op.wall_s for op in ops),
            "cpu_s": statistics.median(op.cpu.total_s for op in ops),
            "turns_per_s": statistics.median(op.turns / op.wall_s for op in ops),
            "turns_per_cpu_s": statistics.median(op.turns / op.cpu.total_s for op in ops),
            "out_bytes_per_turn": statistics.median(op.out_bytes / op.turns for op in ops),
            "peak_rss_mb": rss.peak_bytes / 2**20,
        }
    units = {m["name"]: m["unit"] for m in declared_metrics(bool(args.trace))}
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def declared_metrics(trace: bool) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["per_layer" if trace else "end_to_end"]


def print_table(result: dict, trace: bool) -> None:
    for m in declared_metrics(trace):
        value = result["metrics"].get(m["name"], {}).get("value")
        shown = "MISSING" if value is None else f"{value:.6g}"
        print(f"  {m['name']:<32} {shown:>14} {m['unit']}")
    verdict = "correct" if result["correct"] else "INCORRECT"
    rate = result["failed"] / result["attempted"]
    print(
        f"  {verdict}: {result['failed']} of {result['attempted']} operations "
        f"failed, error_rate {rate:.3g}"
    )


def report(args) -> int:
    """Every workload, untraced then traced, in fresh processes."""
    status = 0
    for name in WORKLOADS:
        results = {}
        for trace in (0, 1):
            cmd = [
                sys.executable, os.path.abspath(__file__), "--workload", name,
                "--seed", str(args.seed), "--seconds", str(args.seconds),
                "--trace", str(trace),
            ] + (["--smoke"] if args.smoke else [])
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode or not lines:
                print(f"{name} trace={trace}: exited {proc.returncode}")
                status = 1
                continue
            results[trace] = json.loads(lines[-1])
            status |= not results[trace]["correct"]
        for trace, title in ((0, "end to end"), (1, "per layer (traced run)")):
            if trace in results:
                print(f"{name} -- {title}")
                print_table(results[trace], bool(trace))
        if len(results) == 2:
            plain = {k: v["value"] for k, v in results[0]["metrics"].items()}
            traced = {k: v["value"] for k, v in results[1]["metrics"].items()}
            print(
                f"  tracing overhead: wall {traced['trace.wall_s'] - plain['wall_s']:+.3f} s "
                f"({(traced['trace.wall_s'] / plain['wall_s'] - 1) * 100:+.1f}%), "
                f"cpu {traced['trace.cpu_s'] - plain['cpu_s']:+.2f} CPU-s"
            )
    return status


def main(argv: list[str]) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, default=1)
    parser.add_argument("--seconds", type=float, default=20)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--smoke", action="store_true", help="tiny input, one timed operation")
    parser.add_argument("--report", action="store_true", help="run every workload, print tables")
    args = parser.parse_args(argv)
    if args.report:
        return report(args)
    if not args.workload:
        parser.error("--workload is required without --report")

    work = os.path.join(ROOT, ".pipebench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # the JVM and the Python workers import the package from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # no hsperfdata files in /tmp from the launcher or the driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(os.path.dirname(work)):
            os.rmdir(os.path.dirname(work))
    print(f"{args.workload} seed={args.seed} trace={args.trace}")
    print_table(result, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
