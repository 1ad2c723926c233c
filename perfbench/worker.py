"""Benchmark worker: runs one workload for one seed inside the isolated
run directory that ``run.py`` prepared, and prints the result.

Phases, in order: make the seeded inputs and compute the expected
answers (for dashboard_reads in a process of its own, so that neither
its CPU nor its memory is read as the program's); set the program up
``SETUP_REPS`` times and keep the median as ``setup_s``; run the
closed-loop timed phase with one client for ``--seconds``; fold the
trace when ``--trace 1``. A set-up is a new session and the program's
first touch: the flagship MV query and the day-partitioned layout, or a
new pipeline through its first block. The JVM's start and class loading
fall in the first repetition, which the median leaves out. Before the
timed phase, dashboard_reads makes one untimed pass over its queries so
that each has run once in the JVM; an ingest set-up already runs every
step of a round. Inside the timed phase, the benchmark's own work
(generating an ingest block, checking an answer, counting files) is
left out of each operation's latency and out of its CPU, and so is the
CPU of the JVM's JIT compiler threads: a dozen seconds into a JVM they
still take about one core, an amount set by how long the JVM has run
rather than by the work each operation does.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import procstat  # noqa: E402
import trace  # noqa: E402
from oracle import Oracle, expected_answers, load_check_oracle  # noqa: E402

# the program, imported from the checkout (the launcher sets PYTHONPATH)
import __spark_entry__  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from kafka_clickhouse_implementation_spark import schemas  # noqa: E402
from kafka_clickhouse_implementation_spark.plans import layout  # noqa: E402
from kafka_clickhouse_implementation_spark.session import get_spark  # noqa: E402
from kafka_clickhouse_implementation_spark.streaming import pipeline  # noqa: E402

# The reference's dashboard reads: its six query shapes over the
# campaign events table, each with a DuckDB oracle. They read no other
# table.
DASHBOARD_QUERIES = [
    "q_mv_daily", "q_level_totals", "q_summing_reaggregate",
    "q_opens_for_campaign", "q_json_extract", "q_partition_prune",
]
DASHBOARD_SF = 0.1  # events: 100,000 rows, as in the project's sf0.1 test data
BLOCK_ROWS = 5_000  # campaign events per ingest round
COMPACT_EVERY = 4  # rounds between rollup compactions
SETUP_REPS = 3
TAIL_PCT = 90


def tail(values: list[float]) -> tuple[float, int]:
    """The ``TAIL_PCT`` percentile, interpolated between order statistics,
    and the number of samples above it. A 12 s run holds 3-8 ingest
    rounds and 15-37 dashboard calls, too few for a percentile above the
    median with ten samples beyond it."""
    v = sorted(values)
    q = v[0] if len(v) == 1 else statistics.quantiles(v, n=100, method="inclusive")[TAIL_PCT - 1]
    return q, sum(x > q for x in v)


def _bytes_files(path: str, suffix: str = "") -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix) and not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


class Run:
    """State of one workload run: timings, failures and the tracer."""

    def __init__(self, args, spark_factory):
        self.args = args
        self.get_spark = spark_factory
        # tracing starts with the timed phase: set-up and warm-up record no spans
        self.tracer = trace.Tracer(False, f"{args.workload}-{args.seed}")
        self.latencies: list[float] = []
        self.by_query: dict[str, list[float]] = {}
        self.attempted = 0
        self.failures: list[dict] = []
        self.detail: dict = {}
        self.harness_cpu_s = 0.0
        self.spark = None

    @contextlib.contextmanager
    def harness(self):
        """Mark the benchmark's own work; its CPU is counted apart from
        the program's."""
        t0 = time.thread_time()
        try:
            yield
        finally:
            self.harness_cpu_s += time.thread_time() - t0

    def fail(self, op: str, kind: str, detail: str) -> None:
        self.failures.append({"op": op, "kind": kind, "detail": detail[:400]})

    def start_session(self):
        self.spark = self.get_spark()
        self.tracer.sc = self.spark.sparkContext
        return self.spark


# --- dashboard_reads -------------------------------------------------------


def dashboard_pass(run: Run, queries, names, data_dir, oracle, rng, record: bool,
                   deadline: float = float("inf")) -> None:
    """One pass over ``names`` in a seeded order, stopped at
    ``deadline``; every result is collected and, when ``record``,
    checked and timed."""
    order = list(names)
    rng.shuffle(order)
    for name in order:
        if time.perf_counter() >= deadline:
            return
        t0 = time.perf_counter()
        try:
            with run.tracer.span(f"query:{name}") if record else contextlib.nullcontext():
                df = queries[name](run.spark, data_dir)
                rows = df.collect()
            dt = time.perf_counter() - t0
        except Exception:  # noqa: BLE001 - a failing query is counted, the run goes on
            if record:
                run.attempted += 1
                run.fail(name, "error", traceback.format_exc(limit=3))
            continue
        if not record:
            continue
        run.attempted += 1
        run.latencies.append(dt)
        run.by_query.setdefault(name, []).append(dt)
        with run.harness():
            bad = oracle.mismatch(name, df, rows)
        if bad:
            run.fail(name, bad.split(" ", 1)[0], bad)


def prepare_dashboard(args, oracle_sql, co) -> None:
    """Write the seeded tables and the DuckDB answers of every dashboard
    query over them to the run directory."""
    data_dir = os.path.join(args.run_dir, "data")
    inputs = {
        "seed": args.seed, "scale": DASHBOARD_SF,
        "tables": gen.write_events(data_dir, args.seed, DASHBOARD_SF),
    }
    expected = expected_answers(co, data_dir, ["events"], {q: oracle_sql[q] for q in DASHBOARD_QUERIES})
    with open(os.path.join(args.run_dir, "prep.json"), "w") as fh:
        json.dump({"inputs": inputs, "expected": expected}, fh)


def dashboard_reads(run: Run, queries, co):
    args = run.args
    data_dir = os.path.join(args.run_dir, "data")
    with open(os.path.join(args.run_dir, "prep.json")) as fh:
        prep = json.load(fh)
    run.detail["inputs"] = prep["inputs"]
    oracle = Oracle(co, prep["expected"])
    cache = os.path.join(tempfile.gettempdir(), "spark_graft_cache")
    rng = random.Random(args.seed)

    def setup() -> None:
        # first touch: the flagship MV query and the day-partitioned
        # layout q_partition_prune builds under the cache root
        shutil.rmtree(cache, ignore_errors=True)
        spark = run.start_session()
        for name in ("q_mv_daily", "q_partition_prune"):
            queries[name](spark, data_dir).collect()

    timed_setup(run, setup)
    t0 = time.perf_counter()
    dashboard_pass(run, queries, DASHBOARD_QUERIES, data_dir, oracle, rng, record=False)
    run.detail["warmup_pass_s"] = time.perf_counter() - t0

    def timed() -> None:
        deadline = time.perf_counter() + args.seconds
        while time.perf_counter() < deadline:
            dashboard_pass(run, queries, DASHBOARD_QUERIES, data_dir, oracle, rng,
                           record=True, deadline=deadline)
        with run.harness():
            # what the program keeps on disk: the layouts under its cache root
            files, size = _bytes_files(cache, ".parquet")
            run.detail["store"] = {"stored_files": files, "stored_bytes": size,
                                   "input_bytes": prep["inputs"]["tables"]["events"]["bytes"]}

    return timed


# --- campaign_ingest -------------------------------------------------------


class Ingest:
    """The reference's write path over one set of directories: blocks
    land in the wire directory, the streaming MV appends rollup
    partials, the block is appended to the day-partitioned fact table,
    the rollup is compacted every ``COMPACT_EVERY`` rounds, and the
    rollup and the block's days are read back."""

    def __init__(self, base: str, events: gen.CampaignEvents):
        self.events = events
        self.dirs = {k: os.path.join(base, k) for k in ("wire", "rollup", "ckpt", "fact", "staging")}
        for k in ("wire", "staging"):
            os.makedirs(self.dirs[k], exist_ok=True)
        self.rounds = 0
        self.compactions = 0

    def stage(self) -> tuple[str, set[int]]:
        lines, days = self.events.next_block()
        path = os.path.join(self.dirs["staging"], f"block-{self.events.blocks:06d}.json")
        with open(path, "w") as fh:
            fh.write("\n".join(lines))
            fh.write("\n")
        return path, days

    def round(self, run: Run, staged: str, days: set[int]) -> tuple[float, list, list]:
        """Land the staged block and drive it through; return the
        freshness (landing to the return of the reads that include it)
        and the collected rollup and fact-day rows."""
        spark, span = run.spark, run.tracer.span
        landed = os.path.join(self.dirs["wire"], os.path.basename(staged))
        os.rename(staged, landed)
        t_land = time.perf_counter()
        with span("streaming.pipeline.run_mv_pipeline"):
            pipeline.run_mv_pipeline(spark, self.dirs["wire"], self.dirs["rollup"], self.dirs["ckpt"])
        with span("plans.layout.write_day_partitioned"):
            block = pipeline.decoded_events(
                spark.read.schema(schemas.QUEUE_WIRE_SCHEMA).json(landed)
            ).withColumn("campaign_id", F.get_json_object("message", "$.campaign_id"))
            layout.write_day_partitioned(
                block, self.dirs["fact"], ts_col="event_ts",
                sort_keys=("campaign_id",), mode="append",
            )
        self.rounds += 1
        if self.rounds % COMPACT_EVERY == 0:
            with span("plans.layout.compact_rollup"):
                layout.compact_rollup(spark, self.dirs["rollup"])
            self.compactions += 1
        with span("plans.layout.read_rollup"):
            rollup = layout.read_rollup(spark, self.dirs["rollup"]).collect()
        with span("plans.layout.read_fact"):
            fact = (
                layout.read_day_partitioned(spark, self.dirs["fact"])
                .where(F.col("event_date").isin(sorted(_yyyymmdd(d) for d in days)))
                .groupBy("event_date").count().collect()
            )
        return time.perf_counter() - t_land, rollup, fact

    def check(self, rollup, fact, days) -> str | None:
        ev = self.events
        got = {(r["day"].toordinal() - _EPOCH_ORDINAL, r["level"]): r["total"] for r in rollup}
        if got != dict(ev.day_level):
            diff = {k: (got.get(k), ev.day_level.get(k)) for k in set(got) | set(ev.day_level)
                    if got.get(k) != ev.day_level.get(k)}
            return f"rollup {len(diff)} (day, level) counts differ, e.g. {sorted(diff.items())[:3]}"
        got_f = {int(r["event_date"]): r["count"] for r in fact}
        want_f = {_yyyymmdd(d): ev.day_rows[d] for d in days}
        if got_f != want_f:
            return f"fact day counts {got_f} != {want_f}"
        return None


_EPOCH_ORDINAL = 719163  # date(1970, 1, 1).toordinal()


def _yyyymmdd(epoch_day: int) -> int:
    d = datetime.date.fromordinal(epoch_day + _EPOCH_ORDINAL)
    return d.year * 10000 + d.month * 100 + d.day


def campaign_ingest(run: Run):
    args = run.args
    base = os.path.join(args.run_dir, "ingest")
    run.detail["inputs"] = {"seed": args.seed, "block_rows": BLOCK_ROWS}

    def setup_rep(r: int) -> None:
        # a new session and a new pipeline, on its own directories and
        # generator stream, through its first block
        d = os.path.join(args.run_dir, f"setup{r}")
        shutil.rmtree(d, ignore_errors=True)
        run.start_session()
        ing = Ingest(d, gen.CampaignEvents(args.seed, BLOCK_ROWS, stream=100 + r))
        staged, days = ing.stage()
        ing.round(run, staged, days)

    reps = iter(range(SETUP_REPS))
    timed_setup(run, lambda: setup_rep(next(reps)))
    ing = Ingest(base, gen.CampaignEvents(args.seed, BLOCK_ROWS))

    def store() -> None:
        wire_files, wire_bytes = _bytes_files(ing.dirs["wire"], ".json")
        rollup_files, rollup_bytes = _bytes_files(ing.dirs["rollup"], ".parquet")
        fact_files, fact_bytes = _bytes_files(ing.dirs["fact"], ".parquet")
        run.detail["store"] = {
            "rounds": ing.rounds, "compactions": ing.compactions,
            "wire_files": wire_files, "wire_bytes": wire_bytes,
            "rollup_files": rollup_files, "fact_files": fact_files,
            "stored_bytes": rollup_bytes + fact_bytes, "input_bytes": wire_bytes,
            "rows_per_s": BLOCK_ROWS * len(run.latencies) / max(sum(run.latencies), 1e-9),
        }

    def timed() -> None:
        start = time.perf_counter()
        while time.perf_counter() - start < args.seconds:
            with run.harness():
                staged, days = ing.stage()
            run.attempted += 1
            op = f"round-{ing.rounds + 1}"
            try:
                with run.tracer.span("round"):
                    fresh, rollup, fact = ing.round(run, staged, days)
            except Exception:  # noqa: BLE001 - a failing round is counted, the run goes on
                run.fail(op, "error", traceback.format_exc(limit=3))
                continue
            run.latencies.append(fresh)
            if ing.rounds % COMPACT_EVERY == 0:
                run.detail.setdefault("compaction_latencies_s", []).append(round(fresh, 4))
            with run.harness():
                bad = ing.check(rollup, fact, days)
            if bad:
                run.fail(op, "answer", bad)
        with run.harness():
            store()

    return timed


# --- shared phases ---------------------------------------------------------


def timed_setup(run: Run, setup) -> None:
    """Set the program up ``SETUP_REPS`` times from a stopped session;
    the first repetition also starts the JVM."""
    times = []
    for r in range(SETUP_REPS):
        if run.spark is not None:
            run.spark.stop()
            run.spark = None
        t0 = time.perf_counter()
        setup()
        times.append(time.perf_counter() - t0)
    run.detail["setup_reps_s"] = times


def outcome(run: Run) -> dict:
    """A failure is an exception or a wrong answer, at most one per
    operation."""
    failed = len(run.failures)
    return {"correct": failed == 0, "attempted": run.attempted, "failed": failed,
            "failed_share": failed / max(run.attempted, 1)}


def end_to_end(run: Run, cpu_s: float, peak_mb: float) -> dict[str, float]:
    """The gated metrics. Latency and CPU per operation are reported
    beside them in the detail line, not gated: on a shared host both
    move with the load other guests put on it far more than by the
    bounds (see LAYERS.md)."""
    lat = run.latencies
    tail_v, beyond = tail(lat)
    run.detail["latency"] = {
        "p50_s": statistics.median(lat), "tail_s": tail_v, "tail_percentile": TAIL_PCT,
        "samples": len(lat), "beyond_tail": beyond, "ops_per_s": len(lat) / sum(lat),
    }
    run.detail["latencies_s"] = [round(x, 4) for x in lat]
    run.detail["cpu_s_per_op"] = cpu_s / max(run.attempted, 1)
    store = run.detail["store"]
    return {
        "setup_s": statistics.median(run.detail["setup_reps_s"]),
        "peak_rss_mb": peak_mb,
        "stored_bytes_per_input_byte": store["stored_bytes"] / store["input_bytes"],
    }


def code_id(root: str) -> str:
    """Digest of the program's files and the benchmark's code: a traced
    run takes as its baseline only untraced runs of the same code."""
    files = [os.path.join(root, "__spark_entry__.py"), os.path.join(root, "tools", "check_oracle.py")]
    for top, keep in ((os.path.join(root, "kafka_clickhouse_implementation_spark"), ""), (HERE, ".py")):
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if not x.startswith(".") and x not in ("__pycache__", "tests"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith(keep) and not n.endswith(".pyc")]
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def per_layer(run: Run, log_dir: str, history: list[float], p50: float) -> dict[str, float]:
    """Fold spans, the event log and the store counts into the per-layer
    metrics. Layers a workload does not drive read 0."""
    tr = run.tracer
    jobs, progress = trace.read_event_logs(log_dir)
    trace.attach(tr, jobs, progress)
    ops = [s for s in tr.spans if s.parent is None]
    n = max(len(ops), 1)
    out: dict[str, float] = {}

    op_jobs = [j for op in ops for s in trace.subtree(tr, op) for j in s.jobs]
    out["spark.jobs"] = len(op_jobs) / n
    out["spark.stages"] = sum(len(j.stages) for j in op_jobs) / n
    out["spark.tasks"] = sum(j.tasks for j in op_jobs) / n
    out["spark.outside_jobs_s"] = sum(
        op.seconds - trace.job_time_covered(
            [j for s in trace.subtree(tr, op) for j in s.jobs], op.start, op.end)
        for op in ops
    ) / n
    for key in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                "input_bytes", "result_bytes"):
        out[f"spark.{key}"] = sum(getattr(j, key) for j in op_jobs) / n
    out["spark.jvm_gc_s"] = sum(j.gc_s for j in op_jobs) / n
    out["spark.executor_run_s"] = sum(j.run_s for j in op_jobs) / n
    out["spark.executor_cpu_s"] = sum(j.cpu_s for j in op_jobs) / n
    out["jvm.jit_cpu_s"] = run.detail.get("jit_cpu_s", 0.0) / max(run.attempted, 1)

    def spans(name):
        return [s for s in tr.spans if s.name == name]

    def mean_s(name):
        ss = spans(name)
        return sum(s.seconds for s in ss) / len(ss) if ss else 0.0

    calls = spans("streaming.pipeline.run_mv_pipeline")
    nc = max(len(calls), 1)

    def dur(*keys):
        return sum(p.get("durationMs", {}).get(k, 0) for c in calls for p in c.progress for k in keys) / 1e3 / nc

    out["streaming.pipeline.call_s"] = mean_s("streaming.pipeline.run_mv_pipeline")
    out["streaming.pipeline.trigger_s"] = dur("triggerExecution")
    out["streaming.pipeline.start_stop_s"] = (
        out["streaming.pipeline.call_s"] - out["streaming.pipeline.trigger_s"] if calls else 0.0
    )
    out["streaming.pipeline.add_batch_s"] = dur("addBatch")
    out["streaming.pipeline.offset_log_s"] = dur("walCommit", "commitOffsets")
    out["streaming.pipeline.source_s"] = dur("latestOffset", "getBatch")
    out["streaming.pipeline.planning_s"] = dur("queryPlanning")
    out["streaming.pipeline.input_rows"] = sum(
        trace.input_rows(p) for c in calls for p in c.progress) / nc
    out["streaming.pipeline.batches"] = sum(
        1 for c in calls for p in c.progress if trace.input_rows(p) > 0) / nc

    store = run.detail.get("store", {})
    out["sources.streams.wire_files"] = store.get("wire_files", 0)
    out["sources.streams.wire_bytes"] = store.get("wire_bytes", 0)
    out["plans.layout.read_rollup_s"] = mean_s("plans.layout.read_rollup")
    out["plans.layout.rollup_files"] = store.get("rollup_files", 0)
    out["plans.layout.compact_rollup_s"] = mean_s("plans.layout.compact_rollup")
    out["plans.layout.compactions"] = store.get("compactions", 0)
    out["plans.layout.write_day_partitioned_s"] = mean_s("plans.layout.write_day_partitioned")
    out["plans.layout.fact_files"] = store.get("fact_files", 0)
    out["plans.layout.stored_bytes"] = store.get("stored_bytes", 0)
    out["plans.layout.read_fact_s"] = mean_s("plans.layout.read_fact")

    for q in DASHBOARD_QUERIES:
        lat = run.by_query.get(q)
        out[f"operators.query.{q}.p50_s"] = statistics.median(lat) if lat else 0.0

    out["bench.trace_overhead_share"] = (
        p50 / statistics.median(history) - 1.0 if history else 0.0
    )
    run.detail["trace_baseline"] = {"runs": len(history)}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("campaign_ingest", "dashboard_reads"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--root", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out-dir", required=True)
    ap.add_argument("--prepare", action="store_true",
                    help="only write the dashboard inputs and their oracle answers")
    argv = sys.argv[1:] if argv is None else list(argv)
    args = ap.parse_args(argv)
    co = load_check_oracle(args.root)
    if args.prepare:
        prepare_dashboard(args, __spark_entry__.oracle_sql(), co)
        return 0
    marks = [("start", time.perf_counter())]
    if args.workload == "dashboard_reads":
        subprocess.run([sys.executable, os.path.abspath(__file__), *argv, "--prepare"], check=True)
    marks.append(("inputs", time.perf_counter()))

    me = os.getpid()
    with procstat.PeakRss(me) as rss:
        run = Run(args, lambda: get_spark(f"perfbench-{args.workload}"))
        if args.workload == "dashboard_reads":
            timed = dashboard_reads(run, __spark_entry__.queries(), co)
        else:
            timed = campaign_ingest(run)
        run.tracer.enabled = bool(args.trace)
        marks.append(("setup", time.perf_counter()))
        probe = [procstat.host_probe_s()]
        cpu0, sampler0, steal0 = procstat.cpu_seconds(me), rss.cpu_s, procstat.steal_s()
        jit0 = procstat.jit_cpu_seconds(me)
        timed()
        run.detail["jit_cpu_s"] = procstat.jit_cpu_seconds(me) - jit0
        cpu_s = (procstat.cpu_seconds(me) - cpu0 - (rss.cpu_s - sampler0) - run.harness_cpu_s
                 - run.detail["jit_cpu_s"])
        run.detail["steal_s"] = procstat.steal_s() - steal0
        run.detail["host_probe_s"] = probe + [procstat.host_probe_s()]
        run.detail["harness_cpu_s"] = run.harness_cpu_s
        marks.append(("timed", time.perf_counter()))
        run.spark.stop()
        run.spark = None
        marks.append(("stop", time.perf_counter()))
    if not run.latencies:
        print(json.dumps({"error": "no operation completed", "failures": run.failures}), file=sys.stderr)
        return 1
    metrics = end_to_end(run, cpu_s, rss.peak_mb)
    run.detail["rss_mb_at_peak"] = rss.at_peak
    history_path = os.path.join(args.out_dir, "history.jsonl")
    code = code_id(args.root)
    probe_s = statistics.median(run.detail["host_probe_s"])
    if args.trace:
        baseline = []
        if os.path.exists(history_path):
            with open(history_path) as fh:
                baseline = [r for r in map(json.loads, fh)
                            if r["workload"] == args.workload and r.get("code") == code]
        metrics = per_layer(run, os.path.join(args.run_dir, "eventlog"),
                            [r["latency_p50_s"] for r in baseline], run.detail["latency"]["p50_s"])
        if baseline:
            # host speed when the baseline ran, against this run's
            run.detail["trace_baseline"].update(
                host_probe_s=statistics.median(r["host_probe_s"] for r in baseline),
                this_host_probe_s=probe_s)
        with open(os.path.join(args.out_dir, f"trace-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump({"spans": run.tracer.dump(), "metrics": metrics, "detail": run.detail}, fh)
    else:
        with open(history_path, "a") as fh:
            fh.write(json.dumps({"workload": args.workload, "seed": args.seed, "code": code,
                                 "host_probe_s": probe_s,
                                 "latency_p50_s": run.detail["latency"]["p50_s"]}) + "\n")
    marks.append(("results", time.perf_counter()))
    # where the run's wall time went, phase by phase
    run.detail["phases_s"] = {b[0]: round(b[1] - a[1], 2) for a, b in zip(marks, marks[1:])}
    result = outcome(run)
    run.detail.update(failed_share=result.pop("failed_share"), failures=run.failures,
                      workload=args.workload)
    print(json.dumps({"detail": run.detail}, default=str))
    print(json.dumps({**result, "raw_metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
