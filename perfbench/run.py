"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Each run gets its own directory under
``perfbench/.run/``: the worker's working directory, ``TMPDIR`` (the
program's cache root), ``SPARK_LOCAL_DIRS``, the warehouse directory
and, with ``--trace 1``, Spark's event log. Nothing a run leaves there
survives it, so no wire, result product, persisted index or table
carries over to the next run. The worker runs in its own process group,
which is stopped and waited for before this script exits.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: with ``--trace 0`` every
end-to-end metric declared in ``BENCHMARK.json``, with ``--trace 1``
every per-layer metric, each with its unit. The line before it holds
the run's detail (input identity, set-up repetitions, tail percentile
and sample count, failures). Traces and the untraced-run history used
for the trace overhead are kept in ``perfbench/.out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CPUS = 4  # local[4], one process
DRIVER_MEM = "2g"
WORKER_TIMEOUT_S = 150


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _stop_group(pgid: int) -> None:
    """Terminate what is left of the worker's process group and wait
    until none of it is running."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + wait_s
        while time.time() < deadline and _group_alive(pgid):
            time.sleep(0.1)


def metrics_line(raw: dict, declared: list[dict]) -> dict:
    """Every declared metric, by name with its unit; an undeclared or
    missing metric is an error."""
    names = [m["name"] for m in declared]
    if set(raw) != set(names):
        raise ValueError(
            f"metrics differ from BENCHMARK.json: missing {sorted(set(names) - set(raw))}, "
            f"undeclared {sorted(set(raw) - set(names))}"
        )
    return {m["name"]: {"value": float(raw[m["name"]]), "unit": m["unit"]} for m in declared}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    for need in ("kafka_clickhouse_implementation_spark/__init__.py",
                 "__spark_entry__.py", "tools/check_oracle.py"):
        if not os.path.isfile(os.path.join(root, need)):
            return _fail(f"{need} not found under {root}; run from the root of a checkout")
    if not os.path.isfile(spec_path):
        return _fail("BENCHMARK.json not found")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        return _fail(f"unknown workload {args.workload!r}")
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]

    out_dir = os.path.join(HERE, ".out")
    run_dir = os.path.join(HERE, ".run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("work", "tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub))
    os.makedirs(out_dir, exist_ok=True)

    env = dict(os.environ)
    env.update(
        TMPDIR=os.path.join(run_dir, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(run_dir, "warehouse"),
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        # Python workers import the program from the checkout
        PYTHONPATH=root,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # every JVM (the launcher's and Spark's) keeps its files in the run
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
    )
    # a fixed-size driver heap, all of it resident from the start, so that
    # neither heap growth nor which heap pages a run happens to touch
    # varies from run to run; JIT compiler threads that live as long as
    # the JVM, so that the worker can read and leave out their CPU
    confs = ["spark.ui.showConsoleProgress=false",
             f"spark.driver.extraJavaOptions=-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
             " -XX:-UseDynamicNumberOfCompilerThreads"]
    if args.trace:
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{os.path.join(run_dir, 'eventlog')}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=true",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {shlex.quote(c)}" for c in confs) + " pyspark-shell"
    for var in ("SPARK_GRAFT_STATE_STORE", "SPARK_GRAFT_BROADCAST_MAX", "SPARK_GRAFT_SHUFFLE"):
        env.pop(var, None)

    log_path = os.path.join(out_dir, f"worker-{args.workload}-{args.seed}.log")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--root", root, "--run-dir", run_dir, "--out-dir", out_dir,
    ]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=os.path.join(run_dir, "work"), env=env,
            stdout=subprocess.PIPE, stderr=log, text=True, start_new_session=True,
        )
        try:
            out, _ = proc.communicate(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            out = ""
            print(f"perfbench: worker timed out after {WORKER_TIMEOUT_S} s", file=sys.stderr)
        finally:
            _stop_group(proc.pid)
            proc.wait()
    shutil.rmtree(run_dir, ignore_errors=True)

    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        return _fail(f"worker failed (exit {proc.returncode}); see {log_path}")
    worker_result = json.loads(lines[-1])
    try:
        metrics = metrics_line(worker_result["raw_metrics"], declared)
    except ValueError as exc:
        return _fail(str(exc))
    for line in lines[:-1]:
        print(line)
    print(json.dumps({
        "correct": worker_result["correct"],
        "attempted": worker_result["attempted"],
        "failed": worker_result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
