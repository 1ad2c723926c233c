"""Tests of the benchmark itself (not of the program it measures).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

from the root of a checkout. The planted-answer test starts a local
Spark session; the others need neither Spark nor the test data.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import types
from datetime import date

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import run as launcher  # noqa: E402
import worker  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)

_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
_UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _fake_run(workload: str, latencies: list[float]) -> worker.Run:
    args = types.SimpleNamespace(workload=workload, seed=1, trace=1)
    run = worker.Run(args, spark_factory=None)
    run.latencies = list(latencies)
    run.attempted = len(latencies)
    run.detail["setup_reps_s"] = [3.0, 1.0, 2.0]
    run.detail["store"] = {"stored_bytes": 300, "input_bytes": 2000}
    return run


def test_benchmark_json_follows_the_contract():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert SPEC["paths"] == ["perfbench"]
    assert 1 <= SPEC["run_seconds"] <= 60
    assert 2 <= len(SPEC["workloads"]) <= 8
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in SPEC[k]]
    assert len(names) == len(set(names))
    assert all(_NAME.match(n) for n in names)
    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert _UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
        assert 0 < m["bound"] <= 0.25
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and _UNIT.match(m["unit"])
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def test_end_to_end_metrics_are_the_declared_ones():
    run = _fake_run("dashboard_reads", [0.5] * 30)
    raw = worker.end_to_end(run, cpu_s=12.0, peak_mb=900.0)
    line = launcher.metrics_line(raw, SPEC["end_to_end"])
    assert {n: v["unit"] for n, v in line.items()} == {
        m["name"]: m["unit"] for m in SPEC["end_to_end"]
    }
    assert raw["setup_s"] == 2.0  # median of the set-up repetitions
    assert raw["stored_bytes_per_input_byte"] == 0.15
    assert run.detail["cpu_s_per_op"] == 0.4 and run.detail["latency"]["p50_s"] == 0.5
    assert all(v["value"] > 0 for v in line.values())


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_per_layer_metrics_are_the_declared_ones(tmp_path, workload):
    run = _fake_run(workload, [1.0, 2.0])
    raw = worker.per_layer(run, str(tmp_path), history=[1.0], p50=1.5)
    line = launcher.metrics_line(raw, SPEC["per_layer"])
    assert {n: v["unit"] for n, v in line.items()} == {
        m["name"]: m["unit"] for m in SPEC["per_layer"]
    }
    assert raw["bench.trace_overhead_share"] == pytest.approx(0.5)
    assert run.detail["trace_baseline"] == {"runs": 1}


def test_code_id_follows_the_program_sources(tmp_path):
    for d in ("kafka_clickhouse_implementation_spark", "tools"):
        (tmp_path / d).mkdir()
    (tmp_path / "__spark_entry__.py").write_text("x = 1\n")
    (tmp_path / "tools" / "check_oracle.py").write_text("")
    mod = tmp_path / "kafka_clickhouse_implementation_spark" / "session.py"
    mod.write_text("a = 1\n")
    before = worker.code_id(str(tmp_path))
    assert worker.code_id(str(tmp_path)) == before
    mod.write_text("a = 2\n")
    assert worker.code_id(str(tmp_path)) != before


def test_undeclared_or_missing_metric_is_refused():
    raw = {m["name"]: 1.0 for m in SPEC["end_to_end"]}
    with pytest.raises(ValueError):
        launcher.metrics_line({**raw, "extra": 1.0}, SPEC["end_to_end"])
    raw.pop("setup_s")
    with pytest.raises(ValueError):
        launcher.metrics_line(raw, SPEC["end_to_end"])


def test_tail_is_the_90th_percentile():
    values = [float(i) for i in range(1, 102)]
    assert worker.tail(values) == (pytest.approx(91.0), 10)
    # twelve rounds, the three compaction rounds slowest: the tail is theirs
    rounds = [1.0] * 9 + [1.5, 1.6, 1.7]
    value, beyond = worker.tail(rounds)
    assert 1.5 <= value <= 1.7 and beyond == 2
    assert worker.tail([2.0]) == (2.0, 0)


def test_campaign_generator_is_seeded_and_counts_exactly():
    a = gen.CampaignEvents(seed=5, block_rows=500)
    b = gen.CampaignEvents(seed=5, block_rows=500)
    lines_a, days_a = a.next_block()
    lines_b, days_b = b.next_block()
    assert lines_a == lines_b and days_a == days_b
    assert sum(a.day_level.values()) == sum(a.day_rows.values()) == 500
    assert len(days_a) >= 2  # out-of-order events reach earlier days
    levels = [json.loads(ln)["level"] for ln in lines_a]
    assert levels.count("delivered") > levels.count("unsubscribe")


def test_events_follow_the_test_data_profile(tmp_path):
    """The shapes gen.py cites from the sf0.1 profile, at sf0.01."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    info = gen.write_events(str(tmp_path), seed=4, sf=0.01)
    assert info["events"]["rows"] == 10_000
    events = pq.read_table(tmp_path / "events.parquet")
    assert events.schema.field("ts").type == pa.timestamp("us")
    value = events["value"]
    assert 45 < pc.mean(value).as_py() < 55  # exponential, mean 50
    assert 30 < pc.approximate_median(value).as_py() < 40  # 50 ln 2 = 34.7
    assert pc.max(events["user_id"]).as_py() < 1500 < len(pc.unique(events["user_id"])) + 10
    # rows are permuted: event_id does not follow file order
    assert events["event_id"].to_pylist() != sorted(events["event_id"].to_pylist())
    assert gen.write_events(str(tmp_path / "again"), seed=4, sf=0.01) == info


def test_ingest_check_flags_a_wrong_rollup_count(tmp_path):
    events = gen.CampaignEvents(seed=3, block_rows=200)
    ing = worker.Ingest(str(tmp_path), events)
    _, days = ing.stage()

    def row(**kw):
        return kw

    rollup = [
        row(day=date.fromordinal(d + worker._EPOCH_ORDINAL), level=lv, total=n)
        for (d, lv), n in events.day_level.items()
    ]
    fact = [row(event_date=worker._yyyymmdd(d), count=events.day_rows[d]) for d in days]
    assert ing.check(rollup, fact, days) is None
    rollup[0]["total"] += 1
    assert ing.check(rollup, fact, days).startswith("rollup")


def test_bare_directory_exits_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".run", ".out", "__pycache__"))
    cmd = SPEC["command"] + ["--workload", SPEC["workloads"][0]["name"], "--seed", "1",
                             "--seconds", "1", "--trace", "0"]
    p = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=170)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_planted_wrong_answer_counts_as_failed(tmp_path, monkeypatch):
    """A query that returns a wrong answer is checked against its
    oracle, counted in ``failed`` and the pass goes on."""
    import random

    from kafka_clickhouse_implementation_spark.session import get_spark

    import __spark_entry__
    from oracle import Oracle, expected_answers, load_check_oracle

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    data = str(tmp_path / "data")
    gen.write_events(data, seed=9, sf=0.001)
    names = ["q_level_totals", "q_json_extract"]
    co = load_check_oracle(ROOT)
    oracle = Oracle(co, json.loads(json.dumps(expected_answers(
        co, data, ["events"], {q: __spark_entry__.oracle_sql()[q] for q in names}))))
    real = __spark_entry__.queries()
    queries = dict(real)
    queries["q_json_extract"] = lambda spark, d: real["q_json_extract"](spark, d).limit(3)
    run = _fake_run("dashboard_reads", [])
    run.spark = get_spark("perfbench-test")
    try:
        worker.dashboard_pass(run, queries, names, data, oracle, random.Random(0), record=True)
        worker.dashboard_pass(run, real, names, data, oracle, random.Random(0), record=True)
    finally:
        run.spark.stop()
    assert [(f["op"], f["kind"]) for f in run.failures] == [("q_json_extract", "rowcount")]
    assert worker.outcome(run) == {
        "correct": False, "attempted": 4, "failed": 1, "failed_share": 0.25,
    }
