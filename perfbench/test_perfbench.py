"""Tests of the benchmark itself.

    python -m pytest perfbench/ -q                # unit tests + tiny smoke runs
    python -m pytest perfbench/ -q -k "not smoke" # unit tests only (no Spark)

The smoke runs execute ``run.py`` at ``--scale tiny`` (the sf0.001-shaped
corpus, a 200-row gan_train with one epoch) and assert that every metric
BENCHMARK.json names is printed, with its unit, and that the outputs pass
their checks.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402
from spans import Span, covered_s, fold_event_log, outermost, self_times  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


def test_corpus_is_deterministic_and_typed():
    a, b = inputs.build_tables(0.001), inputs.build_tables(0.001)
    assert inputs.table_digest(a) == inputs.table_digest(b)
    assert str(a["lineitem"].schema.field("l_shipdate").type) == "timestamp[us]"
    assert str(a["embeddings"].schema.field("embedding").type.value_type) == "float"
    dups = [t for t in a["documents"].column("text").to_pylist() if t.endswith(" dup")]
    assert dups, "the near-duplicate structure must be present"


def test_gan_rows_follow_the_seed():
    x1, y1 = inputs.gan_arrays(5, 50)
    x2, y2 = inputs.gan_arrays(5, 50)
    x3, _ = inputs.gan_arrays(6, 50)
    assert (x1 == x2).all() and (y1 == y2).all() and not (x1 == x3).all()
    assert x1.min() >= 0.0 and x1.max() <= 1.0 and x1.shape == (50, 784)


def test_oracle_compare_admits_only_a_one_unit_rounding_split():
    spark = pd.DataFrame({"k": [1, 2], "v": [58.785313, 1.5]})
    tie = pd.DataFrame({"k": [1, 2], "v": [58.785312, 1.5]})
    off = pd.DataFrame({"k": [1, 2], "v": [58.785310, 1.5]})
    rounds = {"v": 6}
    assert checks.oracle_compare(spark, spark) == (True, 0)
    assert checks.oracle_compare(spark, tie, rounds) == (True, 1)
    assert checks.oracle_compare(spark, tie)[0] is False  # v not named as rounding
    assert checks.oracle_compare(spark, off, rounds)[0] is False
    assert checks.oracle_compare(spark, tie.rename(columns={"v": "w"}), rounds)[0] is False
    assert checks.digest(spark) == checks.digest(spark.iloc[::-1])


@pytest.mark.parametrize("x,y,d", [(100.0, 101.0, 6), (100.0, 101.0, 2), (1234.5, 1234.6, 6),
                                   (1234.5, 1234.6, 2), (0.1234567, 0.1234568, 6)])
def test_oracle_compare_rejects_wider_float_differences(x, y, d):
    a, b = pd.DataFrame({"k": [1], "v": [x]}), pd.DataFrame({"k": [1], "v": [y]})
    assert checks.oracle_compare(a, b, {"v": d})[0] is False
    assert checks.oracle_compare(a, b)[0] is False


def _span(sid, parent, layer, t0, t1):
    sp = Span(sid, parent, layer, layer, t0)
    sp.t1 = t1
    return sp


def test_self_times_sum_to_the_root_and_outermost_skips_nesting():
    spans = [_span(1, 0, "bench", 0.0, 10.0), _span(2, 1, "queries", 1.0, 6.0),
             _span(3, 2, "operators.dedup", 2.0, 5.0), _span(4, 3, "operators.dedup", 3.0, 4.0),
             _span(5, 1, "spark", 6.0, 9.5)]
    kids: dict = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    st = self_times(spans, kids)
    assert st == pytest.approx({"bench": 1.5, "queries": 2.0, "operators.dedup": 3.0, "spark": 3.5})
    assert sum(st.values()) == pytest.approx(10.0)
    by_id = {s.id: s for s in spans}
    top = outermost(spans, by_id, lambda s: s.layer == "operators.dedup")
    assert [s.id for s in top] == [3]


def test_job_gap_counts_only_uncovered_wall():
    jobs = [{"submit_ms": 1000, "end_ms": 3000}, {"submit_ms": 2000, "end_ms": 4000},
            {"submit_ms": 6000, "end_ms": 7000}]
    assert covered_s(jobs, 0.0, 10.0) == pytest.approx(4.0)
    assert covered_s(jobs, 3.5, 6.5) == pytest.approx(1.0)


def test_event_log_fold_groups_tasks_by_job(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 10,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "7"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task End Reason": {"Reason": "Success"},
         "Task Info": {"Accumulables": [{"Name": "time to run Python workers", "Update": "250"}]},
         "Task Metrics": {"Executor Run Time": 400, "Executor CPU Time": 3 * 10**8,
                          "Shuffle Read Metrics": {"Local Bytes Read": 5, "Fetch Wait Time": 2},
                          "Input Metrics": {"Bytes Read": 100, "Records Read": 9}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task End Reason": {"Reason": "ExceptionFailure"},
         "Task Info": {}, "Task Metrics": {"Executor Run Time": 100}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 900},
    ]
    path = tmp_path / "events"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs = fold_event_log([str(path)])
    job = jobs[0]
    assert job["group"] == "7" and job["end_ms"] == 900 and len(job["stages"]) == 1
    m = job["metrics"]
    assert (m["tasks"], m["tasks_failed"], m["run_ms"], m["python_run_ms"]) == (2, 1, 500, 250)
    assert (m["shuffle_read"], m["fetch_wait_ms"], m["scan_bytes"], m["scan_rows"]) == (5, 2, 100, 9)


def _run(workload: str, trace: int, seed: int = 3) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_smoke_prints_every_named_metric(workload, trace):
    out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    named = BENCH["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in named}
    for m in named:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], (int, float))


def test_smoke_tabular_workload_still_runs():
    out = _run("tabular", 0)
    assert out["correct"] and out["attempted"] == 8


def test_smoke_gan_train_checks_a_seed_with_no_recorded_history():
    # expected.json records tiny-scale histories for seeds 0-9 only; any other
    # seed is checked against the replay alone
    out = _run("gan_train", 0, seed=918273)
    assert out["correct"] and out["attempted"] == 4
