"""The benchmark's own tests.

    python -m pytest perfbench -q

The fast tests check the metric catalogue, the event-log folding, the
seeded inputs and the refusal to run without the program. The others
run the benchmark itself (about 6 minutes on 4 cores) and check its
output contract: every metric BENCHMARK.json names is emitted with its
unit, pipeline segment walls (or text query walls) add up to the traced
iteration wall, and trace.overhead_pct is reported.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

# run first: it points the fixture generator at the work directory
from perfbench import run  # noqa: E402,I100
from perfbench import eventlog, inputs, probes  # noqa: E402

with open(os.path.join(REPO, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)

# segment spans are contiguous by construction; the tolerance covers
# the digest collect and the wrapper's own bookkeeping
SEGMENT_SUM_TOLERANCE = 0.02


def test_catalogue_matches_benchmark_json():
    e2e = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert e2e == run.END_TO_END_UNITS
    assert layer == run.per_layer_units()
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)


def _ev(kind, **kw):
    return {"Event": kind, **kw}


def test_eventlog_folds_spans():
    desc = {"spark.job.description": "perfbench:parse"}
    events = [
        _ev("SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 1000,
                                        "Properties": desc}),
        _ev("SparkListenerStageSubmitted",
            **{"Stage Info": {"Stage ID": 5}, "Properties": desc}),
        *[_ev("SparkListenerTaskEnd", **{
            "Stage ID": 5,
            "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + ms},
            "Task Metrics": {"Shuffle Write Metrics":
                             {"Shuffle Bytes Written": 500_000}}})
          for ms in (100, 100, 400)],
        _ev("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 5}}),
        _ev("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 1500}),
        # an unlabelled job (another iteration) is ignored
        _ev("SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 1600,
                                        "Properties": {}}),
        _ev("SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 1900}),
        _ev(eventlog._SQL_START, time=1000, sparkPlanInfo={
            "nodeName": "AdaptiveSparkPlan", "children": [
                {"nodeName": "Exchange", "children": [
                    {"nodeName": "MapInPandas", "children": []}]}]}),
    ]
    log = eventlog.EventLog(events)
    s = log.span("parse", 0.9, 2.0)
    assert s["jobs"] == 1 and s["stages"] == 1 and s["tasks"] == 3
    assert s["exec_s"] == pytest.approx(0.5)
    assert s["gap_s"] == pytest.approx(1.1 - 0.5)
    assert s["skew"] == pytest.approx(4.0)
    assert s["shuffle_mb"] == pytest.approx(1.5)
    assert log.plan_counts(0.0, 2.0) == (1, 1)
    assert log.span("render", 0.0, 1.0)["jobs"] == 0


def test_union_of_overlapping_jobs():
    assert eventlog._union_len([(0, 2), (1, 3), (5, 6)]) == 4


def test_street_inputs_are_seeded():
    a, b, c = (inputs.street_docs(s)[:21] for s in (3, 3, 4))
    assert a == b
    assert a != c


def test_text_permutation_keeps_content(tmp_path):
    normalize = inputs.load_normalize(REPO)
    d1, oracle = inputs.text_inputs(str(tmp_path), 1, normalize)
    d2, _ = inputs.text_inputs(str(tmp_path), 2, normalize)
    import pyarrow.parquet as pq
    t1 = pq.read_table(f"{d1}/documents.parquet").to_pylist()
    t2 = pq.read_table(f"{d2}/documents.parquet").to_pylist()
    assert t1 != t2
    source = pq.read_table(
        f"{inputs.TEXT_SOURCE}/documents.parquet").to_pylist()
    assert sorted(t1, key=lambda r: r["doc_id"]) == \
        sorted(t2, key=lambda r: r["doc_id"]) == source
    assert set(oracle) == set(inputs.TEXT_QUERIES)
    assert all(rows for _, rows in oracle.values())


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "street_mixed",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def _bench(workload: str, trace: int) -> tuple[dict, list[dict]]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=REPO, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    iters = [json.loads(ln.split(" ", 1)[1]) for ln in lines
             if ln.startswith("iteration ")]
    return json.loads(lines[-1]), iters


def _check_result(res: dict, spec_metrics: list[dict]) -> None:
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in spec_metrics}
    for v in res["metrics"].values():
        assert isinstance(v["value"], (int, float))


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_end_to_end_metrics(workload):
    res, _ = _bench(workload, 0)
    _check_result(res, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_street_run():
    res, iters = _bench("street_mixed", 1)
    _check_result(res, SPEC["per_layer"])
    m = {k: v["value"] for k, v in res["metrics"].items()}
    traced = next(it for it in iters if it["phase"] == "traced")
    seg_sum = sum(m[f"pipeline.{s}.wall_s"] for s in probes.SEGMENTS)
    assert all(m[f"pipeline.{s}.wall_s"] > 0 for s in probes.SEGMENTS)
    assert seg_sum == pytest.approx(traced["wall_s"],
                                    rel=SEGMENT_SUM_TOLERANCE)
    assert m["pipeline.exec_s"] + m["pipeline.gap_s"] == \
        pytest.approx(seg_sum)
    # every segment runs Spark jobs: zero tasks or exec time would mean
    # the segment's job description no longer reaches its jobs
    assert m["pipeline.jobs"] > 0 and m["pipeline.stages"] > 0
    for s in probes.SEGMENTS:
        assert m[f"pipeline.{s}.tasks"] > 0, s
        assert m[f"pipeline.{s}.exec_s"] > 0, s
    assert "trace.overhead_pct" in m
    assert m["stream.batches"] >= 1
    assert m["kernel.total_ms_per_doc"] > m["kernel.t6_ms_per_doc"] > 0


def test_traced_text_run():
    res, iters = _bench("text_side", 1)
    _check_result(res, SPEC["per_layer"])
    m = {k: v["value"] for k, v in res["metrics"].items()}
    traced = next(it for it in iters if it["phase"] == "traced")
    walls = [m[f"text.{q}.wall_s"] for q in inputs.TEXT_QUERIES]
    assert all(w > 0 for w in walls)
    assert sum(walls) == pytest.approx(traced["wall_s"],
                                       rel=SEGMENT_SUM_TOLERANCE)
    assert m["text.dd_minhash_lsh.shuffle_mb"] > 0
    assert m["pipeline.jobs"] == 0
