"""Tests of the benchmark code itself.

    python -m pytest perfbench/tests -q

The smoke tests run every workload end to end at a tiny size in a
subprocess (each starts its own Spark), so they take a few minutes.
"""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench.run import END_TO_END, PER_LAYER, UNATTRIBUTED_MAX  # noqa: E402
from perfbench.trace import (  # noqa: E402
    SPAN_PROP,
    Span,
    Tracer,
    descendants,
    self_times,
    spark_jobs,
    sum_by_name,
)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
WORKLOADS = ["extract", "kg_build", "curate"]


def test_metric_names_and_units():
    names = list(END_TO_END) + list(PER_LAYER)
    assert len(names) == len(set(names))
    for name, (unit, better) in {**END_TO_END, **PER_LAYER}.items():
        assert NAME.match(name), name
        assert UNIT.match(unit), (name, unit)
        assert better in ("higher", "lower")


def test_benchmark_json_matches_the_code():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == WORKLOADS
    for key, table in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        got = {m["name"]: (m["unit"], m["better"]) for m in spec[key]}
        assert got == table
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert 1 <= spec["run_seconds"] <= 60


def _span(sid, parent, t0, t1, name="x"):
    return Span(sid, name, parent, t0, t1)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, None, 0.0, 10.0, "op"),
        _span(1, 0, 1.0, 3.0, "a"),
        _span(2, 0, 2.0, 5.0, "a"),    # overlaps span 1: counted once
        _span(3, 0, 8.0, 12.0, "b"),   # runs past its parent: clipped
        _span(4, 1, 1.5, 2.5, "c"),    # grandchild: only span 1 loses it
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (4.0 + 2.0))
    assert st[1] == pytest.approx(2.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)
    assert descendants(spans, 1) == {1, 4}
    assert sum_by_name(spans, {0, 1, 2, 3, 4}, st)["a"] == pytest.approx(4.0)


def test_tracer_spans_nest_and_wrappers_are_removed():
    class Target:
        def work(self, x):
            return x + 1

    calls = []
    tracer = Tracer()
    tracer.wrap(Target, "work", "work", record=calls)
    with tracer.span("op"):
        assert Target().work(1) == 2
    tracer.unwrap()
    assert Target.work.__qualname__.endswith("Target.work")
    op = tracer.spans[0].sid
    assert [(s.name, s.parent) for s in tracer.spans] == [("op", None), ("work", op)]
    assert calls[0]["x"] == 1
    assert tracer.spans[1].t0 >= tracer.spans[0].t0
    assert tracer.spans[1].t1 <= tracer.spans[0].t1


def test_spark_jobs_attributes_tasks_to_spans(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {SPAN_PROP: "3"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 1500, "Memory Bytes Spilled": 7,
            "Disk Bytes Spilled": 1,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 500}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Executor Run Time": 250}},
    ]
    (tmp_path / "app").write_text(
        "\n".join(json.dumps(e) for e in events) + '\n{"Event": "Spark')
    jobs = {j["job"]: j for j in spark_jobs(str(tmp_path))}
    assert jobs[0]["span"] == 3 and jobs[1]["span"] is None
    assert jobs[0]["tasks"] == 2 and jobs[0]["run_s"] == pytest.approx(2.0)
    assert jobs[0]["shuffle_bytes"] == 100 and jobs[0]["spill_bytes"] == 8
    assert jobs[1]["tasks"] == 1  # stage 1 ran under job 0, the first to list it


def test_two_tracers_over_one_event_log_keep_their_own_jobs(tmp_path):
    """A run's event log holds the jobs of every traced op; each op's
    Tracer must see only the jobs its own spans started."""
    first, second = Tracer(), Tracer()
    with first.span("op"):
        pass
    with second.span("op"):
        pass
    assert first.spans[0].sid != second.spans[0].sid
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": j, "Stage IDs": [j],
         "Properties": {SPAN_PROP: str(t.spans[0].sid)}}
        for j, t in enumerate((first, first, second))
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events))
    jobs = spark_jobs(str(tmp_path))
    for tracer, want in ((first, {0, 1}), (second, {2})):
        mine = descendants(tracer.spans, tracer.spans[0].sid)
        assert {j["job"] for j in jobs if j["span"] in mine} == want


def test_refuses_to_run_without_the_library(tmp_path):
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "extract",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert "correct" not in p.stdout


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--scale", "0.02"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_traced(workload):
    res = _run(workload, 1)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    assert set(res["metrics"]) == set(PER_LAYER)
    m = {k: v["value"] for k, v in res["metrics"].items()}
    if workload == "kg_build":
        assert m["pipeline.entity_clusters_s"] > 0 and m["canonicalize.cc_calls"] >= 1
        assert m["lakehouse.stage_done_calls"] == m["pipeline.stages_skipped"] == 6
        assert m["pipeline.resume_s"] > 0
        assert m["pipeline.unattributed_s"] <= UNATTRIBUTED_MAX * m["trace.op_s"]
    if workload == "curate":
        assert m["curate.dedup_clusters_s"] > 0 and m["dedup.dropped_ratio"] > 0
    else:
        assert m["extract.kernel_ms_per_page"] > 0 and m["output.triple_f1"] >= 0.95
    assert m["spark.jobs"] > 0


def test_smoke_end_to_end():
    res = _run("extract", 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == set(END_TO_END)
    assert all(v["value"] > 0 for v in res["metrics"].values())
