"""Tests of the benchmark itself: its reducers, its /proc accounting, and a
smoke run of every workload on a tiny input.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

from perfbench.host import ProcTree
from perfbench.ladder import cdc_metrics, lineage_metrics
from perfbench.trace import (Tracer, interval_union, median, parse_metric,
                             self_time)
from perfbench.workloads import Ops

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("text, want", [
    ("29,867", {"total": 29867.0}),
    ("2.6 KiB", {"total": 2662.4}),
    ("0 ms", {"total": 0.0}),
    ("1.5 m", {"total": 90.0}),
    ("total (min, med, max (stageId: taskId))\n"
     "10.5 s (2.6 s, 2.6 s, 2.7 s (stage 134.0: task 233))",
     {"total": 10.5, "min": 2.6, "med": 2.6, "max": 2.7}),
    ("total (min, med, max (stageId: taskId))\n"
     "7.9 MiB (1045.5 KiB, 2.4 MiB, 2.6 MiB (stage 1.0: task 2))",
     {"total": 7.9 * 2**20, "min": 1045.5 * 2**10, "med": 2.4 * 2**20,
      "max": 2.6 * 2**20}),
    ("(min, med, max (stageId: taskId)):\n(1, 1, 3 (stage 2.0: task 4))",
     {"min": 1.0, "med": 1.0, "max": 3.0}),
])
def test_parse_metric(text, want):
    got = parse_metric(text)
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == pytest.approx(want[k])


def test_parse_metric_rejects_unknown_shapes():
    with pytest.raises(ValueError):
        parse_metric("n/a")


def test_interval_union_merges_overlaps():
    assert interval_union([]) == 0
    assert interval_union([(0, 2), (1, 3), (5, 6)]) == 4
    assert interval_union([(5, 6), (0, 1), (0.5, 0.75)]) == 2


def test_self_time_clips_children_to_the_span():
    span = {"start": 10.0, "end": 20.0}
    kids = [{"start": 9.0, "end": 12.0}, {"start": 11.0, "end": 13.0},
            {"start": 19.0, "end": 25.0}, {"start": 30.0, "end": 31.0}]
    assert self_time(span, kids) == pytest.approx(10 - 3 - 1)


def test_median_over_batches():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 2.0, 3.0]) == 2.5


def _sql(parent: int, start: float, end: float, **metrics) -> dict:
    return {"name": "sql", "parent": parent, "start": start, "end": end,
            "description": "parquet at x", "plan_writes": None,
            "stages": [], "tasks": 1,
            "metrics": {k.replace("_", " "): {"total": v}
                        for k, v in metrics.items()}}


def test_tracer_nests_spans_and_sums_self_time():
    tr = Tracer(enabled=True)
    with tr.span("outer") as outer:
        with tr.span("inner"):
            time.sleep(0.02)
    assert tr.spans[1]["parent"] == outer["id"]
    selfs = tr.self_times()
    assert selfs["inner"] >= 0.02
    assert selfs["outer"] == pytest.approx(outer["wall"] - selfs["inner"],
                                           abs=1e-6)


def test_disabled_tracer_only_times():
    tr = Tracer(enabled=False)
    with tr.span("x") as sp:
        pass
    assert sp["wall"] >= 0 and tr.spans == []


def test_lineage_metrics_split_writes_and_gap():
    tr = Tracer(enabled=True)
    tr.spans = [{"id": 0, "name": "lineage", "parent": None,
                 "start": 0.0, "end": 10.0, "wall": 10.0, "groups": 2}]
    ex = [_sql(0, 1.0, 4.0, written_output=2e6, number_of_written_files=3),
          _sql(0, 5.0, 6.0, written_output=1e6, number_of_written_files=1),
          _sql(0, 7.0, 7.5)]
    ex[0]["plan_writes"] = "file:/w/out/extracted"
    ex[1]["plan_writes"] = "file:/w/out/lineage"
    ex[2]["description"] = "collect at lineage.py"
    for i, e in enumerate(ex, start=1):
        tr.spans.append({"id": i, **e})
    m = lineage_metrics(tr, tr.spans[0])
    assert m["lineage.sql_executions"] == 3
    assert m["lineage.written_mb"] == pytest.approx(3.0)
    assert m["lineage.files_written"] == 4
    assert m["lineage.extract_write_s"] == pytest.approx(3.0)
    assert m["lineage.commit_s"] == pytest.approx(1.5)
    assert m["lineage.driver_gap_s"] == pytest.approx(10 - 4.5)


def test_cdc_metrics_are_medians_over_cycles():
    tr = Tracer(enabled=True)
    ops = Ops()
    for b, wall in enumerate((1.0, 3.0, 2.0)):
        base = len(tr.spans)
        tr.spans += [
            {"id": base, "name": "cowtable", "parent": None,
             "start": 0.0, "end": wall, "wall": wall},
            {"id": base + 1, "name": "maintain", "parent": None,
             "start": 0.0, "end": 2 * wall, "wall": 2 * wall},
            {"id": base + 2, **_sql(base + 1, 0.0, wall)}]
        ops.written.append(1e6 * (b + 1))
        ops.add("ingest", {"files_rewritten": b, "span": base})
        ops.add("refresh", {"changed_convs": 100, "files_rewritten": b,
                            "files_carried": 10 - b, "table_files": 10,
                            "span": base + 1})
    m = cdc_metrics(tr, ops)
    assert m["ingest.wall_s"] == 2.0
    assert m["refresh.wall_s"] == 4.0
    assert m["refresh.driver_gap_s"] == 2.0
    assert m["ingest.sql_executions"] == 0
    assert m["refresh.sql_executions"] == 1
    assert m["refresh.files_carried"] == 9
    assert m["refresh.written_mb"] == 2.0


def test_proc_tree_follows_and_reaps_children():
    tree = ProcTree(interval=0.05)
    child = subprocess.Popen([sys.executable, "-c",
                              "import time; time.sleep(0.5)"])
    time.sleep(0.2)
    assert child.pid in tree.sample()
    assert tree.cpu_seconds() > 0
    child.wait(timeout=10)
    assert tree.stop_and_reap(timeout=10) == []


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=300)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"]
                                      for w in _spec()["workloads"]])
def test_smoke_reports_every_metric_with_its_unit(workload, trace):
    out = _run(ROOT, workload, trace)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    declared = _spec()["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
    report = json.loads(out.stdout.strip().splitlines()[-2])
    assert report["host"]["nproc"] >= 1 and report["input"]["turns"] > 0
    if trace:
        tag = f"{workload}-seed3-trace1-smoke.spans.json"
        with open(os.path.join(ROOT, ".perfbench", "results", tag)) as fh:
            spans = json.load(fh)
        names = {s["name"] for s in spans["spans"]}
        assert {"session", "synth", "lineage", "cowtable", "maintain",
                "scan", "arrow", "merge.map", "sql"} <= names
        assert "overhead" in spans


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(str(tmp_path), _spec()["workloads"][0]["name"], 0)
    assert out.returncode != 0
    assert out.stdout.strip() == ""
