"""Tests of the benchmark harness that need no Spark session.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

import run
from spans import PeakRss, Tracer, event_log_by_group, median, percentile, self_times

HERE = Path(__file__).resolve().parent


def test_percentile_matches_linear_rule():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert median(xs) == 3.0
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 5.0
    assert percentile(xs, 90) == pytest.approx(4.6)
    with pytest.raises(ValueError):
        median([])


def _span(i, parent, start, end, name="s", request=None):
    return {"id": i, "name": name, "parent": parent, "request": request,
            "start": start, "end": end}


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 5.0, 9.0),
        _span(3, 2, 6.0, 7.0),  # grandchild: counts against span 2 only
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(3.0)
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    assert sum(st.values()) == pytest.approx(10.0)


def test_tracer_nests_spans_and_inherits_request():
    seen = []
    tr = Tracer(True, on_change=lambda s: seen.append(s and s["name"]))
    with tr.span("op", request="op0"):
        with tr.span("layer"):
            pass
    with tr.span("probe"):
        pass
    op, layer, probe = tr.spans
    assert layer["parent"] == op["id"] and layer["request"] == "op0"
    assert probe["parent"] is None and probe["request"] is None
    assert op["start"] <= layer["start"] <= layer["end"] <= op["end"]
    # job-group tagging follows the open span and reverts on close
    assert seen == ["op", "layer", "op", None, "probe", None]


def test_disabled_tracer_records_nothing():
    tr = Tracer(False, on_change=lambda s: pytest.fail("tagged while disabled"))
    with tr.span("op", request="op0"):
        pass
    assert tr.spans == []


def test_event_log_aggregates_per_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerLogStart"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "build.pipeline.run#op0"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
    ]
    tasks = [
        {"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Task Metrics": {
            "Executor CPU Time": 2_000_000_000, "JVM GC Time": 500,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
            "Memory Bytes Spilled": 7, "Disk Bytes Spilled": 3,
            "Input Metrics": {"Records Read": 11}}}
        for sid in (0, 1, 2)
    ]
    # a rolling log: the job starts and task ends sit in separate files
    log = tmp_path / "eventlog_v2_local-1"
    log.mkdir()
    (log / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events))
    (log / "events_2_local-1").write_text("\n".join(json.dumps(e) for e in tasks))
    (log / ".events_1_local-1.crc").write_bytes(b"crc\x00")
    (log / "appstatus_local-1").write_text("")
    groups = event_log_by_group(tmp_path)
    g = groups["build.pipeline.run#op0"]
    assert g["jobs"] == 1 and g["tasks"] == 2
    assert g["cpu_s"] == pytest.approx(4.0) and g["gc_s"] == pytest.approx(1.0)
    assert g["shuffle_write_bytes"] == 200 and g["spill_bytes"] == 20
    assert groups[""]["tasks"] == 1 and groups[""]["records_read"] == 11

    layers = run._spark_layers(groups, n_ops=2)
    assert layers["spark.build.cpu_s"] == pytest.approx(2.0)
    assert layers["spark.build.tasks"] == 1
    assert layers["spark.query.tasks"] == 0


def test_peak_rss_sees_this_process():
    with PeakRss(os.getpid(), interval_s=0.01) as rss:
        pass
    assert rss.peak > 1 << 20


class _TinyWorkload:
    """Stands in for a Spark workload."""

    name = "tiny"
    items = 10

    def __init__(self, tracer):
        self.tracer = tracer
        self.setups = 0

    def setup(self, rep):
        self.setups += 1

    def prepare(self):
        self.expected = 3

    def op(self, i):
        with self.tracer.span("layer.call"):
            return 3

    def check(self, result):
        return result == self.expected

    def layers(self):
        return {"tiny.ops": 1}


@pytest.mark.parametrize("trace", [False, True])
def test_measure_smoke(trace):
    tr = Tracer(trace)
    wl = _TinyWorkload(tr)
    out = run._measure(wl, tr, seconds=0.0, jvm_pid=os.getpid())
    assert wl.setups == run.SETUP_REPS and len(out["setup_s"]) == run.SETUP_REPS
    assert len(out["op_s"]) == 1 and out["failed"] == 0
    out = run._measure(wl, tr, seconds=1e-9, jvm_pid=os.getpid())
    assert len(out["op_s"]) >= 1
    if trace:
        assert out["layers"]["tiny.ops"] == 1
        assert out["layers"]["mem.peak_rss_mb"] > 1
    else:
        assert out["layers"] == {}
    if trace:
        ops = [s for s in tr.spans if s["name"] == "op"]
        calls = [s for s in tr.spans if s["name"] == "layer.call"]
        assert len(calls) == len(ops) and all(c["request"] for c in calls)


def test_failed_check_is_counted():
    tr = Tracer(False)
    wl = _TinyWorkload(tr)
    wl.op = lambda i: 4
    out = run._measure(wl, tr, seconds=0.0, jvm_pid=os.getpid())
    assert out["failed"] == 1


def test_benchmark_json_matches_the_runner():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert {w["name"] for w in spec["workloads"]} == set(run_workloads())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])


def run_workloads():
    from workloads import WORKLOADS

    return WORKLOADS


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(HERE.parent / "BENCHMARK.json", tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_batch",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
