"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import threading

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import stats, trace  # noqa: E402


def test_percentile_needs_ten_samples_beyond_it():
    assert not stats.supported(99, 90)   # rank 90 leaves 9 beyond
    assert stats.supported(100, 90)      # rank 90 leaves 10 beyond
    assert stats.tail_count(100, 90) == 10
    assert stats.highest_supported(20) == 50
    assert stats.highest_supported(40) == 75
    assert stats.highest_supported(1000) == 99
    assert stats.highest_supported(15) is None


def test_summarize_reports_only_supported_tail():
    s = stats.summarize([float(i) for i in range(1, 41)])
    assert s["n"] == 40 and s["p50"] == 20.5 and s["p75"] == 30.0
    assert "p90" not in s
    assert stats.summarize([1.0, 2.0]) == {"n": 2, "p50": 1.5}


def test_tally_counts_failed_ops_and_checks():
    t = stats.Tally()
    t.op("lookup", True)
    t.op("lookup", False, "wrong rows")
    t.op("ingest", True)
    t.op("check", False)
    assert (t.attempted, t.failed) == (4, 2)
    assert t.fail_ratio == 0.5
    assert t.failures == ["lookup: wrong rows", "check"]
    assert stats.Tally().fail_ratio == 0.0


def _span(sid, parent, start, end, name="x"):
    return {"id": sid, "name": name, "parent": parent, "start": start,
            "end": end, "attrs": {}}


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),      # overlaps child 1 (another thread)
        _span(3, 0, 8.0, 12.0),     # runs past the parent: clipped
        _span(4, 1, 1.5, 2.0),
    ]
    st = trace.self_times(spans)
    assert st[0] == 10.0 - (5.0 + 2.0)
    assert st[1] == 3.0 - 0.5
    assert st[4] == 0.5


def test_tracer_parents_pool_threads_to_the_root():
    clock = iter(range(100)).__next__
    tr = trace.Tracer(clock=lambda: float(clock()))
    with tr.span("pipeline.run", root=True) as root:
        with tr.span("prep.a"):
            pass
        done = []

        def work():
            with tr.span("merge.vertices"):
                with tr.span("merge.attempt"):
                    done.append(1)

        t = threading.Thread(target=work)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive() and done
    by_name = {s["name"]: s for s in tr.spans}
    assert by_name["prep.a"]["parent"] == root["id"]
    assert by_name["merge.vertices"]["parent"] == root["id"]
    assert by_name["merge.attempt"]["parent"] == by_name["merge.vertices"]["id"]
    assert by_name["pipeline.run"]["parent"] is None


def test_tracer_sets_and_restores_job_group():
    class FakeSC:
        def __init__(self):
            self.props = {}

        def getLocalProperty(self, k):
            return self.props.get(k)

        def setLocalProperty(self, k, v):
            if v is None:
                self.props.pop(k, None)
            else:
                self.props[k] = v

    sc = FakeSC()
    tr = trace.Tracer(sc=sc)
    with tr.span("a") as a:
        assert sc.props[trace.GROUP_KEY] == f"pb-{a['id']}"
        with tr.span("b") as b:
            assert sc.props[trace.GROUP_KEY] == f"pb-{b['id']}"
        assert sc.props[trace.GROUP_KEY] == f"pb-{a['id']}"
    assert trace.GROUP_KEY not in sc.props


def _task_end(stage, run_ms, cpu_ns, launch, finish, shuffle=0, spill=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish},
            "Task Metrics": {"Executor Run Time": run_ms,
                             "Executor CPU Time": cpu_ns, "JVM GC Time": 5,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                             "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0}}


def test_fold_event_log_groups_tasks_by_job_group():
    events = [
        {"Event": "SparkListenerLogStart"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {trace.GROUP_KEY: "pb-7"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
        _task_end(0, 100, 2e9, 1000, 1100, shuffle=10),
        _task_end(1, 300, 1e9, 1000, 1300, spill=4),
        _task_end(1, 100, 1e9, 1000, 1100),
        _task_end(2, 50, 5e8, 1000, 1050),
    ]
    lines = [json.dumps(e) for e in events] + [""]
    folded = trace.fold_event_log(lines)
    g = folded["pb-7"]
    assert g["tasks"] == 3 and g["shuffle_write_bytes"] == 10 and g["spill_bytes"] == 4
    assert abs(g["executor_cpu_s"] - 4.0) < 1e-9 and abs(g["run_s"] - 0.5) < 1e-9
    assert folded[""]["tasks"] == 1
    spans = [_span(7, None, 0, 1), _span(8, None, 0, 1)]
    per = trace.span_task_metrics(spans, folded)
    assert set(per) == {7}
    assert per[7]["task_skew"] == 0.3 / 0.1  # max / median task duration


def test_benchmark_json_lists_every_metric_the_run_prints():
    from perfbench import run

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run._per_layer_units()
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in bench["end_to_end"])
    assert all(m["bound"] <= 0.25 for m in bench["end_to_end"])


def test_classify_buckets():
    from perfbench.instrument import classify_buckets

    before = {"bucket=0": ["v1"], "bucket=1": ["v1"], "bucket=2": [f"v{i}" for i in range(8)]}
    after = {"bucket=0": ["v1", "v2"], "bucket=1": ["v2"], "bucket=2": ["v9"],
             "bucket=3": ["v1"]}
    assert classify_buckets(before, after) == {
        "created": 1, "appended": 1, "rewritten": 2, "compacted": 1}


def test_accounting_splits_wall_time_into_covered_and_unclaimed():
    from perfbench import run

    spans = [
        _span(0, None, 0.0, 10.0, "pipeline.run"),
        _span(1, 0, 1.0, 3.0, "ops.__init__"),
        _span(2, 0, 5.0, 8.0, "merge.vertices"),
        _span(3, 0, 6.0, 9.0, "merge.triples"),   # overlaps 2 (pool thread)
        _span(4, 3, 6.5, 7.0, "merge.attempt"),
        _span(5, None, 11.0, 12.0, "graph.pagerank"),  # outside the root
    ]
    acc = run.accounting(spans, isolated_s=2.0)
    assert acc["trace.covered_s"] == 2.0 + 4.0
    assert acc["trace.unclaimed_s"] == 4.0
    assert acc["trace.accounted_ratio"] == (6.0 + 2.0) / 10.0


def test_code_hash_follows_package_sources(tmp_path):
    from perfbench import inputs

    pkg = tmp_path / inputs.PACKAGE
    (pkg / "operators").mkdir(parents=True)
    (pkg / "operators" / "merge.py").write_text("A = 1\n")
    (pkg / "notes.txt").write_text("not code\n")
    first = inputs.code_hash(str(tmp_path))
    (pkg / "notes.txt").write_text("changed, still not code\n")
    inputs.code_hash.cache_clear()
    assert inputs.code_hash(str(tmp_path)) == first
    (pkg / "operators" / "merge.py").write_text("A = 2\n")
    inputs.code_hash.cache_clear()
    assert inputs.code_hash(str(tmp_path)) != first
