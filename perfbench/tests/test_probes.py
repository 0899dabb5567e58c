"""Tests of the benchmark's own probes: event-log parser, plan
fingerprint, /proc/stat steal sampler, process-tree sampler and spans.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import probes, spans  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _captured():
    with open(os.path.join(DATA, "events_knn_ring.jsonl"), encoding="utf-8") as f:
        return f.readlines()


def test_captured_ring_log_totals():
    """A ring-kNN call captured from Spark 4.1: three jobs of group
    m0:knn_ring (the broadcast-cap probe and two adaptive stages)."""
    layers = probes.parse_event_log(_captured())
    assert set(layers) == {"m0:knn_ring"}
    ring = layers["m0:knn_ring"]
    assert ring["tasks"] == 12
    assert ring["stages"] == 3
    assert ring["task_retries"] == 0
    assert abs(ring["executor_run_s"] - 5.974) < 1e-9
    assert abs(ring["shuffle_write_mb"] - 0.266325) < 1e-9
    # the inner cell join of round 1, counted through the adaptive re-plan
    assert ring["inner_join_rows"] == 349333
    assert [j[0] for j in ring["jobs"]] == [0, 5, 6]
    assert all(t0 <= t1 for _, t0, t1, _ in ring["jobs"])
    assert sum(len(j[3]) for j in ring["jobs"]) == 3
    assert {g.split("(")[0] for g in ring["generators"]} == {"Generate explode"}
    # both Generate texts are cut at 200 characters; one ring round ran
    assert probes.knn_ring_rounds(ring["generators"]) == 1


def test_knn_ring_rounds_counts_radius_literals():
    def gen(lit, over="_qtx#12L"):
        return ("Generate explode(array_distinct(transform(org.apache.spark.sql."
                f"catalyst.expressions.UnsafeArrayData@{lit}, lambdafunction(pmod(("
                f"{over} + cast(lambda d#70 as bigint)), 16), lambda d#70, false))))")
    qty = ("Generate explode(array_distinct(filter(transform(org.apache.spark.sql."
           "catalyst.expressions.UnsafeArrayData@8edd81ac, lambdafunction((_qty#13L")
    # round 2's plan repeats round 1's subtree; its y explode is not counted
    assert probes.knn_ring_rounds([gen("8edd81ac"), qty, gen("8edd81ac", "_qtx#99L"),
                                   gen("1f2e3d4c")]) == 2
    assert probes.knn_ring_rounds([qty]) == 0


def _task_end(stage, reason, accums, attempt=0):
    return json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": reason},
        "Task Info": {"Attempt": attempt, "Accumulables": [
            {"ID": i, "Name": n, "Update": u} for i, (n, u) in enumerate(accums)]},
    })


def test_python_worker_metrics_and_retries():
    lines = [
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 1,
                    "Submission Time": 1000, "Stage IDs": [7],
                    "Properties": {"spark.jobGroup.id": "m3:tiles"}}),
        _task_end(7, "Success", [("time to run Python workers", "1500"),
                                 ("time to start Python workers", "20"),
                                 ("data sent to Python workers", "2000000"),
                                 ("data returned from Python workers", "500000"),
                                 ("internal.metrics.executorCpuTime", 3e9),
                                 ("internal.metrics.diskBytesSpilled", 1e6)]),
        _task_end(7, "ExceptionFailure", [("time to run Python workers", "500")]),
        _task_end(8, "Success", [("time to run Python workers", "9999")]),
        json.dumps({"Event": "SparkListenerJobEnd", "Job ID": 1,
                    "Completion Time": 4000}),
    ]
    layer = probes.parse_event_log(lines)["m3:tiles"]
    assert layer["python_run_s"] == 2.0  # stage 8 belongs to no job
    assert layer["python_start_s"] == 0.02
    assert layer["to_python_mb"] == 2.0
    assert layer["from_python_mb"] == 0.5
    assert layer["executor_cpu_s"] == 3.0
    assert layer["spill_mb"] == 1.0
    assert (layer["tasks"], layer["task_retries"]) == (2, 1)
    assert layer["jobs"] == [(1, 1000, 4000, [])]


PLAN_A = """AdaptiveSparkPlan isFinalPlan=false
+- HashAggregate(keys=[], functions=[count(1), sum(cs1#41L)])
   +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=118]
      +- MapInPandas gen(image_id#0, bytes#1)#30, [image_id#31, z#32]
         +- BroadcastHashJoin [_tx#12L, _ty#13L], [x#20, y#21], Inner
            :- FileScan parquet [image_id#0,bytes#1] Location: InMemoryFileIndex(1 paths)[file:/tmp/a/images], ReadSchema: struct<image_id:string>
"""


def test_plan_fp_ignores_ids_and_paths():
    plan_b = (PLAN_A.replace("#41L", "#977L").replace("plan_id=118", "plan_id=5")
              .replace("#30", "#301").replace("file:/tmp/a/images", "file:/x/y"))
    assert probes.plan_fp(PLAN_A) == probes.plan_fp(plan_b)
    assert "#" in probes.strip_plan(PLAN_A) and "#41" not in probes.strip_plan(PLAN_A)
    changed = PLAN_A.replace("BroadcastHashJoin", "SortMergeJoin")
    assert probes.plan_fp(PLAN_A) != probes.plan_fp(changed)
    assert probes.plan_fp(PLAN_A, PLAN_A) != probes.plan_fp(PLAN_A)
    assert len(probes.plan_fp(PLAN_A)) == 16


def test_steal_from_proc_stat(tmp_path):
    stat = tmp_path / "stat"
    stat.write_text("cpu  100 0 50 800 10 0 0 40 0 0\ncpu0 1 2 3 4 5 6 7 8 0 0\n")
    before = probes.read_cpu_ticks(str(stat))
    assert before == (1000, 40)
    stat.write_text("cpu  200 0 60 1500 10 0 0 70 0 0\n")
    after = probes.read_cpu_ticks(str(stat))
    assert abs(probes.steal_pct(before, after) - 100.0 * 30 / 840) < 1e-12
    assert probes.steal_pct(after, after) == 0.0
    total, steal = probes.read_cpu_ticks()  # the real file parses too
    assert total > 0 and 0 <= steal <= total


def _busy_child(seconds: float) -> subprocess.Popen:
    return subprocess.Popen([sys.executable, "-c",
                             "import time\nt=time.time()\n"
                             f"while time.time()-t<{seconds}: pass"])


def test_proc_tree_sees_children():
    child = _busy_child(0.6)
    try:
        tree = probes.ProcTree(os.getpid()).start()
        tree.mark()
        assert child.pid in tree.pids()
        time.sleep(0.4)
        assert tree.cpu_s() > 0.1
        assert tree.peak_rss_mb() > 1.0
        tree.stop()
    finally:
        child.wait(timeout=10)


def test_proc_tree_counts_reaped_child_once():
    """A child that exits and is reaped inside the marked window counts
    once: its last sample, not again through the parent's cutime."""
    child = _busy_child(0.5)
    try:
        tree = probes.ProcTree(os.getpid()).start()
        tree.mark()
        own0, kids0 = os.times()[:2], os.times()[2:4]
        child.wait(timeout=10)
        own1, kids1 = os.times()[:2], os.times()[2:4]
        child_s = sum(kids1) - sum(kids0)
        assert child_s > 0.2
        time.sleep(3 * probes.SAMPLE_S)
        got = tree.cpu_s()
        tree.stop()
        own_s = sum(own1) - sum(own0)
        assert abs(got - own_s - child_s) < 0.15, (got, own_s, child_s)
    finally:
        child.kill()
        child.wait(timeout=10)


def test_self_time_subtracts_children():
    tr = spans.Tracer()
    root = tr.add("root", 0.0, 10.0)
    tr.add("a", 1.0, 4.0, parent=root)
    tr.add("b", 3.0, 5.0, parent=root)  # overlaps a: union is 1..5
    tr.add("c", 9.0, 12.0, parent=root)  # clipped to the parent
    st = tr.self_times()
    assert st["root"] == [1, 10.0, 5.0]
    assert st["a"] == [1, 3.0, 3.0]
    assert spans.covered([(0, 1), (2, 3)], 0.5, 2.5) == 1.0
    off = spans.Tracer(enabled=False)
    assert off.add("x", 0, 1) == -1 and off.spans == []

