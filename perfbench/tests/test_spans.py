"""Span self-time arithmetic and status-store snapshot differencing."""

import pytest

from perfbench.metrics import layer_metrics
from perfbench.spans import STAGE_FIELDS, NullTracer, Snapshot, Span, diff, self_times


def span(i, start, end, parent=None, name="x", layer="l", **counts):
    s = Span(name, layer, "r", start, end, id=i, parent=parent)
    s.counts.update(counts)
    return s


def stage(status="COMPLETE", **fields):
    return {"status": status, **{f: fields.get(f, 0) for f in STAGE_FIELDS}}


def test_self_time_leaf_is_duration():
    assert self_times([span(0, 1.0, 3.5)]) == [2.5]


def test_self_time_subtracts_children():
    spans = [span(0, 0.0, 10.0), span(1, 1.0, 3.0, 0), span(2, 5.0, 6.0, 0)]
    assert self_times(spans) == pytest.approx([7.0, 2.0, 1.0])


def test_self_time_overlapping_children_count_once():
    spans = [span(0, 0.0, 10.0), span(1, 1.0, 4.0, 0), span(2, 3.0, 6.0, 0)]
    assert self_times(spans)[0] == pytest.approx(5.0)


def test_self_time_grandchildren_only_reduce_their_parent():
    spans = [span(0, 0.0, 10.0), span(1, 2.0, 8.0, 0), span(2, 3.0, 5.0, 1)]
    assert self_times(spans) == pytest.approx([4.0, 4.0, 2.0])


def test_self_time_clips_children_to_parent_and_drops_snapshot_time():
    spans = [span(0, 0.0, 10.0, snapshot_s=0.5), span(1, 8.0, 12.0, 0)]
    assert self_times(spans)[0] == pytest.approx(7.5)


def test_self_time_on_a_subset_uses_span_ids():
    spans = [span(7, 0.0, 4.0), span(9, 1.0, 2.0, 7)]
    assert self_times(spans) == pytest.approx([3.0, 1.0])


def test_diff_counts_new_jobs_stages_and_growth():
    before = Snapshot(
        jobs={0: "SUCCEEDED"},
        stages={"0:0": stage(numCompleteTasks=4, executorRunTime=100)},
    )
    after = Snapshot(
        jobs={0: "SUCCEEDED", 1: "SUCCEEDED", 2: "SUCCEEDED"},
        stages={
            "0:0": stage(numCompleteTasks=4, executorRunTime=100),
            "1:0": stage(numCompleteTasks=4, numFailedTasks=1, executorRunTime=250,
                         shuffleWriteBytes=1000, diskBytesSpilled=64, jvmGcTime=7),
            "2:0": stage(numCompleteTasks=2, shuffleReadBytes=1000, outputBytes=5),
        },
    )
    d = diff(before, after)
    assert d["jobs"] == 2
    assert d["stages"] == 2
    assert d["tasks"] == 7
    assert d["numFailedTasks"] == 1
    assert d["executorRunTime"] == 250
    assert d["shuffleWriteBytes"] == 1000
    assert d["shuffleReadBytes"] == 1000
    assert d["diskBytesSpilled"] == 64
    assert d["jvmGcTime"] == 7
    assert d["outputBytes"] == 5


def test_diff_takes_only_the_growth_of_a_running_stage():
    before = Snapshot(stages={"3:0": stage("ACTIVE", numCompleteTasks=1, executorRunTime=40)})
    after = Snapshot(stages={"3:0": stage(numCompleteTasks=4, executorRunTime=160)})
    d = diff(before, after)
    assert (d["stages"], d["tasks"], d["executorRunTime"]) == (1, 3, 120)


def test_diff_ignores_skipped_stages_and_retried_attempts_count_separately():
    after = Snapshot(stages={
        "4:0": stage("SKIPPED"),
        "5:0": stage("FAILED", numFailedTasks=2),
        "5:1": stage(numCompleteTasks=3),
    })
    d = diff(Snapshot(), after)
    assert (d["stages"], d["tasks"], d["numFailedTasks"]) == (2, 5, 2)


def test_diff_of_identical_snapshots_is_empty():
    s = Snapshot(jobs={1: "SUCCEEDED"}, stages={"1:0": stage(numCompleteTasks=9)})
    assert all(v == 0 for v in diff(s, s).values())


def test_null_tracer_leaves_frames_alone():
    tr = NullTracer()
    marker = object()
    with tr.span("a", "b") as sp:
        sp.count("rows", 1)
    assert tr.materialize(marker) is marker


def test_layer_metrics_from_spans():
    spark = {k: 0 for k in STAGE_FIELDS}
    loop = span(1, 1.0, 3.0, 0, name="pregel.run", layer="pregel",
                supersteps=4, messages=400, durable_ms=[600.0], local_ms=[400.0, 500.0, 500.0])
    loop.spark = {**spark, "jobs": 8, "stages": 12, "tasks": 48, "executorRunTime": 4000,
                  "shuffleWriteBytes": 800, "outputBytes": 99}
    algo = span(0, 0.0, 4.0, name="algorithms.pagerank", layer="algorithms",
                supersteps=4, loop_ms=2000.0, residual=5e-7)
    algo.spark = {**spark}
    m = layer_metrics([algo, loop], slots=4)
    assert m["pregel.jobs_per_superstep"] == 2
    assert m["pregel.stages_per_superstep"] == 3
    assert m["pregel.tasks_per_superstep"] == 12
    assert m["pregel.busy_ratio"] == pytest.approx(0.5)
    assert m["pregel.idle_ms_per_superstep"] == pytest.approx(250.0)
    assert m["pregel.shuffle_write_bytes_per_superstep"] == 200
    assert m["pregel.messages_per_superstep"] == 100
    assert m["pregel.durable_superstep_ms"] == 600.0
    assert m["pregel.local_superstep_ms"] == 500.0
    assert m["pregel.checkpoint_bytes"] == 99
    assert m["pregel.outside_loop_s"] == pytest.approx(2.0)
    assert m["pagerank.supersteps"] == 4
    assert m["algorithms.self_s"] == pytest.approx(2.0)
    assert m["pregel.self_s"] == pytest.approx(2.0)
    assert m["dedup.pairs"] == 0
