from __future__ import annotations

import pytest

from conftest import edges_df, vertices_df
from duwamish_spark.algorithms import connected_components
from oracle import cc_oracle, rand_graph

TWO_TRIANGLES = [
    ("a", "b"), ("b", "c"), ("c", "a"),
    ("d", "e"), ("e", "f"), ("f", "d"),
]


def _run(spark, ids, edges, **kw):
    res = connected_components(spark, vertices_df(spark, ids), edges_df(spark, edges), **kw)
    return {r["id"]: r["label"] for r in res.state.collect()}, res


def test_two_triangles_exact(spark):
    ids = list("abcdef")
    labels, res = _run(spark, ids, TWO_TRIANGLES)
    assert labels == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d", "f": "d"}
    assert res.halted


@pytest.mark.parametrize("v,maxdeg,seed", [(200, 2, 3), (400, 1, 4)])
def test_random_vs_oracle_exact(spark, v, maxdeg, seed):
    ids, edges = rand_graph(v, maxdeg, seed)
    want = cc_oracle(ids, edges)
    got, res = _run(spark, ids, edges)
    assert got == want
    assert res.halted


def test_isolated_vertices_keep_own_label(spark):
    ids = ["x", "y", "z"]
    got, _ = _run(spark, ids, [("x", "y")])
    assert got == {"x": "x", "y": "x", "z": "z"}


def test_salted_equals_unsalted(spark):
    ids, edges = rand_graph(150, 3, 6)
    plain, _ = _run(spark, ids, edges, strategy="shuffle")
    salted, _ = _run(spark, ids, edges, salt=8, strategy="shuffle")
    assert plain == salted


def test_raw_combine_equals_partial(spark):
    # raw = exchange-then-aggregate (the strong-scaling / hub-salting
    # configuration); with salt, identical-label hub messages spread by
    # the sender-derived sub-key term. Same labels either way.
    ids, edges = rand_graph(150, 3, 29)
    partial, _ = _run(spark, ids, edges, strategy="shuffle")
    raw, _ = _run(spark, ids, edges, strategy="shuffle", combine="raw")
    raw_salted, _ = _run(
        spark, ids, edges, strategy="shuffle", combine="raw", salt=8
    )
    assert partial == raw == raw_salted


def test_auto_algorithm_switches_on_high_diameter(spark):
    # a 200-vertex path exhausts the hash-min round budget (2*log2(200)+4
    # ~ 20 << 200 diameter) -> auto finishes with alternating star; on a
    # shallow random graph auto stays on hash-min and halts
    from duwamish_spark.algorithms.components import connected_components

    ids = [f"{i:04d}" for i in range(200)]
    edges = [(ids[i], ids[i + 1]) for i in range(199)]
    v, e = vertices_df(spark, ids), edges_df(spark, edges)
    res = connected_components(spark, v, e, algorithm="auto")
    got = {r["id"]: r["label"] for r in res.state.collect()}
    assert got == {i: "0000" for i in ids}
    assert res.halted
    assert res.run_id == "cc_alternating"

    ids2, edges2 = rand_graph(150, 3, 31)
    v2, e2 = vertices_df(spark, ids2), edges_df(spark, edges2)
    res2 = connected_components(spark, v2, e2, algorithm="auto")
    assert res2.halted
    assert res2.run_id != "cc_alternating"


def test_strategies_and_encoding_exact_equal(spark):
    ids, edges = rand_graph(200, 2, 19)
    a, _ = _run(spark, ids, edges, strategy="shuffle", encode=False)
    b, _ = _run(spark, ids, edges, strategy="shuffle", encode=True)
    c, _ = _run(spark, ids, edges, strategy="broadcast", encode=True)
    assert a == b == c


def test_alternating_equals_hashmin_random(spark):
    from duwamish_spark.algorithms.components import (
        connected_components,
        connected_components_alternating,
    )

    ids, edges = rand_graph(200, 4, 23)
    v, e = vertices_df(spark, ids), edges_df(spark, edges)
    hm = {r["id"]: r["label"] for r in connected_components(spark, v, e).state.collect()}
    alt = {
        r["id"]: r["label"]
        for r in connected_components_alternating(spark, v, e).state.collect()
    }
    assert alt == hm


def test_alternating_logarithmic_on_path(spark):
    # path 0-1-2-...-63: hash-min needs ~63 supersteps, alternating O(log n)
    from duwamish_spark.algorithms.components import connected_components_alternating

    n = 64
    ids = [f"v{i:03d}" for i in range(n)]
    edges = [(ids[i], ids[i + 1]) for i in range(n - 1)]
    res = connected_components_alternating(
        spark, vertices_df(spark, ids), edges_df(spark, edges)
    )
    labels = {r["id"]: r["label"] for r in res.state.collect()}
    assert set(labels.values()) == {"v000"}
    assert res.supersteps <= 12, f"took {res.supersteps} rounds"


def test_alternating_edge_cases(spark):
    from duwamish_spark.algorithms.components import connected_components_alternating

    # no edges: every vertex is its own component
    ids = ["a", "b", "c"]
    res = connected_components_alternating(
        spark, vertices_df(spark, ids), edges_df(spark, [])
    )
    assert {r["id"]: r["label"] for r in res.state.collect()} == {
        "a": "a", "b": "b", "c": "c"
    }
    # self-loops and duplicate edges don't affect labels
    res2 = connected_components_alternating(
        spark,
        vertices_df(spark, ids),
        edges_df(spark, [("a", "a"), ("b", "c"), ("c", "b"), ("b", "c")]),
    )
    assert {r["id"]: r["label"] for r in res2.state.collect()} == {
        "a": "a", "b": "b", "c": "b"
    }


def test_alternating_checkpoint_resume(spark, tmp_path):
    # the auto fallback phase is resumable: run to convergence writing
    # durable round checkpoints, then resume from an EARLIER round manifest
    # and from the converged manifest -- identical labels both ways
    from duwamish_spark.algorithms.components import connected_components_alternating

    ids = [f"{i:04d}" for i in range(120)]
    edges = [(ids[i], ids[i + 1]) for i in range(119)]  # one long path
    v, e = vertices_df(spark, ids), edges_df(spark, edges)
    ck = str(tmp_path / "ck")

    full = connected_components_alternating(
        spark, v, e, checkpoint_dir=ck, run_id="alt", reliable_interval=1
    )
    want = {r["id"]: r["label"] for r in full.state.collect()}
    assert full.halted and want == {i: "0000" for i in ids}

    import os
    import shutil

    root = os.path.join(ck, "alt")
    rounds = sorted(
        int(n.split("=")[1])
        for n in os.listdir(root)
        if n.startswith("superstep=")
    )
    assert len(rounds) >= 2
    # drop everything after round 1 to force a real mid-run resume
    for r in rounds[1:]:
        shutil.rmtree(os.path.join(root, f"superstep={r:05d}"))
    resumed = connected_components_alternating(
        spark, v, e, checkpoint_dir=ck, run_id="alt",
        reliable_interval=1, resume=True,
    )
    assert resumed.halted
    assert {r["id"]: r["label"] for r in resumed.state.collect()} == want

    # resuming at the converged manifest returns immediately with the
    # same labels
    again = connected_components_alternating(
        spark, v, e, checkpoint_dir=ck, run_id="alt",
        reliable_interval=1, resume=True,
    )
    assert again.halted
    assert {r["id"]: r["label"] for r in again.state.collect()} == want


def test_warm_start_equals_cold_after_edge_additions(spark):
    # grow-only incremental: converge on a subset, add edges, warm start
    ids, edges = rand_graph(300, 2, seed=7)
    old_edges = edges[: len(edges) // 2]
    new_edges = edges
    old_labels, _ = _run(spark, ids, old_edges)
    seed = spark.createDataFrame(
        list(old_labels.items()), "id string, label string"
    )
    warm_labels, warm = _run(spark, ids, new_edges, initial_labels=seed)
    cold_labels, cold = _run(spark, ids, new_edges)
    assert warm_labels == cold_labels == cc_oracle(ids, new_edges)
    assert warm.halted


def test_warm_start_on_path_takes_fewer_rounds(spark):
    # path 0-1-...-19 split into two halves: each converges internally,
    # then ONE bridging edge merges them — the warm restart only has to
    # flood the smaller min across the bridge, not rebuild the chain
    ids = [f"{i:02d}" for i in range(20)]
    half1 = [(ids[i], ids[i + 1]) for i in range(9)]
    half2 = [(ids[i], ids[i + 1]) for i in range(10, 19)]
    old_labels, _ = _run(spark, ids, half1 + half2)
    seed = spark.createDataFrame(list(old_labels.items()), "id string, label string")
    bridge = half1 + half2 + [(ids[9], ids[10])]
    warm_labels, warm = _run(spark, ids, bridge, initial_labels=seed)
    cold_labels, cold = _run(spark, ids, bridge)
    assert warm_labels == cold_labels
    assert all(lbl == ids[0] for lbl in warm_labels.values())
    assert warm.supersteps < cold.supersteps


def test_warm_start_with_new_vertices_and_encoding(spark):
    # new vertices absent from the seed start at their own id; seed labels
    # pass through dictionary encoding (both columns are vertex ids)
    ids = ["a", "b", "c"]
    old_labels, _ = _run(spark, ids, [("a", "b")])
    seed = spark.createDataFrame(list(old_labels.items()), "id string, label string")
    ids2 = ids + ["d", "e"]
    labels, _ = _run(
        spark, ids2, [("a", "b"), ("b", "c"), ("d", "e")], initial_labels=seed
    )
    assert labels == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d"}


def test_warm_start_already_converged_halts_immediately(spark):
    ids = list("abcdef")
    old_labels, _ = _run(spark, ids, TWO_TRIANGLES)
    seed = spark.createDataFrame(list(old_labels.items()), "id string, label string")
    labels, res = _run(spark, ids, TWO_TRIANGLES, initial_labels=seed)
    assert labels == old_labels
    assert res.supersteps <= 2


def test_hash_min_long_path_many_rounds(spark):
    # high-diameter regression gate for the stats-reset sweep: hash-min on
    # a 48-vertex path needs ~47 rounds; pre-sweep, each round DOUBLED the
    # checkpointed plan's size-estimate digits (2^47-digit BigInteger
    # stats by the end -- the suite would never finish), post-sweep the
    # per-round planning cost is constant. Labels must still be exact.
    ids = [f"v{i:02d}" for i in range(48)]
    path = [(f"v{i:02d}", f"v{i+1:02d}") for i in range(47)]
    labels, res = _run(spark, ids, path, algorithm="hashmin", max_supersteps=60)
    assert res.halted
    assert res.supersteps >= 40  # genuinely a long-haul run
    assert set(labels.values()) == {"v00"} and len(labels) == 48
