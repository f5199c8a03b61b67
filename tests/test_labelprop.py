from __future__ import annotations

import pytest

from conftest import edges_df, vertices_df
from duwamish_spark.algorithms import label_propagation
from duwamish_spark.algorithms.labelprop import label_propagation_delta
from oracle import lp_oracle, rand_graph

TWO_TRIANGLES = [
    ("a", "b"), ("b", "c"), ("c", "a"),
    ("d", "e"), ("e", "f"), ("f", "d"),
]


def _run(spark, ids, edges, rounds=10, **kw):
    res = label_propagation(
        spark, vertices_df(spark, ids), edges_df(spark, edges), max_supersteps=rounds,
        **kw,
    )
    return {r["id"]: r["label"] for r in res.state.collect()}, res


def test_two_triangles(spark):
    ids = list("abcdef")
    got, _ = _run(spark, ids, TWO_TRIANGLES)
    want = lp_oracle(ids, TWO_TRIANGLES, rounds=10)
    assert got == want


def test_mode_min_tiebreak(spark):
    # z hears {a: 1, b: 1} -> tie -> smallest label wins
    ids = ["a", "b", "z"]
    edges = [("a", "z"), ("b", "z")]
    got, _ = _run(spark, ids, edges, rounds=1)
    assert got["z"] == "a"


@pytest.mark.parametrize("strategy", ["broadcast", "shuffle"])
@pytest.mark.parametrize("v,maxdeg,seed,rounds", [(200, 4, 8, 5), (300, 8, 9, 10)])
def test_random_vs_oracle_exact(spark, v, maxdeg, seed, rounds, strategy):
    ids, edges = rand_graph(v, maxdeg, seed)
    want = lp_oracle(ids, edges, rounds=rounds)
    got, _ = _run(spark, ids, edges, rounds=rounds, strategy=strategy)
    assert got == want


def test_salt_and_raw_combine_invariant(spark):
    # LP now has the same skew knobs as CC/PR: salted and raw-exchange
    # shuffle paths must produce identical labels to the plain path
    ids, edges = rand_graph(150, 3, 23)
    v, e = vertices_df(spark, ids), edges_df(spark, edges)

    def labels(**kw):
        res = label_propagation(
            spark, v, e, max_supersteps=3, strategy="shuffle", **kw
        )
        return {r["id"]: r["label"] for r in res.state.collect()}

    plain = labels()
    assert labels(salt=8) == plain
    assert labels(combine="raw") == plain
    assert labels(salt=8, combine="raw") == plain


@pytest.mark.parametrize("v,maxdeg,seed,rounds", [(200, 4, 8, 5), (300, 8, 9, 10)])
def test_delta_matches_sync_exactly(spark, v, maxdeg, seed, rounds):
    # the delta/frontier formulation must reproduce the synchronous
    # semantics bit-for-bit: same mode, same smallest-label tie-break,
    # same round count
    ids, edges = rand_graph(v, maxdeg, seed)
    want = lp_oracle(ids, edges, rounds=rounds)
    res = label_propagation_delta(
        spark, vertices_df(spark, ids), edges_df(spark, edges),
        max_supersteps=rounds,
    )
    got = {r["id"]: r["label"] for r in res.state.collect()}
    assert got == want


def test_delta_message_volume_collapses_with_frontier(spark):
    # two triangles converge after round 2; the delta form's message
    # volume must drop to 0 with the frontier while the sync form would
    # keep resending all E messages every round
    ids = list("abcdef")
    res = label_propagation_delta(
        spark, vertices_df(spark, ids), edges_df(spark, TWO_TRIANGLES),
        max_supersteps=10,
    )
    sync = label_propagation(
        spark, vertices_df(spark, ids), edges_df(spark, TWO_TRIANGLES),
        max_supersteps=10,
    )
    assert {r["id"]: r["label"] for r in res.state.collect()} == {
        r["id"]: r["label"] for r in sync.state.collect()
    }
    assert res.halted
    msgs = [m["message_count"] for m in res.metrics]
    changed = [m["changed"] for m in res.metrics]
    # deterministic series: round 1 = full E init (12); round 2's
    # frontier is ALL vertices so deltas cost 2/edge (24 — delta pays up
    # to 2x sync while the frontier is wide); round 3's frontier is the
    # 2 remaining changed vertices -> 2 verts x 2 edges x 2 = 8, then 0
    # changed halts. The sync form would have sent 12 every round.
    assert msgs == [12, 24, 8]
    assert changed == [6, 2, 0]


def test_delta_isolated_vertex_keeps_label(spark):
    # a-b 2-cycles under synchronous LP (labels swap each round) — the
    # delta form must reproduce that exactly, not smooth it out; the
    # isolated vertex z never hears anything and keeps its own label
    ids = ["a", "b", "z"]
    for rounds in (1, 2, 3):
        res = label_propagation_delta(
            spark, vertices_df(spark, ids), edges_df(spark, [("a", "b")]),
            max_supersteps=rounds,
        )
        got = {r["id"]: r["label"] for r in res.state.collect()}
        assert got == lp_oracle(ids, [("a", "b")], rounds=rounds)
        assert got["z"] == "z"


# ---------------------------------------------------------------------------
# seeded (semi-supervised) label propagation
# ---------------------------------------------------------------------------


def _brute_seeded(ids, edges, seeds, rounds):
    """Synchronous replay: seeds clamp, others take the mode of LABELED
    neighbors (ties -> smallest label), unlabeled stay None."""
    from collections import Counter, defaultdict

    nb = defaultdict(set)
    for a, b in edges:
        if a != b:
            nb[a].add(b)
            nb[b].add(a)
    lab = {i: seeds.get(i) for i in ids}
    for _ in range(rounds):
        nxt = {}
        for v in ids:
            if v in seeds:
                nxt[v] = seeds[v]
                continue
            votes = Counter(
                lab[u] for u in nb[v] if u in lab and lab[u] is not None
            )
            if votes:
                best = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
                nxt[v] = best
            else:
                nxt[v] = lab[v]
        if nxt == lab:
            break
        lab = nxt
    return lab


def _run_seeded(spark, ids, edges, seeds, rounds=20):
    from duwamish_spark.algorithms import seeded_label_propagation

    sd = spark.createDataFrame(
        list(seeds.items()), "id string, label string"
    )
    res = seeded_label_propagation(
        spark,
        vertices_df(spark, ids),
        edges_df(spark, edges),
        sd,
        max_supersteps=rounds,
    )
    return {r["id"]: r["label"] for r in res.state.collect()}, res


def test_seeded_floods_from_seeds_and_clamps(spark):
    # path a-b-c-d-e with seeds at the ends: labels meet in the middle
    ids = list("abcde")
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
    seeds = {"a": "L", "e": "R"}
    got, res = _run_seeded(spark, ids, edges, seeds)
    assert res.halted
    assert got["a"] == "L" and got["e"] == "R"          # clamped
    # ties break to the smallest label, so "L" floods through the middle
    assert got["b"] == "L" and got["c"] == "L" and got["d"] == "L"
    assert got == _brute_seeded(ids, edges, seeds, 20)


def test_seeded_unreachable_island_stays_null(spark):
    ids = list("abcxy")
    edges = [("a", "b"), ("b", "c"), ("x", "y")]
    got, res = _run_seeded(spark, ids, edges, {"a": "T"})
    assert res.halted
    assert got["x"] is None and got["y"] is None
    assert got["b"] == "T" and got["c"] == "T"


def test_seeded_matches_brute_random(spark):
    for seed, n, m, rounds in [(4, 40, 90, 3), (12, 60, 160, 5)]:
        import random as _r

        rng = _r.Random(seed)
        ids = [f"v{i}" for i in range(n)]
        edges = [
            (ids[rng.randrange(n)], ids[rng.randrange(n)]) for _ in range(m)
        ]
        seeds = {ids[i]: f"c{i % 3}" for i in range(0, n, 7)}
        got, _ = _run_seeded(spark, ids, edges, seeds, rounds=rounds)
        assert got == _brute_seeded(ids, edges, seeds, rounds), seed


def test_seeded_duplicate_seed_smallest_label_wins(spark):
    from duwamish_spark.algorithms import seeded_label_propagation

    ids = ["a", "b"]
    sd = spark.createDataFrame(
        [("a", "z"), ("a", "c")], "id string, label string"
    )
    res = seeded_label_propagation(
        spark,
        vertices_df(spark, ids),
        edges_df(spark, [("a", "b")]),
        sd,
        max_supersteps=3,
    )
    got = {r["id"]: r["label"] for r in res.state.collect()}
    assert got == {"a": "c", "b": "c"}


def test_seeded_rejects_bad_seed_schema(spark):
    from duwamish_spark.algorithms import seeded_label_propagation

    with pytest.raises(ValueError):
        seeded_label_propagation(
            spark,
            vertices_df(spark, ["a"]),
            edges_df(spark, []),
            vertices_df(spark, ["a"]),  # no label column
        )


# ---------------------------------------------------------------------------
# weighted label propagation
# ---------------------------------------------------------------------------


def _brute_weighted_lp(ids, edges_w, rounds):
    """edges_w: (u, v, w) directed with weights; votes by summed
    pair weight, smallest-label ties."""
    from collections import defaultdict

    pw = defaultdict(int)
    for u, v, w in edges_w:
        if u != v:
            pw[(min(u, v), max(u, v))] += w
    nb = defaultdict(dict)
    for (a, b), w in pw.items():
        nb[a][b] = w
        nb[b][a] = w
    lab = {i: i for i in ids}
    for _ in range(rounds):
        nxt = {}
        for v in ids:
            votes = defaultdict(int)
            for u, w in nb[v].items():
                votes[lab[u]] += w
            if votes:
                nxt[v] = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            else:
                nxt[v] = lab[v]
        if nxt == lab:
            break
        lab = nxt
    return lab


def test_weighted_lp_matches_brute(spark):
    from duwamish_spark.algorithms import label_propagation_weighted

    rng = __import__("random").Random(19)
    n, m = 40, 130
    edges_w = [
        (f"v{rng.randrange(n)}", f"v{rng.randrange(n)}", rng.randrange(1, 6))
        for _ in range(m)
    ]
    ids = [f"v{i}" for i in range(n)]
    e = spark.createDataFrame(edges_w, "src string, dst string, weight long")
    res = label_propagation_weighted(
        spark, vertices_df(spark, ids), e, weight_col="weight",
        max_supersteps=4,
    )
    got = {r["id"]: r["label"] for r in res.state.collect()}
    assert got == _brute_weighted_lp(ids, edges_w, 4)


def test_weighted_lp_rejects_float_weights(spark):
    # a float weight_col must raise, not silently truncate (0.9 -> 0
    # votes) — r4 ADVICE; fractional weights need explicit fixed-point
    # pre-scaling by the caller
    import pytest as _pytest

    from duwamish_spark.algorithms import label_propagation_weighted

    e = spark.createDataFrame(
        [("a", "b", 0.9)], "src string, dst string, weight double"
    )
    with _pytest.raises(ValueError, match="integer weight_col"):
        label_propagation_weighted(
            spark, vertices_df(spark, ["a", "b"]), e, weight_col="weight",
            max_supersteps=1,
        )


def test_weighted_lp_missing_weight_column(spark):
    from duwamish_spark.algorithms import label_propagation_weighted

    e = edges_df(spark, [("a", "b")])
    with pytest.raises(ValueError, match="missing column"):
        label_propagation_weighted(
            spark, vertices_df(spark, ["a", "b"]), e, weight_col="weight",
            max_supersteps=1,
        )


def test_weighted_lp_weight_overrides_count(spark):
    from duwamish_spark.algorithms import label_propagation_weighted

    # z's single heavy edge to a (w=5) outvotes two light edges to b, c
    e = spark.createDataFrame(
        [("a", "z", 5), ("b", "z", 1), ("c", "z", 1)],
        "src string, dst string, weight long",
    )
    res = label_propagation_weighted(
        spark, vertices_df(spark, ["a", "b", "c", "z"]), e,
        weight_col="weight", max_supersteps=1,
    )
    got = {r["id"]: r["label"] for r in res.state.collect()}
    assert got["z"] == "a"


def test_weighted_lp_multiplicity_default_and_unweighted_equivalence(spark):
    from duwamish_spark.algorithms import (
        label_propagation,
        label_propagation_weighted,
    )

    ids, edges = rand_graph(120, 3, 77)
    v = vertices_df(spark, ids)
    # equivalence needs every unordered pair to carry weight exactly 1:
    # keep one canonical arc per pair (the default multiplicity law is
    # louvain's — BOTH directions count, so a reciprocal pair would be
    # a double vote where unweighted LP sees one neighbor)
    from pyspark.sql import functions as F

    es = (
        edges_df(spark, edges)
        .where(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst"))
        .distinct()
    )
    a = {
        r["id"]: r["label"]
        for r in label_propagation(spark, v, es, max_supersteps=3).state.collect()
    }
    b = {
        r["id"]: r["label"]
        for r in label_propagation_weighted(
            spark, v, es, max_supersteps=3
        ).state.collect()
    }
    assert a == b
