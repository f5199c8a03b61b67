"""Structure operators (clustering coefficient, link prediction,
k-truss, modularity) vs brute-force Python oracles."""

from __future__ import annotations

import math
import random
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from duwamish_spark.algorithms import (
    clustering_coefficient,
    k_truss,
    label_propagation,
    link_prediction,
    modularity,
)
from duwamish_spark.algorithms.structure import AA_SCALE, oriented_triangles

# a small graph with triangles, a hub, a pendant, a self-loop and a dup edge
EDGES = [
    (1, 2), (2, 3), (1, 3),          # triangle 1-2-3
    (3, 4), (4, 5), (3, 5),          # triangle 3-4-5
    (5, 6), (6, 7),                  # path tail
    (1, 4),                          # chord: makes 1-3-4 a triangle
    (2, 2),                          # self loop (must be ignored)
    (1, 2),                          # duplicate (must be ignored)
    (8, 1), (8, 2), (8, 3), (8, 4),  # hub 8
]


def _edges_df(spark, edges=EDGES):
    return spark.createDataFrame(edges, "src long, dst long")


def _simple(edges):
    s = set()
    for a, b in edges:
        if a != b:
            s.add((min(a, b), max(a, b)))
    return s


def _nbrs(simple):
    n = defaultdict(set)
    for a, b in simple:
        n[a].add(b)
        n[b].add(a)
    return n


def _brute_lcc(edges):
    nb = _nbrs(_simple(edges))
    out = {}
    for v, ns in nb.items():
        d = len(ns)
        t = sum(
            1
            for x in ns
            for y in ns
            if x < y and y in nb[x]
        )
        lcc = round(2.0 * t / (d * (d - 1)), 6) if d >= 2 else 0.0
        out[v] = (d, t, lcc)
    return out


def test_clustering_coefficient_matches_brute(spark):
    got = {
        r["id"]: (r["degree"], r["triangles"], r["lcc"])
        for r in clustering_coefficient(_edges_df(spark)).collect()
    }
    assert got == _brute_lcc(EDGES)


def test_clustering_coefficient_random_graph(spark):
    rng = random.Random(11)
    edges = [(rng.randrange(30), rng.randrange(30)) for _ in range(150)]
    got = {
        r["id"]: (r["degree"], r["triangles"], r["lcc"])
        for r in clustering_coefficient(_edges_df(spark, edges)).collect()
    }
    assert got == _brute_lcc(edges)


def test_oriented_triangles_each_once(spark):
    tri = oriented_triangles(_edges_df(spark)).collect()
    got = sorted(tuple(sorted((r["a"], r["b"], r["c"]))) for r in tri)
    assert got == sorted({(1, 2, 3), (3, 4, 5), (1, 3, 4), (1, 2, 8),
                          (1, 3, 8), (2, 3, 8), (1, 4, 8), (3, 4, 8)})
    assert len(got) == len(set(got))


def _brute_link_pred(edges, k, min_common=1, max_center_degree=None):
    simple = _simple(edges)
    nb = _nbrs(simple)
    scores = {}
    for a in nb:
        for b in nb:
            if a >= b or (min(a, b), max(a, b)) in simple:
                continue
            common = [
                z
                for z in nb[a] & nb[b]
                if max_center_degree is None or len(nb[z]) <= max_center_degree
            ]
            cn = len(common)
            if cn < min_common:
                continue
            aa_micro = sum(int(AA_SCALE / math.log(len(nb[z]))) for z in common)
            jacc = round(cn / (len(nb[a]) + len(nb[b]) - cn), 6)
            scores[(a, b)] = (cn, jacc, round(aa_micro / AA_SCALE, 6))
    per_a = defaultdict(list)
    for (a, b), (cn, j, aa) in scores.items():
        per_a[a].append((-cn, b, j, aa))
    out = {}
    for a, rows in per_a.items():
        for negcn, b, j, aa in sorted(rows)[:k]:
            out[(a, b)] = (-negcn, j, aa)
    return out


@pytest.mark.parametrize("k", [1, 3, 100])
def test_link_prediction_matches_brute(spark, k):
    got = {
        (r["a"], r["b"]): (r["common_neighbors"], r["jaccard"], r["adamic_adar"])
        for r in link_prediction(_edges_df(spark), k=k).collect()
    }
    assert got == _brute_link_pred(EDGES, k)


def test_link_prediction_random_graph(spark):
    rng = random.Random(7)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(200)]
    got = {
        (r["a"], r["b"]): (r["common_neighbors"], r["jaccard"], r["adamic_adar"])
        for r in link_prediction(_edges_df(spark, edges), k=4, min_common=2).collect()
    }
    assert got == _brute_link_pred(edges, 4, min_common=2)


def test_link_prediction_max_center_degree_drops_hub_wedges(spark):
    got = {
        (r["a"], r["b"]): (r["common_neighbors"], r["jaccard"], r["adamic_adar"])
        for r in link_prediction(
            _edges_df(spark), k=100, max_center_degree=3
        ).collect()
    }
    assert got == _brute_link_pred(EDGES, 100, max_center_degree=3)


def test_link_prediction_excludes_existing_edges(spark):
    rows = link_prediction(_edges_df(spark), k=100).collect()
    simple = _simple(EDGES)
    assert all((r["a"], r["b"]) not in simple for r in rows)
    assert all(r["a"] < r["b"] for r in rows)


def test_link_prediction_rejects_bad_k(spark):
    with pytest.raises(ValueError):
        link_prediction(_edges_df(spark), k=0)


def _brute_ktruss(edges, k):
    cur = _simple(edges)
    while cur:
        nb = _nbrs(cur)
        support = {
            (a, b): len(nb[a] & nb[b])
            for a, b in cur
        }
        nxt = {e for e in cur if support[e] >= k - 2}
        if nxt == cur:
            return {e: support[e] for e in cur}
        cur = nxt
    return {}


@pytest.mark.parametrize("k", [3, 4, 5])
def test_ktruss_matches_brute(spark, k):
    res = k_truss(spark, _edges_df(spark), k)
    got = {(r["src"], r["dst"]): r["support"] for r in res.state.collect()}
    assert got == _brute_ktruss(EDGES, k)
    assert res.halted


def test_ktruss_random_graph(spark):
    rng = random.Random(3)
    edges = [(rng.randrange(25), rng.randrange(25)) for _ in range(180)]
    res = k_truss(spark, _edges_df(spark, edges), 4)
    got = {(r["src"], r["dst"]): r["support"] for r in res.state.collect()}
    assert got == _brute_ktruss(edges, 4)


def test_ktruss_metrics_monotone_and_storage_released(spark):
    sc = spark.sparkContext
    before = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
    res = k_truss(spark, _edges_df(spark), 4)
    sizes = [m["edges"] for m in res.metrics]
    assert sizes == sorted(sizes, reverse=True)
    # only the final state may hold storage
    from duwamish_spark.pregel import free_local_checkpoint

    free_local_checkpoint(res.state)
    assert not {i.id() for i in sc._jsc.sc().getRDDStorageInfo()} - before


def test_ktruss_rejects_bad_k(spark):
    with pytest.raises(ValueError):
        k_truss(spark, _edges_df(spark), 1)


def _brute_modularity(edges, labels):
    simple = _simple(edges)
    nb = _nbrs(simple)
    m = len(simple)
    e_in = sum(1 for a, b in simple if labels[a] == labels[b])
    dsum = defaultdict(int)
    for v, ns in nb.items():
        dsum[labels[v]] += len(ns)
    sum_d2 = sum(d * d for d in dsum.values())
    return round(e_in / m - sum_d2 / (4.0 * m * m), 6)


def test_modularity_matches_brute(spark):
    e = _edges_df(spark)
    labels = {v: (0 if v <= 4 or v == 8 else 1) for v in range(1, 9)}
    ldf = spark.createDataFrame(list(labels.items()), "id long, label long")
    got = modularity(e, ldf).collect()[0]["modularity"]
    assert got == _brute_modularity(EDGES, labels)


def test_modularity_of_lp_labels(spark):
    e = _edges_df(spark)
    v = e.select(F.col("src").alias("id")).unionAll(
        e.select(F.col("dst").alias("id"))
    ).distinct()
    res = label_propagation(spark, v, e, max_supersteps=3)
    labels = {r["id"]: r["label"] for r in res.state.collect()}
    got = modularity(e, res.state).collect()[0]["modularity"]
    assert got == _brute_modularity(EDGES, labels)


def test_modularity_perfect_split_is_positive(spark):
    # two disjoint cliques labeled by clique: the textbook high-Q case
    edges = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges += [(a + 10, b + 10) for a in range(4) for b in range(4) if a < b]
    e = _edges_df(spark, edges)
    labels = {v: v // 10 for v in list(range(4)) + list(range(10, 14))}
    ldf = spark.createDataFrame(list(labels.items()), "id long, label long")
    got = modularity(e, ldf).collect()[0]["modularity"]
    assert got == _brute_modularity(edges, labels) == 0.5


def _brute_weighted_modularity(wedges, labels):
    # wedges: {(lo, hi): w} summed per unordered pair, loops dropped
    tw = sum(wedges.values())
    w_in = sum(w for (a, b), w in wedges.items() if labels[a] == labels[b])
    ssum = defaultdict(int)
    for (a, b), w in wedges.items():
        ssum[labels[a]] += w
        ssum[labels[b]] += w
    sum_s2 = sum(s * s for s in ssum.values())
    return round(w_in / tw - sum_s2 / (4.0 * tw * tw), 6)


def test_weighted_modularity_matches_brute(spark):
    from duwamish_spark.algorithms import modularity_weighted

    rng = __import__("random").Random(31)
    raw = [
        (rng.randrange(10), rng.randrange(10), rng.randrange(1, 6))
        for _ in range(60)
    ]
    wedges = defaultdict(int)
    for a, b, w in raw:
        if a != b:
            wedges[(min(a, b), max(a, b))] += w
    labels = {v: v % 3 for v in range(10)}
    e = spark.createDataFrame(raw, "src long, dst long, weight long")
    ldf = spark.createDataFrame(list(labels.items()), "id long, label long")
    got = modularity_weighted(e, ldf, "weight").collect()[0]["modularity"]
    assert got == _brute_weighted_modularity(dict(wedges), labels)


def test_weighted_modularity_all_ones_equals_unweighted(spark):
    # on a deduplicated simple edge table, all-1 weights reduce exactly
    # to the unweighted operator
    from duwamish_spark.algorithms import modularity_weighted

    e = _edges_df(spark).where(F.col("src") != F.col("dst")).select(
        F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
    ).distinct().withColumn("weight", F.lit(1).cast("long"))
    labels = {v: (0 if v <= 4 or v == 8 else 1) for v in range(1, 9)}
    ldf = spark.createDataFrame(list(labels.items()), "id long, label long")
    got_w = modularity_weighted(e, ldf, "weight").collect()[0]["modularity"]
    got_u = modularity(e, ldf).collect()[0]["modularity"]
    assert got_w == got_u


def test_weighted_modularity_rejects_float_weights(spark):
    from duwamish_spark.algorithms import modularity_weighted

    e = spark.createDataFrame(
        [(1, 2, 0.5)], "src long, dst long, weight double"
    )
    ldf = spark.createDataFrame([(1, 0), (2, 0)], "id long, label long")
    with pytest.raises(ValueError, match="integer weight_col"):
        modularity_weighted(e, ldf, "weight")


def test_weighted_modularity_missing_weight_column(spark):
    from duwamish_spark.algorithms import modularity_weighted

    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    ldf = spark.createDataFrame([(1, 0), (2, 0)], "id long, label long")
    with pytest.raises(ValueError, match="missing column"):
        modularity_weighted(e, ldf, "weight")


# ---------------------------------------------------------------------------
# co-citation / bibliographic coupling (directed)
# ---------------------------------------------------------------------------


def _brute_cocite(edges, k, coupling, min_count=1, cap=None):
    arcs = {(a, b) for a, b in edges if a != b}
    piv = defaultdict(set)
    for a, b in arcs:
        if coupling:
            piv[b].add(a)
        else:
            piv[a].add(b)
    if cap is not None:
        piv = {z: ms for z, ms in piv.items() if len(ms) <= cap}
    cnt = defaultdict(int)
    for ms in piv.values():
        for a in ms:
            for b in ms:
                if a < b:
                    cnt[(a, b)] += 1
    per = defaultdict(list)
    for (a, b), w in cnt.items():
        if w >= min_count:
            per[a].append((b, w))
            per[b].append((a, w))
    out = {}
    for v, lst in per.items():
        lst.sort(key=lambda t: (-t[1], t[0]))
        out[v] = [(p, w, r + 1) for r, (p, w) in enumerate(lst[:k])]
    return out


@pytest.mark.parametrize("coupling", [False, True])
def test_cocitation_matches_brute(spark, coupling):
    from duwamish_spark.algorithms import cocitation

    rows = cocitation(_edges_df(spark), k=3, coupling=coupling).collect()
    got = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r["id"], r["rnk"])):
        got[r["id"]].append((r["partner"], r["weight"], r["rnk"]))
    assert dict(got) == _brute_cocite(EDGES, 3, coupling)


def test_cocitation_random_directed(spark):
    from duwamish_spark.algorithms import cocitation

    rng = random.Random(23)
    edges = [(rng.randrange(15), rng.randrange(15)) for _ in range(70)]
    rows = cocitation(_edges_df(spark, edges), k=2, min_count=2).collect()
    got = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r["id"], r["rnk"])):
        got[r["id"]].append((r["partner"], r["weight"], r["rnk"]))
    assert dict(got) == _brute_cocite(edges, 2, False, min_count=2)


def test_cocitation_hub_cap(spark):
    from duwamish_spark.algorithms import cocitation

    rows = cocitation(_edges_df(spark), k=3, max_hub_degree=3).collect()
    got = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r["id"], r["rnk"])):
        got[r["id"]].append((r["partner"], r["weight"], r["rnk"]))
    assert dict(got) == _brute_cocite(EDGES, 3, False, cap=3)


# ---------------------------------------------------------------------------
# square (4-cycle) counting
# ---------------------------------------------------------------------------


def _brute_squares(edges):
    """Count distinct 4-cycles by enumerating ordered closed 4-walks with
    distinct vertices, / 8 (4 rotations x 2 reflections)."""
    nb = _nbrs(_simple(edges))
    n = 0
    for a in nb:
        for b in nb[a]:
            for c in nb[b]:
                if c == a:
                    continue
                for d in nb[c]:
                    if d != b and d != a and a in nb[d]:
                        n += 1
    assert n % 8 == 0
    return n // 8


def test_square_count_matches_brute(spark):
    from duwamish_spark.algorithms import square_count

    row = square_count(_edges_df(spark)).collect()[0]
    assert row["squares"] == _brute_squares(EDGES)
    # wedge_pairs = unordered vertex pairs with >= 1 common neighbor
    nb = _nbrs(_simple(EDGES))
    pairs = sum(
        1
        for a in nb
        for b in nb
        if a < b and nb[a] & nb[b]
    )
    assert row["wedge_pairs"] == pairs


def test_square_count_random_graphs(spark):
    from duwamish_spark.algorithms import square_count

    rng = random.Random(11)
    for trial in range(3):
        edges = [
            (rng.randrange(12), rng.randrange(12)) for _ in range(40)
        ]
        row = square_count(_edges_df(spark, edges)).collect()[0]
        assert row["squares"] == _brute_squares(edges), trial


def test_square_count_mid_degree_cap(spark):
    from duwamish_spark.algorithms import square_count

    e = _edges_df(spark)
    exact = square_count(e).collect()[0]["squares"]
    # cap above the max degree: identical to exact
    assert square_count(e, max_mid_degree=100).collect()[0]["squares"] == exact
    # cap below: drops hub-mediated wedges, never adds
    capped = square_count(e, max_mid_degree=2).collect()[0]["squares"]
    assert capped <= exact


# ---------------------------------------------------------------------------
# coreness (full k-core decomposition, h-index fixpoint)
# ---------------------------------------------------------------------------


def _brute_coreness_exact(edges):
    """Textbook peel: repeatedly remove min-degree vertex; core number =
    running max of the minimum degree at removal time."""
    nb = {v: set(ns) for v, ns in _nbrs(_simple(edges)).items()}
    core = {}
    k = 0
    deg = {v: len(ns) for v, ns in nb.items()}
    while deg:
        v = min(deg, key=lambda x: (deg[x], x))
        k = max(k, deg[v])
        core[v] = k
        for u in nb[v]:
            nb[u].discard(v)
            deg[u] -= 1
        del deg[v], nb[v]
    return core


def test_coreness_matches_peel(spark):
    from duwamish_spark.algorithms import coreness
    from duwamish_spark.pregel import free_local_checkpoint

    e = _edges_df(spark)
    v = e.selectExpr("src AS id").union(e.selectExpr("dst AS id")).distinct()
    res = coreness(spark, v, e)
    got = {r["id"]: r["coreness"] for r in res.state.collect()}
    free_local_checkpoint(res.state)
    assert res.halted
    assert got == _brute_coreness_exact(EDGES)


def test_coreness_random_graphs_match_peel(spark):
    from duwamish_spark.algorithms import coreness
    from duwamish_spark.pregel import free_local_checkpoint

    for seed, n, m in [(2, 25, 120), (8, 40, 260)]:
        rng = random.Random(seed)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        e = _edges_df(spark, edges)
        v = e.selectExpr("src AS id").union(e.selectExpr("dst AS id")).distinct()
        res = coreness(spark, v, e)
        got = {r["id"]: r["coreness"] for r in res.state.collect()}
        free_local_checkpoint(res.state)
        want = _brute_coreness_exact(edges)
        # vertices with only self-loops appear in v with coreness 0
        for vid, c in got.items():
            assert c == want.get(vid, 0), (seed, vid)
        assert res.halted


def test_coreness_estimates_are_upper_bounds_each_round(spark):
    from duwamish_spark.algorithms import coreness
    from duwamish_spark.pregel import free_local_checkpoint

    e = _edges_df(spark)
    v = e.selectExpr("src AS id").union(e.selectExpr("dst AS id")).distinct()
    want = _brute_coreness_exact(EDGES)
    for rounds in (1, 2):
        res = coreness(spark, v, e, max_rounds=rounds)
        got = {r["id"]: r["coreness"] for r in res.state.collect()}
        free_local_checkpoint(res.state)
        for vid, c in got.items():
            assert c >= want.get(vid, 0), (rounds, vid)
    # monotone non-increasing sum across rounds
    res = coreness(spark, v, e)
    sums = [m["coreness_sum"] for m in res.metrics]
    free_local_checkpoint(res.state)
    assert sums == sorted(sums, reverse=True)


def test_coreness_clique_plus_tail(spark):
    from duwamish_spark.algorithms import coreness
    from duwamish_spark.pregel import free_local_checkpoint

    # 5-clique (coreness 4) with a path tail (coreness 1)
    edges = [(a, b) for a in range(5) for b in range(5) if a < b]
    edges += [(4, 10), (10, 11), (11, 12)]
    e = _edges_df(spark, edges)
    v = e.selectExpr("src AS id").union(e.selectExpr("dst AS id")).distinct()
    res = coreness(spark, v, e)
    got = {r["id"]: r["coreness"] for r in res.state.collect()}
    free_local_checkpoint(res.state)
    assert all(got[x] == 4 for x in range(5))
    assert got[10] == got[11] == got[12] == 1


# ---------------------------------------------------------------- stats


def _brute_reciprocity(edges):
    de = {(a, b) for a, b in edges if a != b}
    recip = sum(1 for a, b in de if (b, a) in de)
    return len(de), recip, round(recip / len(de), 6) if de else 0.0


def _brute_assortativity(edges):
    de = {(a, b) for a, b in edges if a != b}
    outd, ind = defaultdict(int), defaultdict(int)
    for a, b in de:
        outd[a] += 1
        ind[b] += 1
    xs = [(outd[a], ind[b]) for a, b in de]
    m = len(xs)
    sx = sum(x for x, _ in xs)
    sy = sum(y for _, y in xs)
    sxy = sum(x * y for x, y in xs)
    sxx = sum(x * x for x, _ in xs)
    syy = sum(y * y for _, y in xs)
    vx = m * sxx - sx * sx
    vy = m * syy - sy * sy
    if vx <= 0 or vy <= 0:
        return 0.0
    return round((m * sxy - sx * sy) / (math.sqrt(vx) * math.sqrt(vy)), 6)


def test_reciprocity_matches_brute(spark):
    from duwamish_spark.algorithms import reciprocity

    edges = EDGES + [(2, 1), (4, 3), (7, 6)]  # add some reverse arcs
    row = reciprocity(_edges_df(spark, edges)).collect()[0]
    tot, rec, r = _brute_reciprocity(edges)
    assert (row["total_edges"], row["reciprocal_edges"]) == (tot, rec)
    assert row["reciprocity"] == pytest.approx(r, abs=1e-9)


def test_reciprocity_random_graph(spark):
    from duwamish_spark.algorithms import reciprocity

    rng = random.Random(5)
    edges = [(rng.randrange(20), rng.randrange(20)) for _ in range(200)]
    row = reciprocity(_edges_df(spark, edges)).collect()[0]
    tot, rec, r = _brute_reciprocity(edges)
    assert (row["total_edges"], row["reciprocal_edges"]) == (tot, rec)
    assert row["reciprocity"] == pytest.approx(r, abs=1e-9)


def test_assortativity_matches_brute(spark):
    from duwamish_spark.algorithms import degree_assortativity

    rng = random.Random(9)
    edges = [(rng.randrange(25), rng.randrange(25)) for _ in range(300)]
    row = degree_assortativity(_edges_df(spark, edges)).collect()[0]
    assert row["assortativity"] == pytest.approx(
        _brute_assortativity(edges), abs=1e-9
    )


def test_assortativity_regular_graph_is_zero(spark):
    from duwamish_spark.algorithms import degree_assortativity

    # directed 6-cycle: every out/in degree is 1 -> zero variance -> 0.0
    edges = [(i, (i + 1) % 6) for i in range(6)]
    row = degree_assortativity(_edges_df(spark, edges)).collect()[0]
    assert row["assortativity"] == 0.0


def test_closeness_matches_brute_bfs(spark):
    from duwamish_spark.algorithms import closeness_centrality
    from duwamish_spark.algorithms.anf import hll_register  # noqa: F401
    from duwamish_spark.pregel import free_local_checkpoint

    # m large enough that the HLL estimate of tiny out-balls is near-exact
    # only in expectation; the contract tested here is structural:
    # sinks are exactly 0.0, and sketch-identical vertices get identical
    # closeness (exactness vs BFS is the oracle query's job via the
    # bit-identical SQL replay).
    edges = [(1, 2), (2, 3), (3, 4), (5, 5), (6, 2)]
    out = closeness_centrality(spark, _edges_df(spark, edges), 3, m=64)
    got = {r["id"]: r["closeness"] for r in out.collect()}
    free_local_checkpoint(out)
    assert got[4] == 0.0  # sink
    assert got[5] == 0.0  # only a self-loop: ball never grows
    # 1 and 6 both see exactly {2,3,4} at hops 1..3: identical sketches
    assert got[1] == got[6]
    assert got[1] > 0.0 and got[2] > 0.0 and got[3] > 0.0


# ---------------------------------------------------------------------------
# rich-club coefficient
# ---------------------------------------------------------------------------


def _brute_rich_club(edges):
    simple = _simple(edges)
    nb = _nbrs(simple)
    deg = {v: len(ns) for v, ns in nb.items()}
    out = {}
    for k in sorted(set(deg.values())):
        rich = {v for v, d in deg.items() if d > k}
        e_rich = sum(1 for a, b in simple if a in rich and b in rich)
        n = len(rich)
        phi = round(2.0 * e_rich / (n * (n - 1)), 6) if n >= 2 else None
        out[k] = (n, e_rich, phi)
    return out


def test_rich_club_matches_brute(spark):
    from duwamish_spark.algorithms import rich_club

    rows = rich_club(_edges_df(spark)).collect()
    got = {r["k"]: (r["n_rich"], r["e_rich"], r["phi"]) for r in rows}
    assert got == _brute_rich_club(EDGES)


def test_rich_club_random_graphs(spark):
    from duwamish_spark.algorithms import rich_club

    for seed, n, m in [(3, 20, 70), (11, 35, 180)]:
        rng = random.Random(seed)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        rows = rich_club(_edges_df(spark, edges)).collect()
        got = {r["k"]: (r["n_rich"], r["e_rich"], r["phi"]) for r in rows}
        assert got == _brute_rich_club(edges), seed


# ---------------------------------------------------------------------------
# trussness (full truss decomposition, h-index fixpoint)
# ---------------------------------------------------------------------------


def _brute_trussness(edges):
    """Sequential support peel: phase k removes (repeatedly) every edge
    with < k-2 triangles in the surviving graph; edges removed in phase
    k have truss number k-1."""
    cur = set(_simple(edges))
    t = {}
    k = 2
    while cur:
        k += 1
        while True:
            nb = _nbrs(cur)
            drop = {
                (a, b)
                for a, b in cur
                if len(nb[a] & nb[b]) < k - 2
            }
            if not drop:
                break
            for e in drop:
                t[e] = k - 1
            cur -= drop
    return t


def test_trussness_matches_peel(spark):
    from duwamish_spark.algorithms import trussness
    from duwamish_spark.pregel import free_local_checkpoint

    res = trussness(spark, _edges_df(spark))
    got = {(r["src"], r["dst"]): r["trussness"] for r in res.state.collect()}
    free_local_checkpoint(res.state)
    assert res.halted
    assert got == _brute_trussness(EDGES)


def test_trussness_random_graphs_match_peel(spark):
    from duwamish_spark.algorithms import trussness
    from duwamish_spark.pregel import free_local_checkpoint

    for seed, n, m in [(5, 18, 80), (9, 30, 200)]:
        rng = random.Random(seed)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        res = trussness(spark, _edges_df(spark, edges))
        got = {(r["src"], r["dst"]): r["trussness"] for r in res.state.collect()}
        free_local_checkpoint(res.state)
        assert res.halted, seed
        assert got == _brute_trussness(edges), seed


def test_trussness_fixed_rounds_upper_bound_and_monotone(spark):
    from duwamish_spark.algorithms import trussness
    from duwamish_spark.pregel import free_local_checkpoint

    exact = _brute_trussness(EDGES)
    prev = None
    for rounds in [0, 1, 2]:
        res = trussness(spark, _edges_df(spark), max_rounds=rounds)
        got = {(r["src"], r["dst"]): r["trussness"] for r in res.state.collect()}
        free_local_checkpoint(res.state)
        for e, tv in got.items():
            assert tv >= exact[e], (rounds, e)
            if prev is not None:
                assert tv <= prev[e], (rounds, e)
        prev = got


def test_trussness_triangle_free(spark):
    from duwamish_spark.algorithms import trussness
    from duwamish_spark.pregel import free_local_checkpoint

    res = trussness(spark, _edges_df(spark, [(1, 2), (2, 3), (3, 4), (4, 4)]))
    got = {(r["src"], r["dst"]): r["trussness"] for r in res.state.collect()}
    free_local_checkpoint(res.state)
    assert res.halted
    assert got == {(1, 2): 2, (2, 3): 2, (3, 4): 2}


# ---------------------------------------------------------------------------
# conductance (per-community boundary quality)
# ---------------------------------------------------------------------------


def _brute_conductance(edges, labels):
    simple = _simple(edges)
    deg = {v: len(ns) for v, ns in _nbrs(simple).items()}
    m2 = 2 * len(simple)
    out = {}
    for lab in set(labels.values()):
        mem = {v for v, l2 in labels.items() if l2 == lab}
        vol = sum(deg.get(v, 0) for v in mem)
        cut = sum(
            1 for a, b in simple
            if a in labels and b in labels and ((a in mem) != (b in mem))
        )
        n = len(mem)
        denom = min(vol, m2 - vol)
        phi = round(cut / denom, 6) if denom > 0 else None
        out[lab] = (n, vol, cut, phi)
    return out


def test_conductance_matches_brute(spark):
    from duwamish_spark.algorithms import conductance

    # 99 is labeled but has no edges at all: counted with degree 0
    labels = {1: "a", 2: "a", 3: "a", 4: "b", 5: "b", 6: "b", 7: "b", 8: "a",
              99: "b"}
    lab_df = spark.createDataFrame(list(labels.items()), "id long, label string")
    rows = conductance(_edges_df(spark), lab_df).collect()
    got = {
        r["label"]: (r["n_vertices"], r["volume"], r["cut"], r["conductance"])
        for r in rows
    }
    assert got == _brute_conductance(EDGES, labels)


def test_conductance_random_matches_brute(spark):
    from duwamish_spark.algorithms import conductance

    for seed, n, m, k in [(6, 25, 90, 3), (14, 40, 150, 5)]:
        rng = random.Random(seed)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        labels = {v: f"c{rng.randrange(k)}" for v in range(n)}
        lab_df = spark.createDataFrame(
            list(labels.items()), "id long, label string"
        )
        rows = conductance(_edges_df(spark, edges), lab_df).collect()
        got = {
            r["label"]: (r["n_vertices"], r["volume"], r["cut"], r["conductance"])
            for r in rows
        }
        # brute only over labels that own >= 1 vertex present in graph or not;
        # engine emits every label present in `labels` joined to degrees:
        # vertices with no simple edges have degree 0 but still count
        want = _brute_conductance(edges, labels)
        assert got == want, seed


def test_conductance_whole_graph_community_is_null(spark):
    from duwamish_spark.algorithms import conductance

    lab_df = spark.createDataFrame(
        [(i, "all") for i in range(1, 9)], "id long, label string"
    )
    rows = conductance(_edges_df(spark), lab_df).collect()
    assert len(rows) == 1
    assert rows[0]["cut"] == 0 and rows[0]["conductance"] is None


# ---------------------------------------------------------------------------
# PPR sweep cut (local clustering)
# ---------------------------------------------------------------------------


def _brute_sweep(edges, scores, top_n):
    simple = _simple(edges)
    nb = _nbrs(simple)
    deg = {v: len(ns) for v, ns in nb.items()}
    m2 = 2 * len(simple)
    cand = sorted(scores.items(), key=lambda kv: (-round(kv[1], 6), kv[0]))[:top_n]
    out = []
    pref = []
    for rank, (v, s) in enumerate(cand, start=1):
        pref.append(v)
        pset = set(pref)
        vol = sum(deg.get(u, 0) for u in pref)
        cut = sum(1 for a, b in simple if (a in pset) != (b in pset))
        denom = min(vol, m2 - vol)
        phi = round(cut / denom, 6) if denom > 0 else None
        out.append((rank, v, round(s, 6), deg.get(v, 0), vol, cut, phi))
    return out


def test_ppr_sweep_matches_brute(spark):
    from duwamish_spark.algorithms import ppr_sweep_cut

    rng = random.Random(8)
    n, m = 30, 110
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    scores = {v: rng.random() for v in range(n)}
    sdf = spark.createDataFrame(list(scores.items()), "id long, rank double")
    rows = sorted(
        ppr_sweep_cut(spark, _edges_df(spark, edges), sdf, top_n=12).collect(),
        key=lambda r: r["rank"],
    )
    got = [
        (r["rank"], r["id"], r["score"], r["degree"], r["volume"], r["cut"],
         r["conductance"])
        for r in rows
    ]
    assert got == _brute_sweep(edges, scores, 12)


def test_ppr_sweep_finds_planted_cluster(spark):
    from duwamish_spark.algorithms import pagerank, ppr_sweep_cut
    from pyspark.sql import functions as F

    # two dense 6-cliques joined by a single bridge edge: a PPR sweep
    # seeded inside clique A must bottom out exactly at |A| = 6
    a = list(range(6))
    b = list(range(10, 16))
    edges = [(x, y) for x in a for y in a if x < y]
    edges += [(x, y) for x in b for y in b if x < y]
    edges += [(0, 10)]
    e = _edges_df(spark, edges)
    v = e.selectExpr("src AS id").union(e.selectExpr("dst AS id")).distinct()
    tp = spark.createDataFrame([(0, 1.0)], "id long, weight double")
    pr = pagerank(spark, v, e, tol=0.0, max_supersteps=8, teleport=tp)
    prof = sorted(
        ppr_sweep_cut(spark, e, pr.state, top_n=12).collect(),
        key=lambda r: r["rank"],
    )
    best = min(
        (r for r in prof if r["conductance"] is not None),
        key=lambda r: (r["conductance"], r["rank"]),
    )
    assert best["rank"] == 6
    assert {r["id"] for r in prof[:6]} == set(a)


def test_ppr_sweep_rejects_bad_top_n(spark):
    from duwamish_spark.algorithms import ppr_sweep_cut

    sdf = spark.createDataFrame([(1, 1.0)], "id long, rank double")
    with pytest.raises(ValueError):
        ppr_sweep_cut(spark, _edges_df(spark), sdf, top_n=0)


# ---------------------------------------------------------------------------
# attribute (categorical) assortativity
# ---------------------------------------------------------------------------


def _brute_attr_assort(edges, labels):
    simple = [
        (a, b) for a, b in _simple(edges) if a in labels and b in labels
    ]
    m2 = 2 * len(simple)
    if m2 == 0:
        return (0, 0, 0, None)
    trace2 = 2 * sum(1 for a, b in simple if labels[a] == labels[b])
    from collections import Counter

    cnt = Counter()
    for a, b in simple:
        cnt[labels[a]] += 1
        cnt[labels[b]] += 1
    sum_a2 = sum(v * v for v in cnt.values())
    num = trace2 / m2 - sum_a2 / (m2 * m2)
    den = 1.0 - sum_a2 / (m2 * m2)
    r = round(num / den, 6) if den != 0.0 else None
    return (m2, trace2, sum_a2, r)


def _run_attr(spark, edges, labels):
    from duwamish_spark.algorithms import attribute_assortativity

    lab = spark.createDataFrame(list(labels.items()), "id long, label string")
    r = attribute_assortativity(_edges_df(spark, edges), lab).collect()[0]
    return (r["m2"], r["trace2"], int(r["sum_a2"]), r["assortativity"])


def test_attribute_assortativity_matches_brute(spark):
    labels = {1: "x", 2: "x", 3: "y", 4: "y", 5: "y", 6: "x", 7: "x", 8: "y"}
    assert _run_attr(spark, EDGES, labels) == _brute_attr_assort(EDGES, labels)


def test_attribute_assortativity_random(spark):
    for seed, n, m, k in [(2, 20, 70, 2), (9, 35, 140, 4)]:
        rng = random.Random(seed)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        labels = {v: f"g{rng.randrange(k)}" for v in range(n)}
        assert _run_attr(spark, edges, labels) == _brute_attr_assort(
            edges, labels
        ), seed


def test_attribute_assortativity_extremes(spark):
    # perfectly assortative: two mono-label cliques, no cross edges
    edges = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6)]
    labels = {1: "a", 2: "a", 3: "a", 4: "b", 5: "b", 6: "b"}
    assert _run_attr(spark, edges, labels)[3] == 1.0
    # single label: denominator 0 -> NULL
    labels1 = {v: "z" for v in range(1, 7)}
    assert _run_attr(spark, edges, labels1)[3] is None
    # perfect bipartite disassortativity: r = -1
    edges2 = [(1, 4), (2, 5), (3, 6)]
    labels2 = {1: "a", 2: "a", 3: "a", 4: "b", 5: "b", 6: "b"}
    assert _run_attr(spark, edges2, labels2)[3] == -1.0
