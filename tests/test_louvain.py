"""Louvain community detection — exact sequential replay + structural
gates.

The move phase is deterministic (direction-alternating synchronous
rounds, exact integer scores, smallest-community tie-break), so the
strongest gate is EXACT equality against a pure-Python replay of the
same round semantics. On top: ideal-partition recovery on planted
graphs, modularity improvement over singletons, partition invariance,
multi-level composition, and string-id support.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from duwamish_spark.algorithms import louvain, modularity
from duwamish_spark.algorithms.louvain import weighted_undirected

TRI2 = [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3), (2, 3)]


def _louvain_replay(edge_list, max_rounds):
    """Pure-Python replay of the engine's synchronous move rounds."""
    und: dict[tuple, int] = {}
    vs = set()
    for s, d in edge_list:
        vs.add(s)
        vs.add(d)
        if s != d:
            key = (min(s, d), max(s, d))
            und[key] = und.get(key, 0) + 1
    st = {v: 0 for v in vs}
    for (u, v), w in und.items():
        st[u] += w
        st[v] += w
    m2 = sum(st.values())
    comm = {v: v for v in vs}
    quiet = 0
    for t in range(1, max_rounds + 1):
        sig: dict = {}
        for v in vs:
            sig[comm[v]] = sig.get(comm[v], 0) + st[v]
        k: dict = {v: {} for v in vs}
        for (u, v), w in und.items():
            k[u][comm[v]] = k[u].get(comm[v], 0) + w
            k[v][comm[u]] = k[v].get(comm[u], 0) + w
        new = {}
        changed = 0
        for u in vs:
            a = comm[u]
            stay = m2 * k[u].get(a, 0) - st[u] * (sig[a] - st[u])
            best = None
            for c, kw in k[u].items():
                allowed = (c < a) if t % 2 == 1 else (c > a)
                if not allowed:
                    continue
                sc = m2 * kw - st[u] * sig[c]
                cand = (-sc, c)
                if best is None or cand < best:
                    best = cand
            if best is not None and -best[0] > stay:
                new[u] = best[1]
                changed += 1
            else:
                new[u] = a
        comm = new
        quiet = quiet + 1 if changed == 0 else 0
        if quiet >= 2:
            return comm, True, t
    return comm, False, max_rounds


def _run(spark, edge_list, schema="src long, dst long", **kw):
    e = spark.createDataFrame(edge_list, schema)
    return louvain(spark, None, e, **kw)


def _groups(state_rows):
    g: dict = {}
    for i, c in state_rows:
        g.setdefault(c, set()).add(i)
    return sorted(sorted(m) for m in g.values())


def test_two_triangles_recovered(spark):
    res = _run(spark, TRI2, max_rounds=20)
    assert res.halted
    rows = [(r.id, r.comm) for r in res.state.collect()]
    assert _groups(rows) == [[0, 1, 2], [3, 4, 5]]


@pytest.mark.parametrize("seed", [1, 7, 23])
def test_exact_replay_random_graphs(spark, seed):
    rng = random.Random(seed)
    n = 24
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(70)]
    res = _run(spark, edges, max_rounds=8)
    got = {r.id: r.comm for r in res.state.collect()}
    want, halted, rounds = _louvain_replay(edges, 8)
    assert got == want
    assert res.halted == halted
    assert res.supersteps == rounds


def test_string_ids(spark):
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("x", "y"), ("y", "x"), ("c", "x")]
    res = _run(spark, edges, schema="src string, dst string", max_rounds=12)
    got = {r.id: r.comm for r in res.state.collect()}
    want, _, _ = _louvain_replay(edges, 12)
    assert got == want
    assert res.halted


def test_modularity_improves_over_singletons(spark):
    rng = random.Random(5)
    # planted partition: 3 blocks of 8, dense inside, sparse across
    edges = []
    for b in range(3):
        ids = list(range(b * 8, b * 8 + 8))
        for i in ids:
            for j in ids:
                if i < j and rng.random() < 0.7:
                    edges.append((i, j))
    for _ in range(6):
        edges.append((rng.randrange(24), rng.randrange(24)))
    e = spark.createDataFrame(edges, "src long, dst long")
    res = louvain(spark, None, e, max_rounds=20)
    singletons = e.select(F.col("src").alias("id")).unionAll(
        e.select(F.col("dst").alias("id"))
    ).distinct().select("id", F.col("id").alias("label"))
    q0 = modularity(e, singletons).collect()[0][0]
    q1 = modularity(
        e, res.state.select("id", F.col("comm").alias("label"))
    ).collect()[0][0]
    assert q1 > q0
    assert q1 > 0.3  # planted blocks are clearly recoverable


def test_partition_invariance(spark):
    rng = random.Random(11)
    edges = [(rng.randrange(20), rng.randrange(20)) for _ in range(60)]
    e = spark.createDataFrame(edges, "src long, dst long")
    a = {
        (r.id, r.comm)
        for r in louvain(spark, None, e, max_rounds=6).state.collect()
    }
    b = {
        (r.id, r.comm)
        for r in louvain(
            spark, None, e.repartition(7, "dst"), max_rounds=6
        ).state.collect()
    }
    assert a == b


def test_self_loop_only_vertex_kept(spark):
    edges = [(0, 1), (1, 0), (5, 5)]
    res = _run(spark, edges, max_rounds=4)
    got = {r.id: r.comm for r in res.state.collect()}
    assert 5 in got and got[5] == 5  # isolated-by-self-loop: own singleton


def test_multilevel_composes_and_does_not_degrade(spark):
    # ring of 6 cliques of 5 — level 1 finds the cliques, level 2 may
    # merge adjacent cliques; modularity must not drop and every
    # original vertex keeps exactly one label
    edges = []
    for b in range(6):
        ids = list(range(b * 5, b * 5 + 5))
        edges += [(i, j) for i in ids for j in ids if i < j]
        edges.append((b * 5, ((b + 1) % 6) * 5))
    e = spark.createDataFrame(edges, "src long, dst long")
    r1 = louvain(spark, None, e, max_rounds=20, levels=1)
    r2 = louvain(spark, None, e, max_rounds=20, levels=3)
    rows2 = r2.state.collect()
    assert len(rows2) == 30
    assert len({r.id for r in rows2}) == 30
    q1 = modularity(e, r1.state.select("id", F.col("comm").alias("label"))).collect()[0][0]
    q2 = modularity(e, r2.state.select("id", F.col("comm").alias("label"))).collect()[0][0]
    assert q2 >= q1 - 1e-9
    # level-1 communities are sub-partitions of level-2+ communities
    fine = {r.id: r.comm for r in r1.state.collect()}
    coarse = {r.id: r.comm for r in rows2}
    refine_map = {}
    for v in fine:
        refine_map.setdefault(fine[v], set()).add(coarse[v])
    assert all(len(s) == 1 for s in refine_map.values())


def test_weighted_undirected_multiplicity(spark):
    e = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 2), (3, 3)], "src long, dst long"
    )
    rows = {(r.lo, r.hi): r.w for r in weighted_undirected(e).collect()}
    assert rows == {(1, 2): 3}


def test_weight_col_respected(spark):
    # a heavy edge (1-2, w=10) beats two unit edges (1-3, 2-4): 1 and 2
    # must end up together
    e = spark.createDataFrame(
        [(1, 2, 10), (1, 3, 1), (2, 4, 1), (3, 4, 1)],
        "src long, dst long, w long",
    )
    res = louvain(spark, None, e, weight_col="w", max_rounds=12)
    got = {r.id: r.comm for r in res.state.collect()}
    assert got[1] == got[2]


def test_float_weights_rejected(spark):
    # a cast to long would silently turn 0.9 into a zero-weight edge
    e = spark.createDataFrame([(1, 2, 0.9)], "src long, dst long, w double")
    with pytest.raises(ValueError, match="integer weight_col"):
        weighted_undirected(e, "w")
