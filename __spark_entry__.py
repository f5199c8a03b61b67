"""Driver contract for the spark-graft builder (PySpark target).

Graph queries run over a deterministic edge table derived from the
driver-provided ``lineitem`` parquet (src = l_orderkey % M, dst =
l_partkey % M) so the exact same relation is expressible in DuckDB SQL.
Iterative queries (pagerank_fixed10/converged, cc_converged,
cc_alternating, lp_round1/3, sssp_round3) execute the REAL engine
(duwamish_spark.pregel / algorithms) and are checked against chained-CTE
or recursive-CTE oracles. The parse stage (parse_edges, content_sha256)
and multimodal binary plumbing (media_decode) are checked over shared
deterministic parquet caches both engines read. Pipeline operators
(dedup, text analysis, similarity) run over ``documents`` /
``embeddings``. entry() is the full corpus -> parse -> PageRank pipeline.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

MOD = 599  # graph size for the derived lineitem graph

_EDGE_CTE = f"e AS (SELECT l_orderkey % {MOD} AS src, l_partkey % {MOD} AS dst FROM lineitem)"
_VERT_CTE = "v AS (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst AS id FROM e)"
_SYM_CTE = (
    "sym AS (SELECT src, dst FROM e WHERE src <> dst "
    "UNION SELECT dst AS src, src AS dst FROM e WHERE src <> dst)"
)
_DEG_CTE = (
    "deg AS (SELECT v.id AS id, count(e.src) AS d FROM v "
    "LEFT JOIN e ON e.src = v.id GROUP BY v.id)"
)


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    return li.select(
        (F.col("l_orderkey") % MOD).alias("src"), (F.col("l_partkey") % MOD).alias("dst")
    )


def _graph(spark: SparkSession, sf_dir: str):
    from duwamish_spark.graph import vertices_from

    e = _edges(spark, sf_dir)
    return vertices_from(None, e), e


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


# ---------------------------------------------------------------------------
# graph queries
# ---------------------------------------------------------------------------


def q_out_degree(spark, sf_dir):
    from duwamish_spark.graph import out_degrees

    v, e = _graph(spark, sf_dir)
    return out_degrees(v, e)


def q_degree_histogram(spark, sf_dir):
    """Log2-bucketed out-degree distribution (graph.degree_histogram) —
    the skew-diagnosis summary, all-integer."""
    from duwamish_spark.graph import degree_histogram

    v, e = _graph(spark, sf_dir)
    return degree_histogram(v, e)


def q_pagerank_step1(spark, sf_dir):
    from duwamish_spark.graph import out_degrees

    v, e = _graph(spark, sf_dir)
    deg = out_degrees(v, e).withColumnRenamed("id", "src")
    contrib = e.join(deg, "src").select("dst", (F.lit(1.0) / F.col("out_degree")).alias("c"))
    sums = contrib.groupBy(F.col("dst").alias("id")).agg(F.sum("c").alias("s"))
    return v.join(sums, "id", "left").select(
        "id",
        F.round(F.lit(0.15) + F.lit(0.85) * F.coalesce("s", F.lit(0.0)), 6).alias("rank"),
    )


def q_pagerank_fixed10(spark, sf_dir):
    from duwamish_spark.algorithms import pagerank

    v, e = _graph(spark, sf_dir)
    res = pagerank(spark, v, e, tol=0.0, max_supersteps=10)
    return res.state.select("id", F.round("rank", 6).alias("rank"))


# Convergence (first superstep with L1 residual < 1e-6) on the derived
# sf0.01 graph takes exactly this many supersteps — deterministic: the
# residual decays geometrically (~0.85/step), so the crossing step is far
# from fp-noise. The chained-CTE oracle replays the same arithmetic for
# exactly that many steps; the mirror test (tests/test_entry_contract.py)
# fails loudly if this constant ever drifts from the engine's halt point.
PAGERANK_CONVERGED_STEPS_SF001 = 9


def q_pagerank_converged(spark, sf_dir):
    from duwamish_spark.algorithms import pagerank

    v, e = _graph(spark, sf_dir)
    res = pagerank(spark, v, e, tol=1e-6, max_supersteps=200)
    return res.state.select("id", F.round("rank", 6).alias("rank"))


def q_pagerank_fixed10_shuffle(spark, sf_dir):
    """Same contract as pagerank_fixed10 but FORCING the 10^12-scale code
    path the auto strategy never picks at V=599: shuffle strategy, salted
    two-stage combine, raw pre-shuffle exchange, chained supersteps
    (halt_interval=5). Oracle-gates the scale path itself, not just the
    broadcast path."""
    from duwamish_spark.algorithms import pagerank

    v, e = _graph(spark, sf_dir)
    res = pagerank(
        spark, v, e, tol=0.0, max_supersteps=10,
        strategy="shuffle", salt=4, combine="raw", halt_interval=5,
    )
    return res.state.select("id", F.round("rank", 6).alias("rank"))


def q_pagerank_weighted_fixed5(spark, sf_dir):
    """Weighted-edge PageRank (weight_col): out-edges carry
    rank*weight/out_strength, 5 fixed supersteps. Weights are small
    exact integers-as-doubles so the strength sums are exact and the
    chained-CTE oracle replays the same arithmetic."""
    from duwamish_spark.algorithms import pagerank
    from duwamish_spark.graph import vertices_from

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    e = li.select(
        (F.col("l_orderkey") % MOD).alias("src"),
        (F.col("l_partkey") % MOD).alias("dst"),
        (F.lit(1.0) + (F.col("l_suppkey") % 4)).alias("wt"),
    )
    v = vertices_from(None, e.select("src", "dst"))
    res = pagerank(spark, v, e, tol=0.0, max_supersteps=5, weight_col="wt")
    return res.state.select("id", F.round("rank", 6).alias("rank"))


def q_ppr_seeded_fixed10(spark, sf_dir):
    """Personalized PageRank: restart mass concentrated on the ids
    divisible by 10 (60 of the 599 vertices), 10 fixed supersteps.
    Teleport weights normalize to sum V, so the oracle's per-vertex base
    is 0.15 * (1.0 * V / n_seeds) on seeds and 0 elsewhere."""
    from duwamish_spark.algorithms import pagerank

    v, e = _graph(spark, sf_dir)
    tp = v.where(F.col("id") % 10 == 0).select(
        "id", F.lit(1.0).alias("weight")
    )
    res = pagerank(spark, v, e, tol=0.0, max_supersteps=10, teleport=tp)
    return res.state.select("id", F.round("rank", 6).alias("rank"))


def q_hits_round3(spark, sf_dir):
    """HITS hubs/authorities, 3 fixed iterations (per-iteration L2
    normalization; the half-step norm cancels algebraically — see
    algorithms/hits.py)."""
    from duwamish_spark.algorithms import hits

    v, e = _graph(spark, sf_dir)
    res = hits(spark, v, e, max_iters=3, tol=0.0)
    return res.state.select(
        "id",
        F.round("auth", 6).alias("auth"),
        F.round("hub", 6).alias("hub"),
    )


# k-core peel at this k converges (first zero-drop round) in exactly this
# many rounds on the derived sf0.01 graph (592-vertex core survives) —
# deterministic simultaneous peel; the chained-CTE oracle replays exactly
# that many rounds, and the mirror test fails loudly if the constant ever
# drifts from the engine's halt point.
KCORE_K_SF001 = 140
KCORE_CONVERGED_ROUNDS_SF001 = 5


def q_spam_mass_fixed10(spark, sf_dir):
    """TrustRank + relative spam mass (Gyöngyi et al. 2004/2006):
    classic PageRank and trusted-seed personalized PageRank (seeds =
    ids divisible by 10), 10 fixed supersteps each, spam_mass =
    (rank - trust)/rank — two engine PageRank runs + one V-row join
    (algorithms/trust.py)."""
    from duwamish_spark.algorithms import spam_mass

    v, e = _graph(spark, sf_dir)
    trusted = v.where(F.col("id") % 10 == 0)
    res = spam_mass(spark, v, e, trusted, tol=0.0, max_supersteps=10)
    return res.select(
        "id",
        F.round("rank", 6).alias("rank"),
        F.round("trust", 6).alias("trust"),
        F.round("spam_mass", 6).alias("spam_mass"),
    )


def q_effective_diameter_h3(spark, sf_dir):
    """Boldi-Vigna effective diameter (q=0.9) from the HyperANF
    neighborhood function, hop-bounded at h=3, m=16: per-hop totals are
    per-vertex HLL estimates rounded to integer micros BEFORE the global
    BIGINT sum (order-independent, exactly replayable), then linear
    interpolation between hops (algorithms/anf.py
    effective_diameter_estimate)."""
    from duwamish_spark.algorithms import effective_diameter_estimate

    _, e = _graph(spark, sf_dir)
    ed, totals, _res = effective_diameter_estimate(spark, e, 3, m=16, q=0.9)
    row = spark.createDataFrame(
        [(totals[0], totals[1], totals[2], totals[3], ed)],
        schema="n0 long, n1 long, n2 long, n3 long, ed double",
    )
    return row.select(
        "n0", "n1", "n2", "n3", F.round("ed", 6).alias("eff_diameter")
    )


def q_eigenvector_round3(spark, sf_dir):
    """Eigenvector centrality (power iteration, per-iteration L2
    normalization), 3 fixed iterations — HITS' auth half-step on a
    single vector (algorithms/eigenvector.py)."""
    from duwamish_spark.algorithms import eigenvector_centrality

    v, e = _graph(spark, sf_dir)
    res = eigenvector_centrality(spark, v, e, max_iters=3, tol=0.0)
    return res.state.select("id", F.round("value", 6).alias("value"))


def q_katz_round3(spark, sf_dir):
    """Katz centrality x = beta + alpha*A^T*x, 3 fixed iterations
    (alpha=0.1, beta=1.0) — the truncated attenuated-path series."""
    from duwamish_spark.algorithms import katz_centrality

    v, e = _graph(spark, sf_dir)
    res = katz_centrality(
        spark, v, e, alpha=0.1, beta=1.0, max_iters=3, tol=0.0
    )
    return res.state.select("id", F.round("value", 6).alias("value"))


def q_salsa_round3(spark, sf_dir):
    """SALSA (Lempel & Moran 2000), 3 fixed iterations of the bipartite
    hub/authority walk — degree-normalized HITS with the 1/deg weights
    folded into the persisted edge tables; auth and hub stay probability
    distributions every iteration, no normalization step exists
    (algorithms/salsa.py)."""
    from duwamish_spark.algorithms import salsa

    v, e = _graph(spark, sf_dir)
    res = salsa(spark, v, e, max_iters=3, tol=0.0)
    return res.state.select(
        "id",
        F.round("auth", 6).alias("auth"),
        F.round("hub", 6).alias("hub"),
    )


def q_kcore_converged(spark, sf_dir):
    """k-core membership + in-core degree at k=140 on the symmetrized
    simple graph, peeled to fixpoint."""
    from duwamish_spark.algorithms import k_core

    res = k_core(spark, *_graph(spark, sf_dir), KCORE_K_SF001)
    return res.state.select("id", "degree")


def q_coreness_round3(spark, sf_dir):
    """Distributed coreness (full k-core decomposition) by h-index
    iteration (Montresor 2011), fixed 3 rounds — a valid per-vertex
    upper bound at any SF (estimates are monotone non-increasing and
    start at degree); exact convergence is pytest-gated against the
    sequential peel (algorithms/coreness.py)."""
    from duwamish_spark.algorithms import coreness

    v, e = _graph(spark, sf_dir)
    return coreness(spark, v, e, max_rounds=3).state


def q_random_walks_l5(spark, sf_dir):
    """Deterministic uniform random walks (length 5, 2 per vertex) over
    the directed edge table — hash-driven step choice, replayed exactly
    by a DuckDB chained CTE (algorithms/walks.py)."""
    from duwamish_spark.algorithms import random_walks

    e = _edges(spark, sf_dir)
    return random_walks(spark, e, walk_length=5, walks_per_vertex=2)


def q_node2vec_l4(spark, sf_dir):
    """Second-order biased walks (node2vec p=2, q=0.5, length 4):
    fixed-point integer bias weights + hash-mod cumulative-weight ladder
    — all-integer selection, replayed bit-for-bit by a DuckDB chained
    CTE (algorithms/walks.py node2vec_walks)."""
    from duwamish_spark.algorithms import node2vec_walks

    e = _edges(spark, sf_dir)
    return node2vec_walks(spark, e, walk_length=4, walks_per_vertex=1, p=2.0, q=0.5)


def q_anf_sketch_h3(spark, sf_dir):
    """HyperANF sparse HLL registers of every vertex's out-3-ball
    (algorithms/anf.py): integer relation (id, reg, val), m=16 —
    replayed bit-for-bit by a DuckDB chained CTE (register merge is
    groupBy-max, the hash is the cross-engine md5 family)."""
    from duwamish_spark.algorithms import anf_sketches

    e = _edges(spark, sf_dir)
    return anf_sketches(spark, e, 3, m=16).state


def q_betweenness_h3(spark, sf_dir):
    """Source-sampled, hop-bounded Brandes betweenness (seeds = ids
    divisible by 100, paths <= 3 hops): exact BIGINT sigma path counts,
    dependency accumulation replayed level-by-level by the oracle
    (algorithms/betweenness.py). seed_dist_sum / seeds_reaching are the
    exact integer sampled-closeness byproducts."""
    from duwamish_spark.algorithms import betweenness_sampled

    v, e = _graph(spark, sf_dir)
    src = v.where(F.col("id") % 100 == 0)
    return betweenness_sampled(spark, v, e, src, 3)


def q_edge_betweenness_h3(spark, sf_dir):
    """EDGE betweenness (Brandes' edge-dependency variant), same sampled
    sources/hop bound as betweenness_h3: one row per distinct non-loop
    arc, sigma(s,v)*(1+delta(s,w))/sigma(s,w) summed over shortest-path
    DAG arcs — a single two-join post-pass over the shared Brandes
    state (algorithms/betweenness.py edge_betweenness_sampled)."""
    from duwamish_spark.algorithms import edge_betweenness_sampled

    v, e = _graph(spark, sf_dir)
    src = v.where(F.col("id") % 100 == 0).select("id")
    return edge_betweenness_sampled(spark, e, src, 3)


def q_harmonic_h3(spark, sf_dir):
    """Harmonic centrality estimate from the HyperANF sketches (h=3,
    m=16): H(v) = Σ_t (|ball(v,t)|-|ball(v,t-1)|)/t with ball sizes from
    the HLL estimator — deterministic given the integer registers; the
    oracle replays the sketch chain AND the estimator float ops in the
    same fixed order (algorithms/anf.py harmonic_centrality)."""
    from duwamish_spark.algorithms import harmonic_centrality

    e = _edges(spark, sf_dir)
    return harmonic_centrality(spark, e, 3, m=16)


def q_closeness_h3(spark, sf_dir):
    """Hop-bounded closeness centrality from the same HyperANF sketches
    (h=3, m=16): C(v) = (|ball(3)|-|ball(0)|) / Σ t·(|ball(t)|-|ball(t-1)|)
    — reachable count over total distance, 0.0 for sinks by the
    exact-zero denominator guard; the oracle replays the sketch chain,
    the estimator, and the guarded division in the same fixed order
    (algorithms/anf.py closeness_centrality)."""
    from duwamish_spark.algorithms import closeness_centrality

    e = _edges(spark, sf_dir)
    return closeness_centrality(spark, e, 3, m=16)


def q_neighbor_mean_emb(spark, sf_dir):
    """One GNN mean-aggregation layer over the link graph: per-vertex
    component-wise mean of out-neighbors' embeddings, floor-fixed-point
    sums (aa_micro discipline) so the shuffle order can't perturb the
    result (functions/similarity.py neighbor_mean_embedding)."""
    from duwamish_spark.functions import neighbor_mean_embedding

    out = neighbor_mean_embedding(_edges(spark, sf_dir), _emb(spark, sf_dir))
    # gate on the exact fixed-point mean (mean_micro): the rounded double
    # column has a decimal-halfway rounding surface between engines
    # (Spark BigDecimal HALF_UP vs DuckDB binary-double rounding)
    return out.select(
        "vec_id", F.col("pos").cast("long").alias("pos"), "mean_micro", "n_nbrs"
    )


def q_mis_round1(spark, sf_dir):
    """Round 1 of Luby's maximal independent set with deterministic
    md5-u32 priorities: winners = strict local (p, id) maxima among
    undecided neighbors, losers = their neighbors — exactly
    SQL-replayable; full convergence (independence + maximality) is
    pytest-gated (algorithms/mis.py)."""
    from duwamish_spark.algorithms import maximal_independent_set

    v, e = _graph(spark, sf_dir)
    return maximal_independent_set(spark, v, e, max_rounds=1).state


def q_matching_round1(spark, sf_dir):
    """Round 1 of deterministic greedy maximal matching: every vertex
    picks its max-(p, lo, hi) incident edge (md5-u32 edge priorities),
    an edge matches iff both endpoints picked it — exactly
    SQL-replayable; full convergence (validity + maximality) is
    pytest-gated (algorithms/matching.py)."""
    from duwamish_spark.algorithms import maximal_matching

    v, e = _graph(spark, sf_dir)
    return maximal_matching(spark, v, e, max_rounds=1).state


def q_coloring_round3(spark, sf_dir):
    """3 rounds of Jones-Plassmann greedy coloring: local-(p, id)-max
    vertices take the smallest color unused by colored neighbors (a
    BOUNDED first-gap scan — colors after round r are <= r-1), leaving
    NULL-marked uncolored rows; full convergence (properness + exact
    sequential replay) is pytest-gated (algorithms/coloring.py)."""
    from duwamish_spark.algorithms import greedy_coloring

    v, e = _graph(spark, sf_dir)
    return greedy_coloring(spark, v, e, max_rounds=3).state


def q_semdedup(spark, sf_dir):
    """SemDedup over the driver embeddings: k-means-scoped pairwise
    cosine, keep-first pruning at threshold 0.2 (the embeddings are
    near-orthogonal random vectors, so the standard 0.95 would be
    vacuous here — 0.2 makes both keep branches bite; pytest covers the
    planted-near-dup semantics)."""
    from duwamish_spark.functions import semdedup

    return semdedup(_emb(spark, sf_dir), k=4, iters=2, threshold=0.2)


def q_kmeans_assign(spark, sf_dir):
    """Topic-cluster assignment: every embedding to its nearest
    deterministic-Lloyd centroid (k=4, 2 iterations, cosine, ties to
    the smaller cluster) — one broadcast cross join over the points
    (functions/similarity.py kmeans_assign)."""
    from duwamish_spark.functions import kmeans_assign

    return kmeans_assign(_emb(spark, sf_dir), k=4, iters=2)


def q_densest_round2(spark, sf_dir):
    """Two rounds of densest-subgraph greedy peeling (Bahmani et al.,
    eps=0.125): drop deg <= 1.125·avg each round, return survivors'
    (id, degree) — the fixed-round SQL-replayable unit; best-round
    semantics and the 2(1+eps) guarantee are pytest-gated
    (algorithms/densest.py)."""
    from duwamish_spark.algorithms import densest_subgraph

    res = densest_subgraph(
        spark,
        _edges(spark, sf_dir),
        epsilon=0.125,
        max_rounds=2,
        return_best=False,
    )
    return res.state


def q_boruvka_round1(spark, sf_dir):
    """Round 1 of Borůvka MSF: every vertex picks its minimum incident
    undirected edge under the total order (w, u, v), weight =
    −multiplicity — the exactly-SQL-replayable unit of the minimum
    spanning forest (algorithms/msf.py; full convergence is
    pytest-gated against Kruskal)."""
    from duwamish_spark.algorithms import (
        boruvka_min_edges,
        weighted_canonical_edges,
    )

    w = weighted_canonical_edges(_edges(spark, sf_dir))
    return boruvka_min_edges(w)


def q_reciprocity(spark, sf_dir):
    """Edge reciprocity of the directed simple graph — distinct arcs
    with reverse present / total distinct arcs; single final division
    (algorithms/structure.py reciprocity)."""
    from duwamish_spark.algorithms import reciprocity

    return reciprocity(_edges(spark, sf_dir))


def q_attr_assortativity(spark, sf_dir):
    """Categorical attribute assortativity (Newman mixing-matrix r)
    with the derived attribute id % 7: exact integer moments (sum_a2 as
    DECIMAL(38,0) — endpoint counts square past 2^63 at 10^12 edges),
    one fixed float expression (algorithms/structure.py
    attribute_assortativity).

    Gate projection: sum_a2 is DECIMAL(38,0) inside the engine but cast
    to DOUBLE here — the driver's comparison is wire-type-sensitive and
    Spark DECIMAL vs DuckDB DECIMAL surface as different pandas types
    (the degree_assortativity r4 lesson); the oracle mirrors the cast."""
    from duwamish_spark.algorithms import attribute_assortativity

    v, e = _graph(spark, sf_dir)
    labels = v.select("id", (F.col("id") % 7).alias("label"))
    res = attribute_assortativity(e, labels)
    return res.select(
        "m2",
        "trace2",
        F.col("sum_a2").cast("double").alias("sum_a2"),
        "assortativity",
    )


def q_rich_club(spark, sf_dir):
    """Rich-club connectivity profile: per occurring degree threshold k,
    hub count / hub-hub edge count / density phi(k) — suffix sums over
    the per-degree histogram, no theta join; integer counts + one final
    division (algorithms/structure.py rich_club)."""
    from duwamish_spark.algorithms import rich_club

    return rich_club(_edges(spark, sf_dir))


def q_trussness_round2(spark, sf_dir):
    """Full truss decomposition by per-edge h-index iteration
    (Sariyuce 2017 local nucleus), fixed 2 rounds — a valid per-edge
    upper bound at any SF (estimates start at support+2 and are
    monotone non-increasing); exact convergence is pytest-gated against
    the sequential support peel (algorithms/trussness.py)."""
    from duwamish_spark.algorithms import trussness

    return trussness(spark, _edges(spark, sf_dir), max_rounds=2).state


def q_modularity_weighted(spark, sf_dir):
    """Weighted Newman modularity with a derived integer weight
    1 + (src+dst) % 3 and labels id % 5: all moments exact BIGINT /
    DECIMAL(38,0) until one fixed float expression
    (algorithms/structure.py modularity_weighted)."""
    from duwamish_spark.algorithms import modularity_weighted

    v, e = _graph(spark, sf_dir)
    we = e.withColumn(
        "weight", (F.lit(1) + (F.col("src") + F.col("dst")) % 3).cast("long")
    )
    labels = v.select("id", (F.col("id") % 5).alias("label"))
    return modularity_weighted(we, labels, "weight")


def q_degree_assortativity(spark, sf_dir):
    """Out-in degree assortativity (Newman Pearson r over distinct
    arcs): six exact BIGINT moments + one fixed-order float formula
    (algorithms/structure.py degree_assortativity).

    Gate projection: the second moments (sxy/sxx/syy) accumulate as
    DECIMAL(38,0) inside the engine (the 10^12-edge overflow bound) but
    are cast to DOUBLE here, because the driver's comparison layer is
    wire-type-sensitive — Spark DECIMAL surfaces as a Python Decimal
    while DuckDB's DECIMAL(38,0) surfaces as float64, hash-mismatching
    on identical values (the r4 red row). The oracle projects the same
    ::DOUBLE casts; values are exact in float64 at gate SF."""
    from duwamish_spark.algorithms import degree_assortativity

    res = degree_assortativity(_edges(spark, sf_dir))
    return res.select(
        "m",
        "sx",
        "sy",
        F.col("sxy").cast("double").alias("sxy"),
        F.col("sxx").cast("double").alias("sxx"),
        F.col("syy").cast("double").alias("syy"),
        "assortativity",
    )


def q_scc_converged(spark, sf_dir):
    """Strongly connected components of the DIRECTED edge table
    (trim + forward-min coloring + backward confinement, algorithms/scc.py)
    — scc_id = min member id, checked against a DuckDB mutual-reachability
    closure."""
    from duwamish_spark.algorithms import strongly_connected_components

    v, e = _graph(spark, sf_dir)
    return strongly_connected_components(spark, v, e).state


def q_cc_round1(spark, sf_dir):
    from duwamish_spark.graph import symmetrize

    v, e = _graph(spark, sf_dir)
    sym = symmetrize(e)
    mins = sym.groupBy(F.col("dst").alias("id")).agg(F.min("src").alias("mn"))
    return v.join(mins, "id", "left").select(
        "id", F.least("id", F.coalesce("mn", "id")).alias("label")
    )


def q_cc_converged(spark, sf_dir):
    from duwamish_spark.algorithms import connected_components

    v, e = _graph(spark, sf_dir)
    return connected_components(spark, v, e).state


def q_cc_converged_shuffle(spark, sf_dir):
    """cc_converged through the forced shuffle strategy + salted combine —
    the code path a 10^12-vertex graph takes (auto picks broadcast at
    V=599), oracle-gated against the same recursive-CTE oracle."""
    from duwamish_spark.algorithms import connected_components

    v, e = _graph(spark, sf_dir)
    return connected_components(spark, v, e, strategy="shuffle", salt=4).state


def q_cc_auto_algorithm(spark, sf_dir):
    """connected_components(algorithm="auto") — the round-budget switch
    between hash-min (O(diameter)) and alternating star (O(log n)); same
    exact output contract, so the same recursive-CTE oracle applies."""
    from duwamish_spark.algorithms import connected_components

    v, e = _graph(spark, sf_dir)
    return connected_components(spark, v, e, algorithm="auto").state


def q_cc_alternating(spark, sf_dir):
    # same exact output contract as cc_converged (label = component min),
    # computed by the O(log n) large-star/small-star edge-rewriting
    # algorithm instead of hash-min message passing
    from duwamish_spark.algorithms import connected_components_alternating

    v, e = _graph(spark, sf_dir)
    return connected_components_alternating(spark, v, e).state


def q_lp_round1(spark, sf_dir):
    from duwamish_spark.algorithms import label_propagation

    v, e = _graph(spark, sf_dir)
    return label_propagation(spark, v, e, max_supersteps=1).state


def q_lp_round3(spark, sf_dir):
    from duwamish_spark.algorithms import label_propagation

    v, e = _graph(spark, sf_dir)
    return label_propagation(spark, v, e, max_supersteps=3).state


def q_ppr_sweep_fixed5(spark, sf_dir):
    """Andersen-Chung-Lang local clustering: personalized PageRank
    (seeds id % 10 == 0, 5 fixed supersteps) followed by the
    min-conductance sweep over the top-40 scores — prefix volumes/cuts
    by two running sums, scores rounded before ordering so the ranking
    is bit-stable (algorithms/localcluster.py ppr_sweep_cut)."""
    from duwamish_spark.algorithms import pagerank, ppr_sweep_cut

    v, e = _graph(spark, sf_dir)
    tp = v.where(F.col("id") % 10 == 0).select("id", F.lit(1.0).alias("weight"))
    res = pagerank(spark, v, e, tol=0.0, max_supersteps=5, teleport=tp)
    return ppr_sweep_cut(spark, e, res.state, top_n=40)


def q_simrank_l3(spark, sf_dir):
    """Seeded SimRank by deterministic coupled reverse-walk
    fingerprints (Fogaras-Racz): seeds id % 200 == 0, 4 repetitions,
    3 steps, decay 0.8 in exact integer micros — every trajectory and
    score replayed bit-for-bit by a chained CTE
    (algorithms/simrank.py)."""
    from duwamish_spark.algorithms import simrank_seeded

    v, e = _graph(spark, sf_dir)
    return simrank_seeded(
        spark, e, v.where(F.col("id") % 200 == 0),
        n_walks=4, walk_length=3, decay=0.8,
    )


def q_incremental_dedup(spark, sf_dir):
    """Incremental-ingestion dedup: docs with doc_id % 10 == 0 are the
    'new batch', the rest the existing corpus; 64x1 banding makes the
    near relation EMPIRICALLY equal the exact n-gram Jaccard relation
    at this config/corpus (a true pair at jaccard j is a candidate with
    probability 1-(1-j)^64 — miss ≤ 6e-7 at the j=0.2 threshold, and
    tests/test_functions.py diffs the banded candidates against the
    exact relation), so the full exact+near+priority classification is
    oracle-replayable (functions/dedup.py incremental_dedup)."""
    from duwamish_spark.functions import incremental_dedup

    docs = _docs(spark, sf_dir)
    return incremental_dedup(
        docs.where(F.col("doc_id") % 10 == 0),
        docs.where(F.col("doc_id") % 10 != 0),
        threshold=0.2, n_hashes=64, bands=64,
    )


def q_triad_census(spark, sf_dir):
    """Full 16-class directed triad census (Holland-Leinhardt MAN
    codes): >=2-dyad triads enumerated once each (unique-center /
    min-center rule), 0/1-dyad classes by the Batagelj-Mrvar closed
    forms; counts cast BIGINT for the gate (the library emits
    DECIMAL(38,0) for 10^12-vertex C(n,3)) (algorithms/triads.py)."""
    from duwamish_spark.algorithms import triad_census

    v, e = _graph(spark, sf_dir)
    # thinned arc relation (same predicate in the oracle): the derived
    # lineitem graph is dense and the census wedge volume is
    # output-bound quadratic — the gate probes correctness, not
    # performance
    et = e.where((F.col("src") * 31 + F.col("dst")) % 7 == 0)
    return triad_census(spark, v, et).select(
        "triad", F.col("count").cast("long").alias("count")
    )


def q_percolation_round3(spark, sf_dir):
    """Bond-percolation snowball sample, fixed 3 hops from seeds
    (id % 100 == 0, p = 0.4): kept edges are a deterministic pure
    function of (edge, salt), so the sampled vertex set is replayed
    exactly by a chained closure CTE (algorithms/gsample.py)."""
    from duwamish_spark.algorithms import percolation_sample

    v, e = _graph(spark, sf_dir)
    seeds = v.where(F.col("id") % 100 == 0)
    return percolation_sample(
        spark, e, seeds, p_ppm=400_000, max_rounds=3
    ).state


def q_wl_round2(spark, sf_dir):
    """Hashed Weisfeiler-Lehman role signatures, 2 refinement rounds:
    neighbor multisets enter via order-independent integer hash sums,
    so every signature is replayed bit-for-bit by a chained CTE
    (algorithms/wl.py wl_signatures)."""
    from duwamish_spark.algorithms import wl_signatures

    v, e = _graph(spark, sf_dir)
    return wl_signatures(spark, v, e, rounds=2).state


def q_lp_seeded_round3(spark, sf_dir):
    """Semi-supervised label propagation, fixed 3 rounds: seeds
    (id % 50 == 0, label = id % 7) are clamped, all other vertices
    start NULL and adopt the mode of their LABELED neighbors
    (smallest-label ties); unreached vertices stay NULL
    (algorithms/labelprop.py seeded_label_propagation)."""
    from duwamish_spark.algorithms import seeded_label_propagation

    v, e = _graph(spark, sf_dir)
    seeds = v.where(F.col("id") % 50 == 0).select(
        "id", (F.col("id") % 7).alias("label")
    )
    return seeded_label_propagation(spark, v, e, seeds, max_supersteps=3).state


def q_lp_weighted_round3(spark, sf_dir):
    """Strength-weighted label propagation, fixed 3 rounds: votes carry
    parallel-arc multiplicity (both directions — the louvain weight
    law), argmax by summed BIGINT weight with smallest-label ties
    (algorithms/labelprop.py label_propagation_weighted)."""
    from duwamish_spark.algorithms import label_propagation_weighted

    v, e = _graph(spark, sf_dir)
    return label_propagation_weighted(spark, v, e, max_supersteps=3).state


def q_louvain_round2(spark, sf_dir):
    """Two deterministic Louvain move rounds (direction-alternating,
    exact DECIMAL(38,0) gains, smallest-community tie-break) — the
    modularity-objective community operator (algorithms/louvain.py).
    Oracle: chained CTEs replaying both rounds in HUGEINT."""
    from duwamish_spark.algorithms import louvain

    v, e = _graph(spark, sf_dir)
    res = louvain(spark, v, e, max_rounds=2)
    return res.state.select("id", F.col("comm").cast("long").alias("comm"))


def q_louvain_weighted_round2(spark, sf_dir):
    """Two Louvain move rounds through the weight_col path: derived
    integer weight 1 + (src+dst) % 3 summed per unordered pair (the
    louvain weight law), same alternating/strict-improvement/tie-break
    semantics; oracle is the weighted parameterization of the same
    chained-CTE replay (algorithms/louvain.py weighted_undirected)."""
    from duwamish_spark.algorithms import louvain

    v, e = _graph(spark, sf_dir)
    we = e.withColumn(
        "weight", (F.lit(1) + (F.col("src") + F.col("dst")) % 3).cast("long")
    )
    res = louvain(spark, v, we, weight_col="weight", max_rounds=2)
    return res.state.select("id", F.col("comm").cast("long").alias("comm"))


def q_lp_round3_shuffle(spark, sf_dir):
    """lp_round3 through the forced shuffle strategy (auto picks broadcast
    at V=599) — oracle-gates LP's scale path: the two-stage mode combine
    whose (dst, label) partial stage absorbs hub skew map-side."""
    from duwamish_spark.algorithms import label_propagation

    v, e = _graph(spark, sf_dir)
    return label_propagation(spark, v, e, max_supersteps=3, strategy="shuffle").state


def q_lp_round3_delta(spark, sf_dir):
    """lp_round3 through the frontier/delta formulation (persistent
    neighbor-label counts, only changed vertices emit +new/-old deltas)
    — oracle-gated equivalence with the synchronous chained-CTE replay
    (algorithms/labelprop.py label_propagation_delta)."""
    from duwamish_spark.algorithms.labelprop import label_propagation_delta

    v, e = _graph(spark, sf_dir)
    return label_propagation_delta(spark, v, e, max_supersteps=3).state


def q_triangles_per_vertex(spark, sf_dir):
    from duwamish_spark.algorithms.triangles import triangle_count_per_vertex
    from duwamish_spark.graph import vertices_from

    _, e = _graph(spark, sf_dir)
    v = vertices_from(None, e)
    return triangle_count_per_vertex(e, v)


def q_local_clustering(spark, sf_dir):
    """Per-vertex local clustering coefficient (degree-ordered triangle
    enumeration + simple degree; algorithms/structure.py)."""
    from duwamish_spark.algorithms import clustering_coefficient

    v, e = _graph(spark, sf_dir)
    return clustering_coefficient(e, vertices=v)


def q_link_pred_top5(spark, sf_dir):
    """Top-5 link-prediction candidates per vertex (common neighbors /
    Jaccard / fixed-point Adamic-Adar) over non-adjacent pairs with >= 2
    shared neighbors — rank order is integer-deterministic (cn DESC,
    b ASC), so the window top-k is exactly SQL-replayable."""
    from duwamish_spark.algorithms import link_prediction

    e = _edges(spark, sf_dir)
    return link_prediction(e, k=5, min_common=2)


# Fixed-round k-truss peel: the derived lineitem graph is dense and
# support-homogeneous (min support 20, median 48 at sf0.01), so EVERY
# converged truss at a peeling k collapses to empty — a trivial gate.
# Two rounds at k=42 leave a 27k-edge mid-peel state whose supports the
# oracle replays exactly; convergence semantics are brute-force-tested
# in tests/test_structure.py instead. Fixed rounds are SF-independent
# (no pinned halt constant to drift).
KTRUSS_K = 42
KTRUSS_ROUNDS = 2


def q_ktruss_round2(spark, sf_dir):
    from duwamish_spark.algorithms import k_truss

    e = _edges(spark, sf_dir)
    return k_truss(spark, e, KTRUSS_K, max_rounds=KTRUSS_ROUNDS).state


TOPO_ROUNDS = 3


def q_topo_depth_round3(spark, sf_dir):
    """3 supersteps of the longest-path layering Pregel program
    (max-combine frontier relaxation) — equals the longest walk of
    length <= 3 ending at each vertex, which the chained-CTE oracle
    replays; all-integer so the hash match is bit-exact."""
    from duwamish_spark.algorithms import topological_depth
    from duwamish_spark.graph import vertices_from

    e = _edges(spark, sf_dir)
    v = vertices_from(None, e)
    res = topological_depth(spark, v, e, max_supersteps=TOPO_ROUNDS)
    return res.state.select("id", "depth")


COCITE_K = 3


def q_cocitation_top3(spark, sf_dir):
    """Top-3 co-citation partners per vertex (shared in-neighbors,
    Small 1973) — all-integer deterministic ranking."""
    from duwamish_spark.algorithms import cocitation

    return cocitation(_edges(spark, sf_dir), k=COCITE_K)


def q_bib_coupling_top3(spark, sf_dir):
    """Top-3 bibliographic-coupling partners per vertex (shared
    out-neighbors, Kessler 1963)."""
    from duwamish_spark.algorithms import cocitation

    return cocitation(_edges(spark, sf_dir), k=COCITE_K, coupling=True)


def q_square_count(spark, sf_dir):
    """Exact 4-cycle (rectangle) count — one (wedge_pairs, squares) row;
    all-integer arithmetic so the DuckDB replay is bit-exact."""
    from duwamish_spark.algorithms import square_count

    e = _edges(spark, sf_dir)
    return square_count(e)


def q_lp_conductance_round3(spark, sf_dir):
    """Per-community conductance of the LP round-3 labeling — the
    boundary-quality score next to modularity's global one; integer
    counts, single final division (algorithms/structure.py
    conductance)."""
    from duwamish_spark.algorithms import conductance, label_propagation

    v, e = _graph(spark, sf_dir)
    labels = label_propagation(spark, v, e, max_supersteps=3).state
    return conductance(e, labels)


def q_lp_modularity_round3(spark, sf_dir):
    """Newman modularity of the LP round-3 labeling — the community
    algorithm's standard quality gate; integer aggregation with a single
    fixed-order float expression at the end."""
    from duwamish_spark.algorithms import label_propagation, modularity

    v, e = _graph(spark, sf_dir)
    labels = label_propagation(spark, v, e, max_supersteps=3).state
    return modularity(e, labels)


SSSP_SOURCE = 1  # vertex 1 = l_orderkey % 599 == 1 (orderkey 1 always exists)


def q_sssp_round3(spark, sf_dir):
    """3 supersteps of the real SSSP Pregel program (frontier relaxation,
    min combine) on weighted lineitem edges; equals min over <=3-edge walks,
    which the chained-CTE oracle computes directly."""
    from duwamish_spark.algorithms.sssp import shortest_paths
    from duwamish_spark.graph import vertices_from

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    e = li.select(
        (F.col("l_orderkey") % MOD).alias("src"),
        (F.col("l_partkey") % MOD).alias("dst"),
        (F.lit(1.0) + (F.col("l_partkey") % 5).cast("double")).alias("weight"),
    )
    v = vertices_from(None, e.select("src", "dst"))
    res = shortest_paths(spark, v, e, source=SSSP_SOURCE, max_supersteps=3)
    return res.state.select(
        "id", F.round(F.coalesce("dist", F.lit(-1.0)), 6).alias("dist")
    )


def _ratings(spark, sf_dir):
    """Deterministic customer x part rating relation from lineitem (min
    rating per pair so BOTH engines derive the identical relation)."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    return (
        li.where((F.col("l_orderkey") % 50 == 0))
        .select(
            F.concat(F.lit("u"), (F.col("l_orderkey") % 97).cast("string")).alias("user_id"),
            F.concat(F.lit("m"), (F.col("l_partkey") % 31).cast("string")).alias("movie_id"),
            (F.col("l_quantity") % 5 + 1).cast("double").alias("rating"),
        )
        .groupBy("user_id", "movie_id")
        .agg(F.min("rating").alias("rating"))
        .withColumn(
            "rating_id",
            F.concat(F.lit("r:"), F.col("user_id"), F.lit(":"), F.col("movie_id")),
        )
    )


def q_recommend_round4(spark, sf_dir):
    """SGD matrix factorization (the reference's third example program,
    example/Recommendations.java) run for a FIXED 4 supersteps (feature →
    rating → feature → rating) — deterministic arithmetic with an exact
    closed-form oracle: after the first full cycle every feature vertex's
    component 0 is clamp(1 + lr * Σ (rating - 1)) since uval = mval = 1.0
    in the first rating round. The full-schedule run (iterative SGD, no
    SQL form) stays pinned by the NumPy oracle in tests/test_recommend.py."""
    from duwamish_spark.algorithms import recommendations

    res = recommendations(
        spark, _ratings(spark, sf_dir), n_features=2, runs_per_feature=3,
        max_supersteps=4,
    )
    return res.state.where(F.col("kind") != "rating").select(
        "id", "kind", F.round(F.element_at("fvec", 1), 6).alias("f0")
    )


def q_recommend_round4_broadcast(spark, sf_dir):
    """Same fixed-4-superstep SGD prefix as recommend_round4 but through
    the model-broadcast strategy (broadcast model + shuffle-free partial-
    gradient jobs) — gating that BOTH execution plans produce the same
    rounded factors against the same closed-form oracle."""
    from duwamish_spark.algorithms import recommendations

    res = recommendations(
        spark, _ratings(spark, sf_dir), n_features=2, runs_per_feature=3,
        max_supersteps=4, strategy="broadcast",
    )
    return res.state.where(F.col("kind") != "rating").select(
        "id", "kind", F.round(F.element_at("fvec", 1), 6).alias("f0")
    )


def q_triangle_count(spark, sf_dir):
    from duwamish_spark.algorithms.triangles import _wedges
    from duwamish_spark.graph import canonical_edges

    _, e = _graph(spark, sf_dir)
    c = canonical_edges(e)
    closing = c.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    return _wedges(c).join(closing, ["a", "c"]).agg(F.count(F.lit(1)).alias("triangles"))


# ---------------------------------------------------------------------------
# corpus parse stage (the engine's "scan": source-code table -> edge table)
# ---------------------------------------------------------------------------

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
_ENTRY_CORPUS = os.path.join(_REPO_DIR, ".bench_cache", "entry_corpus_n2000_d8_s7.parquet")


def _ensure_entry_corpus() -> str:
    """Small deterministic source-code corpus (input_hint shape) both
    engines read: Spark parses it with the vectorized Arrow UDF, DuckDB
    re-derives the same edges in SQL (read_parquet + regexp)."""
    if not os.path.exists(_ENTRY_CORPUS):
        from duwamish_spark.corpus import synth_corpus

        os.makedirs(os.path.dirname(_ENTRY_CORPUS), exist_ok=True)
        corpus, _ = synth_corpus(2000, 8, seed=7)
        tmp = _ENTRY_CORPUS + ".tmp"
        corpus.to_parquet(tmp, index=False)
        os.replace(tmp, _ENTRY_CORPUS)
    return _ENTRY_CORPUS


def q_parse_edges(spark, sf_dir):
    from duwamish_spark.parse import extract_edges

    corpus = spark.read.parquet(_ensure_entry_corpus())
    return extract_edges(corpus).groupBy("src", "dst").agg(
        F.count(F.lit(1)).alias("n")
    )


def q_content_sha256(spark, sf_dir):
    # the per-row invariant (BASELINE.json input_hint): content sha256
    # computed independently by both engines over the same parquet
    from duwamish_spark.parse import sha256_manifest

    corpus = spark.read.parquet(_ensure_entry_corpus())
    return sha256_manifest(corpus).select("repo", "path", "sha256")


# ---------------------------------------------------------------------------
# training-data pipeline queries
# ---------------------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    from duwamish_spark.functions import exact_dedup

    return exact_dedup(_docs(spark, sf_dir))


def q_token_stats(spark, sf_dir):
    from duwamish_spark.functions import token_stats

    return token_stats(_docs(spark, sf_dir))


def q_stopword_ratio(spark, sf_dir):
    from duwamish_spark.functions import stopword_ratio

    return stopword_ratio(_docs(spark, sf_dir))


def q_doc_fingerprint(spark, sf_dir):
    from duwamish_spark.functions import doc_fingerprint

    return doc_fingerprint(_docs(spark, sf_dir))


def q_bpe_token_stats(spark, sf_dir):
    """BPE-style regex pre-tokenizer counts (lookahead-free pattern shared
    verbatim by Spark's Java regex and DuckDB's RE2)."""
    from duwamish_spark.functions import bpe_token_stats

    return bpe_token_stats(_docs(spark, sf_dir))


def q_tfidf_top3(spark, sf_dir):
    """Top-3 TF-IDF whitespace terms per document: exact integer tf/df/N,
    one ln per row, window top-k with map-side WindowGroupLimit prune —
    rank order (unrounded tfidf DESC, tok ASC) is total, so the window
    is exactly SQL-replayable (functions/text.py tfidf_top_terms)."""
    from duwamish_spark.functions import tfidf_top_terms

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return tfidf_top_terms(docs, 3)


MIX_RATES_PPM = {"src0": 0, "src1": 125_000, "src2": 250_000, "src3": 500_000}
MIX_DEFAULT_PPM = 750_000


def q_mix_sources(spark, sf_dir):
    """Deterministic per-source data-mixture downsampling: keep iff
    u32(md5('mix:' || doc_id)) < rate(source)·2^32/10^6 — content-keyed
    like hash_split, so the mixture is partitioning/engine-stable; the
    CASE-over-literals rate table is the model-sized broadcast
    (functions/sampling.py mix_sources; rates from temperature_rates
    are pytest-gated)."""
    from duwamish_spark.functions import mix_sources

    return mix_sources(
        _docs(spark, sf_dir), "doc_id", "source", MIX_RATES_PPM,
        default_ppm=MIX_DEFAULT_PPM,
    ).select("doc_id", "source")


def q_chunk_docs(spark, sf_dir):
    """Sliding-window chunking (8-token windows, 2-token overlap) of
    every document: pure projection + explode, zero shuffle; every
    chunk string replayed byte-for-byte by DuckDB list functions
    (functions/text.py chunk_documents)."""
    from duwamish_spark.functions import chunk_documents

    return chunk_documents(
        _docs(spark, sf_dir), chunk_tokens=8, overlap=2,
        id_col="doc_id", text_col="text",
    )


def q_contamination(spark, sf_dir):
    """Train/eval n-gram contamination audit: training docs (doc_id % 20
    != 0) sharing >= 1 3-token shingle with the benchmark slice (doc_id
    % 20 == 0); benchmark shingles broadcast, corpus streams through one
    map-side join (functions/dedup.py benchmark_contamination)."""
    from duwamish_spark.functions import benchmark_contamination

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    train = docs.where(F.col("doc_id") % 20 != 0)
    bench = docs.where(F.col("doc_id") % 20 == 0)
    return benchmark_contamination(train, bench, k=3)


def q_doc_split(spark, sf_dir):
    """Content-keyed 98/1/1 train/validation/test split of the documents
    table: assignment = integer threshold compare on u32(md5('split:' ||
    doc_id)) — reproducible across runs/partitionings/engines, checked
    row-by-row (functions/sampling.py hash_split)."""
    from duwamish_spark.functions.sampling import hash_split

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return hash_split(docs, "doc_id").select("doc_id", "split")


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-language training-mix sampling (en 80%, de/fr
    50%, es 25%, others 10%): keep iff u32(md5('sample:' || doc_id)) <
    floor(fraction·2^32) — pure filter, row-level reproducible
    (functions/sampling.py stratified_sample)."""
    from duwamish_spark.functions.sampling import stratified_sample

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = stratified_sample(
        docs,
        "doc_id",
        "lang",
        {"en": 0.8, "de": 0.5, "fr": 0.5, "es": 0.25},
        default_fraction=0.1,
    )
    return out.select("doc_id", "lang")


def q_doc_quality(spark, sf_dir):
    from duwamish_spark.functions import doc_quality

    return doc_quality(_docs(spark, sf_dir))


def q_rolling_fingerprints(spark, sf_dir):
    """Winnowed rolling-hash fingerprints (MOSS-style local-similarity
    dedup primitive); md5-derived k-gram hashes so DuckDB reproduces the
    identical fingerprint set."""
    from duwamish_spark.functions import rolling_fingerprints

    out = rolling_fingerprints(_docs(spark, sf_dir), k=8, window=4)
    return out.select(F.col("id").alias("doc_id"), "fp")


def q_duplicate_spans(spark, sf_dir):
    """Cross-document shared-span pairs from winnowed fingerprints
    (exact-substring dedup primitive): every shared fingerprint
    certifies a shared run of >= k+window-1 = 31 chars; pairs ranked by
    shared fingerprint count, threshold 2
    (functions/dedup.py duplicate_spans)."""
    from duwamish_spark.functions import duplicate_spans

    return duplicate_spans(
        _docs(spark, sf_dir), k=24, window=8, min_shared=2
    ).select("id_a", "id_b", F.col("shared_fps").cast("long").alias("shared_fps"))


LANG_MARKERS = {
    "en": ("the", "a"),
    "de": ("der", "die"),
    "es": ("el", "los"),
    "fr": ("le", "la"),
    "zh": ("zhong", "wen"),
}


def q_lang_pred(spark, sf_dir):
    from duwamish_spark.functions import lang_marker_scores

    return lang_marker_scores(_docs(spark, sf_dir), LANG_MARKERS)


def q_embedding_centroids(spark, sf_dir):
    from duwamish_spark.functions import label_centroids

    out = label_centroids(_emb(spark, sf_dir))
    return out.select("label", F.col("pos").cast("long").alias("pos"), "v")


def q_emb_moments(spark, sf_dir):
    """Exact fixed-point embedding moment relation (the distributed half
    of PCA whitening): one row per upper-tri dimension pair with
    floor(x·1e6) BIGINT first moments and DECIMAL(38,0) second moments —
    two chained generators + one keyed aggregate, no join
    (functions/whiten.py embedding_moments). The driver-side eigh half
    is NumPy-oracle pytest-gated (tests/test_whiten.py). Gate
    projection: s_ij cast to DOUBLE (wire-type discipline; exact in
    float64 at gate SF)."""
    from duwamish_spark.functions import embedding_moments

    m = embedding_moments(_emb(spark, sf_dir))
    return m.select(
        "i", "j", "n", "s_i", "s_j", F.col("s_ij").cast("double").alias("s_ij")
    )


def q_kmeans_centroids(spark, sf_dir):
    """IVF coarse quantizer: 2 deterministic Lloyd iterations (cosine
    assignment, k=4, init = vectors of the 4 smallest ids) — the bucketing
    stage of knn_cosine_ivf, oracle-checked value-exact via a chained-CTE
    replay of both iterations in DuckDB."""
    from duwamish_spark.functions import kmeans_centroids

    cent = kmeans_centroids(_emb(spark, sf_dir), k=4, iters=2)
    return cent.select(
        F.col("cluster").cast("long").alias("cluster"),
        F.posexplode("centroid").alias("pos", "x"),
    ).select(
        "cluster", F.col("pos").cast("long").alias("pos"),
        F.round("x", 6).alias("v"),
    )


def q_knn_cosine(spark, sf_dir):
    from duwamish_spark.functions import knn_cosine

    out = knn_cosine(_emb(spark, sf_dir), k=3)
    return out.select(
        "vec_id", "neighbor_id", F.col("knn_rank").cast("long").alias("knn_rank"), "cos_sim"
    )


def _media_parquet(sf_dir: str) -> str:
    """Deterministic media table (binary payloads) derived from documents,
    cached to parquet so BOTH engines audit the same bytes. Pure pandas
    (no Spark) so either side — Spark query or DuckDB oracle — can create
    it first; the payload layout matches functions.multimodal.synth_media."""
    import struct

    import numpy as np
    import pandas as pd

    from duwamish_spark.functions.multimodal import _synth_payload

    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(_REPO_DIR, ".bench_cache", f"entry_media_{tag}.parquet")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))[
            ["doc_id", "text"]
        ]
        kinds = np.array(["image", "audio", "video"])
        kind = kinds[
            pd.util.hash_pandas_object(docs["doc_id"].astype(str), index=False).to_numpy() % 3
        ]
        payloads, widths, heights, frames = [], [], [], []
        for t, k in zip(docs["text"].astype(str).to_numpy(), kind):
            p = _synth_payload(t.encode("utf-8"), k)
            w, hgt = struct.unpack(">II", p[4:12])
            payloads.append(p)
            widths.append(w)
            heights.append(hgt)
            frames.append(1 if k == "image" else len(p[16:]) // max(w * hgt, 1))
        out = pd.DataFrame(
            {
                "media_id": docs["doc_id"].astype(str),
                "kind": kind,
                "payload": payloads,
                "width": np.asarray(widths, dtype=np.int32),
                "height": np.asarray(heights, dtype=np.int32),
                "n_frames": np.asarray(frames, dtype=np.int32),
            }
        )
        out.to_parquet(path + ".tmp", index=False)
        os.replace(path + ".tmp", path)
    return path


def q_media_decode(spark, sf_dir):
    """Binary-column plumbing: decode_media's header parse + sizes, plus a
    payload-byte equality proof (sha256 over hex) both engines compute
    independently from the same parquet."""
    from duwamish_spark.functions import decode_media

    media = spark.read.parquet(_media_parquet(sf_dir))
    feats = decode_media(media).select("media_id", "kind", "n_bytes", "width", "height")
    paysha = media.select(
        "media_id", F.lower(F.sha2(F.hex("payload"), 256)).alias("payload_sha")
    )
    return feats.join(paysha, "media_id")


def q_ngram_jaccard(spark, sf_dir):
    from duwamish_spark.functions import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf_dir), k=3, threshold=0.2)


def q_embedding_near_dups(spark, sf_dir):
    from duwamish_spark.functions import embedding_near_dups

    return embedding_near_dups(_emb(spark, sf_dir), threshold=0.2)


def q_simhash_near_dups(spark, sf_dir):
    """SimHash near-dup pairs (hamming ≤ 7) via pigeonhole banding over
    8-bit chunks — the keyed-join scale path, exact-verified with
    bit_count(xor). Uses the md5 hash family so DuckDB recomputes the
    identical 64 vote bits in ANSI SQL (the default xxhash64 family has
    no SQL twin; semantics are identical, tested in pytest)."""
    from duwamish_spark.functions import simhash_near_dups

    out = simhash_near_dups(_docs(spark, sf_dir), max_hamming=7, family="md5")
    return out.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


def q_minhash_near_dups(spark, sf_dir):
    """MinHash+LSH near-dup pipeline at a recall-1 configuration (64
    bands x 1 row): a true pair at jaccard j is missed with probability
    (1-j)^64 ≤ 6e-7 at j = 0.2, and the exact-Jaccard verify stage drops
    every false candidate — so the output EQUALS the exact n-gram Jaccard
    relation and shares its SQL oracle (verified: 25/25 pairs at sf0.01).
    Production configs trade recall for fewer bands; this config makes the
    whole shingle→signature→band→verify pipeline oracle-gated."""
    from duwamish_spark.functions import minhash_near_dups

    out = minhash_near_dups(
        _docs(spark, sf_dir), k=3, n_hashes=64, bands=64, threshold=0.2
    )
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


_CHUNK_W = 8


def _chunked_docs(spark, sf_dir):
    """documents with line structure synthesized deterministically: the
    whitespace tokens re-joined into newline-separated 8-token chunks.

    The driver's documents table is single-line word soup, so line-shaped
    operators (repetition stats, paragraph dedup) would be vacuous on it;
    chunking gives them real work (the corpus's heavy shared boilerplate
    makes 8-token runs collide across documents) while staying exactly
    SQL-replayable. pytest covers the operators on genuinely multi-line
    fixtures."""
    from duwamish_spark.functions import tokens_col

    docs = _docs(spark, sf_dir)
    w = tokens_col("text")
    nch = F.ceil(F.size(w) / F.lit(float(_CHUNK_W))).cast("int")
    paras = F.transform(
        F.sequence(F.lit(0), nch - 1),
        lambda i: F.concat_ws(" ", F.slice(w, (i * _CHUNK_W + 1).cast("int"), _CHUNK_W)),
    )
    return docs.where(F.length(F.trim("text")) > 0).select(
        "doc_id", F.concat_ws("\n", paras).alias("text")
    )


def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition filters (dup-line fractions + top word-2-gram
    count share) over the chunked documents."""
    from duwamish_spark.functions import repetition_stats

    return repetition_stats(_chunked_docs(spark, sf_dir))


def q_paragraph_dedup(spark, sf_dir):
    """CCNet-style cross-document paragraph dedup over the chunked
    documents: keep the globally first copy of every distinct paragraph,
    reassemble each document from its kept paragraphs."""
    from duwamish_spark.functions import paragraph_dedup

    return paragraph_dedup(_chunked_docs(spark, sf_dir))


def q_boilerplate_strip(spark, sf_dir):
    """CCNet-style per-host boilerplate removal over the chunked
    documents (host = source): 8-token segments present in >= 2 docs and
    >= 5% of a host's docs are stripped host-locally. Thresholds chosen
    so both branches bite at the gate SF (some docs lose lines, most
    keep all)."""
    from duwamish_spark.functions import boilerplate_strip

    docs = _chunked_docs(spark, sf_dir).join(
        _docs(spark, sf_dir).select("doc_id", "source"), "doc_id"
    )
    return boilerplate_strip(docs, min_docs=2, min_frac=0.05)


def _pii_laced_docs(spark, sf_dir):
    """documents with PII-shaped spans synthesized deterministically from
    doc_id and the leading tokens (the corpus text is digit-free word soup,
    so the scrub would be vacuous on it raw). Span presence varies by
    doc_id residue so the counts aren't constant; the SAME construction is
    replayed in the DuckDB oracle. pytest covers real-world-shaped
    fixtures (overlaps, NULLs, dotted-quad email hosts)."""
    from duwamish_spark.functions import tokens_col

    docs = _docs(spark, sf_dir)
    w = tokens_col("text")
    did = F.col("doc_id")
    email = F.concat(
        F.lit(" contact "), F.element_at(w, 1), F.lit("@"),
        F.element_at(w, 2), F.lit(".com"),
    )
    phone = F.concat(
        F.lit(" tel "),
        F.lpad((did % 1000).cast("string"), 3, "0"), F.lit("-"),
        F.lpad(((did * 7) % 1000).cast("string"), 3, "0"), F.lit("-"),
        F.lpad(((did * 13) % 10000).cast("string"), 4, "0"),
    )
    ip = F.concat(
        F.lit(" ip "),
        (did % 256).cast("string"), F.lit("."),
        ((did * 3) % 256).cast("string"), F.lit("."),
        ((did * 5) % 256).cast("string"), F.lit("."),
        ((did * 11) % 256).cast("string"),
    )
    return docs.where((F.length(F.trim("text")) > 0) & (F.size(w) >= 2)).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(did % 3 != 0, email).otherwise(F.lit("")),
            F.when(did % 2 == 0, phone).otherwise(F.lit("")),
            F.when(did % 5 != 4, ip).otherwise(F.lit("")),
        ).alias("text"),
    )


def q_pii_scrub(spark, sf_dir):
    """PII redaction pass (emails, dashed phones, IPv4s) with per-pattern
    replacement counts, over the deterministically PII-laced documents."""
    from duwamish_spark.functions import pii_scrub

    return pii_scrub(_pii_laced_docs(spark, sf_dir))


def q_pack_sequences(spark, sf_dir):
    """GPT-style concat-and-chunk packing layout: per-doc shard, token
    count (+1 EOS), start offset in the shard's token stream, and the
    first/last seq_len=64 training sequence it touches."""
    from duwamish_spark.functions import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), seq_len=64, n_shards=8)


def q_host_graph(spark, sf_dir):
    """Quotient (host-level) graph: contract the edge table through the
    deterministic id -> id % 101 grouping (the page->host mapping of
    web-graph analysis), parallel edges collapsed into a weight,
    intra-host edges dropped before the aggregation."""
    from duwamish_spark.graph import contract_graph

    e = _edges(spark, sf_dir)
    v, _ = _graph(spark, sf_dir)
    mapping = v.select("id", (F.col("id") % 101).alias("group"))
    return contract_graph(e, mapping)


def _bowtie_edges(spark, sf_dir):
    """Sparse directed graph for the bow-tie gate: one edge per order
    (l_linenumber = 1), 1-in-5 part filter, ids mod 1009 — ~1.2k vertices
    / ~1.7k edges at sf0.01, which yields a genuine Broder bow tie
    (measured regions: core 168 / in 511 / out 80 / tube 17 /
    tendril_in 31 / tendril_out 58 / other_wcc 24 / disconnected 3).
    The dense MOD-599 driver graph is one giant SCC — useless here."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    return li.where(
        (F.col("l_linenumber") == 1) & (F.col("l_partkey") % 5 == 0)
    ).select(
        (F.col("l_orderkey") % 1009).alias("src"),
        (F.col("l_partkey") % 1009).alias("dst"),
    )


def q_bowtie_regions(spark, sf_dir):
    """Broder bow-tie decomposition of the sparse directed graph:
    (id, region) with region in {core, in, out, tube, tendril_in,
    tendril_out, other_wcc, disconnected} — SCC (largest, min-id
    tie-break) + six BFS closures, algorithms/bowtie.py."""
    from duwamish_spark.algorithms import bowtie_decomposition
    from duwamish_spark.graph import vertices_from

    e = _bowtie_edges(spark, sf_dir)
    return bowtie_decomposition(spark, vertices_from(None, e), e).state


def q_dsir_weights(spark, sf_dir):
    """DSIR-style importance weights: every document scored against the
    src0-src2 slice as the target distribution — hashed-bigram add-one
    log-likelihood ratio in integer micros (functions/importance.py)."""
    from duwamish_spark.functions import importance_weights

    docs = _docs(spark, sf_dir)
    target = docs.where(F.col("source").isin("src0", "src1", "src2"))
    return importance_weights(docs, target, k=2, n_buckets=256)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet"))


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization of the events log (30-min gap, one row
    per session; functions/events.py). All time columns are BIGINT
    epoch micros — tz-independent, so the gate compares integers."""
    from duwamish_spark.functions import sessionize

    out = sessionize(_events(spark, sf_dir), gap_minutes=30)
    return out.select(
        "user_id",
        F.col("session_idx").cast("long").alias("session_idx"),
        "n_events",
        "start_us",
        "end_us",
        "duration_micros",
        "total_value",
    )


def q_event_rates(spark, sf_dir):
    """Tumbling 60-min window counts per event type over the events log
    (functions/events.py event_window_rates) — one linear groupBy, no
    window function (plan pinned in pytest)."""
    from duwamish_spark.functions import event_window_rates

    return event_window_rates(_events(spark, sf_dir), window_minutes=60)


def q_lm_perplexity(spark, sf_dir):
    """CCNet-style quality filter: per-document perplexity under a
    hashed-bigram LM trained on the src0-src2 slice — integer-micros
    cross-entropy (functions/importance.py lm_perplexity)."""
    from duwamish_spark.functions import lm_perplexity

    docs = _docs(spark, sf_dir)
    target = docs.where(F.col("source").isin("src0", "src1", "src2"))
    return lm_perplexity(docs, target, n_ctx_buckets=256, n_big_buckets=4096)


def q_dsir_resample(spark, sf_dir):
    """DSIR importance resampling: the 40 documents selected by the
    deterministic exponential race over the dsir_weights scores —
    sample_key = ln(ln(1/u)) - weight_micros/1e6 with u the md5-u32 of
    the doc id, smallest-n cut with an id tie-break
    (functions/importance.py importance_resample)."""
    from duwamish_spark.functions import importance_resample

    docs = _docs(spark, sf_dir)
    target = docs.where(F.col("source").isin("src0", "src1", "src2"))
    return importance_resample(docs, target, 40, k=2, n_buckets=256)


def q_curation_pipeline(spark, sf_dir):
    """The composed training-data curation pass (exact-dedup keepers ->
    quality >= 0.5 -> cap 20 per source -> content-keyed 98/1/1 split)
    as ONE declarative DataFrame graph — every stage is standalone-
    oracled; this gates the composition (functions/pipeline.py)."""
    from duwamish_spark.functions import curate_corpus

    return curate_corpus(
        _docs(spark, sf_dir), min_quality=0.5, per_source_cap=20
    )


def q_dedup_groups(spark, sf_dir):
    """Near-dup pairs (exact 3-gram Jaccard >= 0.2, the oracle-shared pair
    relation) collapsed into transitive duplicate groups by the engine's
    own connected components, one keeper (min id) per group — the final
    stage of the fuzzy-dedup pipeline."""
    from duwamish_spark.functions import dedup_groups, ngram_jaccard_pairs

    docs = _docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(docs, k=3, threshold=0.2)
    return dedup_groups(spark, docs, pairs)


def q_source_cap(spark, sf_dir):
    """At most 7 documents per source, survivors chosen by the
    content-keyed hash order (anti-domination pass)."""
    from duwamish_spark.functions import cap_per_key

    docs = _docs(spark, sf_dir).select("doc_id", "source")
    out = cap_per_key(docs, "source", 7)
    return out.select("doc_id", "source", F.col("cap_rank").cast("long").alias("cap_rank"))


def q_cc_warmstart(spark, sf_dir):
    """Grow-only incremental CC: converge on the even-src half of the edge
    set, then warm-start the full graph from those labels. The final
    labeling must equal the cold full-graph fixpoint (the shared
    reachability oracle) — warm start changes rounds, never results."""
    from duwamish_spark.algorithms import connected_components
    from duwamish_spark.graph import vertices_from

    e = _edges(spark, sf_dir)
    v = vertices_from(None, e)
    half = connected_components(spark, v, e.where(F.col("src") % 2 == 0))
    res = connected_components(spark, v, e, initial_labels=half.state)
    return res.state.select("id", "label")


def q_pagerank_dangling_fixed5(spark, sf_dir):
    """Standard (Page et al.) dangling-mass redistribution variant, 5
    fixed supersteps, on the src<500 subgraph so ids appearing only as
    dst are genuinely dangling (the unfiltered driver graph has none)."""
    from duwamish_spark.algorithms import pagerank
    from duwamish_spark.graph import vertices_from

    e = _edges(spark, sf_dir).where(F.col("src") < 500)
    v = vertices_from(None, e)
    res = pagerank(
        spark, v, e, tol=0.0, max_supersteps=5, dangling="redistribute"
    )
    return res.state.select("id", F.round("rank", 6).alias("rank"))


# ---------------------------------------------------------------------------
# driver entry points
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full engine pipeline — source-code corpus (input_hint
    shape) → vectorized Arrow import parser → edge table → PageRank Pregel
    loop to L1 < 1e-6 convergence."""
    from duwamish_spark.algorithms import pagerank
    from duwamish_spark.graph import corpus_vertex_ids, vertices_from
    from duwamish_spark.parse import extract_edges

    corpus = spark.read.parquet(_ensure_entry_corpus())
    e = extract_edges(corpus)
    v = vertices_from(corpus_vertex_ids(corpus), e)
    res = pagerank(spark, v, e, tol=1e-6, max_supersteps=120)
    return res.state


# The driver records correctness rows for the FIRST 50 queries each
# round. _WINDOW pins that composition explicitly, in priority order
# (round 5): (a) the 4 queries never driver-checked in ANY round
# (r4 verdict item 2: katz/attr_assortativity/lp_weighted/
# lp_conductance), (b) the two r4 red rows, now fixed — value-identical
# wire-type mismatches closed by DOUBLE/BIGINT gate-projection casts
# (degree_assortativity regression + effective_diameter_h3 never-green),
# (c) everything whose newest green row is r1/r2 (oldest-evidence
# refresh: the text/similarity/media tranche), (d) the r3-green set not
# re-recorded in r4, machinery-representative-first (content_sha256 is
# the north-rule per-row invariant; parse_edges the corpus source;
# cc/pagerank forced-shuffle variants gate the salted 10^12-scale path),
# (e) new r5 queries. Rotated out: the entire r4-green set (48 rows,
# all recorded LAST round, functions untouched this round unless listed
# here) and thin machinery siblings of in-window entries
# (pagerank_step1/graph_out_degree by pagerank_fixed10; cc_round1/
# cc_alternating by cc_converged_shuffle/cc_auto_algorithm; lp_round1/
# lp_round3_shuffle by lp_weighted_round3/lp_seeded siblings;
# square_count/cocitation_top3/bib_coupling_top3 by the in-window
# triangle machinery; ktruss_round2/lp_modularity_round3/
# topo_depth_round3 r3-green with functions untouched).
_WINDOW = [
    "katz_round3", "attr_assortativity", "lp_weighted_round3",
    "lp_conductance_round3",
    "degree_assortativity", "effective_diameter_h3",
    "bpe_token_stats", "doc_fingerprint", "doc_quality",
    "embedding_centroids", "embedding_near_dups", "kmeans_centroids",
    "knn_cosine", "lang_pred", "media_decode", "minhash_near_dups",
    "ngram_jaccard", "rolling_fingerprints", "simhash_near_dups",
    "stopword_ratio",
    "closeness_h3", "content_sha256", "parse_edges",
    "cc_converged_shuffle", "cc_auto_algorithm", "pagerank_fixed10",
    "pagerank_fixed10_shuffle", "pagerank_weighted_fixed5",
    "ppr_seeded_fixed10", "hits_round3", "sssp_round3", "triangle_count",
    "triangles_per_vertex", "recommend_round4",
    "recommend_round4_broadcast", "token_stats", "dedup_exact",
    "kcore_converged", "coreness_round3", "scc_converged", "node2vec_l4",
    "betweenness_h3", "random_walks_l5", "louvain_weighted_round2",
    "reciprocity", "boruvka_round1", "emb_moments",
    "modularity_weighted", "trussness_round2", "edge_betweenness_h3",
]
# swapped for the last refresh slots (local_clustering / link_pred_top5 /
# kmeans_assign / neighbor_mean_emb, all r3-green + untouched):
# trussness_round2 re-gates the r5 frontier rewrite; edge_betweenness_h3
# gates the new operator (and betweenness_h3, already in-window, re-gates
# the shared-state refactor); emb_moments gates the new PCA-whitening
# moment relation; modularity_weighted gates the new weighted-modularity
# operator; louvain_weighted_round2 (in for degree_histogram, r3-green
# trivial machinery) gates the previously-ungated weight_col path of
# louvain.


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    d = {
        # -- 0. new in round 4 (never driver-checked) --
        "louvain_round2": q_louvain_round2,
        "louvain_weighted_round2": q_louvain_weighted_round2,
        "boilerplate_strip": q_boilerplate_strip,
        "semdedup": q_semdedup,
        "salsa_round3": q_salsa_round3,
        "host_graph": q_host_graph,
        "bowtie_regions": q_bowtie_regions,
        "dsir_weights": q_dsir_weights,
        "lm_perplexity": q_lm_perplexity,
        "sessionize": q_sessionize,
        "event_rates": q_event_rates,
        "dsir_resample": q_dsir_resample,
        "duplicate_spans": q_duplicate_spans,
        "curation_pipeline": q_curation_pipeline,
        "dedup_groups": q_dedup_groups,
        "source_cap": q_source_cap,
        "pagerank_dangling_fixed5": q_pagerank_dangling_fixed5,
        "cc_warmstart": q_cc_warmstart,
        "repetition_stats": q_repetition_stats,
        "paragraph_dedup": q_paragraph_dedup,
        "pii_scrub": q_pii_scrub,
        "pack_sequences": q_pack_sequences,
        "spam_mass_fixed10": q_spam_mass_fixed10,
        "effective_diameter_h3": q_effective_diameter_h3,
        "eigenvector_round3": q_eigenvector_round3,
        "katz_round3": q_katz_round3,
        "matching_round1": q_matching_round1,
        "coloring_round3": q_coloring_round3,
        # -- 1. no r3 row (tfidf_top3/doc_split/stratified_sample/
        #       contamination never driver-checked in any round) --
        "tfidf_top3": q_tfidf_top3,
        "doc_split": q_doc_split,
        "stratified_sample": q_stratified_sample,
        "mix_sources": q_mix_sources,
        "chunk_docs": q_chunk_docs,
        "contamination": q_contamination,
        "knn_cosine": q_knn_cosine,
        "kmeans_centroids": q_kmeans_centroids,
        "emb_moments": q_emb_moments,
        "simhash_near_dups": q_simhash_near_dups,
        "minhash_near_dups": q_minhash_near_dups,
        "ngram_jaccard": q_ngram_jaccard,
        "embedding_near_dups": q_embedding_near_dups,
        # -- 2. implementation touched in round 4 --
        "anf_sketch_h3": q_anf_sketch_h3,
        "harmonic_h3": q_harmonic_h3,
        "closeness_h3": q_closeness_h3,
        "degree_assortativity": q_degree_assortativity,
        "rich_club": q_rich_club,
        "attr_assortativity": q_attr_assortativity,
        "trussness_round2": q_trussness_round2,
        "mis_round1": q_mis_round1,
        "densest_round2": q_densest_round2,
        "cc_converged": q_cc_converged,
        "cc_converged_shuffle": q_cc_converged_shuffle,
        "cc_auto_algorithm": q_cc_auto_algorithm,
        "lp_round3": q_lp_round3,
        "lp_round3_delta": q_lp_round3_delta,
        "lp_seeded_round3": q_lp_seeded_round3,
        "lp_weighted_round3": q_lp_weighted_round3,
        "wl_round2": q_wl_round2,
        "percolation_round3": q_percolation_round3,
        "triad_census": q_triad_census,
        "incremental_dedup": q_incremental_dedup,
        "simrank_l3": q_simrank_l3,
        "ppr_sweep_fixed5": q_ppr_sweep_fixed5,
        # -- 3. flagship set (pagerank_converged/fixed10 lead: pregel.py
        #    changed this round via the stats-reset sweep, so they need
        #    fresh rows more than the untouched out-degree/step1 gates) --
        "pagerank_converged": q_pagerank_converged,
        "pagerank_fixed10": q_pagerank_fixed10,
        "pagerank_fixed10_shuffle": q_pagerank_fixed10_shuffle,
        "graph_out_degree": q_out_degree,
        "pagerank_step1": q_pagerank_step1,
        # r2-green, code untouched since — rotated out for the round-4
        # additions above (pure Column exprs, lowest staleness risk)
        "stopword_ratio": q_stopword_ratio,
        "bpe_token_stats": q_bpe_token_stats,
        "doc_quality": q_doc_quality,
        "lang_pred": q_lang_pred,
        "degree_histogram": q_degree_histogram,
        "ppr_seeded_fixed10": q_ppr_seeded_fixed10,
        "pagerank_weighted_fixed5": q_pagerank_weighted_fixed5,
        "hits_round3": q_hits_round3,
        "random_walks_l5": q_random_walks_l5,
        "parse_edges": q_parse_edges,
        "content_sha256": q_content_sha256,
        "sssp_round3": q_sssp_round3,
        "triangle_count": q_triangle_count,
        "recommend_round4": q_recommend_round4,
        "recommend_round4_broadcast": q_recommend_round4_broadcast,
        # token_stats outranks dedup_exact for the last in-window slot:
        # its newest green row is r2, dedup_exact's is r3
        "token_stats": q_token_stats,
        "dedup_exact": q_dedup_exact,
        # -- rotated past the ~50-entry window this round (r3-green,
        #    code untouched in round 4) --
        "kcore_converged": q_kcore_converged,
        "coreness_round3": q_coreness_round3,
        "scc_converged": q_scc_converged,
        "node2vec_l4": q_node2vec_l4,
        "reciprocity": q_reciprocity,
        "boruvka_round1": q_boruvka_round1,
        "kmeans_assign": q_kmeans_assign,
        "neighbor_mean_emb": q_neighbor_mean_emb,
        "betweenness_h3": q_betweenness_h3,
        "edge_betweenness_h3": q_edge_betweenness_h3,
        "triangles_per_vertex": q_triangles_per_vertex,
        "local_clustering": q_local_clustering,
        "link_pred_top5": q_link_pred_top5,
        "ktruss_round2": q_ktruss_round2,
        "lp_modularity_round3": q_lp_modularity_round3,
        "modularity_weighted": q_modularity_weighted,
        "lp_conductance_round3": q_lp_conductance_round3,
        "square_count": q_square_count,
        "topo_depth_round3": q_topo_depth_round3,
        "cocitation_top3": q_cocitation_top3,
        "bib_coupling_top3": q_bib_coupling_top3,
        # r2-green, function-level untouched since — displaced from the
        # window to make room for the 4 round-4 algorithms above
        # single-round variants subsumed by their converged siblings
        # (which stay in-window); displaced for pagerank_converged room
        # alternating-star and the salted-LP variant: r3-green, their
        # shared machinery stays gated in-window (cc_converged_shuffle
        # for the salted combine, the long-path pytest gate for
        # high-round CC); displaced for the two new pipeline queries
        "cc_alternating": q_cc_alternating,
        "lp_round3_shuffle": q_lp_round3_shuffle,
        "cc_round1": q_cc_round1,
        "lp_round1": q_lp_round1,
        "doc_fingerprint": q_doc_fingerprint,
        "rolling_fingerprints": q_rolling_fingerprints,
        "embedding_centroids": q_embedding_centroids,
        "media_decode": q_media_decode,
    }
    assert len(_WINDOW) == 50 and len(set(_WINDOW)) == 50
    order = _WINDOW + [k for k in d if k not in set(_WINDOW)]
    return {k: d[k] for k in order}




def _lp_chain_ctes(steps: int) -> list[str]:
    ctes = [_EDGE_CTE, _VERT_CTE, _SYM_CTE, "l0 AS (SELECT id, id AS label FROM v)"]
    for i in range(1, steps + 1):
        ctes.append(
            f"c{i} AS (SELECT sym.dst AS id, l.label AS m, count(*) AS c FROM sym "
            f"JOIN l{i-1} l ON l.id = sym.src GROUP BY sym.dst, l.label)"
        )
        ctes.append(
            f"p{i} AS (SELECT id, m, row_number() OVER (PARTITION BY id "
            f"ORDER BY c DESC, m ASC) AS rn FROM c{i})"
        )
        ctes.append(
            f"l{i} AS (SELECT v.id AS id, coalesce(p.m, v.id) AS label FROM v "
            f"LEFT JOIN (SELECT id, m FROM p{i} WHERE rn = 1) p ON p.id = v.id)"
        )
    return ctes


def _lp_chain_sql(steps: int) -> str:
    return (
        "WITH " + ",\n".join(_lp_chain_ctes(steps))
        + f"\nSELECT id, label FROM l{steps}"
    )


def _triad_census_sql() -> str:
    """Replay of triads.triad_census: dyad table with direction flags,
    wedge enumeration with the unique-center / min-center rule, the
    degree-code key classification (shared TRIAD_KEYS table), and the
    Batagelj-Mrvar closed forms with exact factor-wise C(n,3)."""
    from duwamish_spark.algorithms.triads import TRIAD_KEYS, TRIAD_NAMES

    case = "CASE key"
    for k, nm in sorted(TRIAD_KEYS.items()):
        case += f" WHEN {k[0] * 81 + k[1] * 9 + k[2]} THEN '{nm}'"
    case += " END"
    names = ", ".join(f"('{t}')" for t in TRIAD_NAMES)
    return f"""
        WITH {_EDGE_CTE}, {_VERT_CTE},
        et AS (SELECT src, dst FROM e WHERE (src * 31 + dst) % 7 = 0),
        de AS (SELECT DISTINCT src, dst FROM et WHERE src <> dst),
        dy AS (SELECT least(src, dst) AS u, greatest(src, dst) AS v2,
                      max(CASE WHEN src < dst THEN 1 ELSE 0 END) AS fuv,
                      max(CASE WHEN src > dst THEN 1 ELSE 0 END) AS fvu
               FROM de GROUP BY 1, 2),
        scal AS (SELECT coalesce(sum(fuv * fvu), 0)::BIGINT AS m_d,
                        coalesce(sum(CASE WHEN fuv + fvu = 1 THEN 1 ELSE 0 END), 0)::BIGINT AS a_d
                 FROM dy),
        nn AS (SELECT count(*)::BIGINT AS n FROM v),
        sym AS (SELECT u AS a, v2 AS b, fuv AS fab, fvu AS fba FROM dy
                UNION ALL SELECT v2, u, fvu, fuv FROM dy),
        wed AS (SELECT l.a, l.b, r.b AS c, l.fab, l.fba,
                       r.fab AS fac, r.fba AS fca,
                       coalesce(d.fuv, 0) AS fbc, coalesce(d.fvu, 0) AS fcb
                FROM sym l JOIN sym r ON l.a = r.a AND l.b < r.b
                LEFT JOIN dy d ON d.u = l.b AND d.v2 = r.b),
        en AS (SELECT * FROM wed WHERE (fbc + fcb = 0) OR (a < b)),
        cls AS (SELECT (fba + fca) * 3 + (fab + fac) AS ca,
                       (fab + fcb) * 3 + (fba + fbc) AS cb,
                       (fac + fbc) * 3 + (fca + fcb) AS cc,
                       fab * fba + fac * fca + fbc * fcb AS mc,
                       (CASE WHEN fab + fba = 1 THEN 1 ELSE 0 END
                        + CASE WHEN fac + fca = 1 THEN 1 ELSE 0 END
                        + CASE WHEN fbc + fcb = 1 THEN 1 ELSE 0 END) AS ac
                FROM en),
        keyed AS (SELECT least(ca, cb, cc) * 81
                         + (ca + cb + cc - least(ca, cb, cc) - greatest(ca, cb, cc)) * 9
                         + greatest(ca, cb, cc) AS key, mc, ac
                  FROM cls),
        cnt AS (SELECT {case} AS triad, count(*)::BIGINT AS cn
                FROM keyed GROUP BY 1),
        tot AS (SELECT count(*)::BIGINT AS t_enum,
                       coalesce(sum(ac), 0)::BIGINT AS sum_a,
                       coalesce(sum(mc), 0)::BIGINT AS sum_m
                FROM keyed),
        base AS (SELECT * FROM scal, nn, tot),
        cf AS (SELECT
                 (CASE WHEN n % 3 = 0
                       THEN (CASE WHEN n % 2 = 0 THEN n // 2 ELSE n END) // 3
                       ELSE (CASE WHEN n % 2 = 0 THEN n // 2 ELSE n END) END) AS g1,
                 (CASE WHEN n % 3 = 1
                       THEN (CASE WHEN n % 2 = 0 THEN n - 1 ELSE (n - 1) // 2 END) // 3
                       ELSE (CASE WHEN n % 2 = 0 THEN n - 1 ELSE (n - 1) // 2 END) END) AS g2,
                 (CASE WHEN n % 3 = 2 THEN (n - 2) // 3 ELSE n - 2 END) AS g3,
                 * FROM base),
        closedf AS (SELECT
              a_d * (n - 2) - sum_a AS c012,
              m_d * (n - 2) - sum_m AS c102,
              (CASE WHEN n >= 3 THEN g1 * g2 * g3 ELSE 0 END)
                - t_enum - (a_d * (n - 2) - sum_a) - (m_d * (n - 2) - sum_m) AS c003
            FROM cf),
        allc AS (SELECT triad, cn FROM cnt
                 UNION ALL SELECT '003', c003 FROM closedf
                 UNION ALL SELECT '012', c012 FROM closedf
                 UNION ALL SELECT '102', c102 FROM closedf),
        namelist(triad) AS (VALUES {names})
        SELECT namelist.triad AS triad, coalesce(allc.cn, 0)::BIGINT AS count
        FROM namelist LEFT JOIN allc ON allc.triad = namelist.triad
    """


def _ppr_sweep_sql(steps: int, top_n: int) -> str:
    """PPR chain (the ppr_seeded oracle's arithmetic) + the sweep:
    rank top_n rounded scores, e_before via the candidate-restricted
    adjacency, two running sums, prefix conductance."""
    ctes = [
        _EDGE_CTE,
        _VERT_CTE,
        _DEG_CTE,
        "p AS (SELECT id, CASE WHEN id % 10 = 0 THEN "
        "(1.0 * (SELECT count(*) FROM v)) / (SELECT count(*) FROM v WHERE id % 10 = 0) "
        "ELSE 0.0 END AS p FROM v)",
        "r0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS rank FROM v)",
    ]
    for i in range(1, steps + 1):
        ctes.append(
            f"r{i} AS (SELECT v.id AS id, 0.15 * p.p + 0.85 * coalesce(s.s, 0) AS rank "
            f"FROM v JOIN p ON p.id = v.id "
            f"LEFT JOIN (SELECT e.dst AS id, sum(r.rank / deg.d) AS s FROM e "
            f"JOIN deg ON deg.id = e.src JOIN r{i-1} r ON r.id = e.src GROUP BY e.dst) s "
            f"ON s.id = v.id)"
        )
    ctes += [
        f"sc AS (SELECT id, round(rank, 6) AS score FROM r{steps})",
        f"cand AS (SELECT id, score FROM sc ORDER BY score DESC, id LIMIT {top_n})",
        "rk AS (SELECT id, score, row_number() OVER (ORDER BY score DESC, id) AS rank "
        "FROM cand)",
        _CANON_CTE,
        _SADJ_CTE,
        _SDEG_CTE,
        "eb AS (SELECT a.id AS id, count(*) AS e_before FROM sadj "
        "JOIN rk a ON a.id = sadj.u JOIN rk b ON b.id = sadj.w2 "
        "WHERE b.rank < a.rank GROUP BY a.id)",
        "tot AS (SELECT 2 * count(*)::BIGINT AS vol_total FROM c)",
        "base AS (SELECT rk.rank, rk.id, rk.score, "
        "coalesce(sdeg.degree, 0)::BIGINT AS degree, "
        "coalesce(eb.e_before, 0)::BIGINT AS ebv "
        "FROM rk LEFT JOIN sdeg ON sdeg.id = rk.id "
        "LEFT JOIN eb ON eb.id = rk.id)",
        "prof AS (SELECT rank, id, score, degree, "
        "sum(degree) OVER w::BIGINT AS volume, "
        "(sum(degree) OVER w - 2 * sum(ebv) OVER w)::BIGINT AS cut "
        "FROM base WINDOW w AS (ORDER BY rank ROWS BETWEEN UNBOUNDED "
        "PRECEDING AND CURRENT ROW))",
    ]
    return (
        "WITH " + ",\n".join(ctes)
        + """
    SELECT rank, id, score, degree, volume, cut,
           CASE WHEN least(volume, vol_total - volume) > 0
                THEN round(cut * 1.0 / least(volume, vol_total - volume), 6)
           END AS conductance
    FROM prof CROSS JOIN tot"""
    )


def _simrank_chain_sql(n_walks: int, walk_length: int, decay: float) -> str:
    """Replay of simrank_seeded: coupled reverse-walk ladder (position-
    keyed md5 step choice over the ascending in-neighbor list), first
    meeting time per (seed, vertex, rep), exact integer-micros decay
    table, one final division."""
    from duwamish_spark.algorithms.simrank import decay_micros_table

    micros = decay_micros_table(decay, walk_length)
    reps = ", ".join(f"({r})" for r in range(n_walks))
    ctes = [
        _EDGE_CTE,
        "de AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst)",
        "rin AS (SELECT dst AS v, src AS nb, row_number() OVER "
        "(PARTITION BY dst ORDER BY src) - 1 AS idx FROM de)",
        "ind AS (SELECT v, count(*) AS cnt FROM rin GROUP BY v)",
        "vv AS (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM de UNION ALL SELECT dst FROM de))",
        f"reps(r) AS (VALUES {reps})",
        "p0 AS (SELECT id, r, id AS pos, 0 AS t FROM vv CROSS JOIN reps)",
    ]
    for t in range(1, walk_length + 1):
        h = (
            "('0x' || substring(md5('sr:' || p.r::VARCHAR || "
            f"':{t-1}:' || p.pos::VARCHAR), 1, 8))::UINTEGER::BIGINT"
        )
        ctes.append(
            f"p{t} AS (SELECT p.id, p.r, rin.nb AS pos, {t} AS t "
            f"FROM p{t-1} p JOIN ind ON ind.v = p.pos "
            f"JOIN rin ON rin.v = p.pos AND rin.idx = ({h} % ind.cnt))"
        )
    union = " UNION ALL ".join(
        f"SELECT * FROM p{t}" for t in range(walk_length + 1)
    )
    ctes.append(f"ap AS ({union})")
    ctes.append(
        "sp AS (SELECT id AS seed, r, t, pos FROM ap WHERE id % 200 = 0)"
    )
    ctes.append(
        "meet AS (SELECT sp.seed, ap.id, ap.r, min(ap.t) AS mt FROM ap "
        "JOIN sp ON sp.r = ap.r AND sp.t = ap.t AND sp.pos = ap.pos "
        "GROUP BY sp.seed, ap.id, ap.r)"
    )
    mcase = "CASE mt " + " ".join(
        f"WHEN {t} THEN {m}" for t, m in enumerate(micros)
    ) + " END"
    ctes.append(f"mu AS (SELECT seed, id, {mcase} AS m FROM meet)")
    denom = n_walks * 1_000_000
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
    SELECT seed, id, count(*)::BIGINT AS met_reps,
           round(sum(m) * 1.0 / {denom}, 6) AS simrank
    FROM mu GROUP BY seed, id"""
    )


def _percolation_chain_sql(rounds: int, p_ppm: int) -> str:
    """Replay of percolation_sample fixed rounds: kept = distinct
    non-loop arcs under the md5 edge coin, then `rounds` closure
    expansions. Explicit DISTINCT per level (DuckDB evaluates plain
    UNION between non-recursive CTE branches as UNION ALL — the
    bow-tie oracle's documented quirk)."""
    thr = p_ppm * (1 << 32) // 1_000_000
    ctes = [
        _EDGE_CTE,
        _VERT_CTE,
        "de AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst)",
        "kept AS (SELECT src, dst FROM de WHERE ('0x' || substring(md5("
        "'burn:' || src::VARCHAR || ':' || dst::VARCHAR), 1, 8))"
        f"::UINTEGER::BIGINT < {thr})",
        "r0 AS (SELECT id FROM v WHERE id % 100 = 0)",
    ]
    for t in range(1, rounds + 1):
        ctes.append(
            f"r{t} AS (SELECT DISTINCT id FROM ("
            f"SELECT id FROM r{t-1} UNION ALL "
            f"SELECT kept.dst AS id FROM kept JOIN r{t-1} ON r{t-1}.id = kept.src))"
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id FROM r{rounds}"


def _wl_chain_sql(rounds: int) -> str:
    """Replay of wl_signatures: sig0 = u32(md5('wl0:' || degree)); each
    round sums per-neighbor u32(md5('wlh:' || sig)) and rehashes
    'wl{t}:sig:sum' — all integer, order-independent."""

    def u32(expr: str) -> str:
        return f"('0x' || substring(md5({expr}), 1, 8))::UINTEGER::BIGINT"

    ctes = [
        _EDGE_CTE,
        _VERT_CTE,
        _SYM_CTE,
        "wdeg AS (SELECT src AS id, count(*) AS d FROM sym GROUP BY src)",
        "s0 AS (SELECT v.id, " + u32("'wl0:' || coalesce(wdeg.d, 0)::VARCHAR")
        + " AS wl_sig FROM v LEFT JOIN wdeg ON wdeg.id = v.id)",
    ]
    for t in range(1, rounds + 1):
        hexpr = u32("'wlh:' || s.wl_sig::VARCHAR")
        ctes.append(
            f"h{t} AS (SELECT sym.dst AS id, {hexpr} AS h "
            f"FROM sym JOIN s{t-1} s ON s.id = sym.src)"
        )
        ctes.append(
            f"m{t} AS (SELECT id, sum(h)::BIGINT AS sm FROM h{t} GROUP BY id)"
        )
        sexpr = u32(
            f"'wl{t}:' || s.wl_sig::VARCHAR || ':' || coalesce(m.sm, 0)::VARCHAR"
        )
        ctes.append(
            f"s{t} AS (SELECT s.id, {sexpr} AS wl_sig "
            f"FROM s{t-1} s LEFT JOIN m{t} m ON m.id = s.id)"
        )
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT id, wl_sig FROM s{rounds}"
    )


def _lp_weighted_chain_sql(steps: int) -> str:
    """Replay of label_propagation_weighted fixed rounds: und weights =
    arc multiplicity over unordered pairs (both directions), votes =
    summed weight, argmax by (wsum DESC, label ASC)."""
    ctes = [
        _EDGE_CTE,
        _VERT_CTE,
        ("undw AS (SELECT least(src, dst) AS lo, greatest(src, dst) AS hi, "
         "count(*)::BIGINT AS w FROM e WHERE src <> dst GROUP BY 1, 2)"),
        ("symw AS (SELECT lo AS u, hi AS v, w FROM undw "
         "UNION ALL SELECT hi, lo, w FROM undw)"),
        "wl0 AS (SELECT id, id AS label FROM v)",
    ]
    for i in range(1, steps + 1):
        ctes.append(
            f"wc{i} AS (SELECT symw.v AS id, l.label AS m, sum(symw.w) AS c "
            f"FROM symw JOIN wl{i-1} l ON l.id = symw.u GROUP BY symw.v, l.label)"
        )
        ctes.append(
            f"wp{i} AS (SELECT id, m, row_number() OVER (PARTITION BY id "
            f"ORDER BY c DESC, m ASC) AS rn FROM wc{i})"
        )
        ctes.append(
            f"wl{i} AS (SELECT v.id AS id, coalesce(p.m, v.id) AS label FROM v "
            f"LEFT JOIN (SELECT id, m FROM wp{i} WHERE rn = 1) p ON p.id = v.id)"
        )
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT id, label FROM wl{steps}"
    )


def _lp_seeded_chain_sql(steps: int) -> str:
    """Replay of seeded_label_propagation fixed rounds: s0 = clamped
    seeds / NULL elsewhere; each round counts LABELED-neighbor votes,
    argmax by (count DESC, label ASC), seeds keep their label, voteless
    vertices keep their current (possibly NULL) label."""
    ctes = [
        _EDGE_CTE,
        _VERT_CTE,
        _SYM_CTE,
        "s0 AS (SELECT id, CASE WHEN id % 50 = 0 THEN id % 7 END AS label, "
        "CASE WHEN id % 50 = 0 THEN 1 ELSE 0 END AS seed FROM v)",
    ]
    for i in range(1, steps + 1):
        ctes.append(
            f"c{i} AS (SELECT sym.dst AS id, l.label AS m, count(*) AS c FROM sym "
            f"JOIN s{i-1} l ON l.id = sym.src WHERE l.label IS NOT NULL "
            f"GROUP BY sym.dst, l.label)"
        )
        ctes.append(
            f"p{i} AS (SELECT id, m, row_number() OVER (PARTITION BY id "
            f"ORDER BY c DESC, m ASC) AS rn FROM c{i})"
        )
        ctes.append(
            f"s{i} AS (SELECT s.id, CASE WHEN s.seed = 1 THEN s.label "
            f"ELSE coalesce(p.m, s.label) END AS label, s.seed FROM s{i-1} s "
            f"LEFT JOIN (SELECT id, m FROM p{i} WHERE rn = 1) p ON p.id = s.id)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, label, seed FROM s{steps}"
    )


def _louvain_chain_sql(rounds: int, weight_expr: str | None = None) -> str:
    """Replay of algorithms/louvain.py's move rounds: integer weights,
    HUGEINT scores (== Spark DECIMAL(38,0)), direction-alternating
    moves (odd rounds c < a, even rounds c > a), strict improvement,
    smallest-community tie-break. ``weight_expr`` (a SQL expression over
    an arc's src/dst) replays the weight_col path — pair weight =
    sum over arcs (the louvain weight law) instead of multiplicity."""
    wagg = (
        f"sum(({weight_expr})::BIGINT)::BIGINT"
        if weight_expr is not None
        else "count(*)::BIGINT"
    )
    ctes = [
        _EDGE_CTE,
        _VERT_CTE,
        ("und AS (SELECT least(src, dst) AS lo, greatest(src, dst) AS hi, "
         f"{wagg} AS w FROM e WHERE src <> dst GROUP BY 1, 2)"),
        ("symw AS (SELECT lo AS u, hi AS v, w FROM und "
         "UNION ALL SELECT hi AS u, lo AS v, w FROM und)"),
        ("s AS (SELECT v.id, coalesce(sum(symw.w), 0)::BIGINT AS st "
         "FROM v LEFT JOIN symw ON symw.u = v.id GROUP BY v.id)"),
        "tm AS (SELECT sum(st)::BIGINT AS m2 FROM s)",
        "c0 AS (SELECT id, id AS comm FROM v)",
    ]
    for i in range(1, rounds + 1):
        op = "<" if i % 2 == 1 else ">"
        ctes += [
            (f"sig{i} AS (SELECT c.comm, sum(s.st)::BIGINT AS tot "
             f"FROM c{i-1} c JOIN s ON s.id = c.id GROUP BY c.comm)"),
            (f"k{i} AS (SELECT symw.u AS id, c.comm AS c, sum(symw.w)::BIGINT AS kw "
             f"FROM symw JOIN c{i-1} c ON c.id = symw.v GROUP BY 1, 2)"),
            (f"b{i} AS (SELECT c.id, c.comm AS a, s.st AS st, g.tot AS tota, "
             f"coalesce(k.kw, 0)::BIGINT AS kwa "
             f"FROM c{i-1} c JOIN s ON s.id = c.id "
             f"JOIN sig{i} g ON g.comm = c.comm "
             f"LEFT JOIN k{i} k ON k.id = c.id AND k.c = c.comm)"),
            (f"mv{i} AS (SELECT k.id, k.c, "
             f"CAST(t.m2 AS HUGEINT) * k.kw - CAST(b.st AS HUGEINT) * g.tot AS score "
             f"FROM k{i} k JOIN b{i} b ON b.id = k.id "
             f"JOIN sig{i} g ON g.comm = k.c CROSS JOIN tm t "
             f"WHERE k.c {op} b.a)"),
            (f"bs{i} AS (SELECT id, c, score, row_number() OVER "
             f"(PARTITION BY id ORDER BY score DESC, c ASC) AS rn FROM mv{i})"),
            (f"c{i} AS (SELECT b.id, CASE WHEN m.score IS NOT NULL AND m.score > "
             f"CAST(t.m2 AS HUGEINT) * b.kwa - CAST(b.st AS HUGEINT) * (b.tota - b.st) "
             f"THEN m.c ELSE b.a END AS comm "
             f"FROM b{i} b LEFT JOIN bs{i} m ON m.id = b.id AND m.rn = 1 "
             f"CROSS JOIN tm t)"),
        ]
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, CAST(comm AS BIGINT) AS comm FROM c{rounds}"
    )


def _sssp_chain_sql(steps: int) -> str:
    ew = (f"e AS (SELECT l_orderkey % {MOD} AS src, l_partkey % {MOD} AS dst, "
          f"1.0 + (l_partkey % 5) AS w FROM lineitem)")
    ctes = [ew, _VERT_CTE.replace("FROM e", "FROM e").replace("src AS id", "src AS id"),
            f"r0 AS (SELECT id, CASE WHEN id = {SSSP_SOURCE} THEN 0.0 END AS dist FROM v)"]
    for i in range(1, steps + 1):
        ctes.append(
            f"m{i} AS (SELECT e.dst AS id, min(r.dist + e.w) AS md FROM e "
            f"JOIN r{i-1} r ON r.id = e.src WHERE r.dist IS NOT NULL GROUP BY e.dst)"
        )
        ctes.append(
            f"r{i} AS (SELECT v.id AS id, CASE WHEN r.dist IS NULL AND m.md IS NULL THEN NULL "
            f"ELSE least(coalesce(r.dist, 1e18), coalesce(m.md, 1e18)) END AS dist "
            f"FROM v LEFT JOIN r{i-1} r ON r.id = v.id LEFT JOIN m{i} m ON m.id = v.id)"
        )
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT id, round(coalesce(dist, -1.0), 6) AS dist FROM r{steps}")


def _topo_chain_sql(steps: int) -> str:
    """Bounded longest-walk recurrence replay (layering.topological_depth):
    d_t(v) = greatest(d_{t-1}(v), 1 + max over distinct simple arcs (u, v)
    of d_{t-1}(u)); all BIGINT."""
    ctes = [
        _EDGE_CTE,
        _VERT_CTE,
        "arcs AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst)",
        "t0 AS (SELECT id, CAST(0 AS BIGINT) AS depth FROM v)",
    ]
    for i in range(1, steps + 1):
        ctes.append(
            f"tm{i} AS (SELECT a.dst AS id, max(d.depth) + 1 AS md "
            f"FROM arcs a JOIN t{i-1} d ON d.id = a.src GROUP BY a.dst)"
        )
        ctes.append(
            f"t{i} AS (SELECT v.id, greatest(d.depth, coalesce(m.md, 0)) AS depth "
            f"FROM v JOIN t{i-1} d ON d.id = v.id LEFT JOIN tm{i} m ON m.id = v.id)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, CAST(depth AS BIGINT) AS depth FROM t{steps}"
    )


def _cocitation_sql(k: int, coupling: bool) -> str:
    """Replay of structure.cocitation: distinct simple arcs, pivot
    self-join, symmetrized per-vertex (weight DESC, partner ASC) top-k."""
    piv = (
        "SELECT dst AS z, src AS m FROM arcs"
        if coupling
        else "SELECT src AS z, dst AS m FROM arcs"
    )
    return f"""
        WITH {_EDGE_CTE},
        arcs AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
        piv AS ({piv}),
        p AS (SELECT x.m AS a, y.m AS b, count(*)::BIGINT AS weight
              FROM piv x JOIN piv y ON x.z = y.z
              WHERE x.m < y.m GROUP BY x.m, y.m),
        sym AS (SELECT a AS id, b AS partner, weight FROM p
                UNION ALL SELECT b, a, weight FROM p),
        r AS (SELECT id, partner, weight,
                     row_number() OVER (PARTITION BY id
                       ORDER BY weight DESC, partner ASC) AS rnk
              FROM sym)
        SELECT id, partner, weight, CAST(rnk AS INT) AS rnk
        FROM r WHERE rnk <= {k}
    """


def _pagerank_chain_sql(steps: int, personalized: bool = False) -> str:
    ctes = [_EDGE_CTE, _VERT_CTE, _DEG_CTE, "r0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS rank FROM v)"]
    if personalized:
        # seeds = ids % 10 == 0, weight 1.0, normalized to sum to V — the
        # same arithmetic order as the engine: (1.0 * V) / total
        ctes.append(
            "p AS (SELECT id, CASE WHEN id % 10 = 0 THEN "
            "(1.0 * (SELECT count(*) FROM v)) / (SELECT count(*) FROM v WHERE id % 10 = 0) "
            "ELSE 0.0 END AS p FROM v)"
        )
        base = "0.15 * p.p"
        join_p = " JOIN p ON p.id = v.id"
    else:
        base = "0.15"
        join_p = ""
    for i in range(1, steps + 1):
        ctes.append(
            f"r{i} AS (SELECT v.id AS id, {base} + 0.85 * coalesce(s.s, 0) AS rank FROM v{join_p} "
            f"LEFT JOIN (SELECT e.dst AS id, sum(r.rank / deg.d) AS s FROM e "
            f"JOIN deg ON deg.id = e.src JOIN r{i-1} r ON r.id = e.src GROUP BY e.dst) s "
            f"ON s.id = v.id)"
        )
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT id, round(rank, 6) AS rank FROM r{steps}"
    )


def _spam_mass_chain_sql(steps: int) -> str:
    """Chained-CTE replay of algorithms/trust.spam_mass: the classic
    PageRank chain (r{i}) and the trusted-seed personalized chain (t{i},
    seeds = ids % 10 = 0, weights normalized to sum V — the engine's
    convention) run side by side, then relative spam mass from the
    UNROUNDED finals in the same arithmetic order as the engine."""
    ctes = [
        _EDGE_CTE,
        _VERT_CTE,
        _DEG_CTE,
        "p AS (SELECT id, CASE WHEN id % 10 = 0 THEN "
        "(1.0 * (SELECT count(*) FROM v)) / (SELECT count(*) FROM v WHERE id % 10 = 0) "
        "ELSE 0.0 END AS p FROM v)",
        "r0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS rank FROM v)",
        "t0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS rank FROM v)",
    ]
    for i in range(1, steps + 1):
        ctes.append(
            f"r{i} AS (SELECT v.id AS id, 0.15 + 0.85 * coalesce(s.s, 0) AS rank FROM v "
            f"LEFT JOIN (SELECT e.dst AS id, sum(r.rank / deg.d) AS s FROM e "
            f"JOIN deg ON deg.id = e.src JOIN r{i-1} r ON r.id = e.src GROUP BY e.dst) s "
            f"ON s.id = v.id)"
        )
        ctes.append(
            f"t{i} AS (SELECT v.id AS id, 0.15 * p.p + 0.85 * coalesce(s.s, 0) AS rank "
            f"FROM v JOIN p ON p.id = v.id "
            f"LEFT JOIN (SELECT e.dst AS id, sum(t.rank / deg.d) AS s FROM e "
            f"JOIN deg ON deg.id = e.src JOIN t{i-1} t ON t.id = e.src GROUP BY e.dst) s "
            f"ON s.id = v.id)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT r.id AS id, round(r.rank, 6) AS rank, "
        + "round(t.rank, 6) AS trust, "
        + "round((r.rank - t.rank) / r.rank, 6) AS spam_mass "
        + f"FROM r{steps} r JOIN t{steps} t ON t.id = r.id"
    )


def _effective_diameter_sql(h: int, m: int, q: float) -> str:
    """Replay of anf.effective_diameter_estimate: the sketch chain +
    per-vertex HLL estimates per hop (same expressions as
    _harmonic_chain_sql), each rounded to integer micros BEFORE the
    global BIGINT sum (order-independent), then the Boldi-Vigna linear
    interpolation as a CASE over the hop totals — every float op in the
    same order as effective_diameter()."""
    from duwamish_spark.algorithms.anf import _alpha

    am2 = repr(_alpha(m) * m * m)
    thresh = repr(2.5 * m)
    fm = repr(float(m))
    ctes = _anf_chain_ctes(h, m)
    for t in range(0, h + 1):
        ctes.append(
            f"r{t} AS (SELECT id, {m} - count(*) AS zeros, "
            f"{am2}::DOUBLE / (({m} - count(*)) + sum(power(2.0, -val))) AS raw "
            f"FROM s{t} GROUP BY id)"
        )
        ctes.append(
            f"est{t} AS (SELECT id, CASE WHEN raw <= {thresh}::DOUBLE "
            f"AND zeros > 0 THEN {fm}::DOUBLE * ln({fm}::DOUBLE / zeros) "
            f"ELSE raw END AS est FROM r{t})"
        )
        ctes.append(
            f"n{t} AS (SELECT (sum(round(est * 1000000.0)::BIGINT))::BIGINT AS n "
            f"FROM est{t})"
        )
    ctes.append(
        "tot AS (SELECT "
        + ", ".join(f"(SELECT n FROM n{t}) AS n{t}" for t in range(0, h + 1))
        + ")"
    )
    tgt = f"({repr(q)}::DOUBLE * n{h}::DOUBLE)"
    branches = ["WHEN n0::DOUBLE >= " + tgt + " THEN 0.0::DOUBLE"]
    for i in range(1, h + 1):
        frac = (
            f"{repr(float(i - 1))}::DOUBLE + "
            f"({tgt} - n{i-1}::DOUBLE) / (n{i}::DOUBLE - n{i-1}::DOUBLE)"
        )
        branches.append(
            f"WHEN n{i}::DOUBLE >= {tgt} THEN "
            f"(CASE WHEN n{i} = n{i-1} THEN {repr(float(i))}::DOUBLE ELSE {frac} END)"
        )
    case = "CASE " + " ".join(branches) + f" ELSE {repr(float(h))}::DOUBLE END"
    cols = ", ".join(f"n{t}" for t in range(0, h + 1))
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT {cols}, round({case}, 6) AS eff_diameter FROM tot"
    )


def _pagerank_dangling_chain_sql(steps: int, src_cap: int = 500) -> str:
    """Chained-CTE replay of the dangling-redistribute variant on the
    src<src_cap subgraph: per step, D = Σ rank over out-degree-0 vertices
    of the PREVIOUS state, every vertex receives D/V inside the damping
    factor — the same arithmetic order as the engine
    (coalesce(msum,0) + dm/V, then base + d·(...))."""
    ctes = [
        f"e AS (SELECT l_orderkey % {MOD} AS src, l_partkey % {MOD} AS dst "
        f"FROM lineitem WHERE (l_orderkey % {MOD}) < {src_cap})",
        _VERT_CTE,
        "deg AS (SELECT v.id AS id, count(e.src) AS d FROM v "
        "LEFT JOIN e ON e.src = v.id GROUP BY v.id)",
        "dang AS (SELECT id FROM deg WHERE d = 0)",
        "nv AS (SELECT count(*) AS n FROM v)",
        "r0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS rank FROM v)",
    ]
    for i in range(1, steps + 1):
        ctes.append(
            f"dm{i-1} AS (SELECT coalesce(sum(r.rank), 0.0) / (SELECT n FROM nv) AS m "
            f"FROM r{i-1} r JOIN dang ON dang.id = r.id)"
        )
        ctes.append(
            f"r{i} AS (SELECT v.id AS id, "
            f"0.15 + 0.85 * (coalesce(s.s, 0) + (SELECT m FROM dm{i-1})) AS rank "
            f"FROM v LEFT JOIN (SELECT e.dst AS id, sum(r.rank / deg.d) AS s FROM e "
            f"JOIN deg ON deg.id = e.src JOIN r{i-1} r ON r.id = e.src GROUP BY e.dst) s "
            f"ON s.id = v.id)"
        )
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT id, round(rank, 6) AS rank FROM r{steps}"
    )


def _source_cap_sql(cap: int = 7) -> str:
    """Replays cap_per_key row-for-row: row_number within source over the
    (u32(md5('cap:' || id)), id) order, keep rank <= cap."""
    return (
        "WITH h AS (SELECT doc_id, source, ('0x' || substring(md5('cap:' || "
        "doc_id::VARCHAR), 1, 8))::UINTEGER::BIGINT AS u FROM documents), "
        "r AS (SELECT doc_id, source, row_number() OVER "
        "(PARTITION BY source ORDER BY u, doc_id) AS cap_rank FROM h) "
        f"SELECT doc_id, source, cap_rank FROM r WHERE cap_rank <= {cap}"
    )


def _pagerank_weighted_chain_sql(steps: int) -> str:
    """Weighted chained-CTE replay: per-edge w = wt / out_strength
    (strength sums are exact — weights are small integers-as-doubles),
    messages rank * w, same update as classic."""
    ew = (
        f"e AS (SELECT l_orderkey % {MOD} AS src, l_partkey % {MOD} AS dst, "
        f"1.0 + (l_suppkey % 4) AS wt FROM lineitem)"
    )
    ctes = [
        ew,
        _VERT_CTE,
        "st AS (SELECT src, sum(wt) AS s FROM e GROUP BY src)",
        "ew AS (SELECT e.src, e.dst, e.wt / st.s AS w FROM e JOIN st ON st.src = e.src)",
        "r0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS rank FROM v)",
    ]
    for i in range(1, steps + 1):
        ctes.append(
            f"r{i} AS (SELECT v.id AS id, 0.15 + 0.85 * coalesce(s.s2, 0) AS rank FROM v "
            f"LEFT JOIN (SELECT ew.dst AS id, sum(r.rank * ew.w) AS s2 FROM ew "
            f"JOIN r{i-1} r ON r.id = ew.src GROUP BY ew.dst) s ON s.id = v.id)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, round(rank, 6) AS rank FROM r{steps}"
    )


def _hits_chain_sql(iters: int) -> str:
    """Chained-CTE HITS replay: araw from the previous hub vector, hraw
    from araw, then one L2 normalization per vector per iteration (the
    half-step norm cancels — same algebra as algorithms/hits.py)."""
    ctes = [_EDGE_CTE, _VERT_CTE,
            "h0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS hub FROM v)"]
    for i in range(1, iters + 1):
        ctes.append(
            f"ar{i} AS (SELECT e.dst AS id, sum(h.hub) AS r FROM e "
            f"JOIN h{i-1} h ON h.id = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"hr{i} AS (SELECT e.src AS id, sum(a.r) AS r FROM e "
            f"JOIN ar{i} a ON a.id = e.dst GROUP BY e.src)"
        )
        ctes.append(
            f"a{i} AS (SELECT v.id AS id, coalesce(x.r, 0) / "
            f"(SELECT sqrt(sum(r*r)) FROM ar{i}) AS auth "
            f"FROM v LEFT JOIN ar{i} x ON x.id = v.id)"
        )
        ctes.append(
            f"h{i} AS (SELECT v.id AS id, coalesce(x.r, 0) / "
            f"(SELECT sqrt(sum(r*r)) FROM hr{i}) AS hub "
            f"FROM v LEFT JOIN hr{i} x ON x.id = v.id)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT a{iters}.id AS id, round(auth, 6) AS auth, round(hub, 6) AS hub"
        + f"\nFROM a{iters} JOIN h{iters} ON h{iters}.id = a{iters}.id"
    )


def _salsa_chain_sql(iters: int) -> str:
    """Chained-CTE SALSA replay: degree weights wf = 1.0/outdeg,
    wb = 1.0/indeg folded into edge relations (the engine's persisted
    e_fwd/e_bwd), then per iteration auth = Σ hub·wf by dst and
    hub = Σ auth·wb by src — same float op order as algorithms/salsa.py
    (multiply by the precomputed reciprocal, never divide). The sparse
    a{i}/h{i} relations chain by plain JOINs: every dst has in-edges and
    every src has out-edges by construction, so no coalesce is needed
    until the final V-row projection."""
    ctes = [
        _EDGE_CTE, _VERT_CTE,
        "od AS (SELECT src, count(*) AS od FROM e GROUP BY src)",
        "idg AS (SELECT dst, count(*) AS idg FROM e GROUP BY dst)",
        "ef AS (SELECT e.src, e.dst, 1.0 / od.od AS wf FROM e JOIN od ON od.src = e.src)",
        "eb AS (SELECT e.src, e.dst, 1.0 / idg.idg AS wb FROM e JOIN idg ON idg.dst = e.dst)",
        "h0 AS (SELECT od.src AS id, 1.0 / (SELECT count(*) FROM od) AS hub FROM od)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"a{i} AS (SELECT ef.dst AS id, sum(h.hub * ef.wf) AS a FROM ef "
            f"JOIN h{i-1} h ON h.id = ef.src GROUP BY ef.dst)"
        )
        ctes.append(
            f"h{i} AS (SELECT eb.src AS id, sum(a.a * eb.wb) AS hub FROM eb "
            f"JOIN a{i} a ON a.id = eb.dst GROUP BY eb.src)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT v.id AS id, round(coalesce(a.a, 0), 6) AS auth, "
        + "round(coalesce(h.hub, 0), 6) AS hub"
        + f"\nFROM v LEFT JOIN a{iters} a ON a.id = v.id "
        + f"LEFT JOIN h{iters} h ON h.id = v.id"
    )


def _eigenvector_chain_sql(iters: int) -> str:
    """Chained-CTE eigenvector power-iteration replay: in-edge sum of
    the previous vector, then one L2 normalization per iteration (same
    algebra as algorithms/eigenvector.py; norm is over vertices with
    in-messages only, matching the engine's combine relation)."""
    ctes = [_EDGE_CTE, _VERT_CTE,
            "x0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS value FROM v)"]
    for i in range(1, iters + 1):
        ctes.append(
            f"r{i} AS (SELECT e.dst AS id, sum(x.value) AS r FROM e "
            f"JOIN x{i-1} x ON x.id = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"x{i} AS (SELECT v.id AS id, coalesce(t.r, 0) / "
            f"(SELECT sqrt(sum(r*r)) FROM r{i}) AS value "
            f"FROM v LEFT JOIN r{i} t ON t.id = v.id)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, round(value, 6) AS value FROM x{iters}"
    )


def _katz_chain_sql(iters: int, alpha: float, beta: float) -> str:
    """Chained-CTE Katz replay: x_i = beta + alpha * (in-edge sum of
    x_{i-1}), no normalization (algorithms/eigenvector.py)."""
    ctes = [_EDGE_CTE, _VERT_CTE,
            f"x0 AS (SELECT id, CAST({beta} AS DOUBLE) AS value FROM v)"]
    for i in range(1, iters + 1):
        ctes.append(
            f"r{i} AS (SELECT e.dst AS id, sum(x.value) AS r FROM e "
            f"JOIN x{i-1} x ON x.id = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"x{i} AS (SELECT v.id AS id, "
            f"{beta} + {alpha} * coalesce(t.r, 0) AS value "
            f"FROM v LEFT JOIN r{i} t ON t.id = v.id)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, round(value, 6) AS value FROM x{iters}"
    )


def _coloring_chain_sql(rounds: int) -> str:
    """Chained-CTE Jones-Plassmann replay: per round, strict local
    (p, id)-max vertices among the uncolored take the smallest color
    absent from their colored neighbors — the mex is a bounded CASE over
    per-color presence flags (colors after round r are <= r-1), exactly
    the engine's construction (algorithms/coloring.py)."""
    ctes = [
        _EDGE_CTE, _VERT_CTE, _SYM_CTE,
        "pr AS (SELECT id, ('0x' || substring(md5('coloring:' || id::VARCHAR), "
        "1, 8))::UINTEGER::BIGINT AS p FROM v)",
        "u0 AS (SELECT id, p FROM pr)",
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"w{i} AS (SELECT a.id FROM u{i-1} a WHERE NOT EXISTS ("
            f"SELECT 1 FROM sym s JOIN u{i-1} b ON b.id = s.dst "
            f"WHERE s.src = a.id AND (b.p > a.p OR (b.p = a.p AND b.id > a.id))))"
        )
        if i == 1:
            ctes.append(
                "c1 AS (SELECT id, 0::BIGINT AS color, 1::BIGINT AS round FROM w1)"
            )
        else:
            flags = ", ".join(
                f"max(CASE WHEN c.color = {c} THEN 1 ELSE 0 END) AS has{c}"
                for c in range(i - 1)
            )
            ctes.append(
                f"f{i} AS (SELECT s.src AS id, {flags} FROM sym s "
                f"JOIN w{i} w ON w.id = s.src JOIN c{i-1} c ON c.id = s.dst "
                f"GROUP BY s.src)"
            )
            mex = (
                "CASE "
                + " ".join(
                    f"WHEN coalesce(has{c}, 0) = 0 THEN {c}" for c in range(i - 1)
                )
                + f" ELSE {i-1} END"
            )
            ctes.append(
                f"n{i} AS (SELECT w.id, ({mex})::BIGINT AS color, "
                f"{i}::BIGINT AS round FROM w{i} w LEFT JOIN f{i} f ON f.id = w.id)"
            )
            ctes.append(
                f"c{i} AS (SELECT id, color, round FROM c{i-1} "
                f"UNION ALL SELECT id, color, round FROM n{i})"
            )
        ctes.append(
            f"u{i} AS (SELECT id, p FROM u{i-1} "
            f"WHERE id NOT IN (SELECT id FROM w{i}))"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT v.id AS id, c.color AS color, c.round AS round"
        + f"\nFROM v LEFT JOIN c{rounds} c ON c.id = v.id"
    )


def _kcore_chain_sql(k: int, rounds: int) -> str:
    """Chained-CTE simultaneous peel on the symmetrized simple graph:
    round i computes degrees among round-(i-1) survivors and keeps
    degree >= k. With ``rounds`` pinned at the engine's measured halt
    round (first zero-drop round), the final degree table IS the k-core."""
    ctes = [_EDGE_CTE, _SYM_CTE, "a0 AS (SELECT DISTINCT src AS id FROM sym)"]
    for i in range(1, rounds + 1):
        ctes.append(
            f"d{i} AS (SELECT sym.src AS id, count(*) AS degree FROM sym "
            f"JOIN a{i-1} x ON x.id = sym.src JOIN a{i-1} y ON y.id = sym.dst "
            f"GROUP BY sym.src)"
        )
        ctes.append(f"a{i} AS (SELECT id FROM d{i} WHERE degree >= {k})")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, degree FROM d{rounds} WHERE degree >= {k}"
    )


# canonical simple edges + symmetrized adjacency + simple degree — the
# shared substrate of the structure oracles (structure.py's
# canonical_edges / _simple_adjacency / _simple_degrees)
_CANON_CTE = (
    "c AS (SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst "
    "FROM e WHERE src <> dst)"
)
_SADJ_CTE = "sadj AS (SELECT src AS u, dst AS w2 FROM c UNION ALL SELECT dst, src FROM c)"
_SDEG_CTE = "sdeg AS (SELECT u AS id, count(*) AS degree FROM sadj GROUP BY u)"
# id-ordered triangle enumeration (a < b < c3, each triangle once) —
# same triangle SET as the engine's degree-ordered orientation
_TRI_CTE = (
    "tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c3 "
    "FROM c e1 JOIN c e2 ON e1.dst = e2.src "
    "JOIN c e3 ON e3.src = e1.src AND e3.dst = e2.dst)"
)


def _coreness_chain_sql(rounds: int) -> str:
    """h-index iteration replay: est0 = simple degree; each round ranks
    every neighborhood's estimates (cv DESC, neighbor ASC) and takes
    max(least(rank, value)) — all integers."""
    ctes = [
        _EDGE_CTE,
        _VERT_CTE,
        _CANON_CTE,
        _SADJ_CTE,
        "est0 AS (SELECT u AS id, count(*)::BIGINT AS c FROM sadj GROUP BY u)",
    ]
    for t in range(1, rounds + 1):
        ctes.append(
            f"r{t} AS (SELECT sadj.u AS nid, sadj.w2 AS nv, est.c AS cv, "
            f"row_number() OVER (PARTITION BY sadj.u "
            f"ORDER BY est.c DESC, sadj.w2 ASC) AS rn "
            f"FROM sadj JOIN est{t-1} est ON est.id = sadj.w2)"
        )
        ctes.append(
            f"est{t} AS (SELECT nid AS id, max(least(rn, cv)) AS c "
            f"FROM r{t} GROUP BY nid)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT v.id AS id, coalesce(e2.c, 0)::BIGINT AS coreness "
        + f"FROM v LEFT JOIN est{rounds} e2 ON e2.id = v.id"
    )


def _attr_assortativity_sql() -> str:
    """Replay of structure.attribute_assortativity with labels id % 7:
    direction-doubled mixing moments, DECIMAL(38,0) sum_a2, the
    engine's exact float expression order."""
    return f"""
        WITH {_EDGE_CTE}, {_VERT_CTE}, {_CANON_CTE},
        lab AS (SELECT id, id % 7 AS label FROM v),
        tg AS (SELECT a.label AS ls, b.label AS ld FROM c
               JOIN lab a ON a.id = c.src JOIN lab b ON b.id = c.dst),
        agg AS (SELECT (2 * count(*))::BIGINT AS m2,
                       (2 * coalesce(sum(CASE WHEN ls = ld THEN 1 ELSE 0 END), 0))::BIGINT AS trace2
                FROM tg),
        ai AS (SELECT label, count(*) AS a FROM
               (SELECT ls AS label FROM tg UNION ALL SELECT ld FROM tg)
               GROUP BY label),
        sa AS (SELECT coalesce(sum(a::HUGEINT * a::HUGEINT), 0)::DECIMAL(38,0) AS sum_a2
               FROM ai)
        SELECT m2, trace2, sum_a2::DOUBLE AS sum_a2,
               CASE WHEN m2 > 0 AND
                         (1.0 - sum_a2::DOUBLE / (m2::DOUBLE * m2::DOUBLE)) <> 0.0
                    THEN round(
                        (trace2::DOUBLE / m2::DOUBLE
                         - sum_a2::DOUBLE / (m2::DOUBLE * m2::DOUBLE))
                        / (1.0 - sum_a2::DOUBLE / (m2::DOUBLE * m2::DOUBLE)), 6)
               END AS assortativity
        FROM agg CROSS JOIN sa
    """


def _rich_club_sql() -> str:
    """Replay of structure.rich_club: per-degree-value histogram of
    vertices and of edge min-degrees, strict-suffix sums by window,
    rows at occurring degree values; single final division round(6)."""
    return f"""
        WITH {_EDGE_CTE}, {_CANON_CTE}, {_SADJ_CTE}, {_SDEG_CTE},
        em AS (SELECT least(d1.degree, d2.degree) AS val
               FROM c JOIN sdeg d1 ON d1.id = c.src
               JOIN sdeg d2 ON d2.id = c.dst),
        nd AS (SELECT degree AS val, count(*) AS nodes FROM sdeg GROUP BY degree),
        ed AS (SELECT val, count(*) AS edgs FROM em GROUP BY val),
        dom AS (SELECT coalesce(nd.val, ed.val) AS val,
                       coalesce(nodes, 0) AS nodes, coalesce(edgs, 0) AS edgs
                FROM nd FULL OUTER JOIN ed ON nd.val = ed.val),
        prof AS (SELECT val, nodes,
            coalesce(sum(nodes) OVER (ORDER BY val DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS n_rich,
            coalesce(sum(edgs) OVER (ORDER BY val DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS e_rich
            FROM dom)
        SELECT val AS k, n_rich, e_rich,
               CASE WHEN n_rich >= 2
                    THEN round(2.0 * e_rich / (n_rich * (n_rich - 1.0)), 6)
               END AS phi
        FROM prof WHERE nodes > 0
    """


def _trussness_fixed_sql(rounds: int) -> str:
    """Truss h-index iteration replay: est0 = support + 2; each round
    joins both partner-edge estimates into the triangle-edge incidence,
    ranks rho = least(partner estimates) descending per edge, and takes
    max(least(rn + 2, rho)) — all integers. Edges outside any triangle
    coalesce to 2."""
    ctes = [
        _EDGE_CTE,
        _CANON_CTE,
        _TRI_CTE,
        # tri has a < b < c3, so all three member edges are canonical
        "t3 AS (SELECT a AS e1s, b AS e1t, a AS e2s, c3 AS e2t, "
        "b AS e3s, c3 AS e3t FROM tri)",
        "inc AS ("
        "SELECT e1s AS s, e1t AS t, e2s AS p1s, e2t AS p1t, e3s AS p2s, e3t AS p2t FROM t3 "
        "UNION ALL "
        "SELECT e2s, e2t, e1s, e1t, e3s, e3t FROM t3 "
        "UNION ALL "
        "SELECT e3s, e3t, e1s, e1t, e2s, e2t FROM t3)",
        "est0 AS (SELECT s, t, (count(*) + 2)::BIGINT AS c FROM inc GROUP BY s, t)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"r{r} AS (SELECT inc.s AS s, inc.t AS t, "
            f"least(a.c, b.c) AS rho, "
            f"row_number() OVER (PARTITION BY inc.s, inc.t "
            f"ORDER BY least(a.c, b.c) DESC, inc.p1s, inc.p1t, inc.p2s, inc.p2t) AS rn "
            f"FROM inc JOIN est{r-1} a ON a.s = inc.p1s AND a.t = inc.p1t "
            f"JOIN est{r-1} b ON b.s = inc.p2s AND b.t = inc.p2t)"
        )
        ctes.append(
            f"est{r} AS (SELECT s, t, max(least(rn + 2, rho))::BIGINT AS c "
            f"FROM r{r} GROUP BY s, t)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT c.src AS src, c.dst AS dst, coalesce(e2.c, 2)::BIGINT AS trussness "
        + f"FROM c LEFT JOIN est{rounds} e2 ON e2.s = c.src AND e2.t = c.dst"
    )


def _local_clustering_sql() -> str:
    return f"""
        WITH {_EDGE_CTE}, {_VERT_CTE}, {_CANON_CTE}, {_SADJ_CTE}, {_SDEG_CTE},
        {_TRI_CTE},
        corners AS (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
                    UNION ALL SELECT c3 FROM tri),
        cnt AS (SELECT id, count(*) AS t FROM corners GROUP BY id)
        SELECT v.id AS id,
               coalesce(sdeg.degree, 0) AS degree,
               coalesce(cnt.t, 0) AS triangles,
               CASE WHEN coalesce(sdeg.degree, 0) >= 2
                    THEN round(2.0 * coalesce(cnt.t, 0)
                               / (sdeg.degree * (sdeg.degree - 1.0)), 6)
                    ELSE 0.0 END AS lcc
        FROM v LEFT JOIN sdeg ON sdeg.id = v.id LEFT JOIN cnt ON cnt.id = v.id
    """


def _link_pred_sql(k: int, min_common: int, aa_scale: int) -> str:
    """Replay of structure.link_prediction: wedge self-join through the
    shared neighbor with a fixed-point 1/ln(degree) center weight, anti
    join vs existing edges, per-a top-k window ordered (cn DESC, b ASC)."""
    return f"""
        WITH {_EDGE_CTE}, {_CANON_CTE}, {_SADJ_CTE}, {_SDEG_CTE},
        wadj AS (SELECT sadj.u AS u, sadj.w2 AS v2,
                        CASE WHEN sdeg.degree >= 2
                             THEN floor({aa_scale}.0 / ln(sdeg.degree))::BIGINT
                             ELSE 0 END AS w
                 FROM sadj JOIN sdeg ON sdeg.id = sadj.u),
        pairs AS (SELECT w1.v2 AS a, w2.v2 AS b,
                         count(*) AS common_neighbors, sum(w1.w) AS aa_micro
                  FROM wadj w1 JOIN wadj w2 ON w1.u = w2.u
                  WHERE w1.v2 < w2.v2
                  GROUP BY w1.v2, w2.v2
                  HAVING count(*) >= {min_common}),
        cand AS (SELECT p.* FROM pairs p LEFT JOIN c
                 ON c.src = p.a AND c.dst = p.b WHERE c.src IS NULL),
        scored AS (SELECT cand.*, da.degree AS da, db.degree AS db,
                          row_number() OVER (PARTITION BY cand.a
                              ORDER BY cand.common_neighbors DESC, cand.b ASC) AS rn
                   FROM cand JOIN sdeg da ON da.id = cand.a
                   JOIN sdeg db ON db.id = cand.b)
        SELECT a, b, common_neighbors,
               round(common_neighbors::DOUBLE
                     / (da + db - common_neighbors), 6) AS jaccard,
               round(aa_micro::DOUBLE / {aa_scale}, 6) AS adamic_adar
        FROM scored WHERE rn <= {k}
    """


def _ktruss_fixed_sql(k: int, rounds: int) -> str:
    """Chained-CTE replay of structure.k_truss at fixed rounds: each
    round recomputes per-edge triangle support on the surviving edge set
    (id-ordered enumeration — same triangle set as the engine's
    degree-ordered orientation) and keeps support >= k-2."""
    need = k - 2
    ctes = [_EDGE_CTE, _CANON_CTE, "t0 AS (SELECT src, dst FROM c)"]
    for i in range(1, rounds + 1):
        ctes.append(
            f"tri{i} AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c3 "
            f"FROM t{i-1} e1 JOIN t{i-1} e2 ON e1.dst = e2.src "
            f"JOIN t{i-1} e3 ON e3.src = e1.src AND e3.dst = e2.dst)"
        )
        ctes.append(
            f"sides{i} AS (SELECT a AS src, b AS dst FROM tri{i} "
            f"UNION ALL SELECT a, c3 FROM tri{i} "
            f"UNION ALL SELECT b, c3 FROM tri{i})"
        )
        ctes.append(
            f"sup{i} AS (SELECT src, dst, count(*) AS s FROM sides{i} "
            f"GROUP BY src, dst)"
        )
        ctes.append(
            f"t{i} AS (SELECT t.src, t.dst, coalesce(sup{i}.s, 0) AS support "
            f"FROM t{i-1} t LEFT JOIN sup{i} ON sup{i}.src = t.src "
            f"AND sup{i}.dst = t.dst WHERE coalesce(sup{i}.s, 0) >= {need})"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT src, dst, support FROM t{rounds}"
    )


def _conductance_lp_sql(steps: int) -> str:
    """Replay of structure.conductance over the LP fixed-round labels:
    cut = per-side explode of cross-label canonical edges, volume from
    labels LEFT JOIN simple degree (edgeless vertices count with 0),
    denom = least(vol, 2m - vol)."""
    ctes = _lp_chain_ctes(steps) + [
        _CANON_CTE,
        _SADJ_CTE,
        _SDEG_CTE,
        f"tg AS (SELECT a.label AS ls, b.label AS ld FROM c "
        f"JOIN l{steps} a ON a.id = c.src JOIN l{steps} b ON b.id = c.dst)",
        "cutx AS (SELECT label, count(*) AS cut FROM ("
        "SELECT ls AS label FROM tg WHERE ls <> ld "
        "UNION ALL SELECT ld FROM tg WHERE ls <> ld) GROUP BY label)",
        f"volx AS (SELECT l.label, count(*)::BIGINT AS n_vertices, "
        f"coalesce(sum(sdeg.degree), 0)::BIGINT AS volume "
        f"FROM l{steps} l LEFT JOIN sdeg ON sdeg.id = l.id GROUP BY l.label)",
        "tot AS (SELECT 2 * count(*)::BIGINT AS vol_total FROM c)",
    ]
    return (
        "WITH " + ",\n".join(ctes)
        + """
    SELECT volx.label AS label, n_vertices, volume,
           coalesce(cutx.cut, 0)::BIGINT AS cut,
           CASE WHEN least(volume, vol_total - volume) > 0
                THEN round(coalesce(cutx.cut, 0) * 1.0
                           / least(volume, vol_total - volume), 6)
           END AS conductance
    FROM volx LEFT JOIN cutx ON cutx.label = volx.label CROSS JOIN tot"""
    )


def _modularity_lp_sql(steps: int) -> str:
    """LP chained-CTE labels + Newman modularity: integer counts/degree
    sums, one fixed-order float expression at the end (mirrors
    structure.modularity exactly)."""
    ctes = _lp_chain_ctes(steps)
    ctes += [
        f"labels AS (SELECT id, label FROM l{steps})",
        _CANON_CTE,
        _SADJ_CTE,
        _SDEG_CTE,
        "mm AS (SELECT count(*) AS m, "
        "sum(CASE WHEN la.label = lb.label THEN 1 ELSE 0 END) AS e_in "
        "FROM c JOIN labels la ON la.id = c.src JOIN labels lb ON lb.id = c.dst)",
        "dsum AS (SELECT l.label AS label, sum(sdeg.degree) AS ds "
        "FROM sdeg JOIN labels l ON l.id = sdeg.id GROUP BY l.label)",
        "d2 AS (SELECT sum(ds * ds) AS sum_d2 FROM dsum)",
    ]
    return (
        "WITH " + ",\n".join(ctes)
        + "\nSELECT round(e_in::DOUBLE / m - sum_d2::DOUBLE "
        + "/ (4.0 * m::DOUBLE * m::DOUBLE), 6) AS modularity FROM mm, d2"
    )


def _walks_chain_sql(length: int, walks_per_vertex: int) -> str:
    """Chained-CTE replay of random_walks: ranked distinct adjacency +
    md5-hash step picks (the cross-engine hash family: DuckDB
    ('0x'||substring(md5,1,8))::UINTEGER == Spark conv(substring(md5,1,8),
    16,10)). Walks start from every distinct src."""
    ctes = [
        _EDGE_CTE,
        "de AS (SELECT DISTINCT src, dst FROM e)",
        "adj AS (SELECT src, dst, row_number() OVER "
        "(PARTITION BY src ORDER BY dst) - 1 AS idx FROM de)",
        "degs AS (SELECT src, count(*) AS deg FROM de GROUP BY src)",
        f"w0 AS (SELECT DISTINCT de.src AS start_id, t.w::INTEGER AS walk, "
        f"de.src AS vertex FROM de CROSS JOIN (SELECT unnest(generate_series"
        f"(0, {walks_per_vertex - 1})) AS w) t)",
    ]
    for t in range(1, length + 1):
        pick = (
            f"('0x' || substring(md5(w.start_id::VARCHAR || ':' || "
            f"w.walk::VARCHAR || ':{t}'), 1, 8))::UINTEGER::BIGINT % degs.deg"
        )
        ctes.append(
            f"w{t} AS (SELECT w.start_id, w.walk, adj.dst AS vertex "
            f"FROM w{t-1} w JOIN degs ON degs.src = w.vertex "
            f"JOIN adj ON adj.src = w.vertex AND adj.idx = ({pick}))"
        )
    selects = [
        f"SELECT start_id, walk, {t} AS step, vertex FROM w{t}"
        for t in range(0, length + 1)
    ]
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + "\nUNION ALL\n".join(selects)
    )


def _node2vec_chain_sql(
    length: int, walks_per_vertex: int, wr: int, wf: int, scale: int
) -> str:
    """Chained-CTE replay of node2vec_walks: ranked adjacency + degree
    table, uniform first step (hash mod degree), then per-step biased
    selection via the integer cumulative-weight ladder (wt = wr if
    return / scale if prev->cand edge exists / wf otherwise;
    pick = H(start:walk:t) mod total)."""
    ctes = [
        _EDGE_CTE,
        "de AS (SELECT DISTINCT src, dst FROM e)",
        "adj AS (SELECT src, dst, row_number() OVER "
        "(PARTITION BY src ORDER BY dst) - 1 AS idx FROM de)",
        "degs AS (SELECT src, count(*) AS deg FROM de GROUP BY src)",
        f"w0 AS (SELECT DISTINCT de.src AS start_id, t.w::INTEGER AS walk, "
        f"de.src AS vertex FROM de CROSS JOIN (SELECT unnest(generate_series"
        f"(0, {walks_per_vertex - 1})) AS w) t)",
    ]

    def _h(t: int) -> str:
        return (
            f"('0x' || substring(md5(w.start_id::VARCHAR || ':' || "
            f"w.walk::VARCHAR || ':{t}'), 1, 8))::UINTEGER::BIGINT"
        )

    if length >= 1:
        ctes.append(
            f"w1 AS (SELECT w.start_id, w.walk, w.vertex AS prev, "
            f"adj.dst AS vertex FROM w0 w JOIN degs ON degs.src = w.vertex "
            f"JOIN adj ON adj.src = w.vertex "
            f"AND adj.idx = ({_h(1)} % degs.deg))"
        )
    for t in range(2, length + 1):
        ctes.append(
            f"cand{t} AS (SELECT w.start_id, w.walk, w.prev, w.vertex, "
            f"adj.dst AS cw, (CASE WHEN adj.dst = w.prev THEN {wr} "
            f"WHEN nb.src IS NOT NULL THEN {scale} ELSE {wf} END)::BIGINT AS wt, "
            f"{_h(t)} AS h FROM w{t-1} w JOIN adj ON adj.src = w.vertex "
            f"LEFT JOIN de nb ON nb.src = w.prev AND nb.dst = adj.dst)"
        )
        ctes.append(
            f"sel{t} AS (SELECT *, sum(wt) OVER (PARTITION BY start_id, walk "
            f"ORDER BY cw) AS cum, sum(wt) OVER (PARTITION BY start_id, walk) "
            f"AS tot FROM cand{t})"
        )
        ctes.append(
            f"w{t} AS (SELECT start_id, walk, vertex AS prev, cw AS vertex "
            f"FROM sel{t} WHERE (h % tot) < cum AND (h % tot) >= cum - wt)"
        )
    selects = ["SELECT start_id, walk, 0 AS step, vertex FROM w0"] + [
        f"SELECT start_id, walk, {t} AS step, vertex FROM w{t}"
        for t in range(1, length + 1)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


def _anf_chain_ctes(h: int, m: int) -> list[str]:
    """Chained-CTE replay of anf_sketches: seed one HLL register per
    vertex from the md5 family (reg = u32(md5[0:8]) % m, val =
    33 - bitlength(u32(md5[8:16])), rho(0)=33 — bin() strips leading
    zeros identically in Spark and DuckDB), then h rounds of pull-
    along-out-edges + groupBy(id, reg) max(val)."""
    reg = f"(('0x' || substring(md5(id::VARCHAR), 1, 8))::UINTEGER::BIGINT % {m})"
    x2 = "('0x' || substring(md5(id::VARCHAR), 9, 8))::UINTEGER"
    val = f"(CASE WHEN {x2} = 0 THEN 33 ELSE 33 - length(bin({x2})) END)::INTEGER"
    ctes = [
        _EDGE_CTE,
        # vertex set from the RAW edge relation (self-loop-only vertices
        # must appear with a distance-0 ball) — mirrors anf.anf_sketches
        "de AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst)",
        "av AS (SELECT src AS id FROM e UNION SELECT dst FROM e)",
        f"s0 AS (SELECT id, {reg} AS reg, {val} AS val FROM av)",
    ]
    for t in range(1, h + 1):
        ctes.append(
            f"s{t} AS (SELECT id, reg, max(val) AS val FROM ("
            f"SELECT de.src AS id, s.reg, s.val FROM s{t-1} s "
            f"JOIN de ON de.dst = s.id "
            f"UNION ALL SELECT id, reg, val FROM s{t-1}) GROUP BY id, reg)"
        )
    return ctes


def _anf_chain_sql(h: int, m: int) -> str:
    return (
        "WITH " + ",\n".join(_anf_chain_ctes(h, m))
        + f"\nSELECT id, reg, val FROM s{h}"
    )


def _brandes_chain_ctes(h: int) -> list[str]:
    """Shared CTE chain replaying _brandes_state: forward BFS with exact
    BIGINT sigma (anti-join discovery per level), then Brandes dependency
    accumulation walked H-1..0 — every float op mirrors the engine
    ((1.0+delta)/sigma group sums, sigma*contrib per level). Ends at
    ``b0`` = the finished (s, pv, dist, sigma, delta) relation."""
    ctes = [
        _EDGE_CTE,
        _VERT_CTE,
        "de AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst)",
        "f0 AS (SELECT id AS s, id AS pv, 0 AS dist, 1::BIGINT AS sigma "
        "FROM v WHERE id % 100 = 0)",
    ]
    for t in range(1, h + 1):
        ctes.append(
            f"n{t} AS (SELECT f.s AS s, de.dst AS pv, sum(f.sigma) AS sigma "
            f"FROM f{t-1} f JOIN de ON de.src = f.pv WHERE f.dist = {t-1} "
            f"GROUP BY f.s, de.dst)"
        )
        ctes.append(
            f"f{t} AS (SELECT * FROM f{t-1} UNION ALL "
            f"SELECT n.s, n.pv, {t} AS dist, n.sigma FROM n{t} n "
            f"LEFT JOIN f{t-1} p ON p.s = n.s AND p.pv = n.pv "
            f"WHERE p.s IS NULL)"
        )
    ctes.append(
        f"b{h} AS (SELECT s, pv, dist, sigma, 0.0 AS delta FROM f{h})"
    )
    for t in range(h - 1, -1, -1):
        ctes.append(
            f"c{t} AS (SELECT w.s AS s, de.src AS pv, "
            f"sum((1.0 + w.delta) / w.sigma) AS contrib "
            f"FROM b{t+1} w JOIN de ON de.dst = w.pv WHERE w.dist = {t+1} "
            f"GROUP BY w.s, de.src)"
        )
        ctes.append(
            f"b{t} AS (SELECT r.s, r.pv, r.dist, r.sigma, "
            f"CASE WHEN r.dist = {t} THEN r.sigma * coalesce(c.contrib, 0.0) "
            f"ELSE r.delta END AS delta FROM b{t+1} r "
            f"LEFT JOIN c{t} c ON c.s = r.s AND c.pv = r.pv)"
        )
    return ctes


def _betweenness_chain_sql(h: int) -> str:
    """Vertex aggregate over the shared Brandes chain."""
    ctes = _brandes_chain_ctes(h)
    ctes.append(
        "agg AS (SELECT pv AS id, sum(delta) AS b, sum(dist) AS ds, "
        "count(*) AS nr FROM b0 WHERE dist > 0 GROUP BY pv)"
    )
    return (
        "WITH " + ",\n".join(ctes)
        + "\nSELECT v.id AS id, round(coalesce(agg.b, 0.0), 6) AS betweenness, "
        + "coalesce(agg.ds, 0)::BIGINT AS seed_dist_sum, "
        + "coalesce(agg.nr, 0)::BIGINT AS seeds_reaching "
        + "FROM v LEFT JOIN agg ON agg.id = v.id"
    )


def _edge_betweenness_chain_sql(h: int) -> str:
    """Edge aggregate over the shared Brandes chain: per DAG arc (v,w),
    sigma(s,v) * (1.0 + delta(s,w)) / sigma(s,w) — same operand order as
    edge_betweenness_sampled's single float expression."""
    ctes = _brandes_chain_ctes(h)
    ctes.append(
        "eb AS (SELECT de.src AS src, de.dst AS dst, "
        "sum(pv.sigma * (1.0 + w.delta) / w.sigma) AS eb "
        "FROM b0 pv JOIN de ON de.src = pv.pv "
        "JOIN b0 w ON w.s = pv.s AND w.pv = de.dst AND w.dist = pv.dist + 1 "
        "GROUP BY de.src, de.dst)"
    )
    return (
        "WITH " + ",\n".join(ctes)
        + "\nSELECT de.src AS src, de.dst AS dst, "
        + "round(coalesce(eb.eb, 0.0), 6) AS betweenness "
        + "FROM de LEFT JOIN eb ON eb.src = de.src AND eb.dst = de.dst"
    )


def _closeness_chain_sql(h: int, m: int) -> str:
    """ANF sketch chain + HLL estimator per hop + the guarded
    reachable-over-distance division — float ops in the same fixed order
    as anf.closeness_centrality (numerator first, denominator terms t
    ascending, one division, round 6; exact-zero denominator → 0.0)."""
    from duwamish_spark.algorithms.anf import _alpha

    am2 = repr(_alpha(m) * m * m)
    thresh = repr(2.5 * m)
    fm = repr(float(m))
    ctes = _anf_chain_ctes(h, m)
    for t in range(0, h + 1):
        ctes.append(
            f"r{t} AS (SELECT id, {m} - count(*) AS zeros, "
            f"{am2}::DOUBLE / (({m} - count(*)) + sum(power(2.0, -val))) AS raw "
            f"FROM s{t} GROUP BY id)"
        )
        ctes.append(
            f"est{t} AS (SELECT id, CASE WHEN raw <= {thresh}::DOUBLE "
            f"AND zeros > 0 THEN {fm}::DOUBLE * ln({fm}::DOUBLE / zeros) "
            f"ELSE raw END AS est FROM r{t})"
        )
    num = f"(est{h}.est - est0.est)"
    den = " + ".join(
        f"{repr(float(t))}::DOUBLE * (est{t}.est - est{t-1}.est)"
        for t in range(1, h + 1)
    )
    joins = " ".join(f"JOIN est{t} ON est{t}.id = est0.id" for t in range(1, h + 1))
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT est0.id AS id, CASE WHEN ({den}) = 0.0 THEN 0.0 "
        + f"ELSE round({num} / ({den}), 6) END AS closeness "
        + f"FROM est0 {joins}"
    )


# shared by the repetition/paragraph oracles: trim+whitespace-split the
# document, re-chunk into 8-token newline "paragraphs" (mirrors
# _chunked_docs; DuckDB list slices are 1-based inclusive and truncate at
# the array end exactly like Spark's slice)
_CHUNK_CTES = r"""
d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
      FROM documents WHERE length(trim(text)) > 0),
ch AS (SELECT doc_id, i AS pos,
              array_to_string(arr[(i-1)*8+1:(i-1)*8+8], ' ') AS para
       FROM (SELECT doc_id, arr,
                    unnest(generate_series(1, cast(ceil(len(arr)/8.0) AS BIGINT))) AS i
             FROM d))
"""


def _repetition_stats_sql() -> str:
    return f"""
        WITH {_CHUNK_CTES},
        pl AS (SELECT doc_id, para, count(*) AS c, length(para) AS len
               FROM ch GROUP BY doc_id, para),
        la AS (SELECT doc_id, sum(c)::BIGINT AS n_lines,
                      round(sum(c - 1) * 1.0 / sum(c), 6) AS dup_line_frac,
                      round(sum((c - 1) * len) * 1.0 / sum(c * len), 6)
                          AS dup_line_char_frac
               FROM pl GROUP BY doc_id),
        g AS (SELECT doc_id, array_to_string(arr[i:i+1], ' ') AS gram
              FROM (SELECT doc_id, arr, unnest(generate_series(1, len(arr) - 1)) AS i
                    FROM d WHERE len(arr) >= 2)),
        pg AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram),
        ga AS (SELECT doc_id, sum(c)::BIGINT AS n_ngrams,
                      round(max(c) * 1.0 / sum(c), 6) AS top_ngram_frac
               FROM pg GROUP BY doc_id)
        SELECT la.doc_id, la.n_lines, la.dup_line_frac, la.dup_line_char_frac,
               coalesce(ga.n_ngrams, 0)::BIGINT AS n_ngrams,
               coalesce(ga.top_ngram_frac, 0.0) AS top_ngram_frac
        FROM la LEFT JOIN ga ON ga.doc_id = la.doc_id
    """


def _boilerplate_strip_sql(min_docs: int = 2, min_frac: float = 0.05) -> str:
    """Replay of functions/dedup.py boilerplate_strip over the chunked
    documents with host = source: integer-exact frequency threshold
    (df * 1e6 >= frac_micros * host_docs), host-local anti-join, ordered
    reassembly."""
    frac_micros = int(round(min_frac * 1_000_000))
    return f"""
        WITH {_CHUNK_CTES},
        chs AS (SELECT ch.doc_id, ch.pos, ch.para, d2.source AS host
                FROM ch JOIN documents d2 ON d2.doc_id = ch.doc_id
                WHERE length(trim(ch.para)) > 0),
        pd AS (SELECT DISTINCT host, para, doc_id FROM chs),
        dfc AS (SELECT host, para, count(*)::BIGINT AS df FROM pd GROUP BY 1, 2),
        hd AS (SELECT host, count(DISTINCT doc_id)::BIGINT AS hd FROM pd GROUP BY host),
        boiler AS (SELECT dfc.host, dfc.para FROM dfc JOIN hd ON hd.host = dfc.host
                   WHERE dfc.df >= {min_docs}
                     AND dfc.df * 1000000 >= {frac_micros} * hd.hd),
        kept AS (SELECT c.doc_id, c.pos, c.para FROM chs c
                 LEFT JOIN boiler b ON b.host = c.host AND b.para = c.para
                 WHERE b.para IS NULL),
        outp AS (SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS text_clean,
                        count(*)::BIGINT AS n_kept
                 FROM kept GROUP BY doc_id),
        tot AS (SELECT doc_id, count(*)::BIGINT AS n_lines FROM chs GROUP BY doc_id)
        SELECT tot.doc_id, coalesce(outp.text_clean, '') AS text_clean, tot.n_lines,
               (tot.n_lines - coalesce(outp.n_kept, 0))::BIGINT AS n_removed
        FROM tot LEFT JOIN outp ON outp.doc_id = tot.doc_id
    """


def _paragraph_dedup_sql() -> str:
    return f"""
        WITH {_CHUNK_CTES},
        k AS (SELECT doc_id, pos, para,
                     row_number() OVER (PARTITION BY para
                                        ORDER BY doc_id, pos) AS rn
              FROM ch),
        kept AS (SELECT doc_id, pos, para FROM k WHERE rn = 1),
        outp AS (SELECT doc_id,
                        string_agg(para, chr(10) ORDER BY pos) AS text_clean,
                        count(*)::BIGINT AS n_kept
                 FROM kept GROUP BY doc_id),
        tot AS (SELECT doc_id, count(*)::BIGINT AS n_paras FROM ch GROUP BY doc_id)
        SELECT tot.doc_id, coalesce(outp.text_clean, '') AS text_clean,
               tot.n_paras, coalesce(outp.n_kept, 0)::BIGINT AS n_kept
        FROM tot LEFT JOIN outp ON outp.doc_id = tot.doc_id
    """


def _pii_scrub_sql() -> str:
    """Replays _pii_laced_docs' span construction, then the scrub's
    sequential count-then-replace chain with the SAME patterns
    (PII_PATTERNS parse identically under Java regex and RE2 — no
    lookaround/backrefs)."""
    from duwamish_spark.functions.text import PII_PATTERNS

    (_, email_p, email_r), (_, phone_p, phone_r), (_, ip_p, ip_r) = PII_PATTERNS
    return rf"""
        WITH d AS (
            SELECT doc_id, text,
                   regexp_split_to_array(trim(text), '\s+') AS arr
            FROM documents
            WHERE length(trim(text)) > 0
              AND len(regexp_split_to_array(trim(text), '\s+')) >= 2
        ),
        l AS (
            SELECT doc_id,
                   text
                   || CASE WHEN doc_id % 3 <> 0
                           THEN ' contact ' || arr[1] || '@' || arr[2] || '.com'
                           ELSE '' END
                   || CASE WHEN doc_id % 2 = 0
                           THEN ' tel ' || lpad((doc_id % 1000)::VARCHAR, 3, '0')
                                || '-' || lpad(((doc_id*7) % 1000)::VARCHAR, 3, '0')
                                || '-' || lpad(((doc_id*13) % 10000)::VARCHAR, 4, '0')
                           ELSE '' END
                   || CASE WHEN doc_id % 5 <> 4
                           THEN ' ip ' || (doc_id % 256)::VARCHAR
                                || '.' || ((doc_id*3) % 256)::VARCHAR
                                || '.' || ((doc_id*5) % 256)::VARCHAR
                                || '.' || ((doc_id*11) % 256)::VARCHAR
                           ELSE '' END AS text
            FROM d
        ),
        s1 AS (SELECT doc_id,
                      len(regexp_extract_all(text, '{email_p}'))::BIGINT AS n_email,
                      regexp_replace(text, '{email_p}', '{email_r}', 'g') AS t
               FROM l),
        s2 AS (SELECT doc_id, n_email,
                      len(regexp_extract_all(t, '{phone_p}'))::BIGINT AS n_phone,
                      regexp_replace(t, '{phone_p}', '{phone_r}', 'g') AS t
               FROM s1),
        s3 AS (SELECT doc_id, n_email, n_phone,
                      len(regexp_extract_all(t, '{ip_p}'))::BIGINT AS n_ipv4,
                      regexp_replace(t, '{ip_p}', '{ip_r}', 'g') AS t
               FROM s2)
        SELECT doc_id, t AS text_redacted, n_email, n_phone, n_ipv4 FROM s3
    """


def _pack_sequences_sql() -> str:
    """Replays pack_sequences(seq_len=64, n_shards=8): content-keyed
    shard from the shared md5-u32 family, whitespace token count +1 EOS
    (empty text = EOS only), per-shard running offset in id order."""
    return r"""
        WITH t AS (
            SELECT doc_id,
                   (('0x' || substring(md5('pack:' || doc_id::VARCHAR), 1, 8))
                       ::UINTEGER::BIGINT % 8)::INTEGER AS shard,
                   (CASE WHEN length(trim(text)) = 0 THEN 0
                         ELSE len(regexp_split_to_array(trim(text), '\s+'))
                    END + 1)::BIGINT AS n_tokens
            FROM documents
        ),
        o AS (
            SELECT doc_id, shard, n_tokens,
                   coalesce(sum(n_tokens) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0)::BIGINT AS start_off
            FROM t
        )
        SELECT doc_id, shard, n_tokens, start_off,
               (start_off // 64)::BIGINT AS seq_first,
               ((start_off + n_tokens - 1) // 64)::BIGINT AS seq_last
        FROM o
    """


def _curation_pipeline_sql(min_quality: float = 0.5, cap: int = 20) -> str:
    """Replays curate_corpus end-to-end: exact-dedup keepers -> the
    doc_quality float-op replay -> windowed per-source cap over the
    SURVIVING set -> hash_split thresholds from the shared helper."""
    from duwamish_spark.functions.sampling import split_thresholds

    bounds = split_thresholds({"train": 0.98, "validation": 0.01, "test": 0.01})
    case = f"CASE WHEN c.doc_id IS NULL THEN '{bounds[0][0]}'"
    for name, ub in bounds[:-1]:
        case += f" WHEN su.u < {ub} THEN '{name}'"
    case += f" ELSE '{bounds[-1][0]}' END"
    return f"""
        WITH keepers AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        kept AS (SELECT d.doc_id, d.source, d.text FROM documents d
                 JOIN keepers k ON k.doc_id = d.doc_id),
        t AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
              FROM kept WHERE length(trim(text)) > 0),
        agg AS (SELECT doc_id, count(*) AS n_tokens,
                       round(sum(CASE WHEN tok IN ('the','a','of','and') THEN 1 ELSE 0 END) * 1.0
                             / count(*), 6) AS stop_ratio,
                       round(sum(length(regexp_replace(tok, '[A-Za-z0-9]', '', 'g'))) * 1.0
                             / sum(length(tok)), 6) AS punct_ratio
                FROM t GROUP BY doc_id),
        q AS (SELECT doc_id,
                     round((least(n_tokens / 100.0, 1.0)
                            + least(stop_ratio * 4.0, 1.0)
                            + (1.0 - punct_ratio)) / 3.0, 6) AS quality
              FROM agg),
        f AS (SELECT kept.doc_id, kept.source, q.quality
              FROM kept JOIN q ON q.doc_id = kept.doc_id
              WHERE q.quality >= {min_quality}),
        r AS (SELECT doc_id, source, quality,
                     row_number() OVER (PARTITION BY source ORDER BY
                       ('0x' || substring(md5('cap:' || doc_id::VARCHAR), 1, 8))::UINTEGER::BIGINT,
                       doc_id) AS cap_rank
              FROM f),
        c AS (SELECT * FROM r WHERE cap_rank <= {cap}),
        su AS (SELECT doc_id, ('0x' || substring(md5('split:' || doc_id::VARCHAR), 1, 8))::UINTEGER::BIGINT AS u
               FROM c)
        SELECT c.doc_id, c.source, c.quality, c.cap_rank::BIGINT AS cap_rank,
               {case} AS split
        FROM c JOIN su ON su.doc_id = c.doc_id
    """


def _doc_split_sql() -> str:
    """Replays hash_split's integer-threshold assignment; bounds come
    from the SAME split_thresholds() the engine uses."""
    from duwamish_spark.functions.sampling import split_thresholds

    bounds = split_thresholds({"train": 0.98, "validation": 0.01, "test": 0.01})
    # NULL keys land in the FIRST split, mirroring hash_split's guard
    case = f"CASE WHEN doc_id IS NULL THEN '{bounds[0][0]}'"
    for name, ub in bounds[:-1]:
        case += f" WHEN u < {ub} THEN '{name}'"
    case += f" ELSE '{bounds[-1][0]}' END"
    return (
        "WITH h AS (SELECT doc_id, ('0x' || substring(md5('split:' || "
        "doc_id::VARCHAR), 1, 8))::UINTEGER::BIGINT AS u FROM documents) "
        f"SELECT doc_id, {case} AS split FROM h"
    )


def _stratified_sample_sql() -> str:
    fr = {"en": 0.8, "de": 0.5, "fr": 0.5, "es": 0.25}
    case = "CASE"
    for lang in sorted(fr):
        case += f" WHEN lang = '{lang}' THEN {int(fr[lang] * (1 << 32))}"
    case += f" ELSE {int(0.1 * (1 << 32))} END"
    return (
        "WITH h AS (SELECT doc_id, lang, ('0x' || substring(md5('sample:' || "
        "doc_id::VARCHAR), 1, 8))::UINTEGER::BIGINT AS u FROM documents) "
        f"SELECT doc_id, lang FROM h WHERE doc_id IS NOT NULL AND u < {case}"
    )


def _mix_sources_sql() -> str:
    """Replay of sampling.mix_sources at the driver's literal rate
    table: same u32 construction as hash_split, thresholds are exact
    integers ppm·2^32 DIV 10^6; NULL ids excluded, unknown/NULL source
    takes the default rate via CASE ELSE."""
    space = 1 << 32

    def thr(ppm):
        return ppm * space // 1_000_000

    case = "CASE source"
    for src in sorted(MIX_RATES_PPM):
        case += f" WHEN '{src}' THEN {thr(MIX_RATES_PPM[src])}"
    case += f" ELSE {thr(MIX_DEFAULT_PPM)} END"
    return (
        "WITH h AS (SELECT doc_id, source, ('0x' || substring(md5('mix:' || "
        "doc_id::VARCHAR), 1, 8))::UINTEGER::BIGINT AS u FROM documents) "
        f"SELECT doc_id, source FROM h WHERE doc_id IS NOT NULL AND u < {case}"
    )


def _chunk_docs_sql(chunk: int, overlap: int) -> str:
    """Replay of text.chunk_documents: trim-split tokens, window starts
    generate_series(0, n-1, stride) filtered to start < max(1, n-overlap),
    chunk text via list_slice + array_to_string — byte-for-byte."""
    stride = chunk - overlap
    return f"""
        WITH t AS (SELECT doc_id,
                CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                     ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
            FROM documents),
        sz AS (SELECT doc_id, toks, len(toks) AS n FROM t),
        st AS (SELECT doc_id, toks, n,
                unnest(CASE WHEN n >= 1 THEN generate_series(0, n - 1, {stride})
                            ELSE []::BIGINT[] END) AS strt
            FROM sz)
        SELECT doc_id AS id,
               (strt // {stride})::BIGINT AS chunk_id,
               strt::BIGINT AS start,
               len(list_slice(toks, strt + 1, strt + {chunk}))::BIGINT AS n_tokens,
               array_to_string(list_slice(toks, strt + 1, strt + {chunk}), ' ') AS chunk
        FROM st WHERE strt < greatest(1, n - {overlap})
    """


def _harmonic_chain_sql(h: int, m: int) -> str:
    """ANF sketch chain + the HLL estimator per hop + the fixed
    left-associative harmonic sum — every float op in the same order as
    anf.hll_estimates / anf.harmonic_centrality, so the double result is
    bit-identical (zpresent is an exact dyadic sum; alpha*m^2 and 2.5*m
    are emitted via repr so both engines parse the identical double)."""
    from duwamish_spark.algorithms.anf import _alpha

    am2 = repr(_alpha(m) * m * m)
    thresh = repr(2.5 * m)
    fm = repr(float(m))
    ctes = _anf_chain_ctes(h, m)
    for t in range(0, h + 1):
        ctes.append(
            f"r{t} AS (SELECT id, {m} - count(*) AS zeros, "
            f"{am2}::DOUBLE / (({m} - count(*)) + sum(power(2.0, -val))) AS raw "
            f"FROM s{t} GROUP BY id)"
        )
        ctes.append(
            f"est{t} AS (SELECT id, CASE WHEN raw <= {thresh}::DOUBLE "
            f"AND zeros > 0 THEN {fm}::DOUBLE * ln({fm}::DOUBLE / zeros) "
            f"ELSE raw END AS est FROM r{t})"
        )
    terms = " + ".join(
        f"(est{t}.est - est{t-1}.est) / {repr(float(t))}::DOUBLE"
        for t in range(1, h + 1)
    )
    joins = " ".join(f"JOIN est{t} ON est{t}.id = est0.id" for t in range(1, h + 1))
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT est0.id AS id, round({terms}, 6) AS harmonic "
        + f"FROM est0 {joins}"
    )


_PARSE_EDGES_SQL_TEMPLATE = r"""
    WITH c AS (SELECT repo, path, lang, content
               FROM read_parquet('{path}')),
    l AS (SELECT repo, path, lang,
                 unnest(string_split(content, chr(10))) AS line
          FROM c),
    hits AS (
        SELECT repo || '/' || path AS src,
               CASE lang
                 WHEN 'python' THEN
                   repo || '/' || replace(regexp_extract(line, '^(?:import|from)\s+([\w.]+)', 1), '.', '/') || '.py'
                 WHEN 'java' THEN
                   repo || '/' || replace(regexp_extract(line, '^import\s+([\w.]+)\s*;', 1), '.', '/') || '.java'
                 WHEN 'c' THEN
                   repo || '/' || regexp_extract(line, '^#include\s+"([^"]+)"', 1)
                 WHEN 'go' THEN
                   regexp_extract(line, '^import\s+"([^"]+)"', 1) || '.go'
               END AS dst,
               CASE lang
                 WHEN 'python' THEN regexp_matches(line, '^(?:import|from)\s+[\w.]+')
                 WHEN 'java' THEN regexp_matches(line, '^import\s+[\w.]+\s*;')
                 WHEN 'c' THEN regexp_matches(line, '^#include\s+"[^"]+"')
                 WHEN 'go' THEN regexp_matches(line, '^import\s+"[^"]+"')
               END AS ok
        FROM l)
    SELECT src, dst, count(*) AS n FROM hits WHERE ok GROUP BY src, dst
"""

_MEDIA_SQL_TEMPLATE = """
    SELECT media_id, kind,
           octet_length(payload) AS n_bytes,
           ('0x' || substring(hex(payload), 9, 8))::UINTEGER::INTEGER AS width,
           ('0x' || substring(hex(payload), 17, 8))::UINTEGER::INTEGER AS height,
           lower(sha256(hex(payload))) AS payload_sha
    FROM read_parquet('{path}')
"""

_CC_REACH_SQL = f"""
    WITH RECURSIVE {_EDGE_CTE}, {_VERT_CTE}, {_SYM_CTE},
    reach(id, r) AS (
        SELECT id, id FROM v
        UNION
        SELECT reach.id, sym.dst FROM reach JOIN sym ON sym.src = reach.r
    )
    SELECT id, min(r) AS label FROM reach GROUP BY id
"""

# SCC ground truth: forward transitive closure, then mutual pairs.
# reach(id, r) = "id reaches r" (reflexive); scc_id(v) = min r with
# v->*r and r->*v. 599 vertices -> closure <= 599^2 rows, fine for DuckDB.
_SCC_MUTUAL_SQL = f"""
    WITH RECURSIVE {_EDGE_CTE}, {_VERT_CTE},
    de AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
    reach(id, r) AS (
        SELECT id, id FROM v
        UNION
        SELECT reach.id, de.dst FROM reach JOIN de ON de.src = reach.r
    )
    SELECT r1.id AS id, min(r1.r) AS scc_id
    FROM reach r1 JOIN reach r2 ON r1.id = r2.r AND r1.r = r2.id
    GROUP BY r1.id
"""

# host-level quotient graph: contract endpoints through id -> id % 101,
# intra-host edges dropped, parallel edges collapsed into a weight
_HOST_GRAPH_SQL = f"""
    WITH {_EDGE_CTE}
    SELECT src % 101 AS src, dst % 101 AS dst, count(*) AS weight
    FROM e WHERE src % 101 <> dst % 101 GROUP BY 1, 2
"""

# bow-tie ground truth on the sparse gate graph (_bowtie_edges): forward
# transitive closure once, then every region boundary derived from it —
# clause-for-clause the same CASE precedence as bowtie_decomposition
_BOWTIE_SQL = """
    WITH RECURSIVE
    e AS (SELECT l_orderkey % 1009 AS src, l_partkey % 1009 AS dst
          FROM lineitem WHERE l_linenumber = 1 AND l_partkey % 5 = 0),
    -- explicit DISTINCT wrapper: inside a WITH RECURSIVE block this
    -- DuckDB version evaluates a plain UNION between two branches of a
    -- NON-recursive CTE as UNION ALL (measured: 1214 rows vs 892
    -- distinct) — the other recursive oracles are immune because they
    -- GROUP BY afterwards, but flags here is 1 row per v row
    v AS (SELECT DISTINCT id FROM
          (SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e) u),
    de AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
    reach(id, r) AS (SELECT id, id FROM v UNION
                     SELECT reach.id, de.dst FROM reach JOIN de ON de.src = reach.r),
    scc AS (SELECT r1.id AS id, min(r1.r) AS scc_id FROM reach r1
            JOIN reach r2 ON r1.id = r2.r AND r1.r = r2.id GROUP BY r1.id),
    core_lbl AS (SELECT scc_id FROM (SELECT scc_id, count(*) AS n FROM scc GROUP BY scc_id) t
                 ORDER BY n DESC, scc_id ASC LIMIT 1),
    core AS (SELECT id FROM scc WHERE scc_id = (SELECT scc_id FROM core_lbl)),
    fwd AS (SELECT DISTINCT r.r AS id FROM reach r WHERE r.id IN (SELECT id FROM core)),
    bwd AS (SELECT DISTINCT r.id AS id FROM reach r WHERE r.r IN (SELECT id FROM core)),
    flags AS (SELECT v.id,
      v.id IN (SELECT id FROM core) AS is_core,
      v.id IN (SELECT id FROM fwd) AS in_fwd,
      v.id IN (SELECT id FROM bwd) AS in_bwd
      FROM v),
    ins AS (SELECT id FROM flags WHERE in_bwd AND NOT is_core),
    outs AS (SELECT id FROM flags WHERE in_fwd AND NOT is_core),
    from_in AS (SELECT DISTINCT r.r AS id FROM reach r WHERE r.id IN (SELECT id FROM ins)),
    to_out AS (SELECT DISTINCT r.id AS id FROM reach r WHERE r.r IN (SELECT id FROM outs)),
    sym AS (SELECT src, dst FROM de UNION SELECT dst, src FROM de),
    wreach(id, r) AS (SELECT id, id FROM core UNION
                      SELECT wreach.id, sym.dst FROM wreach JOIN sym ON sym.src = wreach.r),
    wcc AS (SELECT DISTINCT r AS id FROM wreach)
    SELECT f.id,
      CASE WHEN f.is_core THEN 'core'
           WHEN f.in_bwd THEN 'in'
           WHEN f.in_fwd THEN 'out'
           WHEN f.id IN (SELECT id FROM from_in) AND f.id IN (SELECT id FROM to_out) THEN 'tube'
           WHEN f.id IN (SELECT id FROM from_in) THEN 'tendril_in'
           WHEN f.id IN (SELECT id FROM to_out) THEN 'tendril_out'
           WHEN f.id IN (SELECT id FROM wcc) THEN 'other_wcc'
           ELSE 'disconnected' END AS region
    FROM flags f
"""

# DSIR importance weights: bigram instances (WITH multiplicity) hashed
# into 256 buckets, target = src0-src2 slice, add-one smoothing, each
# instance's log-ratio term rounded to integer micros BEFORE the per-doc
# BIGINT sum (order-independent — same fixed-point discipline as the
# engine, importance.py). The ln args are all integers so the floats are
# engine-identical.
_DSIR_SQL = r"""
    WITH d AS (SELECT doc_id, source,
                      regexp_split_to_array(trim(text), '\s+') AS arr
               FROM documents WHERE length(trim(text)) > 0),
    rinst AS (SELECT doc_id,
                ('0x' || substring(md5('dsir:' || array_to_string(arr[i:i+1], ' ')), 1, 8))::UINTEGER::BIGINT % 256 AS bucket
              FROM (SELECT doc_id, arr, unnest(generate_series(1, len(arr) - 1)) AS i
                    FROM d WHERE len(arr) >= 2) t),
    tinst AS (SELECT
                ('0x' || substring(md5('dsir:' || array_to_string(arr[i:i+1], ' ')), 1, 8))::UINTEGER::BIGINT % 256 AS bucket
              FROM (SELECT arr, unnest(generate_series(1, len(arr) - 1)) AS i
                    FROM d WHERE len(arr) >= 2
                      AND source IN ('src0', 'src1', 'src2')) t),
    cr AS (SELECT bucket, count(*) AS cr FROM rinst GROUP BY bucket),
    ct AS (SELECT bucket, count(*) AS ct FROM tinst GROUP BY bucket),
    nr AS (SELECT count(*) AS n FROM rinst),
    nt AS (SELECT count(*) AS n FROM tinst),
    terms AS (SELECT r.doc_id,
                round(1e6 * (((ln(coalesce(ct.ct, 0) + 1) - ln(coalesce(cr.cr, 0) + 1))
                              - ln((SELECT n FROM nt) + 256))
                             + ln((SELECT n FROM nr) + 256)))::BIGINT AS term
              FROM rinst r LEFT JOIN ct USING (bucket) LEFT JOIN cr USING (bucket)),
    agg AS (SELECT doc_id, count(*) AS n_ngrams, sum(term)::BIGINT AS weight_micros
            FROM terms GROUP BY doc_id)
    SELECT doc.doc_id AS doc_id,
           coalesce(agg.n_ngrams, 0)::BIGINT AS n_ngrams,
           coalesce(agg.weight_micros, 0)::BIGINT AS weight_micros
    FROM documents doc LEFT JOIN agg ON agg.doc_id = doc.doc_id
"""

# hashed-bigram LM perplexity (importance.py lm_perplexity): target =
# src0-src2 slice, context counts over 256 buckets / bigram counts over
# 4096, add-one conditional, per-instance cross-entropy term rounded to
# integer micros BEFORE the per-doc BIGINT sum; ppl is one fixed float
# expression on the two integers.
# events-log operators (functions/events.py): lag-chain sessionization
# (epoch-micros comparisons, event_id tie-break) and tumbling-window
# rates (integer floor-division bucket, no window function)
_SESSIONIZE_SQL = """
    WITH ev AS (SELECT user_id, ts, event_id, value, epoch_us(ts) AS us
                FROM events),
    lagd AS (SELECT user_id, ts, us, event_id, value,
                    CASE WHEN lag(us) OVER w IS NULL
                              OR us - lag(us) OVER w > 1800000000
                         THEN 1 ELSE 0 END AS newf
             FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (SELECT user_id, us, value,
                    sum(newf) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                        AS session_idx
             FROM lagd)
    SELECT user_id, session_idx::BIGINT AS session_idx,
           count(*)::BIGINT AS n_events,
           min(us)::BIGINT AS start_us, max(us)::BIGINT AS end_us,
           (max(us) - min(us))::BIGINT AS duration_micros,
           round(sum(value), 6) AS total_value
    FROM sess GROUP BY user_id, session_idx
"""

_EVENT_RATES_SQL = """
    SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
           event_type, count(*)::BIGINT AS n,
           round(sum(value), 6) AS total_value
    FROM events GROUP BY 1, 2
"""

_LM_PPL_SQL = r"""
    WITH d AS (SELECT doc_id, source,
                      regexp_split_to_array(trim(text), '\s+') AS arr
               FROM documents WHERE length(trim(text)) > 0),
    bgs AS (SELECT doc_id, source, arr[i] AS w1,
                   array_to_string(arr[i:i+1], ' ') AS gram
            FROM (SELECT doc_id, source, arr,
                         unnest(generate_series(1, len(arr) - 1)) AS i
                  FROM d WHERE len(arr) >= 2) t),
    tb AS (SELECT
             ('0x' || substring(md5('lm1:' || w1), 1, 8))::UINTEGER::BIGINT % 256 AS b1,
             ('0x' || substring(md5('lm2:' || gram), 1, 8))::UINTEGER::BIGINT % 4096 AS b2
           FROM bgs WHERE source IN ('src0', 'src1', 'src2')),
    c1 AS (SELECT b1, count(*)::BIGINT AS c1 FROM tb GROUP BY b1),
    c2 AS (SELECT b2, count(*)::BIGINT AS c2 FROM tb GROUP BY b2),
    rb AS (SELECT doc_id,
             ('0x' || substring(md5('lm1:' || w1), 1, 8))::UINTEGER::BIGINT % 256 AS b1,
             ('0x' || substring(md5('lm2:' || gram), 1, 8))::UINTEGER::BIGINT % 4096 AS b2
           FROM bgs),
    sc AS (SELECT rb.doc_id, count(*)::BIGINT AS n_bigrams,
                  sum(round(1e6 * (ln(coalesce(c1.c1, 0) + 4096)
                                   - ln(coalesce(c2.c2, 0) + 1)))::BIGINT) AS ce
           FROM rb LEFT JOIN c1 ON c1.b1 = rb.b1 LEFT JOIN c2 ON c2.b2 = rb.b2
           GROUP BY rb.doc_id)
    SELECT doc.doc_id AS doc_id,
           coalesce(sc.n_bigrams, 0)::BIGINT AS n_bigrams,
           coalesce(sc.ce, 0)::BIGINT AS ce_micros,
           CASE WHEN coalesce(sc.n_bigrams, 0) = 0 THEN 0.0
                ELSE round(exp(sc.ce::DOUBLE / sc.n_bigrams / 1000000.0), 6)
           END AS ppl
    FROM documents doc LEFT JOIN sc ON sc.doc_id = doc.doc_id
"""

# shared by ngram_jaccard / minhash_near_dups / dedup_groups: the exact
# 3-gram Jaccard pair relation (threshold 0.2) as CTEs ending in `npairs`
_NGRAM_PAIR_CTES = r"""d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
               FROM documents WHERE length(trim(text)) > 0),
    idx AS (SELECT doc_id, arr,
                   unnest(generate_series(1, greatest(len(arr) - 2, 1))) AS i
            FROM d),
    sh AS (SELECT DISTINCT doc_id,
                  array_to_string(arr[i:i+2], ' ') AS shingle
           FROM idx
           WHERE length(array_to_string(arr[i:i+2], ' ')) > 0),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
               FROM sh a JOIN sh b ON a.shingle = b.shingle
               WHERE a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id),
    npairs AS (SELECT id_a, id_b,
                      round(c * 1.0 / (na.n + nb.n - c), 6) AS jaccard
               FROM common
               JOIN sizes na ON na.doc_id = id_a
               JOIN sizes nb ON nb.doc_id = id_b
               WHERE c * 1.0 / (na.n + nb.n - c) >= 0.2)"""

_NGRAM_JACCARD_SQL = (
    "WITH " + _NGRAM_PAIR_CTES + "\n    SELECT id_a, id_b, jaccard FROM npairs"
)

# dedup_groups: transitive closure (min-label) of the SAME pair relation,
# then one keeper per group over the full documents table
_DEDUP_GROUPS_SQL = (
    "WITH RECURSIVE " + _NGRAM_PAIR_CTES + """,
    psym AS (SELECT id_a AS s, id_b AS t FROM npairs
             UNION SELECT id_b AS s, id_a AS t FROM npairs),
    pv AS (SELECT DISTINCT s AS id FROM psym),
    reach(id, r) AS (
        SELECT id, id FROM pv
        UNION
        SELECT reach.id, psym.t FROM reach JOIN psym ON psym.s = reach.r
    ),
    grp AS (SELECT id, min(r) AS g FROM reach GROUP BY id)
    SELECT doc.doc_id AS doc_id,
           coalesce(grp.g, doc.doc_id) AS "group",
           doc.doc_id = coalesce(grp.g, doc.doc_id) AS keep
    FROM documents doc LEFT JOIN grp ON grp.id = doc.doc_id
"""
)

_INCREMENTAL_DEDUP_SQL = (
    "WITH " + _NGRAM_PAIR_CTES + """,
    newd AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0),
    nh AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 = 0),
    ch AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 10 <> 0),
    ec AS (SELECT DISTINCT nh.doc_id FROM nh JOIN ch ON ch.h = nh.h),
    eb AS (SELECT DISTINCT a.doc_id FROM nh a
           JOIN nh b ON b.h = a.h AND b.doc_id < a.doc_id),
    nc AS (SELECT DISTINCT doc_id FROM (
             SELECT id_a AS doc_id FROM npairs
             WHERE id_a % 10 = 0 AND id_b % 10 <> 0
             UNION ALL
             SELECT id_b FROM npairs
             WHERE id_b % 10 = 0 AND id_a % 10 <> 0)),
    nb AS (SELECT DISTINCT id_b AS doc_id FROM npairs
           WHERE id_a % 10 = 0 AND id_b % 10 = 0)
    SELECT newd.doc_id AS doc_id,
           CASE WHEN ec.doc_id IS NOT NULL THEN 'exact_corpus'
                WHEN eb.doc_id IS NOT NULL THEN 'exact_batch'
                WHEN nc.doc_id IS NOT NULL THEN 'near_corpus'
                WHEN nb.doc_id IS NOT NULL THEN 'near_batch'
                ELSE 'kept' END AS status
    FROM newd
    LEFT JOIN ec ON ec.doc_id = newd.doc_id
    LEFT JOIN eb ON eb.doc_id = newd.doc_id
    LEFT JOIN nc ON nc.doc_id = newd.doc_id
    LEFT JOIN nb ON nb.doc_id = newd.doc_id
"""
)

# After supersteps 0-3 (feature -> rating -> feature -> rating) every
# feature vertex's component 0 is clamp(1 + lr * sum(rating - 1)): the
# first rating round sees uval = mval = 1.0 so err = lr*(rating-1), the
# second feature round applies the summed gradient once, and the final
# rating round does not touch fvec. See q_recommend_round4.
_RECOMMEND_ROUND4_SQL = """
    WITH ratings AS (
        SELECT 'u' || CAST(l_orderkey % 97 AS VARCHAR) AS user_id,
               'm' || CAST(l_partkey % 31 AS VARCHAR) AS movie_id,
               min(CAST(l_quantity % 5 + 1 AS DOUBLE)) AS rating
        FROM lineitem WHERE l_orderkey % 50 = 0 GROUP BY 1, 2),
    g AS (
        SELECT user_id AS id, 'user' AS kind,
               sum(0.001 * (rating - 1.0)) AS gsum
        FROM ratings GROUP BY 1
        UNION ALL
        SELECT movie_id, 'movie', sum(0.001 * (rating - 1.0))
        FROM ratings GROUP BY 1)
    SELECT id, kind,
           round(least(10.0, greatest(-10.0, 1.0 + gsum)), 6) AS f0
    FROM g
"""

# the driver's correctness gate runs at this SF; the media/corpus oracle
# caches are parquet files both engines read, so their paths must resolve
# at oracle-construction time — overridable for local runs at other SFs
DEFAULT_ORACLE_SF_DIR = "/root/testdata/sf0.01"
_ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", DEFAULT_ORACLE_SF_DIR)

# queries() keys whose oracle_sql() entries are legitimately conditional on
# the configured oracle SF dir / cache availability: omitting one downgrades
# the driver gate to rows-only for that query (with a warning), it is not a
# construction bug. The entry-contract test tolerates exactly these at
# non-default SF dirs and nothing else.
CONDITIONAL_ORACLES = frozenset(
    {
        "parse_edges",
        "content_sha256",
        "media_decode",
        "pagerank_converged",
        "kcore_converged",
    }
)


def _kmeans_sql(k: int, iters: int, dim: int = 64) -> str:
    """DuckDB twin of kmeans_centroids(k, iters): same init (vectors of
    the k smallest ids), cosine argmax assignment with smaller-cluster
    tie-break, empty clusters keep their previous centroid."""
    ctes = _kmeans_ctes(k, iters, dim)
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT cluster, pos, round(m, 6) AS v FROM c{iters}")


def _kmeans_assign_sql(k: int, iters: int, dim: int = 64) -> str:
    """kmeans chain + one final assignment pass against c{iters} —
    the DuckDB twin of kmeans_assign(k, iters)."""
    ctes = _kmeans_ctes(k, iters, dim)
    f = iters + 1
    ctes.append(
        f"""d{f} AS (SELECT p.id, c.cluster,
                  sum(p.v[c.pos + 1]::DOUBLE * c.m) AS dot,
                  sqrt(sum(p.v[c.pos + 1]::DOUBLE * p.v[c.pos + 1]::DOUBLE)) AS np,
                  sqrt(sum(c.m * c.m)) AS nc
           FROM pts p, c{iters} c GROUP BY p.id, c.cluster)"""
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
        SELECT id AS vec_id, cluster::BIGINT AS cluster FROM (
            SELECT id, cluster, row_number() OVER (
                PARTITION BY id ORDER BY dot / (np * nc) DESC, cluster ASC) AS rn
            FROM d{f}) WHERE rn = 1"""
    )


def _semdedup_sql(k: int, iters: int, threshold: float, dim: int = 64) -> str:
    """kmeans chain + within-cluster pairwise cosine + keep-first rule —
    the DuckDB twin of semdedup(k, iters, threshold)."""
    ctes = _kmeans_ctes(k, iters, dim)
    f = iters + 1
    ctes += [
        f"""d{f} AS (SELECT p.id, c.cluster,
                  sum(p.v[c.pos + 1]::DOUBLE * c.m) AS dot,
                  sqrt(sum(p.v[c.pos + 1]::DOUBLE * p.v[c.pos + 1]::DOUBLE)) AS np,
                  sqrt(sum(c.m * c.m)) AS nc
           FROM pts p, c{iters} c GROUP BY p.id, c.cluster)""",
        f"""asgf AS (SELECT id, cluster FROM (
                SELECT id, cluster, row_number() OVER (
                    PARTITION BY id ORDER BY dot / (np * nc) DESC, cluster ASC) AS rn
                FROM d{f}) WHERE rn = 1)""",
        """pr AS (SELECT x.id AS id_a, y.id AS id_b
                FROM asgf x JOIN asgf y ON x.cluster = y.cluster AND x.id < y.id)""",
        """flat AS (SELECT pr.id_a, pr.id_b,
                         unnest(pa.v)::DOUBLE AS xx, unnest(pb.v)::DOUBLE AS yy
                  FROM pr JOIN pts pa ON pa.id = pr.id_a
                          JOIN pts pb ON pb.id = pr.id_b)""",
        """dd AS (SELECT id_a, id_b, sum(xx * yy) AS dot,
                       sqrt(sum(xx * xx)) AS na, sqrt(sum(yy * yy)) AS nb
                FROM flat GROUP BY id_a, id_b)""",
        f"""dup AS (SELECT DISTINCT id_b AS id FROM dd
                 WHERE dot / (na * nb) >= {threshold})""",
    ]
    return (
        "WITH " + ",\n".join(ctes)
        + """
        SELECT a.id AS vec_id, a.cluster::BIGINT AS cluster,
               (d.id IS NULL) AS keep
        FROM asgf a LEFT JOIN dup d ON d.id = a.id"""
    )


def _kmeans_ctes(k: int, iters: int, dim: int = 64) -> list[str]:
    ctes = [
        "pts AS (SELECT vec_id AS id, embedding AS v FROM embeddings)",
        f"""init AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cluster, v
                     FROM (SELECT id, v FROM pts ORDER BY id LIMIT {k}))""",
        f"""c0 AS (SELECT cluster, i AS pos, v[i + 1]::DOUBLE AS m
                   FROM init, generate_series(0, {dim - 1}) t(i))""",
    ]
    for it in range(1, iters + 1):
        prev = f"c{it - 1}"
        ctes.append(
            f"""d{it} AS (SELECT p.id, c.cluster,
                      sum(p.v[c.pos + 1]::DOUBLE * c.m) AS dot,
                      sqrt(sum(p.v[c.pos + 1]::DOUBLE * p.v[c.pos + 1]::DOUBLE)) AS np,
                      sqrt(sum(c.m * c.m)) AS nc
               FROM pts p, {prev} c GROUP BY p.id, c.cluster)"""
        )
        ctes.append(
            f"""a{it} AS (SELECT id, cluster FROM (
                    SELECT id, cluster, row_number() OVER (
                        PARTITION BY id ORDER BY dot / (np * nc) DESC, cluster ASC) AS rn
                    FROM d{it}) WHERE rn = 1)"""
        )
        ctes.append(
            f"""r{it} AS (SELECT a.cluster, t.i AS pos, avg(p.v[t.i + 1]::DOUBLE) AS m
               FROM a{it} a JOIN pts p ON p.id = a.id, generate_series(0, {dim - 1}) t(i)
               GROUP BY a.cluster, t.i)"""
        )
        ctes.append(
            f"""c{it} AS (SELECT c.cluster, c.pos, coalesce(r.m, c.m) AS m
               FROM {prev} c LEFT JOIN r{it} r
               ON r.cluster = c.cluster AND r.pos = c.pos)"""
        )
    return ctes


def _simhash_md5_sql(max_hamming: int) -> str:
    """DuckDB twin of simhash_near_dups(family="md5"): same 64 vote bits
    from md5(token) hex halves, exact all-pairs hamming (banding is a
    Spark-side pruning detail — the relation is identical)."""
    votes_lo = ", ".join(
        f"sum(CASE WHEN (lo >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(32)
    )
    votes_hi = ", ".join(
        f"sum(CASE WHEN (hi >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS w{i}"
        for i in range(32)
    )
    sim_lo = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN (1::BIGINT << {i}) ELSE 0 END)" for i in range(32)
    )
    sim_hi = " + ".join(
        f"(CASE WHEN w{i} > 0 THEN (1::BIGINT << {i}) ELSE 0 END)" for i in range(32)
    )
    return f"""
        WITH t AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
                   FROM documents WHERE length(trim(text)) > 0),
        h AS (SELECT doc_id,
                     ('0x' || substring(md5(tok), 1, 8))::UINTEGER::BIGINT AS hi,
                     ('0x' || substring(md5(tok), 9, 8))::UINTEGER::BIGINT AS lo
              FROM t),
        v AS (SELECT doc_id, {votes_lo}, {votes_hi} FROM h GROUP BY doc_id),
        s AS (SELECT doc_id, {sim_lo} AS sim_lo, {sim_hi} AS sim_hi FROM v)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               (bit_count(xor(a.sim_lo, b.sim_lo)) + bit_count(xor(a.sim_hi, b.sim_hi)))::BIGINT AS hamming
        FROM s a, s b
        WHERE a.doc_id < b.doc_id
          AND bit_count(xor(a.sim_lo, b.sim_lo)) + bit_count(xor(a.sim_hi, b.sim_hi)) <= {max_hamming}
    """


def oracle_sql() -> dict[str, str]:
    tok_cte = (
        "t AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok "
        "FROM documents WHERE length(trim(text)) > 0)"
    )
    lang_scores = ", ".join(
        f"sum(CASE WHEN tok IN {tuple(m)} THEN 1 ELSE 0 END)::BIGINT AS score_{lang}"
        for lang, m in sorted(LANG_MARKERS.items())
    )
    langs = sorted(LANG_MARKERS)
    lang_case = (
        "CASE "
        + " ".join(
            f"WHEN {' AND '.join(f'score_{lang} >= score_{o}' for o in langs if o != lang)} THEN '{lang}'"
            for lang in langs
        )
        + " END"
    )
    # Guarded construction (no hard failure, no surprise side effects at
    # other SFs): if the shared parquet caches cannot be built — e.g. the
    # gate SF's documents table is absent — the affected entries are
    # OMITTED (the driver then records a rows-only check for them), with a
    # visible warning naming them, instead of poisoning every other oracle
    # with an exception. Only environment-shaped failures (missing files,
    # bad paths, unavailable libs) are downgraded; a genuine construction
    # bug (TypeError/KeyError/...) still raises.
    import warnings

    out: dict[str, str] = {}
    try:
        corpus_file = _ensure_entry_corpus()
        out["parse_edges"] = _PARSE_EDGES_SQL_TEMPLATE.format(path=corpus_file)
        out["content_sha256"] = f"""
            SELECT repo, path, sha256(content) AS sha256
            FROM read_parquet('{corpus_file}')
        """
    except (OSError, ValueError, RuntimeError, ImportError) as exc:
        warnings.warn(
            f"oracle_sql: omitting parse_edges/content_sha256 oracles "
            f"(corpus cache unavailable: {exc!r}) — driver gate downgrades "
            f"them to rows-only",
            RuntimeWarning,
            stacklevel=2,
        )
    try:
        if os.path.exists(os.path.join(_ORACLE_SF_DIR, "documents.parquet")):
            out["media_decode"] = _MEDIA_SQL_TEMPLATE.format(
                path=_media_parquet(_ORACLE_SF_DIR)
            )
    except (OSError, ValueError, RuntimeError, ImportError) as exc:
        warnings.warn(
            f"oracle_sql: omitting media_decode oracle (media cache "
            f"unavailable: {exc!r}) — driver gate downgrades it to rows-only",
            RuntimeWarning,
            stacklevel=2,
        )
    if os.path.basename(_ORACLE_SF_DIR.rstrip("/")) == "sf0.01":
        # the pinned step count is a property of THIS graph; at any other
        # SF the engine halts elsewhere, so omit the oracle (rows-only)
        # rather than compare against a wrong-length replay
        out["pagerank_converged"] = _pagerank_chain_sql(
            PAGERANK_CONVERGED_STEPS_SF001
        )
        out["kcore_converged"] = _kcore_chain_sql(
            KCORE_K_SF001, KCORE_CONVERGED_ROUNDS_SF001
        )
    out.update({
        "ppr_seeded_fixed10": _pagerank_chain_sql(10, personalized=True),
        "pagerank_weighted_fixed5": _pagerank_weighted_chain_sql(5),
        "hits_round3": _hits_chain_sql(3),
        "graph_out_degree": f"""
            WITH {_EDGE_CTE}, {_VERT_CTE}
            SELECT v.id AS id, count(e.src) AS out_degree
            FROM v LEFT JOIN e ON e.src = v.id GROUP BY v.id
        """,
        "pagerank_step1": f"""
            WITH {_EDGE_CTE}, {_VERT_CTE}, {_DEG_CTE},
            msg AS (SELECT e.dst AS id, 1.0 / deg.d AS c FROM e JOIN deg ON deg.id = e.src),
            s AS (SELECT id, sum(c) AS s FROM msg GROUP BY id)
            SELECT v.id AS id, round(0.15 + 0.85 * coalesce(s.s, 0), 6) AS rank
            FROM v LEFT JOIN s ON s.id = v.id
        """,
        "degree_histogram": f"""
            WITH {_EDGE_CTE}, {_VERT_CTE}, {_DEG_CTE}
            SELECT length(bin(d))::BIGINT AS bucket,
                   count(*) AS n_vertices,
                   min(d) AS min_degree, max(d) AS max_degree
            FROM deg GROUP BY length(bin(d))
        """,
        "pagerank_fixed10": _pagerank_chain_sql(10),
        "pagerank_fixed10_shuffle": _pagerank_chain_sql(10),
        "cc_round1": f"""
            WITH {_EDGE_CTE}, {_VERT_CTE}, {_SYM_CTE},
            mins AS (SELECT dst AS id, min(src) AS mn FROM sym GROUP BY dst)
            SELECT v.id AS id, least(v.id, coalesce(m.mn, v.id)) AS label
            FROM v LEFT JOIN mins m ON m.id = v.id
        """,
        "cc_converged": _CC_REACH_SQL,
        "scc_converged": _SCC_MUTUAL_SQL,
        "random_walks_l5": _walks_chain_sql(5, 2),
        "node2vec_l4": _node2vec_chain_sql(4, 1, 5000, 20000, 10000),
        "anf_sketch_h3": _anf_chain_sql(3, 16),
        "harmonic_h3": _harmonic_chain_sql(3, 16),
        "closeness_h3": _closeness_chain_sql(3, 16),
        "reciprocity": (
            f"WITH {_EDGE_CTE}, "
            "de AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst), "
            "t AS (SELECT count(*)::BIGINT AS total_edges FROM de), "
            "r AS (SELECT count(*)::BIGINT AS reciprocal_edges FROM de a "
            "JOIN de b ON b.src = a.dst AND b.dst = a.src) "
            "SELECT t.total_edges, r.reciprocal_edges, "
            "CASE WHEN t.total_edges = 0 THEN 0.0 ELSE "
            "round(r.reciprocal_edges::DOUBLE / t.total_edges::DOUBLE, 6) END "
            "AS reciprocity FROM t, r"
        ),
        "neighbor_mean_emb": (
            f"WITH {_EDGE_CTE}, "
            "de AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst), "
            "comp AS (SELECT vec_id AS nid, i AS pos, "
            "floor(embedding[i + 1]::DOUBLE * 1000000.0)::BIGINT AS xm "
            "FROM embeddings, generate_series(0, 63) t(i)), "
            "agg AS (SELECT de.src AS vec_id, comp.pos, "
            "sum(comp.xm)::BIGINT AS s, count(*)::BIGINT AS n_nbrs "
            "FROM de JOIN comp ON comp.nid = de.dst GROUP BY de.src, comp.pos) "
            "SELECT vec_id, pos, "
            "floor(s::DOUBLE / n_nbrs::DOUBLE)::BIGINT AS mean_micro, "
            "n_nbrs FROM agg"
        ),
        "mis_round1": (
            f"WITH {_EDGE_CTE}, {_VERT_CTE}, {_SYM_CTE}, "
            "pr AS (SELECT id, ('0x' || substring(md5('mis:' || id::VARCHAR), "
            "1, 8))::UINTEGER::BIGINT AS p FROM v), "
            "win AS (SELECT a.id FROM pr a WHERE NOT EXISTS ("
            "SELECT 1 FROM sym s JOIN pr b ON b.id = s.dst "
            "WHERE s.src = a.id AND (b.p > a.p OR (b.p = a.p AND b.id > a.id)))), "
            "lose AS (SELECT DISTINCT s.dst AS id FROM sym s "
            "JOIN win ON win.id = s.src) "
            "SELECT id, TRUE AS in_mis, 1::BIGINT AS round FROM win "
            "UNION ALL SELECT id, FALSE AS in_mis, 1::BIGINT AS round FROM lose "
            # max_rounds=1 leaves a frontier: one NULL-marked row per
            # still-undecided vertex (mirrors mis.py's exhausted-budget rows)
            "UNION ALL SELECT id, NULL::BOOLEAN AS in_mis, NULL::BIGINT AS round "
            "FROM v WHERE id NOT IN (SELECT id FROM win) "
            "AND id NOT IN (SELECT id FROM lose)"
        ),
        "densest_round2": (
            f"WITH {_EDGE_CTE}, {_SYM_CTE}, "
            "d1 AS (SELECT src AS id, count(*)::BIGINT AS degree FROM sym GROUP BY src), "
            "t1 AS (SELECT count(*)::BIGINT AS v, sum(degree)::BIGINT AS e2 FROM d1), "
            "dr1 AS (SELECT id FROM d1, t1 "
            "WHERE degree <= 1.125::DOUBLE * (e2::DOUBLE / v::DOUBLE)), "
            "s2 AS (SELECT sym.src, sym.dst FROM sym "
            "LEFT JOIN dr1 a ON a.id = sym.src LEFT JOIN dr1 b ON b.id = sym.dst "
            "WHERE a.id IS NULL AND b.id IS NULL), "
            "d2 AS (SELECT src AS id, count(*)::BIGINT AS degree FROM s2 GROUP BY src), "
            "t2 AS (SELECT count(*)::BIGINT AS v, sum(degree)::BIGINT AS e2 FROM d2), "
            "dr2 AS (SELECT id FROM d2, t2 "
            "WHERE degree <= 1.125::DOUBLE * (e2::DOUBLE / v::DOUBLE)), "
            "s3 AS (SELECT s2.src, s2.dst FROM s2 "
            "LEFT JOIN dr2 a ON a.id = s2.src LEFT JOIN dr2 b ON b.id = s2.dst "
            "WHERE a.id IS NULL AND b.id IS NULL) "
            "SELECT src AS id, count(*)::BIGINT AS degree FROM s3 GROUP BY src"
        ),
        "boruvka_round1": (
            f"WITH {_EDGE_CTE}, "
            "pw AS (SELECT least(src, dst) AS u, greatest(src, dst) AS v, "
            "(-count(*))::BIGINT AS w FROM e WHERE src <> dst GROUP BY 1, 2), "
            "inc AS (SELECT u AS c, u, v, w FROM pw "
            "UNION ALL SELECT v AS c, u, v, w FROM pw), "
            "sel AS (SELECT c, u, v, w, row_number() OVER "
            "(PARTITION BY c ORDER BY w, u, v) AS rn FROM inc) "
            "SELECT DISTINCT u, v, w FROM sel WHERE rn = 1"
        ),
        "degree_assortativity": (
            f"WITH {_EDGE_CTE}, "
            "de AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst), "
            "od AS (SELECT src, count(*)::BIGINT AS x FROM de GROUP BY src), "
            "idg AS (SELECT dst, count(*)::BIGINT AS y FROM de GROUP BY dst), "
            "j AS (SELECT od.x AS x, idg.y AS y FROM de "
            "JOIN od ON od.src = de.src JOIN idg ON idg.dst = de.dst), "
            "agg AS (SELECT count(*)::BIGINT AS m, sum(x)::BIGINT AS sx, "
            "sum(y)::BIGINT AS sy, "
            "sum(x::DECIMAL(19,0)*y::DECIMAL(19,0))::DECIMAL(38,0) AS sxy, "
            "sum(x::DECIMAL(19,0)*x::DECIMAL(19,0))::DECIMAL(38,0) AS sxx, "
            "sum(y::DECIMAL(19,0)*y::DECIMAL(19,0))::DECIMAL(38,0) AS syy FROM j) "
            "SELECT m, sx, sy, sxy::DOUBLE AS sxy, sxx::DOUBLE AS sxx, "
            "syy::DOUBLE AS syy, "
            "CASE WHEN (m::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) <= 0.0 "
            "OR (m::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) <= 0.0 THEN 0.0 "
            "ELSE round((m::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) / "
            "(sqrt(m::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) * "
            "sqrt(m::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)), 6) END "
            "AS assortativity FROM agg"
        ),
        "betweenness_h3": _betweenness_chain_sql(3),
        "edge_betweenness_h3": _edge_betweenness_chain_sql(3),
        "cc_converged_shuffle": _CC_REACH_SQL,
        "cc_auto_algorithm": _CC_REACH_SQL,
        "cc_alternating": _CC_REACH_SQL,
        "recommend_round4": _RECOMMEND_ROUND4_SQL,
        "recommend_round4_broadcast": _RECOMMEND_ROUND4_SQL,
        "lp_round1": f"""
            WITH {_EDGE_CTE}, {_VERT_CTE}, {_SYM_CTE},
            cnt AS (SELECT dst AS id, src AS m, count(*) AS c FROM sym GROUP BY dst, src),
            pick AS (SELECT id, m, row_number() OVER (PARTITION BY id ORDER BY c DESC, m ASC) AS rn FROM cnt)
            SELECT v.id AS id, coalesce(p.m, v.id) AS label
            FROM v LEFT JOIN (SELECT id, m FROM pick WHERE rn = 1) p ON p.id = v.id
        """,
        "lp_round3": _lp_chain_sql(3),
        "louvain_round2": _louvain_chain_sql(2),
        "louvain_weighted_round2": _louvain_chain_sql(2, weight_expr="1 + (src + dst) % 3"),
        "lp_round3_delta": _lp_chain_sql(3),
        "lp_seeded_round3": _lp_seeded_chain_sql(3),
        "lp_weighted_round3": _lp_weighted_chain_sql(3),
        "wl_round2": _wl_chain_sql(2),
        "percolation_round3": _percolation_chain_sql(3, 400_000),
        "triad_census": _triad_census_sql(),
        "lp_round3_shuffle": _lp_chain_sql(3),
        "triangles_per_vertex": f"""
            WITH {_EDGE_CTE}, {_VERT_CTE},
            c AS (SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst
                  FROM e WHERE src <> dst),
            tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c3
                    FROM c e1 JOIN c e2 ON e1.dst = e2.src
                    JOIN c e3 ON e3.src = e1.src AND e3.dst = e2.dst),
            corners AS (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
                        UNION ALL SELECT c3 FROM tri),
            cnt AS (SELECT id, count(*) AS t FROM corners GROUP BY id)
            SELECT v.id AS id, coalesce(cnt.t, 0) AS triangles
            FROM v LEFT JOIN cnt ON cnt.id = v.id
        """,
        "coreness_round3": _coreness_chain_sql(3),
        "rich_club": _rich_club_sql(),
        "attr_assortativity": _attr_assortativity_sql(),
        "trussness_round2": _trussness_fixed_sql(2),
        "local_clustering": _local_clustering_sql(),
        "link_pred_top5": _link_pred_sql(5, 2, 1_000_000),
        "ktruss_round2": _ktruss_fixed_sql(KTRUSS_K, KTRUSS_ROUNDS),
        "lp_modularity_round3": _modularity_lp_sql(3),
        "modularity_weighted": f"""
            WITH {_EDGE_CTE}, {_VERT_CTE},
            und AS (SELECT least(src, dst) AS lo, greatest(src, dst) AS hi,
                    sum((1 + (src + dst) % 3)::BIGINT)::BIGINT AS w
                    FROM e WHERE src <> dst GROUP BY 1, 2),
            lab AS (SELECT id, id % 5 AS label FROM v),
            tagged AS (SELECT u.w AS w, a.label AS ls, b.label AS ld FROM und u
                       JOIN lab a ON a.id = u.lo JOIN lab b ON b.id = u.hi),
            agg AS (SELECT sum(w)::BIGINT AS tw,
                    coalesce(sum(CASE WHEN ls = ld THEN w END), 0)::BIGINT AS w_in
                    FROM tagged),
            strength AS (SELECT lo AS id, w FROM und UNION ALL SELECT hi, w FROM und),
            sc AS (SELECT sum(ssum::DECIMAL(19,0) * ssum::DECIMAL(19,0))::DECIMAL(38,0) AS sum_s2
                   FROM (SELECT lab.label, sum(strength.w)::BIGINT AS ssum
                         FROM strength JOIN lab ON lab.id = strength.id
                         GROUP BY lab.label))
            SELECT round(w_in::DOUBLE / tw
                   - sum_s2::DOUBLE / (4.0 * tw::DOUBLE * tw::DOUBLE), 6)
                   AS modularity
            FROM agg CROSS JOIN sc
        """,

        "lp_conductance_round3": _conductance_lp_sql(3),
        "square_count": f"""
            WITH {_EDGE_CTE}, {_CANON_CTE}, {_SADJ_CTE},
            wg AS (SELECT x.w2 AS a, y.w2 AS b
                   FROM sadj x JOIN sadj y ON x.u = y.u
                   WHERE x.w2 < y.w2),
            p AS (SELECT a, b, count(*) AS w FROM wg GROUP BY a, b)
            SELECT count(*)::BIGINT AS wedge_pairs,
                   CAST(sum(w * (w - 1)) // 4 AS BIGINT) AS squares
            FROM p
        """,
        "sssp_round3": _sssp_chain_sql(3),
        "topo_depth_round3": _topo_chain_sql(TOPO_ROUNDS),
        "cocitation_top3": _cocitation_sql(COCITE_K, False),
        "bib_coupling_top3": _cocitation_sql(COCITE_K, True),
        "salsa_round3": _salsa_chain_sql(3),
        "eigenvector_round3": _eigenvector_chain_sql(3),
        "katz_round3": _katz_chain_sql(3, 0.1, 1.0),
        "spam_mass_fixed10": _spam_mass_chain_sql(10),
        "effective_diameter_h3": _effective_diameter_sql(3, 16, 0.9),
        "matching_round1": (
            f"WITH {_EDGE_CTE}, {_VERT_CTE}, {_SYM_CTE}, "
            # one row per undirected edge with its fixed md5-u32 priority
            "ep AS (SELECT src AS lo, dst AS hi, "
            "('0x' || substring(md5('matching:' || src::VARCHAR || ':' || "
            "dst::VARCHAR), 1, 8))::UINTEGER::BIGINT AS p "
            "FROM sym WHERE src < dst), "
            "inc AS (SELECT lo AS id, p, lo, hi FROM ep "
            "UNION ALL SELECT hi AS id, p, lo, hi FROM ep), "
            "pick AS (SELECT id, lo, hi FROM ("
            "SELECT id, lo, hi, row_number() OVER (PARTITION BY id "
            "ORDER BY p DESC, lo DESC, hi DESC) AS rn FROM inc) WHERE rn = 1), "
            # mutual pick: both endpoints picked the same edge
            "m AS (SELECT a.lo AS u, a.hi AS v FROM pick a "
            "JOIN pick b ON b.id = a.hi AND b.lo = a.lo AND b.hi = a.hi "
            "WHERE a.id = a.lo), "
            "m2 AS (SELECT u AS id, v AS mate FROM m "
            "UNION ALL SELECT v AS id, u AS mate FROM m) "
            "SELECT v.id AS id, m2.mate AS mate, "
            "CASE WHEN m2.mate IS NULL THEN NULL ELSE 1 END::BIGINT AS round "
            "FROM v LEFT JOIN m2 ON m2.id = v.id"
        ),
        "coloring_round3": _coloring_chain_sql(3),
        "triangle_count": f"""
            WITH {_EDGE_CTE},
            c AS (SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst
                  FROM e WHERE src <> dst)
            SELECT count(*) AS triangles
            FROM c e1 JOIN c e2 ON e1.dst = e2.src
            JOIN c e3 ON e3.src = e1.src AND e3.dst = e2.dst
        """,
        "dedup_exact": """
            SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_dups
            FROM documents GROUP BY md5(text)
        """,
        "repetition_stats": _repetition_stats_sql(),
        "paragraph_dedup": _paragraph_dedup_sql(),
        "boilerplate_strip": _boilerplate_strip_sql(),
        "pii_scrub": _pii_scrub_sql(),
        "pack_sequences": _pack_sequences_sql(),
        "token_stats": f"""
            WITH {tok_cte}
            SELECT doc_id, count(*) AS n_tokens, round(avg(length(tok)), 6) AS avg_token_len
            FROM t GROUP BY doc_id
        """,
        "curation_pipeline": _curation_pipeline_sql(),
        "doc_split": _doc_split_sql(),
        "stratified_sample": _stratified_sample_sql(),
        "mix_sources": _mix_sources_sql(),
        "chunk_docs": _chunk_docs_sql(8, 2),
        "contamination": r"""
            WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
                       FROM documents WHERE length(trim(text)) > 0),
            idx AS (SELECT doc_id, arr,
                           unnest(generate_series(1, greatest(len(arr) - 2, 1))) AS i
                    FROM d),
            sh AS (SELECT DISTINCT doc_id,
                          array_to_string(arr[i:i+2], ' ') AS shingle
                   FROM idx
                   WHERE length(array_to_string(arr[i:i+2], ' ')) > 0),
            tr AS (SELECT * FROM sh WHERE doc_id % 20 <> 0),
            bm AS (SELECT doc_id AS bid, shingle FROM sh WHERE doc_id % 20 = 0),
            sizes AS (SELECT doc_id, count(*)::BIGINT AS n_shingles FROM tr GROUP BY doc_id),
            hits AS (SELECT tr.doc_id, tr.shingle, bm.bid FROM tr JOIN bm ON bm.shingle = tr.shingle),
            agg AS (SELECT doc_id,
                           count(DISTINCT shingle)::BIGINT AS n_shared_shingles,
                           count(DISTINCT bid)::BIGINT AS n_benchmark_hits
                    FROM hits GROUP BY doc_id)
            SELECT agg.doc_id, sizes.n_shingles, agg.n_shared_shingles,
                   agg.n_benchmark_hits,
                   round(agg.n_shared_shingles::DOUBLE / sizes.n_shingles::DOUBLE, 6)
                       AS share_ratio
            FROM agg JOIN sizes ON sizes.doc_id = agg.doc_id
            WHERE agg.n_shared_shingles >= 1
        """,
        "tfidf_top3": f"""
            WITH {tok_cte},
            tf AS (SELECT doc_id, tok, count(*)::BIGINT AS tf
                   FROM t GROUP BY doc_id, tok),
            df AS (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY tok),
            nd AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
            s AS (SELECT tf.doc_id, tf.tok, tf.tf,
                         tf.tf::DOUBLE * ln(nd.n_docs::DOUBLE / df.df::DOUBLE) AS tfidf,
                         row_number() OVER (PARTITION BY tf.doc_id
                             ORDER BY tf.tf::DOUBLE * ln(nd.n_docs::DOUBLE / df.df::DOUBLE) DESC,
                                      tf.tok) AS rnk
                  FROM tf JOIN df ON df.tok = tf.tok CROSS JOIN nd)
            SELECT doc_id, tok, tf, round(tfidf, 6) AS tfidf, rnk::INT AS rnk
            FROM s WHERE rnk <= 3
        """,
        "stopword_ratio": f"""
            WITH {tok_cte}
            SELECT doc_id, count(*) AS n_tokens,
                   round(sum(CASE WHEN tok IN ('the','a','of','and') THEN 1 ELSE 0 END) * 1.0
                         / count(*), 6) AS stop_ratio
            FROM t GROUP BY doc_id
        """,

        "bpe_token_stats": r"""
            WITH t AS (SELECT doc_id,
                              unnest(regexp_extract_all(text, '''s|''t|''re|''ve|''m|''ll|''d|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS tok
                       FROM documents)
            SELECT doc_id, count(*) AS n_bpe_tokens,
                   sum(CASE WHEN regexp_matches(tok, '^[A-Za-z]+$|^''') THEN 1 ELSE 0 END)::BIGINT AS n_alpha,
                   sum(CASE WHEN regexp_matches(tok, '^[0-9]+$') THEN 1 ELSE 0 END)::BIGINT AS n_digit,
                   (count(*)
                     - sum(CASE WHEN regexp_matches(tok, '^[A-Za-z]+$|^''') THEN 1 ELSE 0 END)
                     - sum(CASE WHEN regexp_matches(tok, '^[0-9]+$') THEN 1 ELSE 0 END))::BIGINT AS n_punct
            FROM t GROUP BY doc_id
        """,
        "doc_quality": f"""
            WITH {tok_cte},
            agg AS (SELECT doc_id, count(*) AS n_tokens,
                           round(avg(length(tok)), 6) AS avg_token_len,
                           round(sum(CASE WHEN tok IN ('the','a','of','and') THEN 1 ELSE 0 END) * 1.0
                                 / count(*), 6) AS stop_ratio,
                           round(sum(length(regexp_replace(tok, '[A-Za-z0-9]', '', 'g'))) * 1.0
                                 / sum(length(tok)), 6) AS punct_ratio
                    FROM t GROUP BY doc_id)
            SELECT a.doc_id, length(d.text) AS n_chars, a.n_tokens, a.avg_token_len,
                   a.stop_ratio, a.punct_ratio,
                   round((least(a.n_tokens / 100.0, 1.0)
                          + least(a.stop_ratio * 4.0, 1.0)
                          + (1.0 - a.punct_ratio)) / 3.0, 6) AS quality
            FROM agg a JOIN documents d ON d.doc_id = a.doc_id
        """,
        "duplicate_spans": """
            WITH n AS (SELECT doc_id,
                              regexp_replace(trim(text), '\\s+', ' ', 'g') AS t
                       FROM documents),
            h AS (SELECT doc_id,
                         [('0x' || substring(md5(t[i + 1 : i + 24]), 1, 8))::UINTEGER::BIGINT
                          FOR i IN generate_series(0, greatest(length(t) - 24, 0))] AS hs
                  FROM n),
            w AS (SELECT doc_id,
                         [list_aggregate(hs[i + 1 : i + 8], 'min')
                          FOR i IN generate_series(0, greatest(len(hs) - 8, 0))] AS fps
                  FROM h),
            fp AS (SELECT DISTINCT doc_id, unnest(fps) AS fp FROM w)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS shared_fps
            FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 2
        """,
        "rolling_fingerprints": r"""
            WITH n AS (SELECT doc_id,
                              regexp_replace(trim(text), '\s+', ' ', 'g') AS t
                       FROM documents),
            h AS (SELECT doc_id,
                         [('0x' || substring(md5(t[i + 1 : i + 8]), 1, 8))::UINTEGER::BIGINT
                          FOR i IN generate_series(0, greatest(length(t) - 8, 0))] AS hs
                  FROM n),
            w AS (SELECT doc_id,
                         [list_aggregate(hs[i + 1 : i + 4], 'min')
                          FOR i IN generate_series(0, greatest(len(hs) - 4, 0))] AS fps
                  FROM h)
            SELECT DISTINCT doc_id, unnest(fps) AS fp FROM w
        """,
        "doc_fingerprint": r"""
            SELECT doc_id, md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS fingerprint
            FROM documents
        """,
        "lang_pred": f"""
            WITH {tok_cte},
            s AS (SELECT doc_id, {lang_scores} FROM t GROUP BY doc_id)
            SELECT doc_id, {lang_case} AS pred_lang FROM s
        """,
        "embedding_centroids": """
            SELECT label, i AS pos, round(avg(embedding[i + 1]::DOUBLE), 6) AS v
            FROM embeddings, generate_series(0, 63) t(i)
            GROUP BY label, i
        """,
        "kmeans_centroids": _kmeans_sql(4, 2),
        "emb_moments": """
            WITH ex AS (SELECT vec_id,
                        generate_subscripts(embedding, 1) - 1 AS i,
                        floor(unnest(embedding)::DOUBLE * 1000000.0)::BIGINT AS x
                        FROM embeddings),
            p AS (SELECT a.i AS i, b.i AS j, a.x AS xi, b.x AS xj
                  FROM ex a JOIN ex b ON b.vec_id = a.vec_id AND b.i >= a.i)
            SELECT i, j, count(*)::BIGINT AS n,
                   sum(xi)::BIGINT AS s_i, sum(xj)::BIGINT AS s_j,
                   (sum(xi::DECIMAL(19,0) * xj::DECIMAL(19,0))::DECIMAL(38,0))::DOUBLE AS s_ij
            FROM p GROUP BY i, j
        """,

        "kmeans_assign": _kmeans_assign_sql(4, 2),
        "semdedup": _semdedup_sql(4, 2, 0.2),
        "simhash_near_dups": _simhash_md5_sql(7),
        "ngram_jaccard": _NGRAM_JACCARD_SQL,
        "minhash_near_dups": _NGRAM_JACCARD_SQL,
        "incremental_dedup": _INCREMENTAL_DEDUP_SQL,
        "simrank_l3": _simrank_chain_sql(4, 3, 0.8),
        "ppr_sweep_fixed5": _ppr_sweep_sql(5, 40),
        "host_graph": _HOST_GRAPH_SQL,
        "dsir_weights": _DSIR_SQL,
        "lm_perplexity": _LM_PPL_SQL,
        "sessionize": _SESSIONIZE_SQL,
        "event_rates": _EVENT_RATES_SQL,
        "dsir_resample": (
            "WITH w AS (" + _DSIR_SQL + "), "
            "k AS (SELECT doc_id, round(ln(ln(4294967297.0 / "
            "((('0x' || substring(md5('dsir#u:' || doc_id::VARCHAR), 1, 8))"
            "::UINTEGER::BIGINT) + 1))) - weight_micros / 1000000.0, 6) "
            "AS sample_key FROM w) "
            "SELECT doc_id, sample_key FROM k "
            "ORDER BY sample_key, doc_id LIMIT 40"
        ),
        "bowtie_regions": _BOWTIE_SQL,
        "dedup_groups": _DEDUP_GROUPS_SQL,
        "source_cap": _source_cap_sql(7),
        "pagerank_dangling_fixed5": _pagerank_dangling_chain_sql(5),
        "cc_warmstart": _CC_REACH_SQL,
        "embedding_near_dups": """
            WITH pairs AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                       a.embedding AS va, b.embedding AS vb
                FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id),
            flat AS (SELECT id_a, id_b,
                            unnest(va)::DOUBLE AS x, unnest(vb)::DOUBLE AS y FROM pairs),
            d AS (SELECT id_a, id_b, sum(x * y) AS dot,
                         sqrt(sum(x * x)) AS na, sqrt(sum(y * y)) AS nb
                  FROM flat GROUP BY id_a, id_b)
            SELECT id_a, id_b, round(dot / (na * nb), 6) AS cos_sim
            FROM d WHERE dot / (na * nb) >= 0.2
        """,
        "knn_cosine": """
            WITH pairs AS (
                SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
                       a.embedding AS va, b.embedding AS vb
                FROM embeddings a, embeddings b WHERE a.vec_id <> b.vec_id),
            flat AS (SELECT vec_id, neighbor_id,
                            unnest(va)::DOUBLE AS x, unnest(vb)::DOUBLE AS y FROM pairs),
            d AS (SELECT vec_id, neighbor_id, sum(x * y) AS dot,
                         sqrt(sum(x * x)) AS na, sqrt(sum(y * y)) AS nb
                  FROM flat GROUP BY vec_id, neighbor_id),
            ranked AS (SELECT vec_id, neighbor_id, dot / (na * nb) AS sim,
                              row_number() OVER (PARTITION BY vec_id
                                                 ORDER BY dot / (na * nb) DESC, neighbor_id ASC) AS knn_rank
                       FROM d)
            SELECT vec_id, neighbor_id, knn_rank, round(sim, 4) AS cos_sim
            FROM ranked WHERE knn_rank <= 3
        """,
    })
    return out
