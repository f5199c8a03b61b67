"""Local graph-structure operators: clustering coefficient, link
prediction, k-truss, modularity.

These extend the link-analysis surface past the reference's four
programs (reference scope: duwamish's PageRank / components / SSSP /
recommendations examples) with the neighborhood-structure queries a
web-graph / import-graph pipeline runs next: per-vertex clustering,
who-should-link-to-whom scoring, cohesive-subgraph extraction, and
community-quality scoring for the label-propagation output.

All four are pure declarative DataFrame compositions — no UDFs, no
driver loops over rows — so Catalyst keeps them whole-stage-codegen and
AQE handles skew splits:

- the one intermediate that can explode at 10^12-edge scale is the
  wedge relation; every operator here routes it through the
  degree-ordered orientation (`triangles.degree_oriented_edges`), which
  caps it at O(E^1.5) worst case;
- floating-point outputs are either a single division at the end
  (deterministic regardless of aggregation order) or fixed-point
  integer sums (`aa_micro`), so every operator is DuckDB-oracle-able
  bit-for-bit under round(6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from duwamish_spark.graph import canonical_edges, require_columns
from duwamish_spark.pregel import (
    PregelResult,
    free_local_checkpoint,
    local_checkpoint_stats_reset,
)


def _simple_adjacency(edges: DataFrame) -> DataFrame:
    """Symmetrized distinct simple adjacency (u, v): both directions of
    every distinct undirected non-loop edge."""
    c = canonical_edges(edges)
    return c.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionAll(
        c.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )


def _simple_degrees(edges: DataFrame) -> DataFrame:
    """(id, degree) on the undirected simple graph."""
    return (
        _simple_adjacency(edges)
        .groupBy(F.col("u").alias("id"))
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def _distinct_directed(edges: DataFrame) -> DataFrame:
    """Distinct directed simple edges (self-loops and duplicate arcs
    dropped; direction preserved — unlike ``_simple_adjacency``)."""
    require_columns(edges, ("src", "dst"), "edges")
    return (
        edges.where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def reciprocity(edges: DataFrame) -> DataFrame:
    """Edge reciprocity of the directed simple graph: one row
    (total_edges, reciprocal_edges, reciprocity) where reciprocity =
    |{(u,v) ∈ E : (v,u) ∈ E}| / |E| over distinct non-loop arcs —
    Garlaschelli-Loffredo r, the standard first diagnostic on a link /
    import graph (a codebase where A imports B and B imports A is a
    cycle smell; on the web graph r gauges link-exchange density).

    Plan: one distinct (E-bounded), one self-equi-join on (dst, src) —
    shuffle-partitioned on the join key, no driver collect; the single
    final division is the only float op, so the result is
    DuckDB-replayable bit-for-bit under round(6).
    """
    de = _distinct_directed(edges)
    rev = de.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    matched = de.join(rev, ["src", "dst"], "left_semi")
    total = de.agg(F.count(F.lit(1)).alias("total_edges"))
    recip = matched.agg(F.count(F.lit(1)).alias("reciprocal_edges"))
    return total.crossJoin(recip).select(
        "total_edges",
        "reciprocal_edges",
        F.when(F.col("total_edges") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.col("reciprocal_edges").cast("double")
                / F.col("total_edges").cast("double"),
                6,
            )
        )
        .alias("reciprocity"),
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Out-in degree assortativity of the directed simple graph
    (Newman 2002): the Pearson correlation, over distinct non-loop arcs
    (u, v), of out-degree(u) against in-degree(v). One row:
    (m, sx, sy, sxy, sxx, syy, assortativity).

    All six moments are EXACT sums (order-independent, so the
    shuffle/combine order can't perturb them — the aa_micro fixed-point
    discipline); the Pearson formula then runs once on the six scalars
    in a fixed operation order, making the double bit-reproducible and
    SQL-replayable. Degenerate variance (regular graph) returns 0.0 via
    an explicit guard rather than NaN.

    Scale note: the second moments accumulate as DECIMAL(38,0), not
    BIGINT — at 10^12 edges with hub degrees ~10^5, Σ x·y reaches
    ~10^22 ≫ 2^63 and a non-ANSI BIGINT sum would wrap silently.
    DECIMAL(38,0) stays exact (and oracle-replayable) up to 10^38,
    which covers Σ_u deg(u)³ for any graph whose edge count fits
    in int64.
    """
    de = _distinct_directed(edges)
    outd = de.groupBy("src").agg(F.count(F.lit(1)).alias("x"))
    ind = de.groupBy("dst").agg(F.count(F.lit(1)).alias("y"))
    j = de.join(outd, "src").join(ind, "dst")
    xd = F.col("x").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")
    agg = j.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(xd * yd).cast("decimal(38,0)").alias("sxy"),
        F.sum(xd * xd).cast("decimal(38,0)").alias("sxx"),
        F.sum(yd * yd).cast("decimal(38,0)").alias("syy"),
    )
    md = F.col("m").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    cov = md * F.col("sxy").cast("double") - sx * sy
    vx = md * F.col("sxx").cast("double") - sx * sx
    vy = md * F.col("syy").cast("double") - sy * sy
    r = F.when((vx <= 0.0) | (vy <= 0.0), F.lit(0.0)).otherwise(
        F.round(cov / (F.sqrt(vx) * F.sqrt(vy)), 6)
    )
    return agg.select("m", "sx", "sy", "sxy", "sxx", "syy", r.alias("assortativity"))


def oriented_triangles(edges: DataFrame) -> DataFrame:
    """(a, b, c) — every distinct undirected triangle exactly once.

    Wedges come from the degree-ordered orientation (out-degree capped
    at O(sqrt(E)) per vertex — the skew guard); the closing probe runs
    against the canonical id-ordered edge set, so each triangle is
    emitted once, at its minimum-(degree, id) corner. Column contract:
    (b, c) is the closing edge with b < c by id; `a` is the wedge
    center and carries no order relation to b/c.
    """
    from duwamish_spark.algorithms.triangles import degree_oriented_edges

    o = degree_oriented_edges(edges)
    wedges = (
        o.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .join(o.select(F.col("src").alias("a"), F.col("dst").alias("c")), "a")
        .where(F.col("b") < F.col("c"))
    )
    closing = canonical_edges(edges).select(
        F.col("src").alias("b"), F.col("dst").alias("c")
    )
    return wedges.join(closing, ["b", "c"]).select("a", "b", "c")


def clustering_coefficient(
    edges: DataFrame, vertices: DataFrame | None = None
) -> DataFrame:
    """Per-vertex local clustering coefficient on the undirected simple
    graph: (id, degree, triangles, lcc) with lcc = 2T / (d(d-1)),
    0.0 where degree < 2.

    One triangle enumeration (degree-ordered, O(E^1.5) cap) + one
    degree aggregation + one join — the lcc division is the only float
    op, applied once per output row, so the result is deterministic and
    SQL-replayable. Reference scope: structural extension beyond
    duwamish's four example programs (README.md lists PageRank/SSSP/
    recommendations; triangles are SURVEY.md §2.4's fourth algorithm).
    """
    tri = oriented_triangles(edges)
    corners = (
        tri.select(F.col("a").alias("id"))
        .unionAll(tri.select(F.col("b").alias("id")))
        .unionAll(tri.select(F.col("c").alias("id")))
    )
    counts = corners.groupBy("id").agg(F.count(F.lit(1)).alias("triangles"))
    deg = _simple_degrees(edges)
    if vertices is not None:
        deg = vertices.join(deg, "id", "left").select(
            "id", F.coalesce("degree", F.lit(0)).alias("degree")
        )
    out = deg.join(counts, "id", "left").select(
        "id",
        "degree",
        F.coalesce("triangles", F.lit(0)).alias("triangles"),
    )
    d = F.col("degree").cast("double")
    lcc = F.when(
        F.col("degree") >= 2,
        F.round(2.0 * F.col("triangles") / (d * (d - 1.0)), 6),
    ).otherwise(F.lit(0.0))
    return out.withColumn("lcc", lcc)


AA_SCALE = 1_000_000  # fixed-point scale for the Adamic-Adar sum


def link_prediction(
    edges: DataFrame,
    k: int = 5,
    *,
    max_center_degree: int | None = None,
    min_common: int = 1,
) -> DataFrame:
    """Top-k link-prediction candidates per vertex on the undirected
    simple graph: (a, b, common_neighbors, jaccard, adamic_adar) for
    non-adjacent pairs a < b, ranked by common-neighbor count.

    Classic neighborhood scores (Liben-Nowell & Kleinberg 2003):

    - ``common_neighbors`` = |N(a) ∩ N(b)|
    - ``jaccard``          = cn / (d(a) + d(b) - cn)
    - ``adamic_adar``      = Σ_{z ∈ N(a)∩N(b)} 1/ln(d(z))

    Plan shape: one wedge self-join through the shared neighbor z
    (groupBy (a, b) — the same cost model as triangle counting), one
    anti-join against existing edges, one per-a window top-k (map-side
    WindowGroupLimit prunes before the final shuffle). The Adamic-Adar
    sum is accumulated in FIXED-POINT (floor(AA_SCALE/ln d) per term,
    BIGINT sum) so the aggregate is order-independent and exactly
    replayable in SQL; the float columns are single end divisions.

    Rank order is (common_neighbors DESC, b ASC) — integer-deterministic
    on purpose: ranking by the float aa score would make row k vs k+1
    sensitive to last-ulp ln() differences across engines.

    Scale guard: wedge centers z contribute O(d(z)^2) pairs; at
    web-graph skew pass ``max_center_degree`` to drop super-hub centers
    (bounded score loss: each dropped term is < 1/ln(max_center_degree)
    and hub-mediated pairs are the weakest AA evidence by construction).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    adj = _simple_adjacency(edges)
    deg = _simple_degrees(edges)
    centers = deg.withColumnRenamed("id", "u")
    if max_center_degree is not None:
        centers = centers.where(F.col("degree") <= max_center_degree)
    # weight carried by the center: fixed-point 1/ln(deg). Degree-1
    # vertices can never be wedge centers (a wedge needs two incident
    # edges) but the weight column is computed on every adjacency row,
    # so guard the ln(1)=0 division explicitly for ANSI mode.
    wadj = adj.join(centers, "u").select(
        "u",
        "v",
        F.when(
            F.col("degree") >= 2,
            F.floor(
                F.lit(float(AA_SCALE)) / F.log(F.col("degree").cast("double"))
            ).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("w"),
    )
    pairs = (
        wadj.select(F.col("u").alias("z"), F.col("v").alias("a"), "w")
        .join(
            wadj.select(F.col("u").alias("z"), F.col("v").alias("b")),
            "z",
        )
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("common_neighbors"),
            F.sum("w").alias("aa_micro"),
        )
        .where(F.col("common_neighbors") >= min_common)
    )
    existing = canonical_edges(edges).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    cand = pairs.join(existing, ["a", "b"], "left_anti")
    da = deg.select(F.col("id").alias("a"), F.col("degree").alias("da"))
    db = deg.select(F.col("id").alias("b"), F.col("degree").alias("db"))
    scored = cand.join(da, "a").join(db, "b")
    w = Window.partitionBy("a").orderBy(
        F.col("common_neighbors").desc(), F.col("b").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(
            "a",
            "b",
            "common_neighbors",
            F.round(
                F.col("common_neighbors").cast("double")
                / (F.col("da") + F.col("db") - F.col("common_neighbors")),
                6,
            ).alias("jaccard"),
            F.round(F.col("aa_micro").cast("double") / AA_SCALE, 6).alias(
                "adamic_adar"
            ),
        )
    )


def k_truss(
    spark: SparkSession,
    edges: DataFrame,
    k: int,
    *,
    max_rounds: int = 100,
) -> PregelResult:
    """k-truss of the undirected simple graph: the maximal subgraph in
    which every edge participates in >= k-2 triangles (within the
    subgraph). State = surviving canonical edges (src, dst, support).

    Simultaneous peel (Cohen 2008): each round recomputes per-edge
    triangle support on the surviving edge set (degree-ordered wedge
    enumeration — the O(E^1.5) cap holds every round because the edge
    set only shrinks) and drops edges below k-2; halts at the first
    zero-drop round. Support counts are monotone non-increasing, so the
    surviving-count signature riding the materializing job detects the
    fixpoint without a comparison join — the same halt contract as the
    engine's other peels (kcore.py).
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    require_columns(edges, ("src", "dst"), "edges")
    need = k - 2
    cur = canonical_edges(edges).transform(local_checkpoint_stats_reset)
    n_prev = cur.count()
    metrics: list[dict] = []
    halted = n_prev == 0
    rounds = 0
    for t in range(1, max_rounds + 1):
        tri = oriented_triangles(cur)
        sides = (
            tri.select(F.least("a", "b").alias("src"), F.greatest("a", "b").alias("dst"))
            .unionAll(
                tri.select(
                    F.least("a", "c").alias("src"), F.greatest("a", "c").alias("dst")
                )
            )
            .unionAll(tri.select(F.col("b").alias("src"), F.col("c").alias("dst")))
        )
        support = sides.groupBy("src", "dst").agg(
            F.count(F.lit(1)).alias("support")
        )
        nxt = (
            cur.select("src", "dst")
            .join(support, ["src", "dst"], "left")
            .select(
                "src", "dst", F.coalesce("support", F.lit(0)).alias("support")
            )
            .where(F.col("support") >= need)
            .transform(local_checkpoint_stats_reset)
        )
        n = nxt.count()
        rounds = t
        metrics.append({"superstep": t, "edges": int(n), "dropped": int(n_prev - n)})
        free_local_checkpoint(cur)
        cur = nxt
        if n == n_prev or n == 0:
            halted = True
            break
        n_prev = n
    return PregelResult(
        state=cur, supersteps=rounds, metrics=metrics, halted=halted, run_id="ktruss"
    )


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity of a vertex labeling over the undirected simple
    graph, as a 1-row DataFrame (modularity DOUBLE, round 6).

    Q = e_in/m - Σ_c (D_c / 2m)^2 where m = |simple edges|, e_in =
    within-community edges, D_c = Σ degree over community c. Everything
    is integer (counts, degree sums, sum of squares) until the final
    two divisions, evaluated in one fixed expression — deterministic
    and exactly SQL-replayable. ``labels`` must be (id, label).

    The intended producer is :func:`label_propagation` (SURVEY.md §2's
    community algorithm); modularity is its standard quality gate.
    """
    require_columns(labels, ("id", "label"), "labels")
    c = canonical_edges(edges)
    la = labels.select(F.col("id").alias("src"), F.col("label").alias("_ls"))
    lb = labels.select(F.col("id").alias("dst"), F.col("label").alias("_ld"))
    tagged = c.join(la, "src").join(lb, "dst")
    agg = tagged.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum((F.col("_ls") == F.col("_ld")).cast("long")).alias("e_in"),
    )
    dc = (
        _simple_degrees(edges)
        .join(labels, "id")
        .groupBy("label")
        .agg(F.sum("degree").alias("dsum"))
        .agg(F.sum(F.col("dsum") * F.col("dsum")).alias("sum_d2"))
    )
    return agg.crossJoin(dc).select(
        F.round(
            F.col("e_in").cast("double") / F.col("m")
            - F.col("sum_d2").cast("double")
            / (4.0 * F.col("m").cast("double") * F.col("m").cast("double")),
            6,
        ).alias("modularity")
    )


def modularity_weighted(
    edges: DataFrame, labels: DataFrame, weight_col: str
) -> DataFrame:
    """Weighted Newman modularity: Q = W_in/W − Σ_c (S_c / 2W)², with
    W = total weight over undirected simple edges (parallel arcs' weights
    summed per unordered pair — the louvain weight law), W_in = weight
    inside communities, S_c = Σ strength (weighted degree; a self-loop
    would add 2w, but loops are dropped like everywhere in the engine).

    INTEGRAL weights required (the label_propagation_weighted contract,
    enforced): every moment stays an exact BIGINT until the final fixed
    float expression — deterministic, SQL-replayable (driver gate
    ``modularity_weighted``). On an already-deduplicated simple edge
    table with all weights 1 this IS :func:`modularity` (tested); on a
    multigraph, all-1 weights sum to arc multiplicity per pair (the
    louvain weight law), which :func:`modularity` deliberately dedups
    instead. One E-bounded pair groupBy, two label joins, two linear
    aggregates.
    """
    require_columns(edges, ("src", "dst", weight_col), "edges")
    require_columns(labels, ("id", "label"), "labels")
    wtype = edges.schema[weight_col].dataType.simpleString()
    if wtype not in ("bigint", "int", "smallint", "tinyint"):
        raise ValueError(
            f"modularity_weighted requires an integer weight_col; "
            f"{weight_col!r} is {wtype}"
        )
    und = (
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("lo"),
            F.greatest("src", "dst").alias("hi"),
            F.col(weight_col).cast("long").alias("w"),
        )
        .groupBy("lo", "hi")
        .agg(F.sum("w").alias("w"))
    )
    la = labels.select(F.col("id").alias("lo"), F.col("label").alias("_ls"))
    lb = labels.select(F.col("id").alias("hi"), F.col("label").alias("_ld"))
    tagged = und.join(la, "lo").join(lb, "hi")
    agg = tagged.agg(
        F.sum("w").alias("tw"),
        F.coalesce(
            F.sum(F.when(F.col("_ls") == F.col("_ld"), F.col("w"))), F.lit(0)
        ).alias("w_in"),
    )
    strength = und.select(F.col("lo").alias("id"), "w").unionAll(
        und.select(F.col("hi").alias("id"), "w")
    )
    sc = (
        strength.join(labels, "id")
        .groupBy("label")
        .agg(F.sum("w").alias("ssum"))
        .agg(
            F.sum(
                F.col("ssum").cast("decimal(19,0)")
                * F.col("ssum").cast("decimal(19,0)")
            )
            .cast("decimal(38,0)")
            .alias("sum_s2")
        )
    )
    return agg.crossJoin(sc).select(
        F.round(
            F.col("w_in").cast("double") / F.col("tw")
            - F.col("sum_s2").cast("double")
            / (4.0 * F.col("tw").cast("double") * F.col("tw").cast("double")),
            6,
        ).alias("modularity")
    )


def cocitation(
    edges: DataFrame,
    k: int = 5,
    *,
    coupling: bool = False,
    min_count: int = 1,
    max_hub_degree: int | None = None,
) -> DataFrame:
    """Top-k co-citation partners per vertex on the directed simple
    graph: (id, partner, weight) where weight = number of shared
    in-neighbors (Small 1973 — two files both imported by the same
    sources are functionally related).  ``coupling=True`` flips to
    bibliographic coupling (Kessler 1963): shared OUT-neighbors — two
    files importing the same targets.  The directed complements of the
    undirected ``link_prediction`` scores; the standard SALSA / related-
    page substrate on a link graph.

    All-integer, deterministic (weight DESC, partner ASC top-k via a
    map-side-pruned window) — bit-exact SQL replay.

    Scale guard: a pivot vertex with fan-out d contributes C(d, 2)
    pairs; ``max_hub_degree`` drops pivots above the cap (for
    co-citation the pivot fan-out is OUT-degree; for coupling,
    IN-degree), the same bounded-loss contract as
    ``link_prediction(max_center_degree=)``.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    arcs = _distinct_directed(edges)
    if coupling:
        # pivot = shared target: pair the citers
        pivoted = arcs.select(F.col("dst").alias("z"), F.col("src").alias("m"))
    else:
        # pivot = shared citer: pair the targets
        pivoted = arcs.select(F.col("src").alias("z"), F.col("dst").alias("m"))
    if max_hub_degree is not None:
        fan = pivoted.groupBy("z").agg(F.count(F.lit(1)).alias("fan"))
        pivoted = pivoted.join(
            fan.where(F.col("fan") <= max_hub_degree).select("z"), "z"
        )
    pairs = (
        pivoted.select("z", F.col("m").alias("a"))
        .join(pivoted.select("z", F.col("m").alias("b")), "z")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("weight"))
        .where(F.col("weight") >= min_count)
    )
    sym = pairs.select(
        F.col("a").alias("id"), F.col("b").alias("partner"), "weight"
    ).unionAll(
        pairs.select(
            F.col("b").alias("id"), F.col("a").alias("partner"), "weight"
        )
    )
    w = Window.partitionBy("id").orderBy(
        F.col("weight").desc(), F.col("partner").asc()
    )
    return (
        sym.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("id", "partner", "weight", F.col("rnk").alias("rnk"))
    )


def square_count(edges: DataFrame, *, max_mid_degree: int | None = None) -> DataFrame:
    """Total 4-cycle (square/rectangle) count of the undirected simple
    graph — one row (wedge_pairs, squares): squares =
    Σ_{u<v} C(W(u,v), 2) / 2 where W(u,v) = common-neighbor count
    (each square is counted once per diagonal). Rectangle counting is
    the standard next motif after triangles on a web/link graph
    (co-citation density, spam-farm signatures, bipartite-core
    detection).

    All integer arithmetic — exactly SQL-replayable. The wedge relation
    is the scale hazard (Σ_x C(d(x), 2)); ``max_mid_degree`` drops
    wedges through hubs above the cap (documented approximation, the
    link_prediction guard), exact when None.
    """
    adj = _simple_adjacency(edges)
    if max_mid_degree is not None:
        deg = _simple_degrees(edges).where(
            F.col("degree") <= max_mid_degree
        ).select(F.col("id").alias("u"))
        adj = adj.join(deg, "u")
    wedges = (
        adj.select(F.col("u").alias("mid"), F.col("v").alias("a"))
        .join(
            adj.select(F.col("u").alias("mid"), F.col("v").alias("b")),
            "mid",
        )
        .where(F.col("a") < F.col("b"))
    )
    pairs = wedges.groupBy("a", "b").agg(F.count(F.lit(1)).alias("w"))
    # Σ w(w-1) = 2 Σ C(w,2) = 4 · squares — integer all the way (DIV,
    # not float division: exact past 2^53)
    return pairs.agg(
        F.count(F.lit(1)).alias("wedge_pairs"),
        F.expr("CAST(sum(w * (w - 1)) DIV 4 AS BIGINT)").alias("squares"),
    )


def rich_club(edges: DataFrame) -> DataFrame:
    """Rich-club connectivity profile of the undirected simple graph
    (Zhou & Mondragón 2004): for every degree threshold k that occurs
    in the graph, one row

        (k, n_rich, e_rich, phi)

    where ``n_rich`` = |{v : d(v) > k}|, ``e_rich`` = number of
    distinct undirected edges with BOTH endpoints of degree > k, and
    ``phi`` = 2·e_rich / (n_rich·(n_rich−1)) — the edge density among
    the hubs richer than k (NULL when fewer than 2 such vertices). A
    rising phi(k) is the "rich club" signature on web/import graphs:
    the high-degree core (framework / util files, portal hubs) links to
    itself far more densely than the rest of the graph.

    No theta join: e_rich(k) = #edges with min(d_u, d_v) > k and
    n_rich(k) = #vertices with d > k are both SUFFIX SUMS over the
    per-degree-value histogram, so the plan is two E-bounded joins
    (edge → endpoint degrees), two linear groupBys, and one window over
    the merged value domain. That domain has one row per DISTINCT
    degree value — O(max-degree) ≪ V (≈10^5 rows even at 10^12 edges)
    — so the single-task suffix-sum window is model-sized by
    construction, same economics as the log2 ``degree_histogram``.

    Integer counts + one final float division (round 6) — DuckDB-
    replayable bit-for-bit.
    """
    deg = _simple_degrees(edges)
    c = canonical_edges(edges)
    em = (
        c.join(deg.select(F.col("id").alias("src"), F.col("degree").alias("ds")), "src")
        .join(deg.select(F.col("id").alias("dst"), F.col("degree").alias("dd")), "dst")
        .select(F.least("ds", "dd").alias("val"))
    )
    nd = deg.groupBy(F.col("degree").alias("val")).agg(
        F.count(F.lit(1)).alias("nodes")
    )
    ed = em.groupBy("val").agg(F.count(F.lit(1)).alias("edgs"))
    dom = (
        nd.join(ed, "val", "full_outer")
        .select(
            "val",
            F.coalesce("nodes", F.lit(0)).alias("nodes"),
            F.coalesce("edgs", F.lit(0)).alias("edgs"),
        )
    )
    w = (
        Window.orderBy(F.col("val").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prof = dom.select(
        "val",
        "nodes",
        F.coalesce(F.sum("nodes").over(w), F.lit(0)).cast("long").alias("n_rich"),
        F.coalesce(F.sum("edgs").over(w), F.lit(0)).cast("long").alias("e_rich"),
    )
    return (
        prof.where(F.col("nodes") > 0)
        .select(
            F.col("val").alias("k"),
            "n_rich",
            "e_rich",
            F.when(
                F.col("n_rich") >= 2,
                F.round(
                    2.0 * F.col("e_rich")
                    / (F.col("n_rich") * (F.col("n_rich") - F.lit(1.0))),
                    6,
                ),
            ).alias("phi"),
        )
    )


def conductance(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Per-community conductance over the undirected simple graph: one
    row per label value,

        (label, n_vertices, volume, cut, conductance)

    with ``volume`` = Σ degree over the community, ``cut`` = edges with
    exactly one endpoint inside, and conductance = cut / min(volume,
    2m − volume) — the standard cluster-quality score alongside
    :func:`modularity` (modularity grades the PARTITION globally;
    conductance grades each community's boundary individually, which is
    what you read before trusting one community for downstream use).
    NULL when the min side is 0 (empty or whole-graph communities).

    Plan: two E-bounded label joins, one per-side explode of the
    cross-label edges (≤ 2 rows per cut edge), three linear groupBys —
    all integer counts until the single final division (round 6,
    SQL-replayable). Vertices missing from ``labels`` are excluded from
    every aggregate, and so are their edges: an edge with exactly ONE
    labeled endpoint is dropped from every community's cut (both label
    joins are inner), while ``volume`` still counts full-graph degree —
    under partial label coverage this asymmetry UNDERSTATES conductance,
    so establish your label coverage before reading absolute numbers.
    (The tested brute oracle encodes exactly this drop-from-cut
    behavior.)
    """
    require_columns(labels, ("id", "label"), "labels")
    c = canonical_edges(edges)
    la = labels.select(F.col("id").alias("src"), F.col("label").alias("_ls"))
    lb = labels.select(F.col("id").alias("dst"), F.col("label").alias("_ld"))
    tagged = c.join(la, "src").join(lb, "dst")
    cut = (
        tagged.where(F.col("_ls") != F.col("_ld"))
        .select(F.explode(F.array("_ls", "_ld")).alias("label"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("cut"))
    )
    vol = (
        labels.select("id", "label")
        .join(_simple_degrees(edges), "id", "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vertices"),
            F.coalesce(F.sum("degree"), F.lit(0)).cast("long").alias("volume"),
        )
    )
    total = c.agg((2 * F.count(F.lit(1))).alias("vol_total"))
    denom = F.least(F.col("volume"), F.col("vol_total") - F.col("volume"))
    return (
        vol.join(cut, "label", "left")
        .crossJoin(total)
        .select(
            "label",
            "n_vertices",
            "volume",
            F.coalesce("cut", F.lit(0)).cast("long").alias("cut"),
            F.when(
                denom > 0,
                F.round(
                    F.coalesce("cut", F.lit(0)).cast("double") / denom, 6
                ),
            ).alias("conductance"),
        )
    )


def attribute_assortativity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Categorical (discrete) assortativity of a vertex attribute over
    the undirected simple graph (Newman 2003's mixing-matrix r): one row

        (m2, trace2, sum_a2, assortativity)

    where, in the direction-doubled mixing space over edges with BOTH
    endpoints labeled: ``m2`` = 2·|labeled edges|, ``trace2`` = doubled
    same-label edge count, ``sum_a2`` = Σ_i a_i² with a_i the per-label
    endpoint count, and

        r = (trace2/m2 − sum_a2/m2²) / (1 − sum_a2/m2²)

    — +1 when edges only join like labels, 0 at random mixing, negative
    when disassortative (a language/host/license attribute on an import
    graph: does code link within its own kind?). NULL when undefined
    (no labeled edges, or a single label where the denominator is 0).

    All moments are EXACT integers — ``sum_a2`` as DECIMAL(38,0) (the
    degree_assortativity overflow bound: endpoint counts reach E ~ 10^12
    and their squares ~10^24 ≫ 2^63) — and r is one fixed float
    expression, so the whole operator is SQL-replayable bit-for-bit.
    Plan: two E-bounded label joins, one 2-rows-per-edge explode, two
    linear groupBys, scalar crossJoins.
    """
    require_columns(labels, ("id", "label"), "labels")
    c = canonical_edges(edges)
    la = labels.select(F.col("id").alias("src"), F.col("label").alias("_ls"))
    lb = labels.select(F.col("id").alias("dst"), F.col("label").alias("_ld"))
    tagged = c.join(la, "src").join(lb, "dst")
    agg = tagged.agg(
        (2 * F.count(F.lit(1))).cast("long").alias("m2"),
        (2 * F.coalesce(
            F.sum((F.col("_ls") == F.col("_ld")).cast("long")), F.lit(0)
        )).cast("long").alias("trace2"),
    )
    ai = (
        tagged.select(F.explode(F.array("_ls", "_ld")).alias("label"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("a"))
    )
    sa2 = ai.agg(
        F.coalesce(
            F.sum(F.col("a").cast("decimal(19,0)") * F.col("a").cast("decimal(19,0)")),
            F.lit(0),
        )
        .cast("decimal(38,0)")
        .alias("sum_a2")
    )
    m2d = F.col("m2").cast("double")
    t2d = F.col("trace2").cast("double")
    sad = F.col("sum_a2").cast("double")
    num = t2d / m2d - sad / (m2d * m2d)
    den = 1.0 - sad / (m2d * m2d)
    return agg.crossJoin(sa2).select(
        "m2",
        "trace2",
        "sum_a2",
        F.when((F.col("m2") > 0) & (den != 0.0), F.round(num / den, 6)).alias(
            "assortativity"
        ),
    )
