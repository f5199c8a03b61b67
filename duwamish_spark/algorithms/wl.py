"""Weisfeiler-Lehman structural role signatures (hashed-WL iteration).

Per-vertex fingerprints of the local neighborhood SHAPE: two vertices
get equal signatures after r rounds whenever the classic 1-WL color
refinement cannot distinguish their r-hop neighborhoods (up to the
negligible md5-collision probability). The standard uses: role
discovery on a link graph (hub vs bridge vs leaf files with identical
wiring), graph-isomorphism features (the WL-subtree kernel's per-vertex
colors), and grouping structurally-equivalent vertices before expensive
per-vertex analytics.

Hashed-WL formulation (the scalable form of 1-WL color refinement —
Shervashidze et al. 2011's compressed labels, replacing the
sorted-multiset relabeling dictionary with a hash):

    sig_0(v)   = u32(md5('wl0:' || degree(v)))
    sig_t(v)   = u32(md5('wl' || t || ':' || sig_{t-1}(v) || ':' || S))
      where S  = Σ_{u ∈ N(v)} u32(md5('wlh:' || sig_{t-1}(u)))

The neighbor multiset enters through an integer SUM of per-neighbor
hashes — commutative and associative, so the shuffle/combine order
cannot perturb it (the aa_micro discipline) and no per-vertex sorted
array ever materializes (a 10^8-degree hub contributes partial sums,
not a collect_list). md5/u32 is the repo's cross-engine hash family, so
a DuckDB chained CTE replays every signature bit-for-bit.

Scale shape: one round = one ``pregel.Pregel`` superstep sending
through ``pregel.MessageExchange`` pinned to ``strategy="shuffle"`` over
the symmetrized adjacency (placed by ``src`` once): an E-bounded send
join, a map-side-combinable ``sum`` combine by ``dst`` and a V-row update
join. Rounds are fixed (WL depth is a semantic parameter, not a
convergence loop: ``max_supersteps=rounds``, the halt rule never fires);
``Pregel``'s local checkpoint truncates each round's lineage.

Reference scope: duwamish has no WL operator; this extends the engine's
per-vertex analytics family (coreness/clustering/centralities) with the
structural-equivalence signal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duwamish_spark.graph import require_columns, symmetrize
from duwamish_spark.pregel import MessageExchange, Pregel, PregelResult


def _u32(col) -> F.Column:
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def _wl_step(state: DataFrame, exchange: MessageExchange, t: int) -> DataFrame:
    msgs = exchange.send(
        state,
        _u32(F.concat(F.lit("wlh:"), F.col("wl_sig").cast("string"))).alias("h"),
    )
    sums = exchange.combine(msgs, [("s", "h", "sum")]).withColumnRenamed(
        "dst", "id"
    )
    return state.join(sums, "id", "left").select(
        "id",
        _u32(
            F.concat(
                F.lit(f"wl{t}:"),
                F.col("wl_sig").cast("string"),
                F.lit(":"),
                F.coalesce("s", F.lit(0)).cast("string"),
            )
        ).alias("wl_sig"),
    )


def wl_signatures(
    spark: SparkSession,
    vertices: DataFrame,
    edges: DataFrame,
    *,
    rounds: int = 3,
) -> PregelResult:
    """1-WL refinement signatures on the undirected simple graph:
    state ``(id, wl_sig)`` after exactly ``rounds`` hashed-WL rounds
    (``rounds=0`` = the degree coloring). Isolated vertices refine from
    degree 0 with an empty (sum 0) neighborhood each round.

    Metrics per round: ``colors`` (approximate distinct signatures —
    the refinement progress curve; exact distinctness is a driver-side
    groupBy away when needed).
    """
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    require_columns(vertices, ("id",), "vertices")
    require_columns(edges, ("src", "dst"), "edges")

    exchange = MessageExchange(symmetrize(edges), strategy="shuffle")
    deg = exchange.edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("d")
    )
    init = vertices.join(deg, "id", "left").select(
        "id",
        _u32(
            F.concat(F.lit("wl0:"), F.coalesce("d", F.lit(0)).cast("string"))
        ).alias("wl_sig"),
    )
    res = Pregel(
        spark,
        step=lambda st, s: _wl_step(st, exchange, s + 1),
        metrics_exprs={"colors": F.approx_count_distinct("wl_sig")},
        halt=lambda m, s: False,
        run_id="wl",
        max_supersteps=rounds,
        exchanges=(exchange,),
    ).run(init)
    res.halted = True  # a fixed-depth refinement is complete by definition
    return res
