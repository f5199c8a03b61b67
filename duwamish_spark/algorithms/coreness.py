"""Full k-core (coreness) decomposition via distributed h-index
iteration (Montresor, De Pellegrini & Miorandi 2011).

``k_core(k)`` answers one membership question; the decomposition labels
EVERY vertex with its core number (the largest k whose k-core contains
it) — degeneracy ordering, shell structure, and the standard
"importance" signal on web/import graphs. The sequential algorithm
(Batagelj-Zaversnik peel) is inherently serial; the scalable
formulation is the locality-based fixpoint: start each vertex at its
degree and repeatedly set

    c(v)  <-  H({ c(u) : u ∈ N(v) })

where H is the h-index (the largest h such that at least h neighbors
have value >= h). Estimates are monotone non-increasing, always upper
bounds, and converge exactly to the core numbers (typically in a few
dozen rounds even on billion-edge graphs — the paper's headline result).

Engine formulation: one round = one ``pregel.Pregel`` superstep. Every
vertex sends its estimate through ``pregel.MessageExchange`` (pinned to
``strategy="shuffle"``) over the symmetrized simple adjacency, placed by
``src`` once (E-bounded); the receiver's h-index is a window +
aggregation, not an algebraic combine: rank each neighborhood's values
descending and take ``max(min(rank, value))`` — all integers,
whole-stage codegen, no UDFs. Estimates never increase, so the run halts
on the first round that changes no estimate (Σ ``_changed`` = 0). A
fixed-round prefix is exactly replayable in SQL (driver gate
``coreness_round3``); convergence is brute-force-tested in pytest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from duwamish_spark.graph import canonical_edges, require_columns
from duwamish_spark.pregel import (
    MessageExchange,
    Pregel,
    PregelResult,
    free_local_checkpoint,
    local_checkpoint_stats_reset,
)


def _coreness_step(state: DataFrame, exchange: MessageExchange) -> DataFrame:
    vals = exchange.send(state, F.col("id").alias("v"), F.col("c").alias("cv"))
    w = Window.partitionBy("dst").orderBy(F.col("cv").desc(), F.col("v").asc())
    h = (
        vals.withColumn("rn", F.row_number().over(w))
        .groupBy(F.col("dst").alias("id"))
        .agg(F.max(F.least(F.col("rn"), F.col("cv"))).alias("h"))
    )
    new_c = F.coalesce("h", "c")
    return state.join(h, "id", "left").select(
        "id",
        new_c.alias("c"),
        (new_c != F.col("c")).cast("int").alias("_changed"),
    )


def coreness(
    spark: SparkSession,
    vertices: DataFrame,
    edges: DataFrame,
    *,
    max_rounds: int = 100,
    num_partitions: int | None = None,
    partitioner=None,
) -> PregelResult:
    """Core number per vertex on the undirected simple graph: state
    ``(id, coreness)``. Vertices with no simple edges have coreness 0.

    ``max_rounds`` caps the h-index iteration (state is then still a
    valid UPPER BOUND on every core number — the fixed-round semantics
    the driver oracle replays); ``halted`` reports whether the exact
    fixpoint was reached.
    """
    require_columns(vertices, ("id",), "vertices")
    require_columns(edges, ("src", "dst"), "edges")

    c = canonical_edges(edges)
    exchange = MessageExchange(
        c.unionAll(c.select(F.col("dst").alias("src"), F.col("src").alias("dst"))),
        strategy="shuffle",
        num_partitions=num_partitions,
        partitioner=partitioner,
    )
    # the estimates start at the degree; vertices without simple edges
    # neither send nor receive and join back as 0 below
    init = exchange.edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("c"), F.lit(1).alias("_changed")
    )
    res = Pregel(
        spark,
        step=lambda st, s: _coreness_step(st, exchange),
        metrics_exprs={"changed": F.sum("_changed"), "coreness_sum": F.sum("c")},
        halt=lambda m, s: (m["changed"] or 0) == 0,
        run_id="coreness",
        max_supersteps=max_rounds,
        exchanges=(exchange,),
    ).run(init)
    est = res.state
    res.state = (
        vertices.join(est, "id", "left")
        .select("id", F.coalesce("c", F.lit(0)).cast("long").alias("coreness"))
        .transform(local_checkpoint_stats_reset)
    )
    free_local_checkpoint(est)
    return res
