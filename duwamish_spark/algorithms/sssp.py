"""Single-source shortest paths — the reference's second example program
(reference: example/ShortestPath.java:32-122).

Semantics:

- state = (distance, predecessor); unreachable = null distance — the
  reference encodes ∞ as a null protobuf value
  (reference: ShortestPath.java:38,106-108);
- a vertex that improved relaxes: sends (my id, dist + edge weight) along
  each out-edge (reference: ShortestPath.java:48-56); otherwise it votes to
  halt (ShortestPath.java:57-59). The frontier filter below is exactly that
  vote;
- combine = min distance. The reference's predecessor tie-break is message
  arrival order — *nondeterministic* (ShortestPath.java:41-46); we pin a
  deterministic rule instead: min over (distance, predecessor) struct, i.e.
  smallest distance, then lexicographically smallest predecessor;
- halt when no vertex improved — the default decider's "all voted ∧ no
  messages" (reference: util/DefaultHaltDecider.java:25-29).

Physical plan: one :class:`~duwamish_spark.pregel.MessageExchange`
pinned to the ``shuffle`` strategy — the weighted edges persisted once
(partitioned on ``src`` when ``num_partitions`` is set), the frontier
joined to them SHUFFLE_HASH, and one E-bounded min/count combine by
``dst`` per superstep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duwamish_spark.pregel import MessageExchange, Pregel, PregelResult


def _sssp_step(state: DataFrame, exchange: MessageExchange) -> DataFrame:
    frontier = state.where(F.col("_changed") == 1)
    msgs = exchange.send(
        frontier,
        F.struct(
            (F.col("dist") + F.col("weight")).alias("dist"),
            F.col("id").alias("pred"),
        ).alias("m"),
    )
    best = exchange.combine(
        msgs, [("best", "m", "min"), ("mcnt", "m", "count")]
    ).withColumnRenamed("dst", "id")
    improved = F.col("best").isNotNull() & (
        F.col("dist").isNull() | (F.col("best.dist") < F.col("dist"))
    )
    return state.join(best.hint("shuffle_hash"), "id", "left").select(
        "id",
        F.when(improved, F.col("best.dist")).otherwise(F.col("dist")).alias("dist"),
        F.when(improved, F.col("best.pred")).otherwise(F.col("pred")).alias("pred"),
        F.when(improved, 1).otherwise(0).alias("_changed"),
        F.coalesce("mcnt", F.lit(0)).alias("_msgs"),
    )


def shortest_paths(
    spark: SparkSession,
    vertices: DataFrame,
    weighted_edges: DataFrame,
    source: str,
    *,
    max_supersteps: int = 200,
    checkpoint_dir: str | None = None,
    run_id: str = "sssp",
    reliable_interval: int = 10,
    num_partitions: int | None = None,
    halt_interval: int = 1,
    resume: bool = False,
) -> PregelResult:
    """Result state: (id, dist, pred); dist null = unreachable.

    ``weighted_edges``: (src, dst, weight) — weight numeric (the reference
    uses int edge values, examples.proto:7-9).
    """
    from duwamish_spark.graph import require_columns

    require_columns(vertices, ("id",), "vertices")
    require_columns(weighted_edges, ("src", "dst", "weight"), "weighted_edges")
    exchange = MessageExchange(
        weighted_edges.select("src", "dst", "weight"), strategy="shuffle",
        num_partitions=num_partitions,
    )

    init = vertices.select(
        "id",
        F.when(F.col("id") == source, F.lit(0.0)).otherwise(F.lit(None).cast("double")).alias("dist"),
        F.when(F.col("id") == source, F.col("id")).otherwise(F.lit(None).cast("string")).alias("pred"),
        F.when(F.col("id") == source, 1).otherwise(0).alias("_changed"),
        F.lit(0).alias("_msgs"),
    )
    if num_partitions:
        init = init.repartition(num_partitions, "id")

    metrics = {
        "changed": F.sum("_changed"),
        "message_count": F.sum("_msgs"),
        "reached": F.count("dist"),
        "max_dist": F.max("dist"),
    }
    return Pregel(
        spark,
        step=lambda st, s: _sssp_step(st, exchange),
        metrics_exprs=metrics,
        halt=lambda m, s: (m["changed"] or 0) == 0,
        checkpoint_dir=checkpoint_dir,
        run_id=run_id,
        reliable_interval=reliable_interval,
        max_supersteps=max_supersteps,
        halt_interval=halt_interval,
        exchanges=(exchange,),
    ).run(init, resume=resume)
