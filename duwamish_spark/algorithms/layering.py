"""Topological layering (longest-path build depth) of the import DAG.

``depth(v)`` = length of the longest directed path ending at ``v`` over
the distinct simple arcs (self-loops dropped): 0 for sources
(in-degree 0), else ``1 + max(depth(u) for u -> v)``.  On an import
graph this is the *build level* — everything at depth d can compile
once depths < d are built, and ``max(depth)+1`` is the critical-path
length of a maximally-parallel build.

Runs as the same frontier-relaxation Pregel shape as SSSP
(``sssp.py``: reference example/ShortestPath.java:32-122) with the
dual semiring — max-combine over ``depth + 1`` instead of min over
``dist + weight``.  The frontier filter is the vote-to-halt: because
depth only ever increases and each message adds exactly 1, a vertex
whose depth did not change this round has already delivered every
message it will ever send, so after superstep t the state equals the
full unfiltered recurrence

    d_0(v) = 0;   d_t(v) = greatest(d_{t-1}(v),
                            1 + max over arcs (u, v) of d_{t-1}(u))

— i.e. the longest walk of length <= t ending at v.  On a DAG that
fixes at the exact longest-path depth after (critical path) rounds; a
cycle never quiesces, so the superstep budget caps the walk length (a
vertex with ``depth == max_supersteps`` when ``halted`` is False is
cycle-reachable — the complement of a valid layering certificate).
The bounded recurrence is what the driver oracle replays as chained
CTEs.

Physical plan: SSSP's — one :class:`~duwamish_spark.pregel.MessageExchange`
pinned to the ``shuffle`` strategy over the persisted distinct arcs and
one E-bounded max/count combine by ``dst`` per superstep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duwamish_spark.pregel import MessageExchange, Pregel, PregelResult


def _depth_step(state: DataFrame, exchange: MessageExchange) -> DataFrame:
    frontier = state.where(F.col("_changed") == 1)
    msgs = exchange.send(frontier, (F.col("depth") + F.lit(1)).alias("m"))
    best = exchange.combine(
        msgs, [("best", "m", "max"), ("mcnt", "m", "count")]
    ).withColumnRenamed("dst", "id")
    improved = F.col("best").isNotNull() & (F.col("best") > F.col("depth"))
    return state.join(best.hint("shuffle_hash"), "id", "left").select(
        "id",
        F.when(improved, F.col("best")).otherwise(F.col("depth")).alias("depth"),
        F.when(improved, 1).otherwise(0).alias("_changed"),
        F.coalesce("mcnt", F.lit(0)).alias("_msgs"),
    )


def topological_depth(
    spark: SparkSession,
    vertices: DataFrame,
    edges: DataFrame,
    *,
    max_supersteps: int = 200,
    checkpoint_dir: str | None = None,
    run_id: str = "topo",
    reliable_interval: int = 10,
    num_partitions: int | None = None,
    halt_interval: int = 1,
    resume: bool = False,
) -> PregelResult:
    """Result state: (id, depth) — all-integer, bit-exact replayable.

    ``halted`` False at the budget means the graph has a cycle reachable
    from a source of unbounded walks; the returned depths are then the
    longest-walk-<=-budget lower bounds (still exactly the bounded
    recurrence, which is what the fixed-round driver gate checks).
    """
    from duwamish_spark.graph import require_columns

    require_columns(vertices, ("id",), "vertices")
    require_columns(edges, ("src", "dst"), "edges")
    arcs = (
        edges.where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    exchange = MessageExchange(
        arcs, strategy="shuffle", num_partitions=num_partitions
    )

    init = vertices.select(
        "id",
        F.lit(0).cast("long").alias("depth"),
        F.lit(1).alias("_changed"),
        F.lit(0).alias("_msgs"),
    )
    if num_partitions:
        init = init.repartition(num_partitions, "id")

    metrics = {
        "changed": F.sum("_changed"),
        "message_count": F.sum("_msgs"),
        "max_depth": F.max("depth"),
    }
    return Pregel(
        spark,
        step=lambda st, s: _depth_step(st, exchange),
        metrics_exprs=metrics,
        halt=lambda m, s: (m["changed"] or 0) == 0,
        checkpoint_dir=checkpoint_dir,
        run_id=run_id,
        reliable_interval=reliable_interval,
        max_supersteps=max_supersteps,
        halt_interval=halt_interval,
        exchanges=(exchange,),
    ).run(init, resume=resume)
