"""HITS (hubs & authorities) — link-analysis beyond the reference's program set.

The reference ships PageRank / SSSP / Recommendations as its example
programs (reference: example/PageRank.java, example/ShortestPaths.java,
example/Recommendations.java); HITS is the other classic link-graph
ranking (Kleinberg 1999) and drops straight onto the same machinery:
per-iteration message sends over the edge table with algebraic sum
combine, plus a global L2 normalization — the reference's accumulator
pattern (util/Accumulators.java) expressed as a 1-row Spark agg.

Semantics (standard, deterministic):

- every vertex starts with ``hub = 1.0``;
- iteration ``i``:  ``araw(v) = Σ_{u→v} hub_{i-1}(u)`` then
  ``hraw(u) = Σ_{u→v} araw(v)``;
- because a global scale factor on the input of either half-step only
  rescales its raw output, per-half-step normalization algebraically
  reduces to ``auth = araw / ‖araw‖₂`` and ``hub = hraw / ‖hraw‖₂``
  (the intermediate norm cancels) — one normalization per vector per
  iteration, which is what the chained-CTE oracle replays;
- duplicate edges send duplicate messages and self-loops deliver to
  self, mirroring the engine's PageRank message semantics;
- vertices with no in-edges (resp. out-edges) hold ``auth = 0``
  (``hub = 0``);
- halt when the L1 change ``Σ|auth_i − auth_{i-1}| + Σ|hub_i − hub_{i-1}|``
  drops below ``tol``, or after ``max_iters``.

Physical plan: a :class:`~duwamish_spark.pregel.Pregel` program with two
message exchanges (pregel.MessageExchange, pinned to the ``shuffle``
strategy): a forward one on the edges ``(src, dst)`` and a backward one
on the reversed edges, each persisted once, partitioned on its sending
side. One superstep runs exactly two E-bounded message shuffles (the
auth combine by ``dst``, the hub combine by the original ``src``); the
persisted edge side streams un-exchanged through a SHUFFLE_HASH join
against the V-sized senders. The L2 norms are broadcast 1-row aggs over
the combined sums, so each combine shuffle runs once and its other uses
read it back as a reused exchange. The norms and the halt delta ride the
state as ``_`` columns and become the superstep's metrics row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from duwamish_spark.graph import decode_state, prepare_encoding, require_columns
from duwamish_spark.pregel import MessageExchange, Pregel, PregelResult


def _l2(df: DataFrame, col: str, alias: str) -> DataFrame:
    """1-row ``(alias)``: the L2 norm of ``col`` (0 when ``df`` is empty)."""
    return df.agg(
        F.coalesce(F.sqrt(F.sum(F.col(col) * F.col(col))), F.lit(0.0)).alias(alias)
    )


def _sums(
    x: MessageExchange, senders: DataFrame, value: Column, out: str
) -> DataFrame:
    """``(id, out)``: Σ ``value`` over each vertex's incoming messages.

    The explicit not-null ``dst`` filter is the one the later joins on
    ``id`` would infer; stating it up front gives every use of the sums
    (joins and norm) the same plan below the combine, so the combine
    shuffle runs once and the other uses read it as a reused exchange.
    """
    msgs = x.send(senders, value.alias("m")).where(F.col("dst").isNotNull())
    return x.combine(msgs, [(out, "m", "sum")]).withColumnRenamed("dst", "id")


def _normalized(raw: str, norm: str):
    return F.when(
        F.col(norm) > 0.0, F.coalesce(raw, F.lit(0.0)) / F.col(norm)
    ).otherwise(F.lit(0.0))


def _hits_step(
    state: DataFrame, fwd: MessageExchange, bwd: MessageExchange
) -> DataFrame:
    state = state.select("id", "auth", "hub")  # last superstep's `_` columns go
    # auth half-step: sum hubs over in-edges
    araw = _sums(fwd, state, F.col("hub"), "araw")
    # hub half-step: sum raw auths over out-edges (reversed-edge send)
    hraw = _sums(bwd, araw, F.col("araw"), "hraw")
    auth = _normalized("araw", "_an")
    hub = _normalized("hraw", "_hn")
    return (
        state.join(araw, "id", "left")
        .join(hraw, "id", "left")
        .crossJoin(F.broadcast(_l2(araw, "araw", "_an")))
        .crossJoin(F.broadcast(_l2(hraw, "hraw", "_hn")))
        .select(
            "id",
            auth.alias("auth"),
            hub.alias("hub"),
            (F.abs(auth - state["auth"]) + F.abs(hub - state["hub"])).alias(
                "_delta"
            ),
            "_an",
            "_hn",
        )
    )


def hits(
    spark: SparkSession,
    vertices: DataFrame,
    edges: DataFrame,
    *,
    tol: float = 1e-6,
    max_iters: int = 50,
    num_partitions: int | None = None,
    salt: int = 0,
    encode: bool = True,
    partitioner=None,
) -> PregelResult:
    """Run HITS to L1 convergence. Result state: (id, auth, hub).

    ``salt`` splits hot aggregation keys across reducer sub-keys in both
    message combines (same knob and economics as pagerank/CC — see
    pregel.MessageExchange).
    """
    require_columns(vertices, ("id",), "vertices")
    require_columns(edges, ("src", "dst"), "edges")

    mapping = None
    verts, e = vertices, edges
    if encode:
        mapping, verts, e = prepare_encoding(
            spark, vertices, edges, num_partitions
        )

    opts = dict(
        strategy="shuffle", num_partitions=num_partitions,
        partitioner=partitioner, salt=salt,
    )
    fwd = MessageExchange(e.select("src", "dst"), **opts)
    bwd = MessageExchange(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst")), **opts
    )
    res = Pregel(
        spark,
        step=lambda st, s: _hits_step(st, fwd, bwd),
        metrics_exprs={
            "delta": F.sum("_delta"),
            "auth_norm": F.max("_an"),
            "hub_norm": F.max("_hn"),
        },
        halt=lambda m, s: (m["delta"] or 0.0) < tol,
        run_id="hits",
        max_supersteps=max_iters,
        exchanges=(fwd, bwd),
    ).run(verts.select("id", F.lit(0.0).alias("auth"), F.lit(1.0).alias("hub")))
    if mapping is not None:
        res.state = decode_state(res.state, mapping, ("id",))
    return res
