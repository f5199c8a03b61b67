"""Eigenvector and Katz centrality — single-vector power iterations.

The reference ships PageRank as its ranking program (reference:
example/PageRank.java:37-126); eigenvector centrality is the
un-damped/un-normalized-out-degree ancestor of that ranking (Bonacich
1972) and Katz centrality its attenuated cousin (Katz 1953). Both drop
straight onto the engine's one-direction message machinery: HITS'
auth half-step (algorithms/hits.py) repeated on a single vector.

Semantics (deterministic, fixed evaluation order):

- eigenvector: ``x_0 = 1``; iteration ``i``:
  ``raw(v) = Σ_{u→v} x_{i-1}(u)`` then ``x_i = raw / ‖raw‖₂``.
  Vertices with no in-edges hold 0. Duplicate edges send duplicate
  messages and self-loops deliver to self (PageRank-message parity).
  Halt when ``Σ|x_i − x_{i-1}| < tol`` or at ``max_iters``. Converges
  to the principal eigenvector of Aᵀ when the graph is strongly
  connected & aperiodic; on general graphs it is the standard
  power-iteration estimate at the halt step (deterministic either way).
- katz: ``x_0 = beta``; iteration ``i``:
  ``x_i(v) = beta + alpha · Σ_{u→v} x_{i-1}(u)``.
  No normalization — bounded iff ``alpha < 1/λ_max``; the truncated
  series Σ_k alpha^k (Aᵀ)^k β at the halt step, exact and replayable.

Physical plan: a :class:`~duwamish_spark.pregel.Pregel` program with one
message exchange (pregel.MessageExchange, pinned to the ``shuffle``
strategy) over the edges, persisted once and partitioned on ``src``
when ``num_partitions`` is set. One superstep is exactly ONE E-bounded
shuffle (the dst-keyed message combine); the V-sized state streams
through a SHUFFLE_HASH join against the persisted edges. Eigenvector's
L2 norm is a broadcast 1-row agg over the combined sums that reads the
combine shuffle as a reused exchange; Katz needs no norm. The norm and
the halt delta ride the state as ``_`` columns and become the
superstep's metrics row (the reference's accumulator reduce,
util/Accumulators.java, kept distributed). This is half of hits.py's
per-superstep cost: one direction instead of two.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duwamish_spark.algorithms.hits import _l2, _normalized, _sums
from duwamish_spark.graph import decode_state, prepare_encoding, require_columns
from duwamish_spark.pregel import MessageExchange, Pregel, PregelResult


def _eigen_step(
    state: DataFrame, x: MessageExchange, katz: tuple[float, float] | None
) -> DataFrame:
    """Eigenvector (``katz`` None) or Katz (``katz`` = (alpha, beta))."""
    state = state.select("id", "value")  # last superstep's `_` columns go
    raw = _sums(x, state, F.col("value"), "raw")
    joined = state.join(raw, "id", "left")
    if katz is None:
        joined = joined.crossJoin(F.broadcast(_l2(raw, "raw", "_n")))
        new, extra = _normalized("raw", "_n"), ["_n"]
    else:
        alpha, beta = katz
        raw_e = F.coalesce(F.col("raw"), F.lit(0.0))
        new, extra = F.lit(float(beta)) + F.lit(float(alpha)) * raw_e, []
    return joined.select(
        "id",
        new.alias("value"),
        F.abs(new - state["value"]).alias("_delta"),
        *extra,
    )


def _power_iteration(
    spark: SparkSession,
    vertices: DataFrame,
    edges: DataFrame,
    *,
    katz: tuple[float, float] | None,
    tol: float,
    max_iters: int,
    num_partitions: int | None,
    salt: int,
    encode: bool,
    partitioner,
    run_id: str,
) -> PregelResult:
    """Shared one-direction power-iteration program (see module doc)."""
    require_columns(vertices, ("id",), "vertices")
    require_columns(edges, ("src", "dst"), "edges")

    mapping = None
    verts, e = vertices, edges
    if encode:
        mapping, verts, e = prepare_encoding(
            spark, vertices, edges, num_partitions
        )

    x = MessageExchange(
        e.select("src", "dst"), strategy="shuffle",
        num_partitions=num_partitions, partitioner=partitioner, salt=salt,
    )
    metrics = {"delta": F.sum("_delta")}
    if katz is None:
        metrics["norm"] = F.max("_n")
    init = 1.0 if katz is None else float(katz[1])
    res = Pregel(
        spark,
        step=lambda st, s: _eigen_step(st, x, katz),
        metrics_exprs=metrics,
        halt=lambda m, s: (m["delta"] or 0.0) < tol,
        run_id=run_id,
        max_supersteps=max_iters,
        exchanges=(x,),
    ).run(verts.select("id", F.lit(init).alias("value")))
    if mapping is not None:
        res.state = decode_state(res.state, mapping, ("id",))
    return res


def eigenvector_centrality(
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
    """Power-iteration eigenvector centrality to L1 convergence.

    Result state: (id, value) — the L2-normalized in-edge power-iteration
    vector at the halt step. ``salt`` splits hot aggregation keys across
    reducer sub-keys in the message combine (same knob and economics as
    pagerank/CC — see pregel.MessageExchange).
    """
    return _power_iteration(
        spark, vertices, edges,
        katz=None,
        tol=tol, max_iters=max_iters, num_partitions=num_partitions,
        salt=salt, encode=encode, partitioner=partitioner,
        run_id="eigenvector",
    )


def katz_centrality(
    spark: SparkSession,
    vertices: DataFrame,
    edges: DataFrame,
    *,
    alpha: float = 0.1,
    beta: float = 1.0,
    tol: float = 1e-6,
    max_iters: int = 50,
    num_partitions: int | None = None,
    salt: int = 0,
    encode: bool = True,
    partitioner=None,
) -> PregelResult:
    """Katz centrality ``x = beta·1 + alpha·Aᵀx`` by fixpoint iteration.

    Result state: (id, value) — the truncated attenuated-path series at
    the halt step (exact when halted; bounded iff ``alpha < 1/λ_max``).
    """
    return _power_iteration(
        spark, vertices, edges,
        katz=(alpha, beta),
        tol=tol, max_iters=max_iters, num_partitions=num_partitions,
        salt=salt, encode=encode, partitioner=partitioner,
        run_id="katz",
    )
