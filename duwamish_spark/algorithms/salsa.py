"""SALSA — the Stochastic Approach for Link-Structure Analysis
(Lempel & Moran 2000), the degree-normalized sibling of HITS.

The reference ships PageRank as its link-ranking program (reference:
example/PageRank.java:37-126); SALSA is the other classic web ranking —
a two-step random walk on the bipartite hub/authority graph — and drops
straight onto the engine's two-direction message machinery
(algorithms/hits.py) with the degree normalization folded into the
persisted edge tables exactly like weighted PageRank's
``rank·w/out_strength``.

Semantics (deterministic, fixed evaluation order):

- hubs H = vertices with ≥1 out-edge, authorities = vertices with ≥1
  in-edge (a vertex can be both);
- ``h_0(u) = 1/|H|`` for hubs, 0 otherwise; ``auth_0 = 0``;
- iteration ``i`` (the two halves of the bipartite walk step):

      auth_i(v) = Σ_{u→v} h_{i-1}(u) · wf(u),   wf(u) = 1/outdeg(u)
      hub_i(u)  = Σ_{u→v} auth_i(v) · wb(v),    wb(v) = 1/indeg(v)

- both transitions are row-stochastic, so ``Σ auth_i = Σ hub_i = 1``
  EXACTLY each iteration (up to fp rounding) — no normalization step
  exists to replay, unlike HITS;
- duplicate edges count with multiplicity on both the degree and the
  message side (mass conservation needs them consistent); self-loops
  deliver to self (PageRank-message parity);
- halt when ``Σ|auth_i − auth_{i-1}| + Σ|hub_i − hub_{i-1}| < tol`` or
  at ``max_iters``. On a connected support graph the stationary
  authority vector is ∝ indegree (Lempel & Moran Prop. 2); on general
  graphs per-component — the tests pin both.

Physical plan: a :class:`~duwamish_spark.pregel.Pregel` program with the
same two message exchanges as hits.py (pregel.MessageExchange, pinned to
the ``shuffle`` strategy), whose persisted edge tables carry the degree
weights PRE-FOLDED — ``(src, dst, wf)`` forward and the reversed
``(src:=dst, dst:=src, wb)`` backward, each partitioned on its sending
side — so one superstep is exactly two E-bounded shuffles (the auth
combine by dst, the hub combine by the original src); the V-sized state
streams through SHUFFLE_HASH joins against the persisted edge sides.
The halt delta and the mass totals are the superstep's metrics row.
Identical per-superstep economics to hits.py; the degree joins run once
at init.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duwamish_spark.algorithms.hits import _sums
from duwamish_spark.graph import decode_state, prepare_encoding, require_columns
from duwamish_spark.pregel import MessageExchange, Pregel, PregelResult


def _salsa_step(
    state: DataFrame, fwd: MessageExchange, bwd: MessageExchange
) -> DataFrame:
    state = state.select("id", "auth", "hub")  # last superstep's `_` columns go
    # auth half-step: forward walk hub→authority
    araw = _sums(fwd, state, F.col("hub") * F.col("wf"), "araw")
    # hub half-step: backward walk authority→hub (reversed-edge send)
    hraw = _sums(bwd, araw, F.col("araw") * F.col("wb"), "hraw")
    auth = F.coalesce("araw", F.lit(0.0))
    hub = F.coalesce("hraw", F.lit(0.0))
    return (
        state.join(araw, "id", "left")
        .join(hraw, "id", "left")
        .select(
            "id",
            auth.alias("auth"),
            hub.alias("hub"),
            (F.abs(auth - state["auth"]) + F.abs(hub - state["hub"])).alias(
                "_delta"
            ),
        )
    )


def salsa(
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
    """Run SALSA to L1 convergence. Result state: (id, auth, hub).

    ``auth``/``hub`` are probability distributions over authorities/hubs
    (each sums to 1); vertices with no in-edges hold ``auth = 0``, no
    out-edges ``hub = 0``. ``salt`` splits hot aggregation keys across
    reducer sub-keys in both message combines (same knob and economics
    as pagerank/CC — see pregel.MessageExchange).
    """
    require_columns(vertices, ("id",), "vertices")
    require_columns(edges, ("src", "dst"), "edges")

    mapping = None
    verts, e = vertices, edges
    if encode:
        mapping, verts, e = prepare_encoding(
            spark, vertices, edges, num_partitions
        )

    e = e.select("src", "dst")
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    indeg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("idg"))
    # degree weights folded into the persisted edge tables ONCE — the
    # per-superstep plan then matches unweighted HITS exactly (the same
    # trick as pagerank's weight_col: normalize at init, not per step)
    opts = dict(
        strategy="shuffle", num_partitions=num_partitions,
        partitioner=partitioner, salt=salt,
    )
    fwd = MessageExchange(
        e.join(outdeg, "src").select(
            "src", "dst", (F.lit(1.0) / F.col("od")).alias("wf")
        ),
        **opts,
    )
    bwd = MessageExchange(
        e.join(indeg, "dst").select(
            F.col("dst").alias("src"),
            F.col("src").alias("dst"),
            (F.lit(1.0) / F.col("idg")).alias("wb"),
        ),
        **opts,
    )

    n_hubs = outdeg.count()
    hubs = outdeg.select(F.col("src").alias("id"), F.lit(1).alias("_h"))
    init = verts.join(hubs, "id", "left").select(
        "id",
        F.lit(0.0).alias("auth"),
        F.when(F.col("_h").isNotNull(), F.lit(1.0 / max(n_hubs, 1)))
        .otherwise(F.lit(0.0))
        .alias("hub"),
    )
    res = Pregel(
        spark,
        step=lambda st, s: _salsa_step(st, fwd, bwd),
        # the mass totals double as a conservation check — both must stay
        # 1.0 up to fp rounding every superstep
        metrics_exprs={
            "delta": F.sum("_delta"),
            "auth_mass": F.sum("auth"),
            "hub_mass": F.sum("hub"),
        },
        halt=lambda m, s: (m["delta"] or 0.0) < tol,
        run_id="salsa",
        max_supersteps=max_iters,
        exchanges=(fwd, bwd),
    ).run(init)
    if mapping is not None:
        res.state = decode_state(res.state, mapping, ("id",))
    return res
