"""Connected components via hash-min label exchange.

The reference ships the *pattern* as single-source shortest path — a
min-combine relaxation with vote-to-halt
(reference: example/ShortestPath.java:32-122, min at ShortestPath.java:41-46,
halt via util/DefaultHaltDecider.java:25-29). CC is structurally the same
program (SURVEY.md §2.4): state = label (init = own id), message = my label
to all neighbors over the undirected adjacency, combine = min, halt when no
label changed.

Labels are vertex ids; "min" follows the id ordering, matching the
reference's id comparator (reference: util/Comparators.java:26-33). With
``encode=True`` ids run internally as order-preserving dense longs
(graph.encode_vertices), so min-label results are identical after decode —
the exact-equality gate holds.

Scale notes:
- only vertices whose label changed last round send messages (the
  frontier) — the Pregel analog of vote-to-halt putting quiet vertices to
  sleep; message volume decays geometrically after the first rounds.
- ``strategy``/``salt``/``combine`` choose the run's message exchange
  (pregel.MessageExchange, shared with PageRank and LP): on the broadcast
  path the frontier is broadcast to dst-partitioned edges and the
  min-combine is partition-local — zero message shuffle; ``shuffle`` is
  the 10^12-scale path.
- high-diameter graphs take ``connected_components_alternating``
  (O(log n) rounds), which runs on ``Pregel`` too, with the edge set
  as its state, so its durable checkpoints and resume are ``Pregel``'s
  (``superstep=NNNNN/`` parquet plus a manifest).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duwamish_spark.graph import (
    decode_state,
    partition_by,
    prepare_encoding,
    symmetrize,
)
from duwamish_spark.pregel import (
    local_checkpoint_stats_reset,
    MessageExchange,
    Pregel,
    PregelResult,
    free_local_checkpoint,
)


def _cc_update(state: DataFrame, mins: DataFrame) -> DataFrame:
    return state.join(mins.hint("shuffle_hash"), "id", "left").select(
        "id",
        F.least("label", F.coalesce("mlabel", "label")).alias("label"),
        F.when(
            F.least("label", F.coalesce("mlabel", "label")) != F.col("label"), 1
        )
        .otherwise(0)
        .alias("_changed"),
        F.coalesce("mcnt", F.lit(0)).alias("_msgs"),
    )


def _cc_step(state: DataFrame, exchange: MessageExchange) -> DataFrame:
    frontier = state.where(F.col("_changed") == 1)
    msgs = exchange.send(frontier, F.col("label").alias("m"))
    mins = exchange.combine(
        msgs, [("mlabel", "m", "min"), ("mcnt", "m", "count")]
    ).withColumnRenamed("dst", "id")
    return _cc_update(state, mins)


def _min_nbr(sym: DataFrame) -> DataFrame:
    return sym.groupBy("src").agg(F.least(F.min("dst"), F.first("src")).alias("m"))


def _star_step(cur: DataFrame, num_partitions: int | None) -> DataFrame:
    """One alternating round over the symmetric edge set: large-star, then
    small-star."""
    # large-star: (v, m(u)) for v in N(u), v > u
    m = _min_nbr(cur)
    large = (
        cur.join(m, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    sym1 = symmetrize(large)
    # small-star: (v, m(u)) for v in N(u), v < u; plus (u, m(u))
    m2 = _min_nbr(sym1)
    small = (
        sym1.join(m2, "src")
        .where(F.col("dst") < F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .unionAll(m2.select(F.col("src"), F.col("m").alias("dst")))
    )
    nxt = symmetrize(small)
    if num_partitions:
        nxt = nxt.repartition(num_partitions, "src")
    return nxt


def connected_components_alternating(
    spark: SparkSession,
    vertices: DataFrame,
    edges: DataFrame,
    *,
    max_rounds: int = 50,
    num_partitions: int | None = None,
    encode: bool = True,
    checkpoint_dir: str | None = None,
    run_id: str = "cc_alternating",
    reliable_interval: int = 10,
    resume: bool = False,
) -> PregelResult:
    """CC via alternating large-star / small-star edge rewriting.

    Hash-min message passing converges in O(diameter) supersteps — right
    for import graphs (shallow), wrong for path-like graphs at 10^12
    scale. The alternating algorithm (Kiveris et al., "Connected
    Components in MapReduce and Beyond") rewrites the EDGE set instead:

    - large-star(u): every neighbor v > u re-attaches to
      m(u) = min(N(u) ∪ {u});
    - small-star(u): every neighbor v < u (and u itself) attaches to m(u);

    converging in O(log n) rounds to a star per component. Same output
    contract as :func:`connected_components`: (id, label = component min),
    exact. Each round is two groupBy/join passes over the current edge
    set; the set only shrinks (toward one edge per non-root vertex).

    Runs on :class:`Pregel` with the CURRENT EDGE SET as the state (one
    superstep = one large-star + small-star round); it halts when the
    edge-set signature (row count, Σ hash), carried as metrics, repeats.
    ``checkpoint_dir``/``run_id``/``reliable_interval``/``resume`` are
    ``Pregel``'s durable-checkpoint contract (``superstep=NNNNN/`` parquet
    plus a manifest), so ``algorithm="auto"``'s fallback phase
    is resumable like the hash-min probe phase. After a mid-run resume
    the first signature has nothing to compare with, which may cost one
    extra confirming round; the labels are unchanged.
    """
    mapping = None
    verts, e = vertices, edges
    if encode:
        mapping, verts, e = prepare_encoding(spark, vertices, edges, num_partitions)

    init = symmetrize(e)
    if num_partitions:
        init = init.repartition(num_partitions, "src")

    last: dict[str, tuple] = {}

    def halt(m: dict, s: int) -> bool:
        sig = (m["edge_pairs"], m["edge_hash"])
        repeated = last.get("sig") == sig
        last["sig"] = sig
        return repeated

    res = Pregel(
        spark,
        step=lambda cur, s: _star_step(cur, num_partitions),
        metrics_exprs={
            "edge_pairs": F.count(F.lit(1)),
            "edge_hash": F.sum(F.hash("src", "dst").cast("long")),
        },
        halt=halt,
        checkpoint_dir=checkpoint_dir,
        run_id=run_id,
        reliable_interval=reliable_interval,
        max_supersteps=max_rounds,
    ).run(init, resume=resume)
    if not res.halted:
        import warnings

        warnings.warn(
            f"connected_components_alternating: edge-set signature did not "
            f"stabilize within max_rounds={max_rounds}; labels may be "
            f"incomplete (halted=False)",
            RuntimeWarning,
            stacklevel=2,
        )
    cur = res.state
    nbr_min = cur.groupBy(F.col("src").alias("id")).agg(F.min("dst").alias("mn"))
    labels = verts.join(nbr_min, "id", "left").select(
        "id", F.least("id", F.coalesce("mn", "id")).alias("label")
    )
    if mapping is not None:
        labels = decode_state(labels, mapping, ("id", "label"))
    res.state = labels.transform(local_checkpoint_stats_reset)
    free_local_checkpoint(cur)
    return res


def connected_components(
    spark: SparkSession,
    vertices: DataFrame,
    edges: DataFrame,
    *,
    max_supersteps: int = 200,
    checkpoint_dir: str | None = None,
    run_id: str = "cc",
    reliable_interval: int = 10,
    num_partitions: int | None = None,
    salt: int = 0,
    halt_interval: int = 1,
    strategy: str = "auto",
    encode: bool = True,
    resume: bool = False,
    algorithm: str = "hashmin",
    partitioner=None,
    combine: str = "partial",
    initial_labels: DataFrame | None = None,
) -> PregelResult:
    """Result state: (id, label) where label = min vertex id in the component.

    ``initial_labels`` (id, label): warm start for GROW-ONLY incremental
    recomputation — seed from a previous converged run when the graph has
    gained edges/vertices since. Hash-min converges to
    ``min over the component of the INITIAL labels``; because previous
    labels are component-min ids and added edges only merge components,
    that equals the fresh component min — exact, in a fraction of the
    rounds (label fronts start at the old component borders instead of
    every vertex). Vertices absent from the seed (new ids) start at their
    own id. NOT valid after edge REMOVALS: a stale too-small label would
    persist (min-combine can never raise a label) — recompute cold.

    ``partitioner``: optional ``Column -> Column`` placement hook for the
    persisted adjacency and initial state (graph.partition_by; reference:
    model/Partitioner.java:19-21). Results are partitioner-invariant.

    ``algorithm``:
    - ``"hashmin"`` (default) — min-label message passing; O(diameter)
      supersteps. Right for shallow graphs (import graphs, web graphs).
    - ``"auto"`` — round-budget switch: run hash-min with a budget of
      ``2*ceil(log2 V) + 4`` supersteps (a shallow graph converges well
      inside it); if the budget is exhausted without convergence the graph
      is high-diameter, so finish with the O(log n) alternating
      large-star/small-star algorithm instead of paying O(diameter).
      With ``checkpoint_dir`` set, BOTH phases checkpoint durably (the
      fallback under ``run_id + "_alt"``) and ``resume=True`` resumes
      whichever phase last wrote a manifest: a completed-but-unhalted
      hash-min probe re-runs its (budget-capped) supersteps from its own
      latest checkpoint before handing the edge set to the fallback, which
      then resumes from its latest round.
    """
    if algorithm == "auto":
        import math

        n_v = vertices.count()
        budget = min(max_supersteps, 2 * max(1, math.ceil(math.log2(max(2, n_v)))) + 4)
        probe = connected_components(
            spark, vertices, edges,
            max_supersteps=budget, checkpoint_dir=checkpoint_dir,
            run_id=run_id, reliable_interval=reliable_interval,
            num_partitions=num_partitions, salt=salt,
            halt_interval=halt_interval, strategy=strategy, encode=encode,
            resume=resume, algorithm="hashmin", partitioner=partitioner, combine=combine,
        )
        if probe.halted:
            return probe
        return connected_components_alternating(
            spark, vertices, edges,
            num_partitions=num_partitions, encode=encode,
            checkpoint_dir=checkpoint_dir, run_id=run_id + "_alternating",
            reliable_interval=reliable_interval, resume=resume,
        )

    mapping = None
    verts, e = vertices, edges
    if encode:
        mapping, verts, e = prepare_encoding(
            spark, vertices, edges, num_partitions, checkpoint_dir, run_id, resume
        )

    if initial_labels is not None:
        seed = initial_labels.select("id", F.col("label").alias("_seed"))
        if mapping is not None:
            # both columns are vertex ids — encode each through the mapping
            m_enc = mapping.select(F.col("id"), F.col("vid"))
            seed = (
                seed.join(m_enc, "id")
                .select(F.col("vid").alias("id"), F.col("_seed"))
                .join(
                    m_enc.select(
                        F.col("id").alias("_seed"), F.col("vid").alias("_seed_enc")
                    ),
                    "_seed",
                )
                .select("id", F.col("_seed_enc").alias("_seed"))
            )
        init = verts.join(seed, "id", "left").select(
            "id",
            F.coalesce("_seed", F.col("id")).alias("label"),
            F.lit(1).alias("_changed"),
            F.lit(0).alias("_msgs"),
        )
    else:
        init = verts.select(
            "id", F.col("id").alias("label"), F.lit(1).alias("_changed"), F.lit(0).alias("_msgs")
        )
    if num_partitions:
        init = partition_by(init, num_partitions, "id", partitioner)

    metrics = {
        "changed": F.sum("_changed"),
        "message_count": F.sum("_msgs"),
        "component_min": F.min("label"),
    }
    exchange = MessageExchange(
        symmetrize(e), verts.count(), strategy=strategy,
        num_partitions=num_partitions, partitioner=partitioner, salt=salt,
        combine=combine,
    )
    runner = Pregel(
        spark,
        step=lambda st, s: _cc_step(st, exchange),
        metrics_exprs=metrics,
        halt=lambda m, s: (m["changed"] or 0) == 0,
        checkpoint_dir=checkpoint_dir,
        run_id=run_id,
        reliable_interval=reliable_interval,
        max_supersteps=max_supersteps,
        halt_interval=halt_interval,
        exchanges=(exchange,),
    )
    res = runner.run(init, resume=resume)
    if mapping is not None:
        res.state = decode_state(res.state, mapping, ("id", "label"))
    return res
