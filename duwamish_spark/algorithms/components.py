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

    ``checkpoint_dir``/``run_id``/``reliable_interval``/``resume`` mirror
    the Pregel driver's durable-checkpoint contract: the CURRENT EDGE SET
    (this algorithm's whole loop state) is written to parquet with a
    ``_MANIFEST.json`` every ``reliable_interval`` rounds, and
    ``resume=True`` restarts from the latest complete manifest — so
    ``algorithm="auto"``'s fallback phase is resumable like the hash-min
    probe phase.
    """
    import json
    import os

    mapping = None
    verts, e = vertices, edges
    if encode:
        mapping, verts, e = prepare_encoding(spark, vertices, edges, num_partitions)

    ckpt_root = os.path.join(checkpoint_dir, run_id) if checkpoint_dir else None

    def _round_path(r: int) -> str:
        assert ckpt_root
        return os.path.join(ckpt_root, f"round={r:05d}")

    def _latest_round() -> int | None:
        if not ckpt_root or not os.path.isdir(ckpt_root):
            return None
        best = None
        for name in os.listdir(ckpt_root):
            if name.startswith("round=") and os.path.exists(
                os.path.join(ckpt_root, name, "_MANIFEST.json")
            ):
                r = int(name.split("=")[1])
                best = r if best is None or r > best else best
        return best

    def _sym(pairs: DataFrame) -> DataFrame:
        p = pairs.where(F.col("src") != F.col("dst"))
        return p.unionAll(
            p.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()

    def _min_nbr(sym: DataFrame) -> DataFrame:
        return sym.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )

    prev_sig = None
    rounds = 0
    converged = False
    metrics_hist: list[dict] = []
    start_round = 1

    resumed = None
    if resume and ckpt_root:
        latest = _latest_round()
        if latest is not None:
            with open(os.path.join(_round_path(latest), "_MANIFEST.json")) as f:
                manifest = json.load(f)
            resumed = spark.read.parquet(_round_path(latest))
            prev_sig = tuple(manifest["sig"]) if manifest.get("sig") else None
            metrics_hist = manifest.get("metrics_history", [])
            converged = bool(manifest.get("converged"))
            rounds = latest
            start_round = latest + 1

    if resumed is not None:
        cur = resumed.transform(local_checkpoint_stats_reset)
    else:
        cur = _sym(e.select("src", "dst"))
        if num_partitions:
            cur = cur.repartition(num_partitions, "src")
        cur = cur.transform(local_checkpoint_stats_reset)
    cached: list[DataFrame] = [cur]
    if converged:
        start_round = max_rounds + 1  # resumed at a converged manifest: no work left
    for rounds in range(start_round, max_rounds + 1):
        # large-star: (v, m(u)) for v in N(u), v > u
        m = _min_nbr(cur)
        large = (
            cur.join(m, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        sym1 = _sym(large)
        # small-star: (v, m(u)) for v in N(u), v < u; plus (u, m(u))
        m2 = _min_nbr(sym1)
        small = (
            sym1.join(m2, "src")
            .where(F.col("dst") < F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .unionAll(m2.select(F.col("src"), F.col("m").alias("dst")))
        )
        cur = _sym(small)
        if num_partitions:
            cur = cur.repartition(num_partitions, "src")
        cur = cur.transform(local_checkpoint_stats_reset)
        cached.append(cur)
        # keep only the last 2 checkpointed edge sets in block-manager
        # storage (mirrors Pregel.run's cached-list cleanup)
        while len(cached) > 2:
            free_local_checkpoint(cached.pop(0))
        sig_row = cur.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.hash("src", "dst").cast("long")).alias("h"),
        ).collect()[0]
        sig = (sig_row["n"], sig_row["h"])
        metrics_hist.append({"superstep": rounds - 1, "edge_pairs": sig[0]})
        converged = sig == prev_sig
        prev_sig = sig
        if ckpt_root and (
            rounds % reliable_interval == 0 or converged or rounds == max_rounds
        ):
            path = _round_path(rounds)
            cur.write.mode("overwrite").parquet(path)
            part_counts = {
                str(r["pid"]): r["cnt"]
                for r in cur.groupBy(F.spark_partition_id().alias("pid"))
                .agg(F.count(F.lit(1)).alias("cnt"))
                .collect()
            }
            manifest = {
                "run_id": run_id,
                "round": rounds,
                "sig": list(sig),
                "converged": converged,
                "partition_edge_counts": part_counts,
                "metrics_history": metrics_hist,
            }
            with open(os.path.join(path, "_MANIFEST.json"), "w") as f:
                json.dump(manifest, f, default=str)
        if converged:
            break

    if not converged:
        import warnings

        warnings.warn(
            f"connected_components_alternating: edge-set signature did not "
            f"stabilize within max_rounds={max_rounds}; labels may be "
            f"incomplete (halted=False)",
            RuntimeWarning,
            stacklevel=2,
        )
    nbr_min = cur.groupBy(F.col("src").alias("id")).agg(F.min("dst").alias("mn"))
    state = verts.join(nbr_min, "id", "left").select(
        "id", F.least("id", F.coalesce("mn", "id")).alias("label")
    )
    res = PregelResult(state, rounds, metrics_hist, converged, run_id)
    if mapping is not None:
        res.state = decode_state(res.state, mapping, ("id", "label"))
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
