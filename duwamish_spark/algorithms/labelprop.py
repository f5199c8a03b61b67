"""Synchronous label propagation with deterministic tie-breaks.

Not in the reference's program set; required by the north rule and built
from the same compute/sendMessage/voteToHalt contract
(reference: model/Vertex.java:23-24, Context.java:50-60). Semantics pinned
for the exact-equality gate (SURVEY.md §2.4):

- state = label, init = own id;
- each round every vertex sends its label to all undirected neighbors;
- combine = **mode** of incoming labels, ties broken by the smallest label
  (by the id ordering, matching the reference's comparator,
  util/Comparators.java:26-33 — preserved under order-preserving id
  encoding);
- a vertex with no neighbors keeps its label;
- synchronous updates, fixed round cap (sync LP can 2-cycle, so the cap is
  part of the definition), early-exit when no label changes.

Mode has no built-in partial aggregate, so it runs as the explicit
two-stage form: ``groupBy(dst, label).count`` (algebraic — map-side partial
combine applies) → per-dst argmax via ``min_by(label, struct(-count,
label))``. Hub skew is absorbed by the first stage: each map task emits at
most one row per (dst, label). ``strategy``/``salt``/``combine`` choose the
run's message exchange (pregel.MessageExchange, shared with PageRank and
CC): on the broadcast path the labels are broadcast to dst-partitioned
edges and the first stage is partition-local — zero message shuffle. The
seeded and weighted variants always take the shuffle path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from duwamish_spark.graph import (
    decode_state,
    prepare_encoding,
    require_columns,
    symmetrize,
)
from duwamish_spark.pregel import (
    MessageExchange,
    Pregel,
    PregelResult,
    local_checkpoint_stats_reset,
)


def _lp_step(state: DataFrame, exchange: MessageExchange) -> DataFrame:
    msgs = exchange.send(state, F.col("label").alias("m"))
    # stage 1 (count per (dst, label)) through the shared combiner so LP has
    # the same salt / raw-exchange knobs as CC and PageRank: salt splits a
    # hot (dst, label) key — a hub whose neighborhood converged to one
    # label — across reducer sub-keys; combine="raw" exchanges raw messages
    # by the composite key before aggregating (V/P-sized combine maps)
    counts = exchange.combine(msgs, [("cnt", "m", "count")], key=["dst", "m"])
    mode = counts.groupBy("dst").agg(
        F.min_by("m", F.struct((-F.col("cnt")).alias("nc"), F.col("m"))).alias("mlabel"),
        F.sum("cnt").alias("mcnt"),
    ).withColumnRenamed("dst", "id")
    return state.join(mode.hint("shuffle_hash"), "id", "left").select(
        "id",
        F.coalesce("mlabel", "label").alias("label"),
        F.when(F.coalesce("mlabel", "label") != F.col("label"), 1).otherwise(0).alias("_changed"),
        F.coalesce("mcnt", F.lit(0)).alias("_msgs"),
    )


def label_propagation_delta(
    spark: SparkSession,
    vertices: DataFrame,
    edges: DataFrame,
    *,
    max_supersteps: int = 10,
    num_partitions: int | None = None,
    encode: bool = True,
    run_id: str = "lp_delta",
) -> PregelResult:
    """Frontier/delta form of synchronous label propagation — IDENTICAL
    labels to :func:`label_propagation` (same mode combine, same
    smallest-label tie-break, same synchronous rounds), but message
    volume proportional to the CHANGED frontier instead of E every round.

    The sync formulation resends every label along every edge each round
    because mode (unlike CC's min) is not monotone — a quiet vertex's
    label still participates in its neighbors' votes. The delta
    formulation keeps those votes as a persistent neighbor-label count
    relation ``cnt(id, label, c)`` — the exact multiset of each vertex's
    neighbors' current labels — so quiet vertices never resend:

    - only vertices whose label changed last round emit count deltas
      ``(+new, -old)`` along their edges (round 1: everyone emits its
      init label, building ``cnt`` from scratch);
    - a vertex none of whose neighbors changed has an untouched multiset,
      hence an unchanged mode — it is skipped entirely (not recomputed);
    - affected vertices recompute mode from the updated counts with the
      same ``min_by(label, struct(-c, label))`` tie-break.

    Scale shape: the per-round shuffle is O(frontier-degree) messages +
    one keyed merge of the O(E)-bounded count relation (both sides
    hash-partitioned on (id, label), so the merge reuses partitioning
    instead of re-exchanging the big side). Deltas cost TWO messages per
    frontier-incident edge (+new/-old), so a round is cheaper than sync
    exactly when the frontier touches < E/2 edges.

    **Measured verdict (r5, BENCH/lp_ab.json — to a 60-round cap at
    sf0.1, fresh JVMs, interleaved):** the per-round message crossover
    is round 3 and the frontier collapses geometrically (3.5M → 17k
    msgs by round 6 vs sync's flat 3.5M every round), for **11× fewer
    total messages** (18.9M vs 212.4M). Wall-clock on local[32] is the
    OPPOSITE story — 53.7 s vs 27.3 s median — because a single-JVM
    "shuffle" is a memory copy while delta pays a fixed per-round
    count-merge. So: **sync stays the default**; delta is the documented
    option for network-bound multi-executor clusters (where message
    volume, not round count, is the bill) and for high-round converged
    runs. Memory: ``cnt`` ≤ one row per (vertex, distinct neighbor
    label) ≤ E rows, localCheckpointed per round with the standard
    two-generation block retirement.
    """
    mapping = None
    verts, e = vertices, edges
    if encode:
        mapping, verts, e = prepare_encoding(
            spark, vertices, edges, num_partitions, None, run_id, False
        )

    edges_sym = symmetrize(e)
    if num_partitions:
        edges_sym = edges_sym.repartition(num_partitions, "src")
    edges_sym = edges_sym.persist(StorageLevel.MEMORY_AND_DISK)
    n_edge_rows = edges_sym.count()

    from duwamish_spark.pregel import free_local_checkpoint

    # round-0 state: own id; counts = full neighbor-id multiset (what a
    # first all-vertices "+init label" delta round would build)
    state = verts.select(
        "id", F.col("id").alias("label"), F.col("id").alias("_prev"),
        F.lit(1).alias("_changed"),
    ).transform(local_checkpoint_stats_reset)
    cnt = (
        edges_sym.groupBy(F.col("dst").alias("id"), F.col("src").alias("label"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .transform(local_checkpoint_stats_reset)
    )

    metrics_hist: list[dict] = []
    halted = False
    rounds = 0
    n_changed = state.count()  # round 0: all vertices
    first = True

    for t in range(1, max_supersteps + 1):
        if n_changed == 0:
            halted = True
            break
        rounds = t
        frontier = state.where(F.col("_changed") == 1)
        fe = frontier.hint("shuffle_hash").join(
            edges_sym, frontier["id"] == edges_sym["src"]
        )
        if first:
            # init round: counts are already the +label multiset; the
            # "delta" is the whole relation, affected = every vertex
            deltas = cnt
            n_msgs = n_edge_rows
            first = False
        else:
            # edge-message volume must be counted while the PREVIOUS
            # state's checkpoint blocks (fe's lineage) are still alive
            n_msgs = 2 * fe.count()
            d = fe.select(
                "dst",
                F.explode(
                    F.array(
                        F.struct(F.col("label").alias("l"), F.lit(1).cast("long").alias("dc")),
                        F.struct(F.col("_prev").alias("l"), F.lit(-1).cast("long").alias("dc")),
                    )
                ).alias("x"),
            ).select(F.col("dst").alias("id"), F.col("x.l").alias("label"), F.col("x.dc").alias("dc"))
            dagg = d.groupBy("id", "label").agg(F.sum("dc").alias("dc"))
            merged = (
                cnt.hint("shuffle_hash")
                .join(dagg, ["id", "label"], "full_outer")
                .select(
                    "id", "label",
                    (F.coalesce("c", F.lit(0)) + F.coalesce("dc", F.lit(0))).alias("c"),
                )
                .where(F.col("c") > 0)
                .transform(local_checkpoint_stats_reset)
            )
            free_local_checkpoint(cnt)
            cnt = merged
            deltas = dagg

        affected = deltas.select("id").distinct()
        mode = (
            cnt.join(affected, "id", "left_semi")
            .groupBy("id")
            .agg(
                F.min_by(
                    "label", F.struct((-F.col("c")).alias("nc"), F.col("label"))
                ).alias("mlabel"),
                F.sum("c").alias("mc"),
            )
        )
        nxt = (
            state.join(mode.hint("shuffle_hash"), "id", "left")
            .select(
                "id",
                F.coalesce("mlabel", "label").alias("label"),
                F.col("label").alias("_prev"),
                F.when(F.coalesce("mlabel", "label") != F.col("label"), 1)
                .otherwise(0)
                .alias("_changed"),
            )
            .transform(local_checkpoint_stats_reset)
        )
        free_local_checkpoint(state)
        state = nxt
        row = state.agg(
            F.sum("_changed").alias("ch"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
        n_changed = int(row["ch"] or 0)
        metrics_hist.append(
            {
                "superstep": t,
                "changed": n_changed,
                "message_count": int(n_msgs),
                "vertex_count": int(row["n"]),
            }
        )

    res = PregelResult(
        state=state.select("id", "label"),
        supersteps=rounds,
        metrics=metrics_hist,
        halted=halted,
        run_id=run_id,
    )
    edges_sym.unpersist()
    if mapping is not None:
        res.state = decode_state(res.state, mapping, ("id", "label"))
    return res


def label_propagation(
    spark: SparkSession,
    vertices: DataFrame,
    edges: DataFrame,
    *,
    max_supersteps: int = 10,
    checkpoint_dir: str | None = None,
    run_id: str = "lp",
    reliable_interval: int = 5,
    num_partitions: int | None = None,
    halt_interval: int = 1,
    strategy: str = "auto",
    encode: bool = True,
    resume: bool = False,
    salt: int = 0,
    combine: str = "partial",
) -> PregelResult:
    """Result state: (id, label) after ≤ max_supersteps synchronous rounds.

    ``salt``/``combine`` mirror connected_components/pagerank (shuffle
    strategy only): salt > 1 splits hot (dst, label) count keys across
    reducer sub-keys; combine="raw" exchanges raw messages by the
    composite key before aggregating. Results are knob-invariant
    (tested); measured skew economics in BENCH/skew.json.
    """
    mapping = None
    verts, e = vertices, edges
    if encode:
        mapping, verts, e = prepare_encoding(
            spark, vertices, edges, num_partitions, checkpoint_dir, run_id, resume
        )

    init = verts.select("id", F.col("id").alias("label"))
    if num_partitions:
        init = init.repartition(num_partitions, "id")

    metrics = {
        "changed": F.sum("_changed"),
        "message_count": F.sum("_msgs"),
        # exact DISTINCT is not allowed in observed metrics; HLL is fine here
        "distinct_labels": F.approx_count_distinct("label"),
    }
    exchange = MessageExchange(
        symmetrize(e), verts.count(), strategy=strategy,
        num_partitions=num_partitions, salt=salt, combine=combine,
    )
    runner = Pregel(
        spark,
        step=lambda st, s: _lp_step(st, exchange),
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


def _lp_seeded_step(state: DataFrame, exchange: MessageExchange) -> DataFrame:
    labeled = state.where(F.col("label").isNotNull()).select("id", "label")
    msgs = exchange.send(labeled, F.col("label").alias("m"))
    counts = exchange.combine(msgs, [("cnt", "m", "count")], key=["dst", "m"])
    mode = counts.groupBy("dst").agg(
        F.min_by("m", F.struct((-F.col("cnt")).alias("nc"), F.col("m"))).alias("mlabel"),
        F.sum("cnt").alias("mcnt"),
    ).withColumnRenamed("dst", "id")
    new = F.when(F.col("seed") == 1, F.col("label")).otherwise(
        F.coalesce("mlabel", "label")
    )
    return state.join(mode.hint("shuffle_hash"), "id", "left").select(
        "id",
        new.alias("label"),
        "seed",
        F.when(new.eqNullSafe(F.col("label")), 0).otherwise(1).alias("_changed"),
        F.coalesce("mcnt", F.lit(0)).alias("_msgs"),
    )


def seeded_label_propagation(
    spark: SparkSession,
    vertices: DataFrame,
    edges: DataFrame,
    seeds: DataFrame,
    *,
    max_supersteps: int = 20,
    checkpoint_dir: str | None = None,
    run_id: str = "lp_seeded",
    reliable_interval: int = 5,
    num_partitions: int | None = None,
    halt_interval: int = 1,
    resume: bool = False,
) -> PregelResult:
    """Semi-supervised label propagation: ``seeds`` is a DataFrame
    ``(id, label)`` of vertices with KNOWN community labels; those
    labels are clamped (a seed never changes), every other vertex
    starts unlabeled (NULL) and each round adopts the mode of its
    LABELED neighbors (smallest-label tie-break — the engine's LP
    comparator), so labels flood outward from the seeds. Result state:
    ``(id, label, seed)`` — vertices unreachable from any seed keep
    label NULL (an honest "no information" marker, the MIS/coloring
    budget-contract discipline).

    This is the standard seed-expansion classifier on a link graph
    (topic/spam labels from a small audited set, owner labels from a
    CODEOWNERS-style seed file). Unlike :func:`label_propagation`
    (label = own id, every vertex votes), only LABELED vertices emit —
    early rounds ship O(frontier) messages, converged regions keep
    voting but quiet regions with no labeled neighbor are never
    updated. Same per-round shape as LP: one (dst, label)-keyed count
    combine (map-side partial) + per-dst argmax + V-row update join.

    Seeds for ids absent from ``vertices`` are ignored (the update is
    a left join from the vertex relation); duplicate seed ids must not
    disagree (first by smallest label wins deterministically).
    Labels occupy their own value domain (not vertex ids), so the
    order-preserving id-encoding optimization is deliberately skipped.
    """
    require_seed_cols = {"id", "label"}
    if not require_seed_cols.issubset(set(seeds.columns)):
        raise ValueError(f"seeds must have columns {sorted(require_seed_cols)}")
    # deterministic collapse of duplicate seed rows: smallest label wins
    sd = seeds.groupBy("id").agg(F.min("label").alias("label"))

    exchange = MessageExchange(
        symmetrize(edges), strategy="shuffle", num_partitions=num_partitions
    )

    init = vertices.join(sd, "id", "left").select(
        "id",
        "label",
        F.col("label").isNotNull().cast("int").alias("seed"),
    )
    if num_partitions:
        init = init.repartition(num_partitions, "id")

    metrics = {
        "changed": F.sum("_changed"),
        "message_count": F.sum("_msgs"),
        "labeled": F.sum(F.col("label").isNotNull().cast("long")),
    }
    runner = Pregel(
        spark,
        step=lambda st, s: _lp_seeded_step(st, exchange),
        metrics_exprs=metrics,
        halt=lambda m, s: (m["changed"] or 0) == 0,
        checkpoint_dir=checkpoint_dir,
        run_id=run_id,
        reliable_interval=reliable_interval,
        max_supersteps=max_supersteps,
        halt_interval=halt_interval,
        exchanges=(exchange,),
    )
    return runner.run(init, resume=resume)


def _lp_weighted_step(state: DataFrame, exchange: MessageExchange) -> DataFrame:
    msgs = exchange.send(state, F.col("label").alias("m"), "w")
    counts = exchange.combine(msgs, [("wsum", "w", "sum")], key=["dst", "m"])
    mode = counts.groupBy("dst").agg(
        F.min_by(
            "m", F.struct((-F.col("wsum")).alias("nw"), F.col("m"))
        ).alias("mlabel"),
        F.count(F.lit(1)).alias("mcnt"),
    ).withColumnRenamed("dst", "id")
    return state.join(mode.hint("shuffle_hash"), "id", "left").select(
        "id",
        F.coalesce("mlabel", "label").alias("label"),
        F.when(F.coalesce("mlabel", "label") != F.col("label"), 1)
        .otherwise(0)
        .alias("_changed"),
        F.coalesce("mcnt", F.lit(0)).alias("_msgs"),
    )


def label_propagation_weighted(
    spark: SparkSession,
    vertices: DataFrame,
    edges: DataFrame,
    *,
    weight_col: str | None = None,
    max_supersteps: int = 10,
    checkpoint_dir: str | None = None,
    run_id: str = "lp_weighted",
    reliable_interval: int = 5,
    num_partitions: int | None = None,
    halt_interval: int = 1,
    resume: bool = False,
) -> PregelResult:
    """Strength-weighted label propagation: each neighbor's vote counts
    its EDGE WEIGHT — parallel-arc multiplicity by default (the louvain
    weight law: an import appearing in ten files is ten votes), or any
    INTEGER ``weight_col`` summed over all arcs between the endpoints
    in either direction. Mode = argmax of summed weight, smallest-label
    ties — with all weights 1 (a simple graph) this IS
    :func:`label_propagation` (tested). Integer weights are REQUIRED
    and ENFORCED: a float/decimal ``weight_col`` raises ValueError
    rather than being silently truncated (0.9 would become 0 votes) —
    float vote totals would make the argmax order-sensitive and the
    oracle unreplayable (the aa_micro discipline). Pre-scale fractional
    weights to fixed-point integers yourself (e.g. round(w * 10^6)).

    Same per-round shape as LP: one (dst, label)-keyed SUM combine
    (map-side partial — a hub's converged neighborhood collapses to one
    row per map task), per-dst argmax, V-row update join. The weighted
    und relation is built ONCE (E-bounded groupBy) and persisted.
    """
    require_columns(
        edges, ("src", "dst") + ((weight_col,) if weight_col is not None else ()), "edges"
    )
    if weight_col is not None:
        wtype = edges.schema[weight_col].dataType.simpleString()
        if wtype not in ("bigint", "int", "smallint", "tinyint"):
            raise ValueError(
                f"label_propagation_weighted requires an integer weight_col; "
                f"{weight_col!r} is {wtype} — pre-scale to fixed-point "
                "integers (e.g. round(w * 1e6)) to keep the argmax "
                "order-independent"
            )
    und = edges.where(F.col("src") != F.col("dst")).select(
        F.least("src", "dst").alias("lo"),
        F.greatest("src", "dst").alias("hi"),
        (
            F.col(weight_col).cast("long")
            if weight_col
            else F.lit(1).cast("long")
        ).alias("w"),
    )
    undw = und.groupBy("lo", "hi").agg(F.sum("w").alias("w"))
    symw = undw.select(
        F.col("lo").alias("src"), F.col("hi").alias("dst"), "w"
    ).unionAll(undw.select(F.col("hi").alias("src"), F.col("lo").alias("dst"), "w"))
    exchange = MessageExchange(symw, strategy="shuffle", num_partitions=num_partitions)

    init = vertices.select("id", F.col("id").alias("label"))
    if num_partitions:
        init = init.repartition(num_partitions, "id")

    metrics = {
        "changed": F.sum("_changed"),
        "message_count": F.sum("_msgs"),
        "distinct_labels": F.approx_count_distinct("label"),
    }
    runner = Pregel(
        spark,
        step=lambda st, s: _lp_weighted_step(st, exchange),
        metrics_exprs=metrics,
        halt=lambda m, s: (m["changed"] or 0) == 0,
        checkpoint_dir=checkpoint_dir,
        run_id=run_id,
        reliable_interval=reliable_interval,
        max_supersteps=max_supersteps,
        halt_interval=halt_interval,
        exchanges=(exchange,),
    )
    return runner.run(init, resume=resume)
