"""Louvain community detection — deterministic synchronous local-move
phase + multi-level coarsening through the quotient-graph contraction.

The classic Louvain method (Blondel et al. 2008) greedily moves each
vertex to the neighboring community with the largest modularity gain,
then contracts communities into super-vertices and repeats. The
sequential algorithm is order-dependent; distributed ports (GraphX /
Sotera DGA-Louvain, Grappolo) replace the sequential sweep with
synchronous rounds where every vertex evaluates its move against the
frozen previous state. Synchronous moves can oscillate (two adjacent
vertices endlessly swapping into each other's communities), so — like
the matching/coloring operators in this package — the rounds here are a
pure function of (graph, round index):

- **Direction-alternating moves**: in odd rounds a vertex may move only
  to a community id SMALLER than its current one, in even rounds only
  LARGER. The classic two-vertex swap needs u -> comm(v) and
  v -> comm(u) in the same round — one of those is against the round's
  direction, so joint swaps are structurally impossible, while both
  directions stay expressible on alternate rounds (no merge is
  permanently forbidden, unlike a monotone min-id rule). Single-vertex
  ping-pong is killed by strict improvement: after a move, the old move
  score IS the new stay score, so moving straight back is never a
  strict gain. Every vertex is eligible every round (LP-speed
  convergence).
- **Exact integer gains**: with integer edge weights (default weight =
  arc multiplicity; ``contract_graph`` weights are integral too, so
  levels compose) the move score is evaluated in DECIMAL(38,0):

      score(u -> c)     = 2m * k(u,c) - s(u) * Sigma_tot(c)      (c != a)
      score(u stays a)  = 2m * k(u,a) - s(u) * (Sigma_tot(a) - s(u))

  the standard Louvain gain times the positive constant 2m^2 (terms
  shared by all candidates dropped) — argmax-equivalent, but free of
  float division, so comparisons and ties are exact and every round is
  replayable by a DuckDB chained CTE (driver gate ``louvain_round2``).
  DECIMAL(38,0) because 2m * k(u,c) reaches ~2^62+ at 10^12 arcs with
  hub strengths ~10^5 — the degree_assortativity overflow discipline
  (a non-ANSI BIGINT product would wrap silently).
- **Strict improvement + smallest-community tie-break**: u moves only
  if the best neighboring community strictly beats staying; among
  equal-score candidates the smallest community id wins — a single
  map-side-combinable ``min(struct(-score, c))`` aggregation, no
  window sort (the negation rides the decimal score, so any orderable
  id type works).
- **Halt**: two consecutive all-quiet rounds (one per parity class)
  certify a synchronous fixpoint — no vertex of either class has a
  strictly improving move against the actual current state.

Scale shape per round: ONE E-bounded shuffle (the k(u, c)
neighbor-community weights groupBy — map-side partial-aggregated, the
same cost model as the label-propagation count exchange), one V-row
groupBy for community totals, V-row joins for the rest. No window over
E, no all-pairs step. The V-row state is localCheckpointed through
``local_checkpoint_stats_reset`` every round (the prev-joins-f(prev)
Catalyst stats-compounding fix, docs/PLANS.md).

Multi-level: ``levels > 1`` contracts the converged partition with
:func:`duwamish_spark.graph.contract_graph` (weights compose exactly)
and reruns the move phase on the quotient graph, then maps the coarse
communities back to the original ids — the full Louvain pipeline. Each
level's graph is strictly smaller, so level 1 dominates the cost.

Reference parity: the reference engine ships label propagation as its
community algorithm (SURVEY.md §2.4); Louvain is the
modularity-objective upgrade a web-scale link-graph engine needs for
host/page community mining, at the same per-round message cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from duwamish_spark.graph import contract_graph, require_columns
from duwamish_spark.pregel import (
    PregelResult,
    free_local_checkpoint,
    local_checkpoint_stats_reset,
)

_DEC = "decimal(19,0)"


def weighted_undirected(edges: DataFrame, weight_col: str | None = None) -> DataFrame:
    """Undirected weighted simple edges (lo, hi, w), lo < hi: w = number
    of directed non-loop arcs between the pair in either direction (or
    sum(weight_col) — integral weights required for exact scores, and
    enforced: a float weight would be truncated, 0.9 becoming 0)."""
    require_columns(
        edges, ("src", "dst") + ((weight_col,) if weight_col is not None else ()),
        "edges",
    )
    if weight_col is not None:
        wtype = edges.schema[weight_col].dataType.simpleString()
        if wtype not in ("bigint", "int", "smallint", "tinyint"):
            raise ValueError(
                f"louvain requires an integer weight_col; {weight_col!r} is {wtype}"
            )
    w = F.col(weight_col) if weight_col is not None else F.lit(1)
    return (
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("lo"),
            F.greatest("src", "dst").alias("hi"),
            w.cast("long").alias("_w"),
        )
        .groupBy("lo", "hi")
        .agg(F.sum("_w").alias("w"))
    )


def _symmetrize_w(und: DataFrame) -> DataFrame:
    """(u, v, w) with one row per direction of every undirected edge."""
    return und.select(F.col("lo").alias("u"), F.col("hi").alias("v"), "w").unionAll(
        und.select(F.col("hi").alias("u"), F.col("lo").alias("v"), "w")
    )


def _self_loops(quotient: DataFrame) -> DataFrame:
    """(id, lw) self-loop weights of a contracted graph: lw = number of
    original undirected edges internal to the group (each contributes 2
    to the coarse vertex's strength — standard Louvain coarsening)."""
    return quotient.where(F.col("src") == F.col("dst")).select(
        F.col("src").alias("id"), F.col("weight").alias("lw")
    )


def _move_round(
    state: DataFrame,
    sym: DataFrame,
    strength: DataFrame,
    two_m: int,
    t: int,
) -> DataFrame:
    """One synchronous move round: (id, comm) -> (id, comm, _changed)."""
    m2 = F.lit(two_m).cast(_DEC)

    # community strength totals — V rows, map-side combinable
    sig = (
        state.join(strength, "id").groupBy("comm").agg(F.sum("st").alias("tot"))
    )
    # k(u, c): weight from u into each neighboring community — the one
    # E-bounded exchange of the round (partial-aggregated map-side)
    cd = state.select(F.col("id").alias("v"), F.col("comm").alias("c"))
    k = (
        sym.join(cd, "v")
        .groupBy(F.col("u").alias("id"), "c")
        .agg(F.sum("w").alias("kw"))
    )

    # per-vertex stay score: 2m*k(u,a) - s(u)*(tot(a) - s(u))
    ka = k.select(F.col("id").alias("_ki"), F.col("c").alias("_kc"), F.col("kw").alias("_kwa"))
    base = (
        state.join(strength, "id")
        .join(
            sig.select(F.col("comm").alias("_sc"), F.col("tot").alias("tota")),
            F.col("comm") == F.col("_sc"),
        )
        .drop("_sc")
        .join(
            ka,
            (F.col("id") == F.col("_ki")) & (F.col("comm") == F.col("_kc")),
            "left",
        )
        .select(
            "id",
            F.col("comm").alias("a"),
            "st",
            (
                m2 * F.coalesce(F.col("_kwa"), F.lit(0)).cast(_DEC)
                - F.col("st").cast(_DEC)
                * (F.col("tota") - F.col("st")).cast(_DEC)
            ).alias("stay_score"),
        )
    )

    # candidate moves: 2m*k(u,c) - s(u)*tot(c) for neighboring c != a;
    # best = min(struct(-score, c)) — one map-side-combinable agg, max
    # score wins, smallest community id breaks ties (works for any
    # orderable id type — the score, not the id, carries the negation)
    direction = (
        (F.col("c") < F.col("_a")) if t % 2 == 1 else (F.col("c") > F.col("_a"))
    )
    mv = (
        k.join(state.withColumnRenamed("comm", "_a"), "id")
        .where(direction)
        .join(strength, "id")
        .join(sig.select(F.col("comm").alias("c"), "tot"), "c")
        .select(
            "id",
            F.struct(
                (
                    F.col("st").cast(_DEC) * F.col("tot").cast(_DEC)
                    - m2 * F.col("kw").cast(_DEC)
                ).alias("negscore"),
                F.col("c").alias("c"),
            ).alias("cand"),
        )
        .groupBy("id")
        .agg(F.min("cand").alias("best"))
        .select(
            "id",
            (-F.col("best.negscore")).alias("best_score"),
            F.col("best.c").alias("best_c"),
        )
    )

    moved = F.col("best_score").isNotNull() & (
        F.col("best_score") > F.col("stay_score")
    )
    return base.join(mv, "id", "left").select(
        "id",
        F.when(moved, F.col("best_c")).otherwise(F.col("a")).alias("comm"),
        F.when(moved, F.lit(1)).otherwise(F.lit(0)).alias("_changed"),
    )


def _move_phase(
    spark: SparkSession,
    verts: DataFrame,
    und: DataFrame,
    max_rounds: int,
    metrics_hist: list[dict],
    level: int,
    loops: DataFrame | None = None,
) -> tuple[DataFrame, bool, int]:
    """Run move rounds to the two-quiet-rounds fixpoint (or max_rounds).
    ``loops`` (id, lw) adds 2*lw to the vertex strength — the
    intra-community weight folded into a coarse vertex by contraction.
    Returns (state, halted, rounds_run); state is localCheckpointed."""
    sym = _symmetrize_w(und).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        strength = verts.join(
            sym.groupBy(F.col("u").alias("id")).agg(F.sum("w").alias("st")),
            "id",
            "left",
        ).select("id", F.coalesce("st", F.lit(0)).alias("st"))
        if loops is not None:
            lp = loops.select("id", F.col("lw").alias("_lw"))
            strength = strength.join(lp, "id", "left").select(
                "id",
                (F.col("st") + 2 * F.coalesce("_lw", F.lit(0))).alias("st"),
            )
        strength = strength.persist(StorageLevel.MEMORY_AND_DISK)
        two_m = strength.agg(F.sum("st")).collect()[0][0] or 0

        state = verts.select(
            "id", F.col("id").alias("comm")
        ).transform(local_checkpoint_stats_reset)
        quiet = 0
        halted = max_rounds == 0
        rounds = 0
        for t in range(1, max_rounds + 1):
            obs = Observation()
            nxt = (
                _move_round(state, sym, strength, int(two_m), t)
                .observe(
                    obs,
                    F.sum("_changed").alias("changed"),
                    F.count(F.lit(1)).alias("vertex_count"),
                )
                .transform(local_checkpoint_stats_reset)
            )
            row = obs.get
            rounds = t
            changed = int(row["changed"] or 0)
            metrics_hist.append(
                {
                    "superstep": len(metrics_hist) + 1,
                    "level": level,
                    "round": t,
                    "changed": changed,
                    "vertex_count": int(row["vertex_count"]),
                }
            )
            free_local_checkpoint(state)
            state = nxt
            quiet = quiet + 1 if changed == 0 else 0
            if quiet >= 2:
                halted = True
                break
        return state.select("id", "comm"), halted, rounds
    finally:
        sym.unpersist()
        try:
            strength.unpersist()
        except Exception:
            pass


def louvain(
    spark: SparkSession,
    vertices: DataFrame | None,
    edges: DataFrame,
    *,
    weight_col: str | None = None,
    max_rounds: int = 20,
    levels: int = 1,
) -> PregelResult:
    """Louvain communities: state (id, comm) over the undirected weighted
    simple graph (weight = arc multiplicity, or integral ``weight_col``).

    ``max_rounds`` bounds the move rounds of EACH level; ``levels`` > 1
    adds contraction passes (quotient graph via contract_graph, weights
    composed exactly, coarse communities mapped back to original ids).
    ``halted`` reports whether the final level reached its synchronous
    fixpoint. Metrics: one row per round with (level, changed).
    """
    require_columns(edges, ("src", "dst"), "edges")
    und = weighted_undirected(edges, weight_col)
    if vertices is not None:
        verts = vertices.select("id")
    else:
        verts = (
            edges.select(F.col("src").alias("id"))
            .unionAll(edges.select(F.col("dst").alias("id")))
            .distinct()
        )

    metrics: list[dict] = []
    labels, halted, total_rounds = _move_phase(
        spark, verts, und, max_rounds, metrics, level=1
    )

    # coarsening: `cur` is the previous level's state over the previous
    # level's vertex ids; `labels` stays composed down to original ids
    cur = labels
    loops: DataFrame | None = None
    for level in range(2, levels + 1):
        # stop coarsening once the partition stopped changing shape
        n_comms = cur.select("comm").distinct().count()
        n_verts = cur.count()
        if n_comms == n_verts:
            break
        mapping = cur.select("id", F.col("comm").alias("group"))
        quotient = contract_graph(
            und.select(F.col("lo").alias("src"), F.col("hi").alias("dst"), "w"),
            mapping,
            weight_col="w",
            drop_self_loops=False,
        ).transform(local_checkpoint_stats_reset)
        # prior-level self-loop weight folds into the new groups too
        if loops is not None:
            lq = (
                loops.join(mapping, "id")
                .groupBy(F.col("group").alias("id"))
                .agg(F.sum("lw").alias("lw"))
            )
            new_loops = (
                _self_loops(quotient)
                .unionAll(lq)
                .groupBy("id")
                .agg(F.sum("lw").alias("lw"))
            )
        else:
            new_loops = _self_loops(quotient)
        loops = new_loops.transform(local_checkpoint_stats_reset)
        und = weighted_undirected(
            quotient.where(F.col("src") != F.col("dst")), "weight"
        ).transform(local_checkpoint_stats_reset)
        coarse_verts = cur.select(F.col("comm").alias("id")).distinct()
        coarse, halted, r = _move_phase(
            spark, coarse_verts, und, max_rounds, metrics, level=level, loops=loops
        )
        total_rounds += r
        labels = (
            labels.join(
                coarse.select(F.col("id").alias("comm"), F.col("comm").alias("_c2")),
                "comm",
            )
            .select("id", F.col("_c2").alias("comm"))
            .transform(local_checkpoint_stats_reset)
        )
        cur = coarse

    return PregelResult(
        state=labels,
        supersteps=total_rounds,
        metrics=metrics,
        halted=halted,
        run_id="louvain",
    )
