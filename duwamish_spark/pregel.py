"""The BSP superstep driver — Spark-stage-granularity Pregel.

Semantic contract carried over from the reference (NOT its implementation):

- one *superstep* = generate messages from current vertex state ⋈ edges,
  shuffle/combine them per destination, update state
  (reference: model/Vertex.java:23-24 compute; Context.java:50-52
  sendMessageTo; Partition.java:187-238 drive loop),
- named global accumulators evaluated once per superstep
  (reference: Duwamish.java:222-230, util/Accumulators.java:33-41) — here a
  single aggregated *metrics row* per superstep,
- a halt decision over those accumulators
  (reference: model/HaltDecider.java:21-23, Duwamish.java:248-255),
- double-buffered state rotation after the barrier
  (reference: Partition.java:240-262) — here a checkpoint of the new
  vertex-state table, which also truncates lineage and makes runs
  *resumable mid-iteration*.

Everything the reference hand-rolls for physical execution — external merge
sort (util/MergeSorter.java), hash partitioning (util/HashPartitioner.java),
sorted co-sequential merge join (Partition.java:196-234, 354-404), partial
aggregation (Partition.java:281-314), spill — is delegated to Spark's
shuffle, Tungsten sort, and Catalyst-planned joins. Parallelism is shuffle
partitions / executors, not a thread pool (reference: Duwamish.java:97,153).
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from duwamish_spark.graph import partition_by, suggest_salt

# ---------------------------------------------------------------------------
# message combining (the shuffle-by-dst + partial/final aggregation stage)
# ---------------------------------------------------------------------------

# algebraic combine kinds: (partial fn, merge fn). Spark's hash aggregate
# already does map-side partial combine for all of these (the reference's
# CombiningMultimap, Partition.java:281-314); the *salted* two-stage variant
# below additionally splits a hot destination key across `salt` reducer-side
# sub-keys — needed only for extreme hub skew in the final aggregation.
_ALGEBRAIC: dict[str, tuple[Callable[..., Column], Callable[..., Column]]] = {
    "sum": (F.sum, F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
    "count": (F.count, F.sum),
}


def free_local_checkpoint(df: DataFrame) -> None:
    """Release a localCheckpoint'ed DataFrame's storage blocks NOW.

    Neither ``df.unpersist()`` (CacheManager only) nor ``df.rdd.unpersist()``
    (a fresh conversion RDD, not the holder) touches the blocks — they
    belong to the internal RDD inside the plan's ``LogicalRDD`` node, so
    without this they linger until the ContextCleaner happens to GC the
    reference (verified empirically via getRDDStorageInfo). Column
    projections over the checkpoint (``Pregel.run``'s result drops the
    ``_`` columns) hold the same blocks and are looked through.
    Best-effort: silently a no-op if the plan isn't a LogicalRDD under
    projections.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        while plan.getClass().getName().endswith(".Project"):
            plan = plan.child()
        if plan.getClass().getName().endswith("LogicalRDD"):
            plan.rdd().unpersist(False)
    except Exception:
        pass


def local_checkpoint_stats_reset(df: DataFrame) -> DataFrame:
    """``localCheckpoint(eager=True)`` that DROPS the copied plan stats.

    Spark's checkpoint copies the source plan's size-in-bytes estimate
    onto the resulting ``LogicalRDD``. In an iterative algorithm whose
    update joins the previous state with a relation *derived from* that
    state (eigenvector/HITS-style ``prev ⋈ combine(msgs(prev ⋈ e))``),
    the estimates therefore MULTIPLY across iterations: digits(size)
    roughly doubles per round, and by round ~25 Catalyst's
    SizeInBytesOnlyStatsPlanVisitor is doing Toom-Cook multiplications
    on million-digit BigIntegers — the driver appears hung inside stats
    estimation (found via jstack; PageRank escapes only because its
    update is anchored on the constant vertex relation, which keeps the
    growth linear). Rebuilding the DataFrame from the checkpointed
    internal RDD resets the estimate to the default, making per-round
    planning cost CONSTANT in the round number at any scale.

    No strategy regression: the copied estimates were astronomically
    over the broadcast threshold anyway (products of Long.MaxValue), so
    auto-broadcast never fired for these relations before either, and
    AQE re-plans from real runtime sizes regardless.
    ``free_local_checkpoint`` keeps working: the rebuilt plan is a bare
    ``LogicalRDD`` over the SAME persisted RDD. Falls back to the plain
    eager checkpoint if the internal constructor is unavailable.
    """
    ck = df.localCheckpoint(eager=True)
    try:
        jdf = ck._jdf
        spark = ck.sparkSession
        jrdd = jdf.queryExecution().analyzed().rdd()
        new_jdf = spark._jsparkSession.internalCreateDataFrame(
            jrdd, jdf.schema(), False
        )
        return DataFrame(new_jdf, spark)
    except Exception:
        return ck


def salt_subkey(value_cols: list[Column], salt: int) -> Column:
    """Reducer sub-key in [0, salt) for splitting a hot destination.

    Mixes the message VALUE hash with a sender-derived term (the upstream
    partition id): value columns alone collapse to ONE sub-key when a
    hub's incoming messages all carry the same value — exactly what
    happens to CC/LP labels in late rounds — which would silently disable
    salting. Any sub-key assignment is correct (aggregation is
    salt-invariant, tested); the sender term only restores balance.
    """
    return F.pmod(F.hash(*value_cols, F.spark_partition_id()), F.lit(salt))


def combine_messages(
    messages: DataFrame,
    aggs: list[tuple[str, str, str]],
    key: str | list[str] = "dst",
    salt: int = 0,
    pre_shuffle: bool = False,
) -> DataFrame:
    """``groupBy(key)`` combine of a message relation.

    ``key`` may be a single column or a composite list (e.g. label
    propagation's mode combine counts per ``(dst, label)``).

    ``aggs``: list of ``(out_name, in_col, kind)`` with kind in
    sum/min/max/count. With ``salt > 0`` runs the two-stage salted form:
    ``groupBy(key, pmod(hash(rand-ish src), salt))`` partial → ``groupBy(key)``
    final. Correctness is invariant to ``salt`` (tested).

    ``pre_shuffle=True`` exchanges the RAW message relation by ``key``
    before aggregating, so the per-task aggregation map holds only V/P
    keys instead of up to V. Map-side partial combine (the reference's
    CombiningMultimap, Partition.java:281-314) minimizes shuffle BYTES —
    the right default when network is the scarce resource — but its
    per-task hash map is V-sized: past ~10^6 destinations per task the
    random probes fall out of cache and the combine stops scaling with
    cores (measured: 0.57 vs 0.82 strong-scaling efficiency at 63.5M
    edges / 1M vertices). Correctness is identical either way (tested).
    """
    keys = [key] if isinstance(key, str) else list(key)
    if salt and salt > 1:
        # split each hot destination across `salt` reducer sub-keys; with
        # pre_shuffle the exchange itself runs on (key, salt) so no single
        # reducer partition receives a hub's full in-degree. With a
        # composite key whose value columns are all part of the key (LP's
        # (dst, label) counts) the sub-key degenerates to the sender term
        # alone — still a balanced split.
        salt_col = salt_subkey(
            [F.col(c) for c in messages.columns if c not in keys], salt
        )
        messages = messages.withColumn("_salt", salt_col)
        if pre_shuffle:
            messages = messages.repartition(
                *[F.col(k) for k in keys], F.col("_salt")
            )
        partial = messages.groupBy(*keys, "_salt").agg(
            *[
                _ALGEBRAIC[kind][0](in_col).alias(out)
                for out, in_col, kind in aggs
            ]
        )
        return partial.groupBy(*keys).agg(
            *[
                _ALGEBRAIC[kind][1](out).alias(out)
                for out, _, kind in aggs
            ]
        )
    if pre_shuffle:
        messages = messages.repartition(*[F.col(k) for k in keys])
    return messages.groupBy(*keys).agg(
        *[_ALGEBRAIC[kind][0](in_col).alias(out) for out, in_col, kind in aggs]
    )


# ---------------------------------------------------------------------------
# the message exchange (sendMessageTo + per-destination combine)
# ---------------------------------------------------------------------------

# V at or below which ``strategy="auto"`` broadcasts the vertex state
# instead of shuffling the messages (mirrors Spark's own broadcast-join
# selection)
BROADCAST_MAX_VERTICES = 5_000_000

# chained (lazy) broadcast supersteps re-execute the upstream chain inside
# each broadcast build, so recompute grows quadratically with the chain
# depth; measured sweet spot is 4 (18.7M e/s vs 8.0M at 8 on the SF=0.1
# bench graph) — Pregel caps halt_interval there rather than degrade
BROADCAST_CHAIN_CAP = 4


class MessageExchange:
    """The physical message exchange of one run, chosen once.

    - ``shuffle`` — the 10^12-scale path. Edges persisted hash-partitioned
      on ``src`` (into ``num_partitions``, else
      ``spark.sql.shuffle.partitions``); per superstep the senders (V
      rows, the hash-build side) exchange to the edge partitioning, a
      SHUFFLE_HASH join streams the edges with no re-exchange, and the
      combine is the one E-bounded shuffle by ``dst`` (map-side partial;
      ``salt`` splits hot destinations, ``combine="raw"`` exchanges raw
      messages first).
    - ``broadcast`` — edges persisted hash-partitioned on ``dst``; the
      senders are broadcast each superstep, so the combine is
      PARTITION-LOCAL (partial + final hash aggregate in one codegen
      stage, zero message shuffle; salt and raw exchange do not apply).
    - ``auto`` — broadcast iff ``n_verts`` ≤ BROADCAST_MAX_VERTICES.

    The edge table must carry ``src`` and ``dst``; it is placed, persisted
    and counted here, and released by :class:`Pregel` when its run ends.
    A program that sends both ways along its edges (HITS, SALSA) builds a
    second exchange over the reversed edges (``src``:=dst, ``dst``:=src).
    """

    def __init__(
        self,
        edges: DataFrame,
        n_verts: int | None = None,
        *,
        strategy: str = "auto",
        num_partitions: int | None = None,
        partitioner=None,
        salt: int | str = 0,
        combine: str = "partial",
    ) -> None:
        self.broadcast = strategy == "broadcast" or (
            strategy == "auto" and n_verts <= BROADCAST_MAX_VERTICES
        )
        p = num_partitions
        if not (p or self.broadcast):
            # the send join's hash exchange of the senders lands on
            # shuffle.partitions; edges placed there are never re-shuffled
            p = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        if p:
            edges = partition_by(
                edges, p, "dst" if self.broadcast else "src", partitioner
            )
        self.edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
        self.edges.count()  # materialize once; reused every superstep
        if self.broadcast:
            salt = 0
        elif salt == "auto":
            salt = suggest_salt(self.edges, p)
        self.salt = salt
        self.pre_shuffle = not self.broadcast and combine == "raw"

    def send(self, senders: DataFrame, *values: Column | str) -> DataFrame:
        """``(dst, *values)``: one message per out-edge of every sender
        (``senders`` carries ``id``; ``values`` may read sender and edge
        columns)."""
        e = self.edges
        if self.broadcast:
            joined = e.join(F.broadcast(senders), senders["id"] == e["src"])
        else:
            joined = senders.hint("shuffle_hash").join(e, senders["id"] == e["src"])
        return joined.select("dst", *values)

    def combine(
        self,
        messages: DataFrame,
        aggs: list[tuple[str, str, str]],
        key: str | list[str] = "dst",
    ) -> DataFrame:
        """:func:`combine_messages` with this exchange's salt and
        pre-shuffle."""
        return combine_messages(
            messages, aggs, key=key, salt=self.salt, pre_shuffle=self.pre_shuffle
        )


# ---------------------------------------------------------------------------
# the superstep loop
# ---------------------------------------------------------------------------


@dataclass
class PregelResult:
    state: DataFrame
    supersteps: int
    metrics: list[dict] = field(default_factory=list)
    halted: bool = False
    run_id: str = ""

    @property
    def last(self) -> dict:
        return self.metrics[-1] if self.metrics else {}


class Pregel:
    """Iterative superstep driver.

    Parameters
    ----------
    step:
        ``(state_df, superstep) -> new_state_df``. The returned frame must
        keep all state columns; transient metric-support columns must be
        prefixed ``_`` (dropped on finalize). The state is usually one row
        per vertex keyed by ``id``, but need not be: alternating-star CC's
        rows are the current edge set ``(src, dst)``.
    metrics_exprs:
        named aggregate Columns evaluated over the new state each superstep
        — the accumulator map (reference: Duwamish.java:63-67,136-138).
        ``vertex_count`` is always added (reference: util/Accumulators.java:27-30).
    halt:
        ``(metrics_dict, superstep) -> bool`` — the HaltDecider
        (reference: model/HaltDecider.java:21-23).
    checkpoint_dir / run_id:
        where reliable superstep checkpoints + the metrics/lineage log live.
        When unset, every superstep uses ``localCheckpoint`` (fast path,
        still truncates lineage, not resumable).
    reliable_interval:
        write a durable parquet checkpoint every k supersteps (local
        checkpoints in between). 1 = every superstep durable.
    halt_interval:
        evaluate metrics + halt only every k supersteps; the k supersteps in
        between are chained lazily into ONE Spark job (their shuffles become
        stages of that job), amortizing per-job driver overhead — the Spark
        analog of the reference running its thread-pool barrier without
        returning to the user between rounds. Convergence may overshoot by
        up to k-1 supersteps (still below tolerance at halt). Capped at
        BROADCAST_CHAIN_CAP when any of ``exchanges`` broadcasts. Durable
        checkpoints land on halt boundaries: ``reliable_interval`` is
        rounded up to the first multiple of ``halt_interval`` at or above
        it.
    exchanges:
        the run's :class:`MessageExchange` objects that ``step`` sends
        through; their edge tables are unpersisted when ``run`` returns.

    Local checkpoints are freed as soon as the next superstep's state has
    materialized; only the result's own checkpoint remains, and
    ``free_local_checkpoint(result.state)`` releases it.
    """

    def __init__(
        self,
        spark: SparkSession,
        step: Callable[[DataFrame, int], DataFrame],
        metrics_exprs: dict[str, Column],
        halt: Callable[[dict, int], bool],
        *,
        checkpoint_dir: str | None = None,
        run_id: str = "run",
        reliable_interval: int = 10,
        max_supersteps: int = 200,
        halt_interval: int = 1,
        exchanges: tuple[MessageExchange, ...] = (),
    ) -> None:
        self.spark = spark
        self.step = step
        self.metrics_exprs = metrics_exprs
        self.halt = halt
        self.checkpoint_dir = checkpoint_dir
        self.run_id = run_id
        self.exchanges = tuple(exchanges)
        if any(x.broadcast for x in self.exchanges):
            halt_interval = min(halt_interval, BROADCAST_CHAIN_CAP)
        self.halt_interval = max(1, halt_interval)
        # durable checkpoints must land on halt/materialization boundaries
        k = self.halt_interval
        self.reliable_interval = -(-max(1, reliable_interval) // k) * k
        self.max_supersteps = max_supersteps

    # -- checkpoint layout -------------------------------------------------
    def _root(self) -> str:
        assert self.checkpoint_dir
        return os.path.join(self.checkpoint_dir, self.run_id)

    def _state_path(self, s: int) -> str:
        return os.path.join(self._root(), f"superstep={s:05d}")

    def _manifest_path(self, s: int) -> str:
        return os.path.join(self._state_path(s), "_MANIFEST.json")

    def latest_checkpoint(self) -> int | None:
        """Max superstep with a complete manifest, or None."""
        if not self.checkpoint_dir or not os.path.isdir(self._root()):
            return None
        best = None
        for name in os.listdir(self._root()):
            if name.startswith("superstep=") and os.path.exists(
                os.path.join(self._root(), name, "_MANIFEST.json")
            ):
                s = int(name.split("=")[1])
                best = s if best is None or s > best else best
        return best

    def _write_reliable(self, df: DataFrame, s: int) -> DataFrame:
        path = self._state_path(s)
        df.write.mode("overwrite").parquet(path)
        out = self.spark.read.parquet(path)
        return out

    def _log_metrics(self, row: dict) -> None:
        if self.checkpoint_dir:
            os.makedirs(self._root(), exist_ok=True)
            with open(os.path.join(self._root(), "metrics.jsonl"), "a") as f:
                f.write(json.dumps(row, default=str) + "\n")

    # -- the loop ------------------------------------------------------------
    def run(
        self,
        initial_state: DataFrame,
        resume: bool = False,
        start_metrics: list[dict] | None = None,
    ) -> PregelResult:
        metrics_hist: list[dict] = list(start_metrics or [])
        start = 0
        state = initial_state

        from pyspark.sql import Observation

        conf = self.spark.conf
        saved_aqe = conf.get("spark.sql.adaptive.enabled")

        held: DataFrame | None = None  # the live local checkpoint
        halted = False
        try:
            if resume and self.checkpoint_dir:
                latest = self.latest_checkpoint()
                if latest is not None:
                    state = self.spark.read.parquet(self._state_path(latest))
                    with open(self._manifest_path(latest)) as f:
                        manifest = json.load(f)
                    metrics_hist = manifest.get("metrics_history", [])
                    if manifest.get("halted"):
                        final = state.select(
                            *[c for c in state.columns if not c.startswith("_")]
                        )
                        return PregelResult(
                            final, latest + 1, metrics_hist, True, self.run_id
                        )
                    start = latest + 1

            # AQE's per-stage re-planning is pure latency for this fixed,
            # well-understood plan shape — disable it for the loop only.
            conf.set("spark.sql.adaptive.enabled", "false")
            s = start - 1  # supersteps run = s + 1, also when none runs
            t0 = time.monotonic()
            for s in range(start, self.max_supersteps):
                new_state = self.step(state, s)

                boundary = (
                    (s + 1) % self.halt_interval == 0 or s == self.max_supersteps - 1
                )
                if not boundary:
                    # chain lazily — the next step() composes onto this plan
                    # and it all executes as one job at the next boundary
                    state = new_state
                    continue

                durable = bool(self.checkpoint_dir) and (
                    (s + 1) % self.reliable_interval == 0
                    or s == self.max_supersteps - 1
                )

                if durable:
                    new_state = self._write_reliable(new_state, s)
                    agg_row = (
                        new_state.agg(
                            F.count(F.lit(1)).alias("vertex_count"),
                            *[c.alias(n) for n, c in self.metrics_exprs.items()],
                        )
                        .collect()[0]
                        .asDict()
                    )
                else:
                    # metrics ride along with the one materializing job (the
                    # accumulator analog: reference Duwamish.java:222-230) —
                    # no separate aggregation job per superstep
                    obs = Observation()
                    new_state = new_state.observe(
                        obs,
                        F.count(F.lit(1)).alias("vertex_count"),
                        *[c.alias(n) for n, c in self.metrics_exprs.items()],
                    ).transform(local_checkpoint_stats_reset)
                    agg_row = dict(obs.get)
                # the new state has materialized: no plan reads the
                # superseded checkpoint any more
                if held is not None:
                    free_local_checkpoint(held)
                held = None if durable else new_state

                wall_ms = (time.monotonic() - t0) * 1000.0
                t0 = time.monotonic()
                row = {"superstep": s, "wall_ms": round(wall_ms, 3), **agg_row}
                metrics_hist.append(row)
                self._log_metrics(row)

                halted = bool(self.halt(row, s))

                if durable:
                    # per-partition lineage (reference analog: per-partition
                    # accumulation maps merged at the barrier,
                    # Duwamish.java:222-230)
                    part_counts = {
                        str(r["pid"]): r["cnt"]
                        for r in new_state.groupBy(
                            F.spark_partition_id().alias("pid")
                        )
                        .agg(F.count(F.lit(1)).alias("cnt"))
                        .collect()
                    }
                    manifest = {
                        "run_id": self.run_id,
                        "superstep": s,
                        "halted": halted,
                        "partition_vertex_counts": part_counts,
                        "metrics_history": metrics_hist,
                    }
                    with open(self._manifest_path(s), "w") as f:
                        json.dump(manifest, f, default=str)

                state = new_state
                if halted:
                    break
        except BaseException:
            if held is not None:
                free_local_checkpoint(held)
            raise
        finally:
            if saved_aqe is not None:
                conf.set("spark.sql.adaptive.enabled", saved_aqe)
            for x in self.exchanges:
                x.edges.unpersist()

        # drop transient metric columns
        final = state.select(*[c for c in state.columns if not c.startswith("_")])
        return PregelResult(final, s + 1, metrics_hist, halted, self.run_id)
