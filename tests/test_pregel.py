"""Pregel kernel: checkpointing, resume-mid-run equivalence, metrics/lineage.

The resume test is SURVEY.md §5.5: kill after superstep k, restart from the
checkpoint, final state identical to the uninterrupted run (the reference's
double-buffered vertex-file rotation made the same thing possible on one
machine; reference: Partition.java:240-262).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from conftest import edges_df, vertices_df
from duwamish_spark.algorithms import (
    connected_components,
    connected_components_alternating,
    coreness,
    pagerank,
    shortest_paths,
    topological_depth,
    wl_signatures,
)
from duwamish_spark.algorithms.recommend import recommendations
from duwamish_spark.pregel import MessageExchange, free_local_checkpoint
from oracle import bipartite_ratings, rand_graph


@pytest.fixture()
def graph(spark):
    ids, edges = rand_graph(120, 5, 21)
    return vertices_df(spark, ids), edges_df(spark, edges)


def test_halt_interval_equivalence(spark, graph):
    """Chaining k supersteps per job must not change the computed state."""
    v, e = graph
    a = pagerank(spark, v, e, tol=0.0, max_supersteps=10, halt_interval=1)
    b = pagerank(spark, v, e, tol=0.0, max_supersteps=10, halt_interval=5)
    ra = {r["id"]: r["rank"] for r in a.state.collect()}
    rb = {r["id"]: r["rank"] for r in b.state.collect()}
    assert a.supersteps == b.supersteps == 10
    # the broadcast path caps chaining at 4: boundaries at 3, 7, then the
    # final superstep
    assert [m["superstep"] for m in b.metrics] == [3, 7, 9]
    for k in ra:
        assert rb[k] == pytest.approx(ra[k], abs=1e-12)
    # convergence with halt_interval still halts below tolerance
    c = pagerank(spark, v, e, tol=1e-6, halt_interval=5)
    assert c.halted and c.last["residual"] < 1e-6


def test_resume_equals_uninterrupted(spark, graph, tmp_path):
    v, e = graph
    full = pagerank(spark, v, e, tol=0.0, max_supersteps=12)
    want = {r["id"]: r["rank"] for r in full.state.collect()}

    ck = str(tmp_path / "ck")
    # "crash" after 6 supersteps (reliable checkpoint every 3)
    pagerank(spark, v, e, tol=0.0, max_supersteps=6,
             checkpoint_dir=ck, run_id="r1", reliable_interval=3)
    resumed = pagerank(spark, v, e, tol=0.0, max_supersteps=12,
                       checkpoint_dir=ck, run_id="r1", reliable_interval=3,
                       resume=True)
    got = {r["id"]: r["rank"] for r in resumed.state.collect()}
    assert resumed.supersteps == 12
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-12)


def test_checkpoint_layout_and_metrics_log(spark, graph, tmp_path):
    v, e = graph
    ck = str(tmp_path / "ck")
    res = pagerank(spark, v, e, tol=0.0, max_supersteps=4,
                   checkpoint_dir=ck, run_id="r2", reliable_interval=2)
    root = os.path.join(ck, "r2")
    manifests = sorted(p for p in os.listdir(root) if p.startswith("superstep="))
    assert "superstep=00001" in manifests and "superstep=00003" in manifests
    with open(os.path.join(root, "superstep=00003", "_MANIFEST.json")) as f:
        man = json.load(f)
    assert man["superstep"] == 3
    assert sum(man["partition_vertex_counts"].values()) == 120
    with open(os.path.join(root, "metrics.jsonl")) as f:
        lines = [json.loads(line) for line in f]
    assert [r["superstep"] for r in lines] == [0, 1, 2, 3]
    assert all("residual" in r and "wall_ms" in r and r["vertex_count"] == 120 for r in lines)
    assert len(res.metrics) == 4


def test_durable_cadence_rounds_up_to_halt_boundary(spark, graph, tmp_path):
    # halt boundaries every 3 supersteps, durable every 10 requested: the
    # durable checkpoints land on the first boundary at or past each 10
    # (12, 24) plus the final superstep — not only where 3 and 10 meet
    v, e = graph
    ck = str(tmp_path / "ck")
    pagerank(spark, v, e, tol=0.0, strategy="shuffle", halt_interval=3,
             reliable_interval=10, max_supersteps=25,
             checkpoint_dir=ck, run_id="r5")
    root = os.path.join(ck, "r5")
    written = sorted(p for p in os.listdir(root) if p.startswith("superstep="))
    assert written == ["superstep=00011", "superstep=00023", "superstep=00024"]


def test_supersteps_counts_only_supersteps_run(spark, graph, tmp_path):
    v, e = graph
    none = pagerank(spark, v, e, tol=0.0, max_supersteps=0)
    assert none.supersteps == 0 and none.metrics == []
    # resuming at the final (non-halted) checkpoint runs nothing more
    ck = str(tmp_path / "ck")
    pagerank(spark, v, e, tol=0.0, max_supersteps=4,
             checkpoint_dir=ck, run_id="r6", reliable_interval=2)
    again = pagerank(spark, v, e, tol=0.0, max_supersteps=4,
                     checkpoint_dir=ck, run_id="r6", reliable_interval=2,
                     resume=True)
    assert again.supersteps == 4 and not again.halted


def test_shuffle_exchange_places_edges_once(spark, graph):
    # the persisted edge table already sits hash-partitioned by src where
    # the send join needs it: only the (V-row) senders are exchanged per
    # superstep, never the E-row edge table
    v, e = graph
    x = MessageExchange(e, strategy="shuffle")
    try:
        sent = x.send(v, F.col("id").alias("m"))
        conf = spark.conf
        saved = conf.get("spark.sql.adaptive.enabled")
        conf.set("spark.sql.adaptive.enabled", "false")
        try:
            plan = sent._jdf.queryExecution().executedPlan().toString()
        finally:
            conf.set("spark.sql.adaptive.enabled", saved)
    finally:
        x.edges.unpersist()
    exchanges = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert not [ln for ln in exchanges if "(src" in ln and "ENSURE_REQUIREMENTS" in ln], plan
    assert [ln for ln in exchanges if "(id" in ln and "ENSURE_REQUIREMENTS" in ln], plan


def _storage_ids(spark):
    return {info.id() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


_PROGRAMS = {
    "pagerank-broadcast": lambda spark, v, e: pagerank(
        spark, v, e, tol=0.0, max_supersteps=4, strategy="broadcast",
        encode=False,
    ),
    "pagerank-shuffle": lambda spark, v, e: pagerank(
        spark, v, e, tol=0.0, max_supersteps=4, strategy="shuffle",
        encode=False,
    ),
    "cc": lambda spark, v, e: connected_components(
        spark, v, e, max_supersteps=4, encode=False
    ),
    "sssp": lambda spark, v, e: shortest_paths(
        spark, v, e.withColumn("weight", F.lit(1.0)), "0", max_supersteps=4
    ),
    "topo": lambda spark, v, e: topological_depth(spark, v, e, max_supersteps=4),
    "wl": lambda spark, v, e: wl_signatures(spark, v, e, rounds=3),
    "coreness": lambda spark, v, e: coreness(spark, v, e, max_rounds=4),
    "cc-alternating": lambda spark, v, e: connected_components_alternating(
        spark, v, e, max_rounds=4, encode=False
    ),
    "recommend-shuffle": lambda spark, v, e: recommendations(
        spark,
        spark.createDataFrame(
            bipartite_ratings(m=3, u=6, maxr=5, seed=9),
            "user_id string, movie_id string, rating_id string, rating double",
        ),
        n_features=2, runs_per_feature=2, strategy="shuffle",
    ),
}


@pytest.mark.parametrize("program", sorted(_PROGRAMS))
def test_run_releases_storage(spark, graph, program):
    """A finished run holds only its result's local checkpoint, and
    free_local_checkpoint(result.state) releases that one too."""
    v, e = graph
    before = _storage_ids(spark)
    res = _PROGRAMS[program](spark, v, e)
    res.state.count()
    free_local_checkpoint(res.state)
    leaked = _storage_ids(spark) - before
    assert not leaked, f"{program} leaked storage blocks: {leaked}"


def test_resume_skips_completed_run(spark, graph, tmp_path):
    v, e = graph
    ck = str(tmp_path / "ck")
    done = pagerank(spark, v, e, tol=1e-3, max_supersteps=50,
                    checkpoint_dir=ck, run_id="r3", reliable_interval=1)
    assert done.halted
    again = pagerank(spark, v, e, tol=1e-3, max_supersteps=50,
                     checkpoint_dir=ck, run_id="r3", reliable_interval=1,
                     resume=True)
    assert again.halted
    a = {r["id"]: r["rank"] for r in done.state.collect()}
    b = {r["id"]: r["rank"] for r in again.state.collect()}
    assert a == b


def test_input_validation_messages(spark):
    import pytest as _pytest

    from duwamish_spark.algorithms import pagerank

    bad_edges = spark.createDataFrame([("a", "b")], "x string, y string")
    verts = spark.createDataFrame([("a",)], "id string")
    with _pytest.raises(ValueError, match="edges is missing column"):
        pagerank(spark, verts, bad_edges)
    bad_verts = spark.createDataFrame([("a",)], "vertex string")
    good_edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    with _pytest.raises(ValueError, match="vertices is missing column"):
        pagerank(spark, bad_verts, good_edges)


def test_custom_vertex_program_max_flood(spark):
    """A user-written program through the public Pregel API — the
    reference's entire query surface is user vertex programs
    (model/Vertex.java:23-24) and this is the Spark-shaped equivalent:
    flood the maximum initial value across a connected graph."""
    from pyspark.sql import functions as F

    from duwamish_spark.pregel import Pregel, combine_messages

    n = 10
    ids = [f"v{i}" for i in range(n)]
    vals = {v: (i * 37) % n for i, v in enumerate(ids)}
    edges = [(ids[i], ids[i + 1]) for i in range(n - 1)]
    e = spark.createDataFrame(
        edges + [(b, a) for a, b in edges], "src string, dst string"
    ).persist()
    init = spark.createDataFrame(
        [(v, float(vals[v]), 1, 0) for v in ids],
        "id string, val double, _changed int, _msgs int",
    )

    def step(state, s):
        frontier = state.where(F.col("_changed") == 1)
        msgs = frontier.join(e, frontier["id"] == e["src"]).select(
            "dst", F.col("val").alias("m")
        )
        best = combine_messages(
            msgs, [("mmax", "m", "max"), ("mcnt", "m", "count")], key="dst"
        ).withColumnRenamed("dst", "id")
        new_val = F.greatest("val", F.coalesce("mmax", "val"))
        return state.join(best, "id", "left").select(
            "id",
            new_val.alias("val"),
            F.when(new_val != F.col("val"), 1).otherwise(0).alias("_changed"),
            F.coalesce("mcnt", F.lit(0)).alias("_msgs"),
        )

    res = Pregel(
        spark,
        step=step,
        metrics_exprs={"changed": F.sum("_changed"), "vmax": F.max("val")},
        halt=lambda m, s: (m["changed"] or 0) == 0,
        max_supersteps=50,
    ).run(init)
    got = {r["id"]: r["val"] for r in res.state.collect()}
    assert set(got.values()) == {float(max(vals.values()))}
    assert res.halted and res.supersteps <= n + 1


def test_salt_subkey_spreads_identical_values(spark):
    # The CC/LP late-round hub shape: every incoming message carries the
    # SAME value. A value-only sub-key hash collapses to one reducer key
    # (silently disabling salting); the sender-derived term in salt_subkey
    # keeps the hub's traffic spread. Result stays exact either way.
    from pyspark.sql import functions as F

    from duwamish_spark.pregel import combine_messages, salt_subkey

    msgs = (
        spark.range(80_000)
        .repartition(8)
        .select(F.lit(0).alias("dst"), F.lit(7.0).alias("m"))
    )
    n_sub = msgs.select(salt_subkey([F.col("m")], 16).alias("s")).distinct().count()
    n_value_only = msgs.select(
        F.pmod(F.hash("m"), F.lit(16)).alias("s")
    ).distinct().count()
    assert n_value_only == 1  # the pre-fix derivation: collapsed
    assert n_sub > 4  # fixed: one sub-key per upstream partition

    row = combine_messages(
        msgs, [("msum", "m", "sum"), ("mcnt", "m", "count")],
        salt=16, pre_shuffle=True,
    ).collect()[0]
    assert row["dst"] == 0
    assert row["mcnt"] == 80_000
    assert row["msum"] == 7.0 * 80_000


def test_local_checkpoint_stats_reset_bounds_plan_stats(spark):
    # Catalyst's checkpoint copies plan-size estimates onto the LogicalRDD;
    # in a prev ⋈ derived-from-prev loop they then MULTIPLY per round
    # (digits ~double), and by round ~25 stats estimation does Toom-Cook
    # multiplications on million-digit BigIntegers — an apparent driver
    # hang (found via jstack on eigenvector's tol loop). The reset variant
    # must keep the estimate CONSTANT in the round number.
    from pyspark.sql import functions as F

    from duwamish_spark.pregel import (
        free_local_checkpoint,
        local_checkpoint_stats_reset,
    )

    def digits(df):
        q = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        return len(str(q))

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("d", "c")],
        "src string, dst string",
    )
    st = local_checkpoint_stats_reset(
        e.select(F.col("src").alias("id"), F.lit(1.0).alias("value"))
    )
    base = digits(st)
    for _ in range(6):
        raw = local_checkpoint_stats_reset(
            st.join(e, st["id"] == e["src"])
            .groupBy("dst")
            .agg(F.sum("value").alias("raw"))
            .withColumnRenamed("dst", "id")
        )
        nxt = local_checkpoint_stats_reset(
            st.join(raw, "id", "left").select(
                "id", F.coalesce(F.col("raw"), F.lit(0.0)).alias("value")
            )
        )
        for tmp in (st, raw):
            free_local_checkpoint(tmp)
        st = nxt
        assert digits(st) == base  # constant, not compounding
    # rows and values still correct after 6 re-wraps
    got = {r["id"]: r["value"] for r in st.collect()}
    assert set(got) == {"a", "b", "c", "d"}
    # free still works on the rebuilt plan: storage shrinks
    sc = spark.sparkContext
    before = len(sc._jsc.sc().getRDDStorageInfo())
    free_local_checkpoint(st)
    after = len(sc._jsc.sc().getRDDStorageInfo())
    assert after == before - 1
