"""SGD matrix-factorization recommendations — the reference's third example
program (reference: example/Recommendations.java:31-186), re-expressed as
alternating DataFrame supersteps.

Exact semantics carried over (constants at Recommendations.java:35-39):

- tripartite graph: movie/user *feature* vertices (N-dim feature vector,
  every component init 1.0, Recommendations.java:122-128) and *rating*
  vertices (rating + residue, init residue 0, Recommendations.java:130-132);
  edges user→rating, rating→user (tagged USER), movie→rating, rating→movie
  (tagged MOVIE) (Recommendations.java:174-177);
- **even supersteps** (feature rounds, Recommendations.java:51-80):
  currentRound = s/2, currentFeature = currentRound/runsPerFeature; the
  receiving index steps back one feature on the first run of a new feature
  (Recommendations.java:60-62); newValue = old + Σ incoming updates,
  clamped to [-10, 10] (Recommendations.java:64-71); every feature vertex
  then sends its currentFeature component to its rating vertices
  (Recommendations.java:73-80);
- **odd supersteps** (rating rounds, Recommendations.java:81-116): each
  rating vertex receives exactly one USER and one MOVIE value;
  prediction = residue + u*m, error = learningRate * (rating - prediction)
  (Recommendations.java:94-95); it sends error*movieValue along its
  USER-tagged edge and error*userValue along its MOVIE-tagged edge
  (Recommendations.java:97-108); on the last run of a feature the residue
  folds in the prediction (Recommendations.java:111-113); MSE accumulator
  = Σ error² (Recommendations.java:115);
- total supersteps = featureCount * runsPerFeature * 2
  (Recommendations.java:183).

Dataflow note: the Pregel step contract computes messages from the current
state, but a rating round's messages depend on what the rating vertex
*received* — so received aggregates are materialized INTO the state
(``gsum`` for feature vertices, ``uval``/``mval`` for rating vertices), the
standard re-expression of message-carried dataflow as state columns. The
``repeated double featureVector`` maps to ``ArrayType(DoubleType)``
(examples.proto:21-26) updated positionally with ``F.transform``.

Physical plan (``strategy="shuffle"``): the feature→rating and
rating→feature edges are two ``pregel.MessageExchange`` objects, ``f2r``
and ``r2f``, pinned to ``shuffle``; each is placed by ``src`` and
persisted once and released when the run ends. A feature round sends
through ``f2r`` (the user/movie split rides in the sent values), a
rating round through ``r2f`` (the edge's tag picks the factor); both
combine by ``dst``.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duwamish_spark.pregel import (
    MessageExchange,
    Pregel,
    PregelResult,
    free_local_checkpoint,
)


def _feature_round(
    state: DataFrame, f2r: MessageExchange, rf: int, cf: int, cap: float
) -> DataFrame:
    """Even superstep: apply gradient sums at index rf, deliver component cf
    to rating vertices (stored as uval/mval)."""
    is_feat = F.col("kind") != "rating"
    old_rf = F.element_at("fvec", rf + 1)
    new_rf = F.greatest(
        F.lit(-cap), F.least(F.lit(cap), old_rf + F.coalesce("gsum", F.lit(0.0)))
    )
    updated = state.select(
        "id",
        "kind",
        F.when(
            is_feat,
            F.transform("fvec", lambda x, i: F.when(i == rf, new_rf).otherwise(x)),
        )
        .otherwise(F.col("fvec"))
        .alias("fvec"),
        "rating",
        "residue",
        "uval",
        "mval",
        F.lit(None).cast("double").alias("gsum"),
        F.lit(None).cast("double").alias("_mse"),
        F.lit(0).alias("_msgs"),
    )
    feats = updated.where(is_feat).select(
        "id", "kind", F.element_at("fvec", cf + 1).alias("val")
    )
    msgs = f2r.send(
        feats,
        F.when(F.col("kind") == "user", F.col("val")).alias("u"),
        F.when(F.col("kind") == "movie", F.col("val")).alias("m"),
        F.lit(1).alias("n"),
    )
    recv = f2r.combine(
        msgs,
        [("new_uval", "u", "max"), ("new_mval", "m", "max"), ("mcnt", "n", "count")],
    ).withColumnRenamed("dst", "id")
    return updated.join(recv.hint("shuffle_hash"), "id", "left").select(
        "id",
        "kind",
        "fvec",
        "rating",
        "residue",
        F.coalesce("new_uval", "uval").alias("uval"),
        F.coalesce("new_mval", "mval").alias("mval"),
        "gsum",
        "_mse",
        F.coalesce("mcnt", F.lit(0)).alias("_msgs"),
    )


def _rating_round(
    state: DataFrame, r2f: MessageExchange, fold_residue: bool, learning_rate: float
) -> DataFrame:
    """Odd superstep: rating vertices compute prediction/error, send updates
    back along tagged edges (stored as gsum on feature vertices)."""
    is_rating = F.col("kind") == "rating"
    pred = F.col("residue") + F.col("uval") * F.col("mval")
    err = F.lit(learning_rate) * (F.col("rating") - pred)
    computed = state.select(
        "id",
        "kind",
        "fvec",
        "rating",
        F.when(is_rating & F.lit(fold_residue), F.col("residue") + pred)
        .otherwise(F.col("residue"))
        .alias("residue"),
        "uval",
        "mval",
        F.when(is_rating, err).alias("_err"),
        F.when(is_rating, err * err).alias("_mse"),
    )
    senders = computed.where(is_rating).select("id", "_err", "uval", "mval")
    msgs = r2f.send(
        senders,
        F.when(F.col("tag") == "user", F.col("_err") * F.col("mval"))
        .otherwise(F.col("_err") * F.col("uval"))
        .alias("upd"),
        F.lit(1).alias("n"),
    )
    sums = r2f.combine(
        msgs, [("new_gsum", "upd", "sum"), ("mcnt", "n", "count")]
    ).withColumnRenamed("dst", "id")
    return computed.drop("_err").join(sums.hint("shuffle_hash"), "id", "left").select(
        "id",
        "kind",
        "fvec",
        "rating",
        "residue",
        "uval",
        "mval",
        F.col("new_gsum").alias("gsum"),
        "_mse",
        F.coalesce("mcnt", F.lit(0)).alias("_msgs"),
    )


def _recommendations_broadcast(
    spark: SparkSession,
    ratings: DataFrame,
    *,
    n_features: int,
    runs_per_feature: int,
    learning_rate: float,
    cap: float,
    checkpoint_dir: str | None,
    run_id: str,
    reliable_interval: int,
    num_partitions: int | None,
    resume: bool,
    max_supersteps: int | None,
) -> PregelResult:
    """Model-broadcast SGD: the feature matrices U/M are MODEL-sized
    (n_users+n_movies rows × n_features), so — exactly like pagerank's
    ``broadcast`` strategy for small V — the model is broadcast and only
    the DATA-sized ratings relation stays distributed.

    Per rating round: ONE shuffle-free Spark job scans the cached ratings
    partitions, computes per-partition partial gradient vectors
    (vectorized ``np.bincount`` over Arrow batches — no per-row Python),
    and the model-sized partials are reduced driver-side (the parameter-
    server / all-reduce shape). Feature rounds are pure model arithmetic
    on the driver — no job at all. Residue folds (10 per schedule)
    rewrite the distributed ratings state via ``localCheckpoint``.

    Arithmetic is identical to the Pregel path / the reference program
    (Recommendations.java:42-119): same clamp, same fold schedule, same
    receiving-index step-back (equivalence + oracle tested). The win is
    the regime the reference benchmarks — 1000 tiny supersteps
    (notes/benchmarks.txt:2-3) — where per-superstep shuffle/job overhead
    dominates the Pregel path; this path pays one job per RATING round
    and none per feature round. The ``shuffle`` strategy remains the
    10^12-ratings / huge-model scale path (a model too big to broadcast
    must itself be partitioned — that IS the message-passing plan).

    Durable checkpoints: every ``reliable_interval`` supersteps the model
    (U/M/gu/gm, driver-side .npy) and the residue table (parquet) land
    under ``checkpoint_dir/run_id`` with a manifest; ``resume=True``
    restarts from the latest complete one.
    """
    import numpy as np
    import pandas as pd

    total = (
        max_supersteps
        if max_supersteps is not None
        else n_features * runs_per_feature * 2
    )

    # --- model-sized id dictionaries (one collect each — the model is by
    # definition small enough to broadcast on this path)
    users = sorted(
        r[0] for r in ratings.select("user_id").distinct().collect()
    )
    movies = sorted(
        r[0] for r in ratings.select("movie_id").distinct().collect()
    )
    n_u, n_m = len(users), len(movies)
    uidx = {u: i for i, u in enumerate(users)}
    midx = {m: i for i, m in enumerate(movies)}
    b_uidx = spark.sparkContext.broadcast(uidx)
    b_midx = spark.sparkContext.broadcast(midx)

    enc_schema = (
        "rating_id string, uidx int, midx int, rating double, residue double"
    )

    # vectorized encode: map string ids to dense model indices once
    def encode(batches):
        um, mm = b_uidx.value, b_midx.value
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "rating_id": pdf["rating_id"],
                    "uidx": pdf["user_id"].map(um).astype("int32"),
                    "midx": pdf["movie_id"].map(mm).astype("int32"),
                    "rating": pdf["rating"].astype("float64"),
                    "residue": np.zeros(len(pdf)),
                }
            )

    state = ratings.select("user_id", "movie_id", "rating_id", "rating")
    if num_partitions:
        state = state.repartition(num_partitions, "rating_id")
    state = state.mapInPandas(encode, enc_schema).localCheckpoint(eager=True)

    U = np.ones((n_u, n_features))
    M = np.ones((n_m, n_features))
    gu = np.zeros(n_u)
    gm = np.zeros(n_m)
    metrics_hist: list[dict] = []
    start = 0

    root = os.path.join(checkpoint_dir, run_id) if checkpoint_dir else None

    def _ck_path(s: int) -> str:
        assert root
        return os.path.join(root, f"superstep={s:05d}")

    if resume and root and os.path.isdir(root):
        best = None
        for name in os.listdir(root):
            if name.startswith("superstep=") and os.path.exists(
                os.path.join(root, name, "_MANIFEST.json")
            ):
                s = int(name.split("=")[1])
                best = s if best is None or s > best else best
        if best is not None:
            p = _ck_path(best)
            with open(os.path.join(p, "_MANIFEST.json")) as f:
                manifest = json.load(f)
            model = np.load(os.path.join(p, "model.npz"))
            U, M, gu, gm = model["U"], model["M"], model["gu"], model["gm"]
            free_local_checkpoint(state)
            state = spark.read.parquet(
                os.path.join(p, "residue.parquet")
            ).localCheckpoint(eager=True)
            metrics_hist = manifest.get("metrics_history", [])
            start = best + 1

    import time as _time

    def grad_pass_factory(b_u, b_m, lr):
        def grad_pass(batches):
            uf, mf = b_u.value, b_m.value
            pgu = np.zeros(n_u)
            pgm = np.zeros(n_m)
            mse = 0.0
            cnt = 0
            for pdf in batches:
                ui = pdf["uidx"].to_numpy()
                mi = pdf["midx"].to_numpy()
                u = uf[ui]
                m = mf[mi]
                err = lr * (
                    pdf["rating"].to_numpy()
                    - (pdf["residue"].to_numpy() + u * m)
                )
                pgu += np.bincount(ui, weights=err * m, minlength=n_u)
                pgm += np.bincount(mi, weights=err * u, minlength=n_m)
                mse += float(err @ err)
                cnt += len(pdf)
            yield pd.DataFrame(
                {
                    "gu": [pgu.tobytes()],
                    "gm": [pgm.tobytes()],
                    "mse": [mse],
                    "cnt": [cnt],
                }
            )

        return grad_pass

    def fold_pass_factory(b_u, b_m):
        def fold_pass(batches):
            uf, mf = b_u.value, b_m.value
            for pdf in batches:
                pred = pdf["residue"].to_numpy() + uf[
                    pdf["uidx"].to_numpy()
                ] * mf[pdf["midx"].to_numpy()]
                out = pdf.copy()
                out["residue"] = pdf["residue"].to_numpy() + pred
                yield out

        return fold_pass

    n_ratings = state.count()
    # hot-path projection: the gradient pass never needs the string
    # rating_id column — pruning it out of the per-round Arrow conversion
    # measurably trims the per-job floor (ids rejoin only at folds/output)
    narrow = state.select("uidx", "midx", "rating", "residue")
    t0 = _time.monotonic()
    halted = False
    for s in range(start, total):
        rnd = s // 2
        cf = rnd // runs_per_feature
        if s % 2 == 0:
            # feature round: pure model arithmetic — no Spark job
            rf = cf - (1 if (rnd % runs_per_feature == 0 and rnd != 0) else 0)
            U[:, rf] = np.clip(U[:, rf] + gu, -cap, cap)
            M[:, rf] = np.clip(M[:, rf] + gm, -cap, cap)
            row = {
                "superstep": s,
                "wall_ms": round((_time.monotonic() - t0) * 1000.0, 3),
                "vertex_count": n_u + n_m + n_ratings,
                "mse": None,
                "message_count": 2 * n_ratings,
            }
        else:
            fold = (rnd + 1) % runs_per_feature == 0
            b_u = spark.sparkContext.broadcast(np.ascontiguousarray(U[:, cf]))
            b_m = spark.sparkContext.broadcast(np.ascontiguousarray(M[:, cf]))
            parts = narrow.mapInPandas(
                grad_pass_factory(b_u, b_m, learning_rate),
                "gu binary, gm binary, mse double, cnt long",
            ).collect()
            gu = np.zeros(n_u)
            gm = np.zeros(n_m)
            mse = 0.0
            for r in parts:
                gu += np.frombuffer(r["gu"], dtype=np.float64)
                gm += np.frombuffer(r["gm"], dtype=np.float64)
                mse += r["mse"]
            if fold:
                new_state = state.mapInPandas(
                    fold_pass_factory(b_u, b_m), enc_schema
                ).localCheckpoint(eager=True)
                free_local_checkpoint(state)
                state = new_state
                narrow = state.select("uidx", "midx", "rating", "residue")
            b_u.destroy()
            b_m.destroy()
            row = {
                "superstep": s,
                "wall_ms": round((_time.monotonic() - t0) * 1000.0, 3),
                "vertex_count": n_u + n_m + n_ratings,
                "mse": mse,
                "message_count": 2 * n_ratings,
            }
        t0 = _time.monotonic()
        metrics_hist.append(row)

        if root and ((s + 1) % reliable_interval == 0 or s == total - 1):
            p = _ck_path(s)
            state.write.mode("overwrite").parquet(
                os.path.join(p, "residue.parquet")
            )
            np.savez(os.path.join(p, "model.npz"), U=U, M=M, gu=gu, gm=gm)
            with open(os.path.join(p, "_MANIFEST.json"), "w") as f:
                json.dump(
                    {
                        "run_id": run_id,
                        "superstep": s,
                        "halted": False,
                        "metrics_history": metrics_hist,
                    },
                    f,
                    default=str,
                )

    # assemble the same output contract as the Pregel path:
    # (id, kind, fvec, rating, residue)
    feat_rows = [
        (u, "user", [float(x) for x in U[i]]) for i, u in enumerate(users)
    ] + [
        (m, "movie", [float(x) for x in M[j]]) for j, m in enumerate(movies)
    ]
    feats = spark.createDataFrame(
        feat_rows, "id string, kind string, fvec array<double>"
    ).select(
        "id", "kind", "fvec",
        F.lit(None).cast("double").alias("rating"),
        F.lit(None).cast("double").alias("residue"),
    )
    rverts = state.select(
        F.col("rating_id").alias("id"),
        F.lit("rating").alias("kind"),
        F.lit(None).cast("array<double>").alias("fvec"),
        "rating",
        "residue",
    )
    out = feats.unionAll(rverts)
    return PregelResult(out, total, metrics_hist, halted, run_id)


def recommendations(
    spark: SparkSession,
    ratings: DataFrame,
    *,
    n_features: int = 10,
    runs_per_feature: int = 50,
    learning_rate: float = 0.001,
    cap: float = 10.0,
    checkpoint_dir: str | None = None,
    run_id: str = "recommend",
    reliable_interval: int = 50,
    num_partitions: int | None = None,
    resume: bool = False,
    max_supersteps: int | None = None,
    halt_interval: int = 1,
    strategy: str = "shuffle",
) -> PregelResult:
    """Train per-feature SGD factors.

    ``ratings``: (user_id string, movie_id string, rating_id string,
    rating double). Result state rows: feature vertices (id, kind, fvec)
    and rating vertices (id, kind='rating', rating, residue).

    ``strategy``:

    - ``"shuffle"`` (default) — the Pregel message-passing path below:
      the model lives IN the distributed vertex state, so it scales to
      models too big to broadcast (10^9 users). Combine with
      ``halt_interval`` to amortize per-job overhead.
    - ``"broadcast"`` — :func:`_recommendations_broadcast`: model-sized
      U/M broadcast per round, one shuffle-free gradient job per rating
      round, feature rounds driver-side. The right plan whenever the
      model fits in a broadcast (the reference's published benchmark
      scales are 11k and 55k feature vertices, notes/benchmarks.txt:2-3).
      Identical arithmetic (equivalence tested).

    ``max_supersteps`` caps the run below the reference's full
    ``featureCount * runsPerFeature * 2`` schedule
    (Recommendations.java:183) — a fixed-round prefix of the same
    deterministic arithmetic, used by the SQL-oracled driver query.

    ``halt_interval``: chain this many supersteps lazily into ONE Spark
    job between materializations (Pregel.halt_interval). The reference's
    schedule is 1000 tiny supersteps (10 features × 50 runs × 2,
    Recommendations.java:183) on a graph where per-superstep work is far
    below Spark's per-job driver overhead (~0.2–0.5 s) — unchained, the
    fixed cost alone exceeds the reference's published 238 s wall
    (notes/benchmarks.txt:2). Chaining is numerically exact (the schedule
    never halts early; equivalence tested); pick an even value so
    boundaries land after rating rounds.
    """
    if strategy == "broadcast":
        return _recommendations_broadcast(
            spark, ratings,
            n_features=n_features, runs_per_feature=runs_per_feature,
            learning_rate=learning_rate, cap=cap,
            checkpoint_dir=checkpoint_dir, run_id=run_id,
            reliable_interval=reliable_interval,
            num_partitions=num_partitions, resume=resume,
            max_supersteps=max_supersteps,
        )
    if strategy != "shuffle":
        raise ValueError(f"unknown recommendations strategy {strategy!r}")
    f2r = MessageExchange(
        ratings.select(F.col("user_id").alias("src"), F.col("rating_id").alias("dst"))
        .unionAll(
            ratings.select(F.col("movie_id").alias("src"), F.col("rating_id").alias("dst"))
        ),
        strategy="shuffle",
        num_partitions=num_partitions,
    )
    r2f = MessageExchange(
        ratings.select(
            F.col("rating_id").alias("src"),
            F.col("user_id").alias("dst"),
            F.lit("user").alias("tag"),
        )
        .unionAll(
            ratings.select(
                F.col("rating_id").alias("src"),
                F.col("movie_id").alias("dst"),
                F.lit("movie").alias("tag"),
            )
        ),
        strategy="shuffle",
        num_partitions=num_partitions,
    )

    init_fvec = F.array(*[F.lit(1.0) for _ in range(n_features)])
    users = ratings.select(F.col("user_id").alias("id")).distinct().select(
        "id", F.lit("user").alias("kind")
    )
    movies = ratings.select(F.col("movie_id").alias("id")).distinct().select(
        "id", F.lit("movie").alias("kind")
    )
    feats = users.unionAll(movies).select(
        "id",
        "kind",
        init_fvec.alias("fvec"),
        F.lit(None).cast("double").alias("rating"),
        F.lit(None).cast("double").alias("residue"),
    )
    rverts = ratings.select(
        F.col("rating_id").alias("id"),
        F.lit("rating").alias("kind"),
        F.lit(None).cast("array<double>").alias("fvec"),
        F.col("rating").cast("double").alias("rating"),
        F.lit(0.0).alias("residue"),
    )
    init = feats.unionAll(rverts).select(
        "*",
        F.lit(None).cast("double").alias("uval"),
        F.lit(None).cast("double").alias("mval"),
        F.lit(None).cast("double").alias("gsum"),
        F.lit(None).cast("double").alias("_mse"),
        F.lit(0).alias("_msgs"),
    )
    if num_partitions:
        init = init.repartition(num_partitions, "id")

    def step(state: DataFrame, s: int) -> DataFrame:
        current_round = s // 2
        cf = current_round // runs_per_feature
        if s % 2 == 0:
            rf = cf
            if current_round % runs_per_feature == 0 and current_round != 0:
                rf -= 1  # fold the finished feature (Recommendations.java:60-62)
            return _feature_round(state, f2r, rf, cf, cap)
        fold = (current_round + 1) % runs_per_feature == 0
        return _rating_round(state, r2f, fold, learning_rate)

    metrics = {
        "mse": F.sum("_mse"),  # reference: MSE DoubleSumAccumulator
        "message_count": F.sum("_msgs"),
    }
    runner = Pregel(
        spark,
        step=step,
        metrics_exprs=metrics,
        halt=lambda m, s: False,
        checkpoint_dir=checkpoint_dir,
        run_id=run_id,
        reliable_interval=reliable_interval,
        max_supersteps=(
            max_supersteps
            if max_supersteps is not None
            else n_features * runs_per_feature * 2
        ),
        halt_interval=halt_interval,
        exchanges=(f2r, r2f),
    )
    res = runner.run(init, resume=resume)
    res.state = res.state.select("id", "kind", "fvec", "rating", "residue")
    return res
