"""The benchmark workloads.

Each workload is closed-loop: one client runs one job at a time. A workload
has three parts:

- ``setup(ctx, rep)``: input generation or load, and graph build (timed as
  ``setup_s``, repeated by the runner);
- ``job(ctx, inp, warm)``: the timed call, from the public function to the
  materialized result; ``warm`` marks the untimed warm-up job of a traced
  run;
- ``post(ctx, inp, out)``: outside the timed region, collects counts and
  checks the output against a NumPy oracle.

Calls into the package go through ``ctx.tr.span(...)``; in traced mode that
records a span with the status-store difference and ``ctx.tr.materialize``
forces each layer's output, in plain mode both are no-ops.
"""

from __future__ import annotations

import contextlib
import importlib
import os
import shutil
from dataclasses import dataclass, field

from perfbench import oracles


@dataclass
class Ctx:
    spark: object
    seed: int
    run_dir: str
    tr: object  # spans.Tracer or spans.NullTracer
    jobs_done: int = 0


@dataclass
class JobResult:
    """What a finished job reports, gathered outside the timed region."""

    supersteps: int  # iterations to solution; 1 for a single-pass job
    step_ms: list[float]  # Pregel superstep walls; empty for a single pass
    edge_work: int  # edges × supersteps on graphs; (document, band) entries on near-dup
    docs: int  # files, documents or vertices handled
    errors: list[str] = field(default_factory=list)


@contextlib.contextmanager
def pregel_spans(tr):
    """Traced mode only: wrap ``Pregel.run``, ``connected_components`` and
    the algorithms' calls to ``graph.prepare_encoding`` in spans, from
    outside the package."""
    if not tr.enabled:
        yield
        return
    from duwamish_spark import pregel

    # the package re-exports functions under the module names
    pagerank = importlib.import_module("duwamish_spark.algorithms.pagerank")
    components = importlib.import_module("duwamish_spark.algorithms.components")
    run, enc_pr, enc_cc = pregel.Pregel.run, pagerank.prepare_encoding, components.prepare_encoding
    cc = components.connected_components

    def traced_run(self, *a, **kw):
        with tr.span("pregel.run", "pregel") as sp:
            res = run(self, *a, **kw)
        durable, local = [], []
        for m in res.metrics:
            s = m["superstep"]
            is_durable = bool(self.checkpoint_dir) and (
                (s + 1) % self.reliable_interval == 0 or s == self.max_supersteps - 1
            )
            (durable if is_durable else local).append(m["wall_ms"])
        sp.count("supersteps", len(res.metrics))
        sp.count("messages", sum(int(m.get("message_count") or 0) for m in res.metrics))
        sp.count("durable_ms", durable)
        sp.count("local_ms", local)
        return res

    def traced_encoding(orig):
        def wrapped(*a, **kw):
            with tr.span("graph.prepare_encoding", "graph"):
                return orig(*a, **kw)
        return wrapped

    def traced_cc(*a, **kw):
        with tr.span("algorithms.connected_components", "algorithms") as sp:
            res = cc(*a, **kw)
        _count_result(sp, res)
        return res

    pregel.Pregel.run = traced_run
    pagerank.prepare_encoding = traced_encoding(enc_pr)
    components.prepare_encoding = traced_encoding(enc_cc)
    components.connected_components = traced_cc
    try:
        yield
    finally:
        pregel.Pregel.run = run
        pagerank.prepare_encoding = enc_pr
        components.prepare_encoding = enc_cc
        components.connected_components = cc


def _persisted(df):
    """Persist and count ``df``: set-up inputs are built before the timed
    job in either mode."""
    from pyspark.storagelevel import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    return df


def _load_corpus(ctx, path):
    from duwamish_spark.sources import load_corpus

    with ctx.tr.span("sources.load_corpus", "sources"):
        return ctx.tr.materialize(load_corpus(ctx.spark, path))


def _gen_corpus(ctx, n_files, max_out_degree, rep):
    """The seeded corpus parquet and its ground-truth edges: the same seed
    always gives the same corpus."""
    from duwamish_spark.corpus import synth_corpus

    path = os.path.join(ctx.run_dir, f"corpus-{rep}.parquet")
    with ctx.tr.span("corpus.synth_corpus", "corpus"):
        pdf, truth = synth_corpus(n_files, max_out_degree, ctx.seed)
        pdf.to_parquet(path, index=False)
    return path, pdf, truth


def _count_result(sp, res) -> None:
    """Record a PregelResult's counts on the span around its call."""
    sp.count("supersteps", res.supersteps)
    sp.count("loop_ms", sum(m["wall_ms"] for m in res.metrics))
    sp.count("messages", sum(int(m.get("message_count") or 0) for m in res.metrics))
    sp.count("residual", float(res.last.get("residual") or 0.0))


class PagerankRef20k:
    name = "pagerank_ref20k"
    default_seed = 20
    n_files, max_out_degree = 20_000, 15
    tol = 1e-6
    warm_supersteps = 25
    # reference duwamish, PageRank on 20,000 vertices, best of 3, on its
    # author's machine (notes/benchmarks.txt:10): context, not a gate
    reference_ms = 13_749

    def setup(self, ctx, rep):
        """Corpus ingest: load, parse, write the edge table, read it back and
        derive the vertices."""
        from duwamish_spark.graph import corpus_vertex_ids, vertices_from
        from duwamish_spark.parse import extract_edges
        from duwamish_spark.sources import write_edges

        tr = ctx.tr
        path, pdf, truth = _gen_corpus(ctx, self.n_files, self.max_out_degree, rep)
        edge_path = os.path.join(ctx.run_dir, f"edges-{rep}.parquet")
        corpus = _load_corpus(ctx, path)
        with tr.span("parse.extract_edges", "parse"):
            parsed = tr.materialize(extract_edges(corpus))
        with tr.span("sources.write_edges", "sources"):
            write_edges(parsed, edge_path)
        with tr.span("sources.read_edges", "sources"):
            edges = _persisted(ctx.spark.read.parquet(edge_path))
        with tr.span("graph.vertices_from", "graph"):
            vertices = _persisted(vertices_from(corpus_vertex_ids(corpus), edges))
        tr.release()
        return {"edges": edges, "vertices": vertices, "truth": truth, "pdf": pdf,
                "path": path, "edge_path": edge_path}

    def teardown(self, inp):
        inp["edges"].unpersist()
        inp["vertices"].unpersist()

    def job(self, ctx, inp, warm=False):
        from duwamish_spark.algorithms import pagerank

        ck = os.path.join(ctx.run_dir, f"ck-{ctx.jobs_done}{'-warm' if warm else ''}")
        # the warm-up compiles the per-superstep path (durable checkpoints
        # included) without running to convergence
        cap = {"max_supersteps": self.warm_supersteps} if warm else {}
        with pregel_spans(ctx.tr), ctx.tr.span("algorithms.pagerank", "algorithms") as sp:
            res = pagerank(ctx.spark, inp["vertices"], inp["edges"], tol=self.tol,
                           checkpoint_dir=ck, **cap)
            pdf = res.state.toPandas()
        _count_result(sp, res)
        return {"res": res, "pdf": pdf, "ck": ck}

    def _check_ingest(self, ctx, inp) -> list[str]:
        """The written edge table against the generator's ground truth, and
        the loaded content against ``hashlib``."""
        from duwamish_spark.parse import sha256_manifest
        from duwamish_spark.sources import load_corpus

        truth, pdf = inp["truth"], inp["pdf"]
        got = ctx.spark.read.parquet(inp["edge_path"]).toPandas()
        errors = oracles.check_edge_multiset(
            got["src"].to_numpy(), got["dst"].to_numpy(),
            truth["src"].to_numpy(), truth["dst"].to_numpy(),
        )
        man = sha256_manifest(load_corpus(ctx.spark, inp["path"])).toPandas()
        return errors + oracles.check_sha256(
            dict(zip(pdf["repo"] + "/" + pdf["path"], pdf["content"])),
            dict(zip(man["repo"] + "/" + man["path"], man["sha256"])),
        )

    def post(self, ctx, inp, out):
        shutil.rmtree(out["ck"], ignore_errors=True)
        res, pdf = out["res"], out["pdf"]
        errors = []
        if "oracle" not in inp:
            errors += self._check_ingest(ctx, inp)
            t, p = inp["truth"], inp["pdf"]
            inp["oracle"] = oracles.index_graph(
                t["src"].to_numpy(), t["dst"].to_numpy(), (p["repo"] + "/" + p["path"]).to_numpy()
            )
        ids, s, d = inp["oracle"]
        rank, residuals = oracles.pagerank(s, d, len(ids), res.supersteps)
        errors += oracles.check_ranks(ids, rank, dict(zip(pdf["id"], pdf["rank"])))
        halted_at = next((i + 1 for i, r in enumerate(residuals) if r < self.tol), None)
        if halted_at != res.supersteps:
            errors.append(f"halted after {res.supersteps} supersteps, oracle after {halted_at}")
        return JobResult(
            supersteps=res.supersteps,
            step_ms=[m["wall_ms"] for m in res.metrics],
            edge_work=len(inp["truth"]) * res.supersteps,
            docs=len(ids),
            errors=errors,
        )


class NearDup100k:
    name = "near_dup_100k"
    default_seed = 101
    n_files, max_out_degree = 10_000, 31
    threshold, n_hashes, bands = 0.7, 16, 4

    def setup(self, ctx, rep):
        from pyspark.sql import functions as F

        path, pdf, _ = _gen_corpus(ctx, self.n_files, self.max_out_degree, rep)
        corpus = _load_corpus(ctx, path)
        docs = _persisted(corpus.select(
            F.concat_ws("/", "repo", "path").alias("doc_id"), F.col("content").alias("text")
        ))
        texts = dict(zip(pdf["repo"] + "/" + pdf["path"], pdf["content"]))
        return {"docs": docs, "texts": texts, "corpus": corpus}

    def teardown(self, inp):
        inp["docs"].unpersist()
        inp["corpus"].unpersist()

    def job(self, ctx, inp, warm=False):
        """Near-duplicate pairs, then duplicate groups (connected components
        over the pair graph) with one keeper each."""
        from duwamish_spark.functions.dedup import (
            dedup_groups, minhash_near_dups, minhash_signatures, shingles,
        )

        tr, docs = ctx.tr, inp["docs"]
        if tr.enabled:
            # the signature stage on its own; minhash_near_dups builds its
            # signatures internally, so this span exists only when tracing
            with tr.span("functions.minhash_signatures", "functions"):
                tr.materialize(minhash_signatures(shingles(docs), n_hashes=self.n_hashes))
        with tr.span("functions.minhash_near_dups", "functions") as sp:
            pairs = minhash_near_dups(
                docs, threshold=self.threshold, n_hashes=self.n_hashes, bands=self.bands
            ).persist()
            pairs_pdf = pairs.toPandas()
            sp.count("pairs", len(pairs_pdf))
        try:
            with pregel_spans(tr), tr.span("functions.dedup_groups", "functions"):
                groups = dedup_groups(ctx.spark, docs, pairs).toPandas()
        finally:
            pairs.unpersist()
        return {"pairs": pairs_pdf, "groups": groups}

    def post(self, ctx, inp, out):
        p, g = out["pairs"], out["groups"]
        rows = sorted(zip(p["id_a"], p["id_b"], p["jaccard"]))
        if "first" not in inp:
            errors = oracles.check_near_dups(rows, inp["texts"], self.threshold)
            inp["first"] = rows
        else:
            errors = [] if rows == inp["first"] else [
                f"pair set changed between repetitions: {len(rows)} vs {len(inp['first'])}"
            ]
        if not rows:
            errors.append("no near-duplicate pairs found")
        ids, a, b = oracles.index_graph(p["id_a"].to_numpy(), p["id_b"].to_numpy(),
                                        list(inp["texts"]))
        errors += oracles.check_labels(ids, oracles.min_label(a, b, len(ids)),
                                       dict(zip(g["doc_id"], g["group"])))
        if (g["keep"] != (g["doc_id"] == g["group"])).any():
            errors.append("keep is not exactly the group's minimum id")
        # the banding step's edges: one (document, band bucket) entry each
        n_docs = len(inp["texts"])
        return JobResult(supersteps=1, step_ms=[], edge_work=n_docs * self.bands,
                         docs=n_docs, errors=errors)


WORKLOADS = {w.name: w for w in (PagerankRef20k(), NearDup100k())}
