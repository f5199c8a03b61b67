"""Metric definitions and how each is computed.

``E2E`` are the figures a user of the engine sees (plain runs); ``PER_LAYER``
come from the traced run's spans. Each per-layer entry names the end-to-end
metrics and workloads it is expected to move; ``BENCHMARK.json`` lists the
same names, units and directions (checked by ``tests/test_spec.py``).

Every workload reports every end-to-end metric. The near-dup job is one
pass over the documents (its grouping's connected-components rounds are
per-layer figures), so it counts as one superstep: ``supersteps`` is 1 and
the superstep percentiles are the job wall times; its ``edges_per_s``
counts the (document, band bucket) entries the LSH banding joins on. On the graph workloads ``docs_per_s`` counts vertices
(each vertex of pagerank_ref20k is a corpus file).
"""

from __future__ import annotations

import statistics

from perfbench.spans import Span, self_times

PR, DUP = "pagerank_ref20k", "near_dup_100k"
ALL = (PR, DUP)

# name -> (unit, better, bound)
E2E = {
    "setup_s": ("s", "lower", 0.25),
    "job_s": ("s", "lower", 0.25),
    "edges_per_s": ("1/s", "higher", 0.25),
    "docs_per_s": ("1/s", "higher", 0.25),
    "supersteps_per_min": ("1/min", "higher", 0.25),
    "supersteps": ("count", "lower", 0.1),
    "superstep_p50_ms": ("ms", "lower", 0.25),
    "superstep_p90_ms": ("ms", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.25),
}

_INGEST = {"setup_s": [PR]}
_LOOP = {"job_s": [PR], "superstep_p50_ms": [PR]}
# no workload is exchange-bound: pagerank_ref20k broadcasts its rank vector,
# so these should move little there
_EXCHANGE = {"job_s": [PR], "edges_per_s": [PR]}
_CHECKPOINT = {"superstep_p90_ms": [PR]}
_DEDUP = {"job_s": [DUP], "docs_per_s": [DUP]}
# name -> (unit, better, {e2e metric: [workloads it should move]})
PER_LAYER = {
    "sources.scan_s": ("s", "lower", _INGEST),
    "sources.input_bytes": ("B", "lower", _INGEST),
    "sources.write_s": ("s", "lower", _INGEST),
    "sources.output_bytes": ("B", "lower", _INGEST),
    "parse.extract_s": ("s", "lower", _INGEST),
    "parse.busy_ratio": ("ratio", "higher", _INGEST),
    "parse.edges_out": ("count", "higher", _INGEST),
    "graph.vertices_s": ("s", "lower", _INGEST),
    "graph.encode_s": ("s", "lower", {"job_s": [PR, DUP]}),
    "graph.shuffle_bytes": ("B", "lower", {"setup_s": [PR], "job_s": [PR, DUP]}),
    "pregel.jobs_per_superstep": ("count", "lower", _LOOP),
    "pregel.stages_per_superstep": ("count", "lower", _LOOP),
    "pregel.tasks_per_superstep": ("count", "lower", _LOOP),
    "pregel.busy_ratio": ("ratio", "higher", _LOOP),
    "pregel.idle_ms_per_superstep": ("ms", "lower", _LOOP),
    "pregel.shuffle_write_bytes_per_superstep": ("B", "lower", _EXCHANGE),
    "pregel.shuffle_read_bytes_per_superstep": ("B", "lower", _EXCHANGE),
    "pregel.spill_bytes": ("B", "lower", _EXCHANGE),
    "pregel.messages_per_superstep": ("count", "lower", _EXCHANGE),
    "pregel.gc_ms": ("ms", "lower", _EXCHANGE),
    "pregel.durable_superstep_ms": ("ms", "lower", _CHECKPOINT),
    "pregel.local_superstep_ms": ("ms", "lower", _CHECKPOINT),
    "pregel.checkpoint_bytes": ("B", "lower", _CHECKPOINT),
    "pregel.outside_loop_s": ("s", "lower", {"job_s": [PR, DUP]}),
    "pagerank.supersteps": ("count", "lower", {"supersteps": [PR], "job_s": [PR]}),
    "pagerank.final_residual": ("L1", "lower", {"supersteps": [PR], "job_s": [PR]}),
    "components.rounds": ("count", "lower", {"job_s": [DUP]}),
    "components.messages_total": ("count", "lower", {"job_s": [DUP]}),
    "dedup.signatures_s": ("s", "lower", _DEDUP),
    "dedup.near_dups_s": ("s", "lower", _DEDUP),
    "dedup.groups_s": ("s", "lower", _DEDUP),
    "dedup.pairs": ("count", "higher", _DEDUP),
    "dedup.shuffle_bytes": ("B", "lower", _DEDUP),
    "dedup.busy_ratio": ("ratio", "higher", _DEDUP),
    # error_rate is failed / attempted in the result line
    "spark.failed_tasks": ("count", "lower", {"error_rate": list(ALL)}),
}
# span self time per layer: the package's modules, plus the benchmark's glue
_SELF = {
    "session": {"setup_s": list(ALL)},
    "corpus": {"setup_s": list(ALL)},
    "sources": {"setup_s": list(ALL)},
    "parse": _INGEST,
    "graph": {"setup_s": [PR], "job_s": [PR, DUP]},
    "pregel": {"job_s": [PR, DUP]},
    "algorithms": {"job_s": [PR, DUP]},
    "functions": _DEDUP,
    "bench": {},
}
LAYERS = tuple(_SELF)
PER_LAYER.update({f"{k}.self_s": ("s", "lower", v) for k, v in _SELF.items()})
PER_LAYER.update({
    "trace.job_s": ("s", "lower", {}),
    "trace.plain_job_s": ("s", "lower", {}),
    "trace.overhead_s": ("s", "lower", {}),
    "trace.snapshot_s": ("s", "lower", {}),
    "trace.spans": ("count", "lower", {}),
})


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    v = sorted(values)
    if len(v) == 1:
        return float(v[0])
    pos = (len(v) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return float(v[lo] + (v[hi] - v[lo]) * (pos - lo))


def e2e_metrics(setup_s: float, walls: list[float], results, peak_rss_mb: float) -> dict:
    """End-to-end figures from the timed jobs' walls and their results."""
    job_s = statistics.median(walls)
    steps = statistics.median(r.supersteps for r in results)
    step_ms = [ms for r in results for ms in r.step_ms] or [w * 1000.0 for w in walls]
    return {
        "setup_s": setup_s,
        "job_s": job_s,
        "edges_per_s": statistics.median(r.edge_work / w for r, w in zip(results, walls)),
        "docs_per_s": statistics.median(r.docs / w for r, w in zip(results, walls)),
        "supersteps_per_min": statistics.median(
            r.supersteps * 60.0 / w for r, w in zip(results, walls)
        ),
        "supersteps": float(steps),
        "superstep_p50_ms": percentile(step_ms, 50),
        "superstep_p90_ms": percentile(step_ms, 90),
        "peak_rss_mb": peak_rss_mb,
    }


def _sum(spans: list[Span], name: str, key: str) -> float:
    return float(sum(s.spark.get(key, 0) for s in spans if s.name == name))


def _dur(spans: list[Span], name: str) -> float:
    return sum(s.duration for s in spans if s.name == name)


def _busy(spans: list[Span], name: str, slots: int) -> float:
    wall = _dur(spans, name)
    return _sum(spans, name, "executorRunTime") / 1000.0 / (wall * slots) if wall else 0.0


def _counts(spans: list[Span], name: str, key: str):
    return [s.counts[key] for s in spans if s.name == name and key in s.counts]


def layer_metrics(spans: list[Span], slots: int) -> dict:
    """Per-layer figures from one set of spans (a set-up plus one job).

    Layers a workload does not touch report 0.
    """
    out = {
        "sources.scan_s": _dur(spans, "sources.load_corpus"),
        "sources.input_bytes": _sum(spans, "sources.load_corpus", "inputBytes"),
        "sources.write_s": _dur(spans, "sources.write_edges"),
        "sources.output_bytes": _sum(spans, "sources.write_edges", "outputBytes"),
        "parse.extract_s": _dur(spans, "parse.extract_edges"),
        "parse.busy_ratio": _busy(spans, "parse.extract_edges", slots),
        "parse.edges_out": float(sum(_counts(spans, "parse.extract_edges", "rows"))),
        "graph.vertices_s": _dur(spans, "graph.vertices_from"),
        "graph.encode_s": _dur(spans, "graph.prepare_encoding"),
        "graph.shuffle_bytes": _sum(spans, "graph.vertices_from", "shuffleWriteBytes")
        + _sum(spans, "graph.prepare_encoding", "shuffleWriteBytes"),
    }

    loop = [s for s in spans if s.name == "pregel.run"]
    steps = sum(s.counts.get("supersteps", 0) for s in loop)
    wall = sum(s.duration for s in loop)
    run_ms = _sum(spans, "pregel.run", "executorRunTime")

    def per_step(v):
        return v / steps if steps else 0.0

    durable = [ms for s in loop for ms in s.counts.get("durable_ms", [])]
    local = [ms for s in loop for ms in s.counts.get("local_ms", [])]
    algo = [s for s in spans if s.layer == "algorithms"]
    out.update({
        "pregel.jobs_per_superstep": per_step(_sum(spans, "pregel.run", "jobs")),
        "pregel.stages_per_superstep": per_step(_sum(spans, "pregel.run", "stages")),
        "pregel.tasks_per_superstep": per_step(_sum(spans, "pregel.run", "tasks")),
        "pregel.busy_ratio": run_ms / 1000.0 / (wall * slots) if wall else 0.0,
        "pregel.idle_ms_per_superstep": per_step(wall * 1000.0 - run_ms / slots),
        "pregel.shuffle_write_bytes_per_superstep": per_step(
            _sum(spans, "pregel.run", "shuffleWriteBytes")),
        "pregel.shuffle_read_bytes_per_superstep": per_step(
            _sum(spans, "pregel.run", "shuffleReadBytes")),
        "pregel.spill_bytes": _sum(spans, "pregel.run", "diskBytesSpilled"),
        "pregel.messages_per_superstep": per_step(sum(s.counts.get("messages", 0) for s in loop)),
        "pregel.gc_ms": _sum(spans, "pregel.run", "jvmGcTime"),
        "pregel.durable_superstep_ms": statistics.median(durable) if durable else 0.0,
        "pregel.local_superstep_ms": statistics.median(local) if local else 0.0,
        "pregel.checkpoint_bytes": _sum(spans, "pregel.run", "outputBytes"),
        "pregel.outside_loop_s": sum(
            s.duration - s.counts.get("loop_ms", 0.0) / 1000.0 for s in algo
        ),
        "pagerank.supersteps": float(sum(_counts(spans, "algorithms.pagerank", "supersteps"))),
        "pagerank.final_residual": float(sum(_counts(spans, "algorithms.pagerank", "residual"))),
        "components.rounds": float(
            sum(_counts(spans, "algorithms.connected_components", "supersteps"))),
        "components.messages_total": float(
            sum(_counts(spans, "algorithms.connected_components", "messages"))),
        "dedup.signatures_s": _dur(spans, "functions.minhash_signatures"),
        "dedup.near_dups_s": _dur(spans, "functions.minhash_near_dups"),
        "dedup.groups_s": _dur(spans, "functions.dedup_groups"),
        "dedup.pairs": float(sum(_counts(spans, "functions.minhash_near_dups", "pairs"))),
        "dedup.shuffle_bytes": _sum(spans, "functions.minhash_near_dups", "shuffleWriteBytes"),
        "dedup.busy_ratio": _busy(spans, "functions.minhash_near_dups", slots),
    })
    selfs = self_times(spans)
    for layer in LAYERS:
        out[f"{layer}.self_s"] = sum(t for s, t in zip(spans, selfs) if s.layer == layer)
    return out
