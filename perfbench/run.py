"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload pagerank_ref20k [--seed N]
        [--seconds S] [--trace 0|1]

Run from the root of a checkout of the repository. The workload's inputs are
generated from ``--seed`` (each workload has a default seed). After set-up,
the workload runs closed-loop, one job at a time, until ``--seconds`` are
spent (at least one job), and every job's output is checked against a NumPy
oracle outside the timed region.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs an untimed
warm-up job, then traced and plain jobs alternately, and prints the
per-layer metrics and the tracing overhead (traced minus plain job time); it
writes the spans as JSON lines under ``.perfbench/``. Every metric is
printed by name with its unit; the last line of standard output is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``.

Spark runs on ``local[N]`` with ``N`` the number of usable cores, and keeps
its scratch files under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
# a traced run reports no setup_s, only per-layer figures from its last
# (warm) set-up; one repetition fewer keeps it inside the run time limit
TRACED_SETUP_REPS = 2


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=None)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int) -> list[int]:
    kids, out, todo = _proc_children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_peak_rss_mb(root: int) -> float:
    """Σ VmHWM (peak resident set) over the JVM and its Python workers."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0


def build_session(nproc: int, run_dir: str):
    from duwamish_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap_mb = int(min(2048, mem_total_mb() / 4))
    conf = {
        # 48g is the package default; size the heap to this machine
        "spark.driver.memory": f"{heap_mb}m",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # keep every job and stage of a ~100-superstep run in the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    return get_spark("perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc,
                     extra_conf=conf)


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie has ended and only awaits reaping."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and its Python workers and wait for them.

    After ``spark.stop()`` nothing in those processes is worth a graceful
    exit: the JVM's shutdown hooks only delete scratch directories, which the
    caller removes.
    """
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    pids = process_tree(proc.pid)
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    proc.wait(timeout=60)
    proc.stdin.close()
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.02)


def fmt(v: float) -> str:
    return f"{v:.6g}"


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "duwamish_spark")):
        print(f"duwamish_spark not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers import the package by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    from perfbench import metrics
    from perfbench.spans import NullTracer, Span, Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    wl = WORKLOADS.get(args.workload)
    if wl is None:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    seed = wl.default_seed if args.seed is None else args.seed
    nproc = len(os.sched_getaffinity(0))
    out_dir = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(out_dir, f"run-{wl.name}-{seed}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")

    spark = None
    results, job_layers, failed_tasks = [], [], 0
    plain_walls, traced_walls, snapshot_walls = [], [], []
    attempted = failed = 0
    peak_rss = 0.0
    try:
        t0 = time.perf_counter()
        spark = build_session(nproc, run_dir)
        session_s = time.perf_counter() - t0
        print(f"# phase import {t0 - T_START:.2f}s session {session_s:.2f}s", file=sys.stderr)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        versions = (f"spark={spark.version} "
                    f"java={spark.sparkContext._jvm.System.getProperty('java.version')} "
                    f"python={platform.python_version()}")
        tracer = Tracer(spark) if args.trace else None
        plain = NullTracer()
        if tracer:
            tracer.add(Span("session.get_spark", "session", "session", t0, t0 + session_s))
        ctx = Ctx(spark, seed, run_dir, tracer or plain)

        setup_walls, inp = [], None
        reps = TRACED_SETUP_REPS if tracer else SETUP_REPS
        for rep in range(reps):
            if inp is not None:
                wl.teardown(inp)
            if tracer:
                tracer.run_id = f"setup{rep}"
            t = time.perf_counter()
            with ctx.tr.span("bench.setup", "bench"):
                inp = wl.setup(ctx, rep)
            setup_walls.append(time.perf_counter() - t)
            print(f"# phase setup{rep} {setup_walls[-1]:.2f}s", file=sys.stderr)
        setup_s = session_s + statistics.median(setup_walls)
        if tracer:
            # the traced and plain jobs compared for the overhead both run
            # after an untimed warm-up job, so neither pays the first job's
            # compilation
            t = time.perf_counter()
            ctx.tr = plain
            wl.job(ctx, inp, warm=True)
            print(f"# phase warmup {time.perf_counter() - t:.2f}s", file=sys.stderr)
        setup_spans = [s for s in tracer.spans if s.run_id in ("session", f"setup{reps - 1}")] \
            if tracer else []

        deadline = time.perf_counter() + args.seconds
        while True:
            # traced mode: traced and plain jobs alternately
            traced = bool(tracer) and attempted % 2 == 0
            ctx.tr = tracer if traced else plain
            if tracer:
                tracer.run_id = f"job{attempted}"
            attempted += 1
            try:
                snap_before = tracer.snapshot_s if traced else 0.0
                t = time.perf_counter()
                with ctx.tr.span("bench.job", "bench"):
                    out = wl.job(ctx, inp)
                wall = time.perf_counter() - t
                ctx.tr.release()
                tp = time.perf_counter()
                res = wl.post(ctx, inp, out)
                print(f"# phase job {wall:.2f}s post {time.perf_counter() - tp:.2f}s",
                      file=sys.stderr)
            except Exception:
                traceback.print_exc()
                failed += 1
                break
            ctx.jobs_done += 1
            peak_rss = max(peak_rss, tree_peak_rss_mb(jvm_pid))
            if res.errors:
                failed += 1
                print(f"# job {attempted}: WRONG: {'; '.join(res.errors)}", file=sys.stderr)
            if traced:
                traced_walls.append(wall)
                snapshot_walls.append(tracer.snapshot_s - snap_before)
                job_spans = [s for s in tracer.spans if s.run_id == tracer.run_id]
                job_layers.append(metrics.layer_metrics(setup_spans + job_spans, nproc))
            else:
                plain_walls.append(wall)
                results.append(res)
            enough = not tracer or (traced_walls and plain_walls)
            if enough and deadline - time.perf_counter() < statistics.median(
                plain_walls + traced_walls
            ):
                break

        if tracer:
            failed_tasks = tracer.store.failed_tasks()
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(out_dir, f"spans-{wl.name}-{seed}.jsonl"))
    except Exception:
        traceback.print_exc()
        failed += 1
    finally:
        if spark is not None:
            ts = time.perf_counter()
            stop_session(spark)
            print(f"# phase stop {time.perf_counter() - ts:.2f}s", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)

    if not plain_walls or (args.trace and not job_layers):
        print("no job completed; no result", file=sys.stderr)
        return 1

    print(f"# workload {wl.name} seed={seed} nproc={nproc} "
          f"mem_total_mb={mem_total_mb():.0f} {versions} "
          f"jobs={attempted} setup_reps={reps}")
    if args.trace:
        out = {k: statistics.median(m[k] for m in job_layers) for k in job_layers[0]}
        out.update({
            "trace.job_s": statistics.median(traced_walls),
            "trace.plain_job_s": statistics.median(plain_walls),
            "trace.overhead_s": statistics.median(traced_walls) - statistics.median(plain_walls),
            "trace.snapshot_s": statistics.median(snapshot_walls),
            "trace.spans": float(len(tracer.spans)),
            "spark.failed_tasks": float(failed_tasks),
        })
        spec = {k: v[0] for k, v in metrics.PER_LAYER.items()}
    else:
        out = metrics.e2e_metrics(setup_s, plain_walls, results, peak_rss)
        spec = {k: v[0] for k, v in metrics.E2E.items()}
    out = {k: out[k] for k in spec}
    for k, v in out.items():
        print(f"{k} = {fmt(v)} {spec[k]}")
    print(f"error_rate = {failed / attempted:.6g} ({failed} of {attempted} jobs failed or wrong)")
    if getattr(wl, "reference_ms", None) and not args.trace:
        print(f"# context only, not a gate: reference duwamish PageRank on 20,000 vertices "
              f"took {wl.reference_ms:,} ms (best of 3, author's machine); "
              f"job_s here = {out['job_s'] * 1000:,.0f} ms")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": spec[k]} for k, v in out.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
