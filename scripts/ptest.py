#!/usr/bin/env python
"""Process-parallel pytest runner (no pytest-xdist in this container).

Runs the test suite as N concurrent pytest processes, one OS process per
test FILE group, each with its own JVM/SparkSession (local[4], 4 shuffle
partitions — same as the serial suite). Files are assigned to workers
longest-first by a static duration table so the stragglers start first.

Usage:  python scripts/ptest.py [-n WORKERS] [pytest args passed through]

Exit code is non-zero if any worker failed; per-worker tails are printed
for failed groups. Total wall target: < 12 min at 6 workers on 32 cores
(vs ~30-35 min serial).
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

# serial seconds per file from one tier-1 `--durations=0` run on a 4-core
# host — only the ORDER matters (longest-first greedy bin packing), not
# accuracy
DURATIONS = {
    "test_entry_contract.py": 615,
    "test_components.py": 319,
    "test_pagerank.py": 167,
    "test_functions.py": 156,
    "test_linkgraph_ops.py": 145,
    "test_streaming.py": 138,
    "test_bowtie.py": 97,
    "test_structure.py": 90,
    "test_pregel.py": 86,
    "test_labelprop.py": 83,
    "test_louvain.py": 79,
    "test_betweenness.py": 68,
    "test_recommend.py": 31,
    "test_msf.py": 21,
    "test_mis.py": 17,
    "test_sampling.py": 14,
    "test_layering.py": 14,
    "test_densest.py": 13,
    "test_sssp.py": 9,
    "test_triangles.py": 9,
    "test_multimodal.py": 6,
    "test_sources.py": 3,
    "test_package.py": 1,
    "test_parse.py": 1,
    "test_parse_property.py": 1,
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("-n", type=int, default=6, help="worker processes")
    ap.add_argument("rest", nargs="*", help="extra pytest args")
    args = ap.parse_args()

    files = sorted(
        (p.name for p in (REPO / "tests").glob("test_*.py")),
        key=lambda f: -DURATIONS.get(f, 60),
    )
    bins: list[tuple[float, list[str]]] = [(0.0, []) for _ in range(args.n)]
    for f in files:
        load, group = min(bins, key=lambda b: b[0])
        i = bins.index((load, group))
        group.append(f)
        bins[i] = (load + DURATIONS.get(f, 60), group)

    env = dict(os.environ)
    # keep N concurrent JVMs inside the sandbox: small driver heap each
    env.setdefault("SPARK_DRIVER_MEM", "6g")
    env["PYTHONPATH"] = str(REPO)

    procs = []
    t0 = time.monotonic()
    for i, (_, group) in enumerate(bins):
        if not group:
            continue
        log = tempfile.NamedTemporaryFile(
            mode="w+", prefix=f"ptest{i}_", suffix=".log", delete=False
        )
        cmd = [
            sys.executable, "-m", "pytest", "-q",
            *[f"tests/{f}" for f in group],
            *args.rest,
        ]
        p = subprocess.Popen(
            cmd, cwd=REPO, env=env, stdout=log, stderr=subprocess.STDOUT
        )
        procs.append((p, log, group))
        print(f"[worker {i}] {' '.join(group)}", flush=True)

    # watchdog: a worker that exceeds its group budget by a wide margin is
    # stuck (e.g. a driver-side planning stall), not slow — SIGABRT it so
    # pytest's faulthandler dumps the Python stack into the log, then fail
    # the run instead of hanging the whole suite indefinitely.
    deadline = time.monotonic() + max(
        900.0, 5.0 * max(DURATIONS.get(f, 60) for _, g in bins for f in g)
    ) if any(g for _, g in bins) else time.monotonic() + 900.0

    failed = False
    for p, log, group in procs:
        while True:
            try:
                rc = p.wait(timeout=30)
                break
            except subprocess.TimeoutExpired:
                if time.monotonic() > deadline:
                    import signal

                    print(
                        f"[watchdog] {group[0]}… exceeded the suite deadline "
                        f"— SIGABRT for a faulthandler stack dump",
                        flush=True,
                    )
                    p.send_signal(signal.SIGABRT)
                    try:
                        rc = p.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        p.kill()
                        rc = p.wait()
                    break
        log.flush()
        tail = Path(log.name).read_text().strip().splitlines()
        summary = tail[-1] if tail else "(no output)"
        status = "ok" if rc == 0 else f"FAILED rc={rc}"
        print(f"[{status}] {group[0]}… — {summary}", flush=True)
        if rc != 0:
            failed = True
            print("\n".join(tail[-40:]), flush=True)
        os.unlink(log.name)

    print(f"total wall: {time.monotonic() - t0:.0f}s", flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
