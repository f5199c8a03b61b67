"""BENCHMARK.json agrees with the metric and workload definitions."""

import json
import os

from perfbench import metrics
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def load():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_workloads_match():
    spec = load()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert all(w["why"] and "\n" not in w["why"] for w in spec["workloads"])


def test_end_to_end_metrics_match():
    spec = load()
    got = {m["name"]: (m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]}
    assert got == metrics.E2E
    assert max(b for _, _, b in got.values()) == got["setup_s"][2]


def test_per_layer_metrics_match_and_name_what_they_move():
    spec = load()
    got = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert got == {k: v[:2] for k, v in metrics.PER_LAYER.items()}
    for name, (_, _, moves) in metrics.PER_LAYER.items():
        for e2e, workloads in moves.items():
            assert e2e in metrics.E2E or e2e == "error_rate", name
            assert set(workloads) <= set(WORKLOADS), name


def test_layer_metrics_cover_every_per_layer_metric():
    produced = set(metrics.layer_metrics([], slots=4))
    produced |= {"spark.failed_tasks"} | {k for k in metrics.PER_LAYER if k.startswith("trace.")}
    assert produced == set(metrics.PER_LAYER)
