"""The NumPy oracles on graphs small enough to check by hand."""

import hashlib

import numpy as np
import pytest

from perfbench import oracles


def test_index_graph_orders_ids_and_keeps_extra_vertices():
    ids, s, d = oracles.index_graph(np.array(["b", "c"]), np.array(["c", "b"]), ["a"])
    assert ids.tolist() == ["a", "b", "c"]
    assert s.tolist() == [1, 2] and d.tolist() == [2, 1]


def test_pagerank_one_step_by_hand():
    # 0 -> 1, 0 -> 2, 1 -> 2; vertex 2 dangles
    rank, res = oracles.pagerank(np.array([0, 0, 1]), np.array([1, 2, 2]), 3, 1)
    assert rank.tolist() == pytest.approx([0.15, 0.15 + 0.85 * 0.5, 0.15 + 0.85 * 1.5])
    assert res[0] == pytest.approx(0.85 + (1 - 0.575) + (1.425 - 1))


def test_pagerank_drops_dangling_mass():
    rank, _ = oracles.pagerank(np.array([0]), np.array([1]), 2, 50)
    # 1 dangles: its mass is never passed on, so the ranks sum below V
    assert rank.tolist() == pytest.approx([0.15, 0.15 + 0.85 * 0.15])
    assert rank.sum() < 2


def test_min_label_components_ignore_direction():
    # {0,1,2} via 2->1->0 chain written backwards, {3,4}, {5} alone
    s, d = np.array([2, 1, 4]), np.array([1, 0, 3])
    assert oracles.min_label(s, d, 6).tolist() == [0, 0, 0, 3, 3, 5]


def test_min_label_long_path():
    n = 200
    s, d = np.arange(1, n), np.arange(0, n - 1)
    assert (oracles.min_label(s[::-1], d[::-1], n) == 0).all()


def test_check_ranks_and_labels():
    ids = np.array(["a", "b"])
    assert oracles.check_ranks(ids, np.array([1.0, 2.0]), {"a": 1.0, "b": 2.0 + 5e-7}) == []
    assert oracles.check_ranks(ids, np.array([1.0, 2.0]), {"a": 1.0, "b": 2.1})
    assert oracles.check_ranks(ids, np.array([1.0, 2.0]), {"a": 1.0})
    assert oracles.check_labels(ids, np.array([0, 0]), {"a": "a", "b": "a"}) == []
    assert oracles.check_labels(ids, np.array([0, 0]), {"a": "a", "b": "b"})


def test_edge_multiset_counts_duplicates():
    ts, td = ["a", "a", "b"], ["b", "b", "a"]
    assert oracles.check_edge_multiset(["b", "a", "a"], ["a", "b", "b"], ts, td) == []
    assert oracles.check_edge_multiset(["b", "a"], ["a", "b"], ts, td)
    assert oracles.check_edge_multiset(["b", "a", "b"], ["a", "b", "a"], ts, td)


def test_sha256_check():
    good = {"f": hashlib.sha256(b"x\n").hexdigest()}
    assert oracles.check_sha256({"f": "x\n"}, good) == []
    assert oracles.check_sha256({"f": "x"}, good)


def test_shingles_match_the_engine_rules():
    assert oracles.shingle_set("a b c d") == {("a", "b", "c"), ("b", "c", "d")}
    assert oracles.shingle_set(" a \t b ") == {("a", "b")}
    assert oracles.shingle_set("   ") == set()


def test_near_dup_check():
    texts = {"x": "a b c d e", "y": "a b c d f", "z": "q r s t"}
    j = oracles.jaccard(oracles.shingle_set(texts["x"]), oracles.shingle_set(texts["y"]))
    assert j == pytest.approx(0.5)
    assert oracles.check_near_dups([("x", "y", j)], texts, 0.5) == []
    assert oracles.check_near_dups([("x", "y", j)], texts, 0.7)
    assert oracles.check_near_dups([("y", "x", j)], texts, 0.5)
    assert oracles.check_near_dups([("x", "y", 0.9)], texts, 0.5)
