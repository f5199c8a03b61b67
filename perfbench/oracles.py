"""NumPy-only oracles for the benchmark's outputs. None of them uses Spark.

Each ``check_*`` returns a list of mismatch descriptions; an empty list means
the engine's output is correct.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np


def index_graph(src, dst, extra_ids=None):
    """Map id arrays to dense indices in sorted-id order.

    Returns ``(ids, src_idx, dst_idx)``; ``ids`` holds every endpoint and
    every id in ``extra_ids``, distinct and sorted, so index order is id
    order (min-label semantics carry over).
    """
    parts = [np.asarray(src), np.asarray(dst)]
    if extra_ids is not None:
        parts.append(np.asarray(extra_ids))
    ids, inv = np.unique(np.concatenate(parts), return_inverse=True)
    n_e = len(parts[0])
    return ids, inv[:n_e], inv[n_e : 2 * n_e]


def pagerank(src_idx, dst_idx, n: int, steps: int, damping: float = 0.85):
    """``steps`` reference supersteps from rank 1.0: ``rank = (1-d) + d·Σ
    rank[src]/outdeg[src]``; dangling vertices send nothing, so their mass
    is dropped. Returns ``(rank, residuals)`` with the L1 residual of each
    superstep."""
    outdeg = np.bincount(src_idx, minlength=n).astype(np.float64)
    w = 1.0 / outdeg[src_idx]
    rank = np.ones(n)
    residuals = []
    for _ in range(steps):
        new = (1.0 - damping) + damping * np.bincount(
            dst_idx, weights=rank[src_idx] * w, minlength=n
        )
        residuals.append(float(np.abs(new - rank).sum()))
        rank = new
    return rank, residuals


def min_label(src_idx, dst_idx, n: int):
    """Connected-component labels over the undirected view: each vertex's
    label is the smallest index in its component (the min-label fixpoint)."""
    label = np.arange(n)
    while True:
        new = label.copy()
        np.minimum.at(new, dst_idx, label[src_idx])
        np.minimum.at(new, src_idx, label[dst_idx])
        # pointer jump: a label is itself a vertex, whose label is no larger
        new = new[new]
        if np.array_equal(new, label):
            return label
        label = new


def check_ranks(ids, expected, got: dict, atol: float = 1e-6, rtol: float = 0.0) -> list[str]:
    """Per-vertex ``allclose`` of the engine's ``{id: rank}`` to ``expected``."""
    if len(got) != len(ids):
        return [f"rank table has {len(got)} vertices, expected {len(ids)}"]
    missing = next((i for i in ids.tolist() if i not in got), None)
    if missing is not None:
        return [f"vertex {missing!r} missing from the rank table"]
    vals = np.array([got[i] for i in ids.tolist()])
    bad = ~np.isclose(vals, expected, atol=atol, rtol=rtol)
    if bad.any():
        k = int(np.argmax(bad))
        return [f"{int(bad.sum())} ranks off; e.g. {ids[k]!r}: {vals[k]} vs {expected[k]}"]
    return []


def check_labels(ids, expected_idx, got: dict) -> list[str]:
    """Exact component labels; ``expected_idx`` holds label indices into ``ids``."""
    if len(got) != len(ids):
        return [f"label table has {len(got)} vertices, expected {len(ids)}"]
    want = ids[expected_idx]
    for i, w in zip(ids.tolist(), want.tolist()):
        if got.get(i) != w:
            return [f"vertex {i!r}: label {got.get(i)!r}, expected {w!r}"]
    return []


def check_edge_multiset(src, dst, truth_src, truth_dst) -> list[str]:
    """The extracted edge list equals the ground truth as a multiset."""
    got = np.sort(np.char.add(np.char.add(np.asarray(src, dtype=str), "\t"),
                              np.asarray(dst, dtype=str)))
    want = np.sort(np.char.add(np.char.add(np.asarray(truth_src, dtype=str), "\t"),
                               np.asarray(truth_dst, dtype=str)))
    if len(got) != len(want):
        return [f"{len(got)} edges extracted, ground truth has {len(want)}"]
    if not np.array_equal(got, want):
        k = int(np.argmax(got != want))
        return [f"edge multiset differs at sorted position {k}: {got[k]!r} vs {want[k]!r}"]
    return []


def check_sha256(contents: dict, got: dict) -> list[str]:
    """``got`` (file id -> hex sha256 from the engine) matches ``hashlib``."""
    if len(got) != len(contents):
        return [f"{len(got)} content hashes, expected {len(contents)}"]
    for fid, text in contents.items():
        if got.get(fid) != hashlib.sha256(text.encode("utf-8")).hexdigest():
            return [f"content of {fid!r} changed between source and parse"]
    return []


# whitespace as Java's regex \s sees it (the engine tokenizes in the JVM)
_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def shingle_set(text: str, k: int = 3) -> set:
    """The engine's shingles: trim spaces, split on whitespace, every k-token
    window (one short window when the text has fewer than k tokens)."""
    text = text.strip(" ")
    if not text:
        return set()
    toks = _WS.split(text)
    return {tuple(toks[i : i + k]) for i in range(max(len(toks) - k, 0) + 1)}


def jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def check_near_dups(pairs, texts: dict, threshold: float, k: int = 3) -> list[str]:
    """Every emitted ``(id_a, id_b, jaccard)`` has exact Jaccard ≥ threshold,
    equal to the emitted value, with ``id_a < id_b`` and no repeats."""
    cache: dict = {}

    def sh(i):
        if i not in cache:
            cache[i] = shingle_set(texts[i], k)
        return cache[i]

    seen = set()
    for a, b, j in pairs:
        if not a < b:
            return [f"pair ({a!r}, {b!r}) is not ordered"]
        if (a, b) in seen:
            return [f"pair ({a!r}, {b!r}) emitted twice"]
        seen.add((a, b))
        exact = jaccard(sh(a), sh(b))
        if exact < threshold or abs(exact - j) > 1e-9:
            return [f"pair ({a!r}, {b!r}): emitted {j}, exact Jaccard {exact}"]
    return []
