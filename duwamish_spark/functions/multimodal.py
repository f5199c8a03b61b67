"""Multimodal columns: image/audio/video as opaque ``binary`` payloads.

Design (the 100 TB story): media bytes ride in a ``payload binary`` column
next to typed metadata; all decode / feature-extract / resize /
frame-sample operators are Arrow-batched ``mapInPandas`` kernels so the
bytes never round-trip through per-row Python, and the operators compose
with the rest of the engine (dedup on payload hash, ANN on media
embeddings) as ordinary DataFrames.

Codec reality in this container: the image/audio libraries (PIL,
torchvision, ffmpeg) are NOT installed, so the *codec* step is stubbed —
``decode_media`` parses the deterministic header written by
``synth_media`` (or raises ``NotImplementedError`` for real codecs via
``require_real_codecs=True``), while everything Spark-side — schema,
Arrow batch shape, partitioning, UDF signatures, explode semantics — is
real and tested.

Media payload layout produced by :func:`synth_media` (16-byte header +
body)::

    bytes 0-3   magic b"DWMM"
    bytes 4-7   width  (big-endian uint32; audio: sample-rate proxy)
    bytes 8-11  height (big-endian uint32 — always height, for every kind)
    bytes 12-15 kind tag (b"img\\0" / b"aud\\0" / b"vid\\0")
    bytes 16-   body (deterministic pseudo-pixels derived from the seed text)

``n_frames`` is NOT stored in the header — it is derived as
``len(body) // (width * height)``: 1 for images and audio (body is one
width*height block), 2-7 for video (body is n_frames blocks).
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAGIC = b"DWMM"
_KIND_TAG = {"image": b"img\x00", "audio": b"aud\x00", "video": b"vid\x00"}
_TAG_KIND = {v: k for k, v in _KIND_TAG.items()}

MEDIA_SCHEMA = (
    "media_id string, kind string, payload binary, "
    "width int, height int, n_frames int"
)

_HAVE_PIL = False
try:  # pragma: no cover - not installed in this container
    import PIL.Image  # noqa: F401

    _HAVE_PIL = True
except ImportError:
    pass


def _synth_payload(text: bytes, kind: str) -> bytes:
    """Deterministic fake media bytes seeded from ``text``."""
    h = hashlib.sha256(text).digest()
    width = 8 + h[0] % 24
    height = 8 + h[1] % 24
    n_frames = 1 if kind == "image" else 2 + h[2] % 6
    body_len = width * height if kind != "video" else width * height * n_frames
    # body = repeating digest, cheap and deterministic
    body = (h * (body_len // len(h) + 1))[:body_len]
    return (
        MAGIC
        + struct.pack(">II", width, height)
        + _KIND_TAG[kind]
        + body
    )


def synth_media(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Derive a deterministic media table from a document table.

    One media row per document; kind cycles image/audio/video by id hash.
    Vectorized ``mapInPandas`` (Arrow batches), no per-row Python UDF.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kinds = np.array(["image", "audio", "video"])
        for pdf in batches:
            texts = pdf[text_col].astype(str)
            kind_idx = pd.util.hash_pandas_object(pdf[id_col].astype(str), index=False).to_numpy() % 3
            kind = kinds[kind_idx]
            payloads, widths, heights, frames = [], [], [], []
            for t, k in zip(texts.to_numpy(), kind):
                p = _synth_payload(t.encode("utf-8"), k)
                w, hgt = struct.unpack(">II", p[4:12])
                payloads.append(p)
                widths.append(w)
                heights.append(hgt)
                frames.append(1 if k == "image" else len(p[16:]) // max(w * hgt, 1))
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype(str),
                    "kind": kind,
                    "payload": payloads,
                    "width": np.asarray(widths, dtype=np.int32),
                    "height": np.asarray(heights, dtype=np.int32),
                    "n_frames": np.asarray(frames, dtype=np.int32),
                }
            )

    return docs.select(id_col, text_col).mapInPandas(gen, MEDIA_SCHEMA)


FEATURES_SCHEMA = (
    "media_id string, kind string, n_bytes long, body_sha256 string, "
    "width int, height int, mean_byte double, std_byte double"
)


_SQUARE_LUT = None


def _segment_sums(
    vals: "np.ndarray",
    starts: "np.ndarray",
    ends: "np.ndarray",
    square: bool = False,
) -> "np.ndarray":
    """Per-segment sums (or sums of squares) over a 1-D uint8 array — one
    ``np.add.reduceat`` call instead of a Python loop over segments.
    ``starts``/``ends`` must be non-decreasing across segments (contiguous
    row layout).

    Implementation: int64 prefix sum + two gathers (``csum[e] - csum[s]``)
    — exact for integer inputs, one linear pass, no per-segment Python.
    Measured at Arrow batch granularity (10k rows, warm worker): 1.64x
    over the per-row NumPy loop, with the per-row sha256 floor at ~10% of
    the batch cost. Rejected alternatives: inflating the byte buffer to
    int64 before ``np.add.reduceat`` (8x memory copy, memory-bound) and
    ``np.add.reduceat(..., dtype=np.int64)`` (fast warm, but a
    pathological per-segment first-call penalty per process per dtype
    combination). Squares go through a 256-entry lookup table (uint32,
    one same-size gather) before the prefix sum.
    """
    global _SQUARE_LUT
    if square:
        if _SQUARE_LUT is None:
            _SQUARE_LUT = np.arange(256, dtype=np.uint32) ** 2
        vals = _SQUARE_LUT[vals]
    csum = np.empty(len(vals) + 1, dtype=np.int64)
    csum[0] = 0
    np.cumsum(vals, dtype=np.int64, out=csum[1:])
    return csum[ends] - csum[starts]


def _pil_codec(payload: bytes, kind: str) -> tuple[int, int, bytes]:
    """Real-image codec adapter (used when PIL is importable): decode the
    payload with PIL and return (width, height, grayscale body bytes) in
    the same shape the synthetic header parse produces."""  # pragma: no cover
    import io

    import PIL.Image

    img = PIL.Image.open(io.BytesIO(payload)).convert("L")
    return img.width, img.height, img.tobytes()


def decode_media(
    media: DataFrame,
    require_real_codecs: bool = False,
    codec: "object | None" = None,
    kernel: str = "vectorized",
) -> DataFrame:
    """Decode payloads into per-media features (the "decode + feature
    extract" stage).

    ``codec``: optional ``(payload: bytes, kind: str) -> (width, height,
    body: bytes)`` callable — the pluggable per-item codec boundary. A real
    deployment passes a PIL/ffmpeg-backed decoder here (per-item work is
    inherently row-at-a-time); when PIL is importable
    ``require_real_codecs=True`` wires :func:`_pil_codec` automatically,
    otherwise it raises ``NotImplementedError`` — the honest stub.

    The default (codec=None) path parses the :func:`synth_media` header and
    computes body statistics fully vectorized across the Arrow batch:
    header fields via NumPy gathers over one concatenated buffer, body
    sums/sq-sums via a prefix-sum kernel — no per-row Python except the
    sha256 digest (stdlib hashlib has no batch API; it is the per-item
    codec-like step).

    ``kernel``: ``"vectorized"`` (default, above) or ``"perrow"`` — the
    per-row NumPy loop kept as the measured A/B reference
    (BENCH/media_ab.json); identical output (tested).
    """
    if require_real_codecs and codec is None:
        if not _HAVE_PIL:
            raise NotImplementedError(
                "real image/audio codecs (PIL/ffmpeg) are not installed in "
                "this container; the Spark-side plumbing is real, the codec "
                "is stubbed — pass codec=... to inject one"
            )
        codec = _pil_codec  # pragma: no cover

    cols = ["media_id", "kind", "n_bytes", "body_sha256",
            "width", "height", "mean_byte", "std_byte"]

    def run_codec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # injected-codec path: the decode itself is per-item by nature;
        # stats stay vectorized over the decoded bodies
        for pdf in batches:
            rows = []
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                b = bytes(payload)
                w, hgt, body_bytes = codec(b, kind)
                body = np.frombuffer(body_bytes, dtype=np.uint8)
                rows.append((
                    mid, kind, len(b), hashlib.sha256(body_bytes).hexdigest(),
                    w, hgt,
                    float(body.mean()) if body.size else 0.0,
                    float(body.std()) if body.size else 0.0,
                ))
            yield pd.DataFrame(rows, columns=cols)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pd.DataFrame(columns=cols)
                continue
            payloads = [bytes(p) for p in pdf["payload"]]
            lens = np.fromiter(map(len, payloads), dtype=np.int64, count=n)
            joined = b"".join(payloads)
            buf = np.frombuffer(joined, dtype=np.uint8)
            off = np.concatenate([np.zeros(1, dtype=np.int64), np.cumsum(lens)[:-1]])
            limit = max(buf.size - 1, 0)

            def gather(delta: int) -> np.ndarray:
                return buf[np.minimum(off + delta, limit)].astype(np.int64) if buf.size else np.zeros(n, dtype=np.int64)

            ok = lens >= 16
            for j, mb in enumerate(MAGIC):
                ok &= gather(j) == mb
            width = (gather(4) << 24) | (gather(5) << 16) | (gather(6) << 8) | gather(7)
            height = (gather(8) << 24) | (gather(9) << 16) | (gather(10) << 8) | gather(11)

            # stat/sha region: body for DWMM rows, the whole payload otherwise
            starts = np.where(ok, off + 16, off)
            ends = off + lens
            sizes = ends - starts
            sums = _segment_sums(buf, starts, ends)
            sqsums = _segment_sums(buf, starts, ends, square=True)
            safe_n = np.maximum(sizes, 1).astype(np.float64)
            mean = sums / safe_n
            var = np.maximum(sqsums / safe_n - mean * mean, 0.0)
            std = np.sqrt(var)

            # per-row sha256: no batch API in stdlib; memoryview slices
            # avoid re-copying the payload bytes
            mem = memoryview(joined)
            shas = [
                hashlib.sha256(mem[s:e]).hexdigest()
                for s, e in zip(starts.tolist(), ends.tolist())
            ]
            bad = ~ok
            width_s = pd.Series(np.where(ok, width, 0), dtype="Int32")
            height_s = pd.Series(np.where(ok, height, 0), dtype="Int32")
            mean_s = pd.Series(mean, dtype="Float64")
            std_s = pd.Series(std, dtype="Float64")
            for s_ in (width_s, height_s, mean_s, std_s):
                s_[bad] = None
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "kind": pdf["kind"].to_numpy(),
                    "n_bytes": lens,
                    "body_sha256": shas,
                    "width": width_s,
                    "height": height_s,
                    "mean_byte": mean_s,
                    "std_byte": std_s,
                }
            )

    def run_perrow(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                b = bytes(payload)
                if b[:4] != MAGIC or len(b) < 16:
                    rows.append((mid, kind, len(b), hashlib.sha256(b).hexdigest(),
                                 None, None, None, None))
                    continue
                w, hgt = struct.unpack(">II", b[4:12])
                body = np.frombuffer(b[16:], dtype=np.uint8)
                rows.append((
                    mid, kind, len(b), hashlib.sha256(b[16:]).hexdigest(), w, hgt,
                    float(body.mean()) if body.size else 0.0,
                    float(body.std()) if body.size else 0.0,
                ))
            yield pd.DataFrame(rows, columns=cols)

    if kernel not in ("vectorized", "perrow"):
        raise ValueError(f"unknown decode kernel {kernel!r}")
    fn = run_codec if codec is not None else (run if kernel == "vectorized" else run_perrow)
    return media.select("media_id", "kind", "payload").mapInPandas(
        fn, FEATURES_SCHEMA
    )


def frame_sample(media: DataFrame, every_k: int = 2) -> DataFrame:
    """Sample every k-th frame of video payloads into one row per frame.

    Output: ``(media_id, frame_index, frame binary)``. Non-video rows are
    dropped. At scale this is the fan-out stage before per-frame feature
    extraction — partitioning by ``media_id`` keeps a video's frames
    co-located.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vids = pdf[pdf["kind"] == "video"]
            n = len(vids)
            if n == 0:
                yield pd.DataFrame({"media_id": [], "frame_index": [], "frame": []})
                continue
            # vectorized header parse over one concatenated buffer (same
            # technique as decode_media); only the per-frame byte slicing
            # stays row-at-a-time — it constructs the output objects
            payloads = [bytes(p) for p in vids["payload"]]
            lens = np.fromiter(map(len, payloads), dtype=np.int64, count=n)
            joined = b"".join(payloads)
            buf = np.frombuffer(joined, dtype=np.uint8)
            off = np.concatenate([np.zeros(1, dtype=np.int64), np.cumsum(lens)[:-1]])
            limit = max(buf.size - 1, 0)

            def gather(delta: int) -> np.ndarray:
                return buf[np.minimum(off + delta, limit)].astype(np.int64) if buf.size else np.zeros(n, dtype=np.int64)

            ok = lens >= 16
            for j, mb in enumerate(MAGIC):
                ok &= gather(j) == mb
            width = (gather(4) << 24) | (gather(5) << 16) | (gather(6) << 8) | gather(7)
            height = (gather(8) << 24) | (gather(9) << 16) | (gather(10) << 8) | gather(11)
            fsize = np.maximum(width * height, 1)
            n_frames = np.where(ok, (lens - 16) // fsize, 0)

            mem = memoryview(joined)
            mids = vids["media_id"].to_numpy()
            out_id, out_idx, out_frame = [], [], []
            for r in np.nonzero(n_frames > 0)[0]:
                base, fs = int(off[r]) + 16, int(fsize[r])
                for i in range(0, int(n_frames[r]), every_k):
                    out_id.append(mids[r])
                    out_idx.append(i)
                    out_frame.append(bytes(mem[base + i * fs: base + (i + 1) * fs]))
            yield pd.DataFrame(
                {"media_id": out_id, "frame_index": out_idx, "frame": out_frame}
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        run, "media_id string, frame_index int, frame binary"
    )


def resize_media(media: DataFrame, max_side: int = 16) -> DataFrame:
    """Resize stub: recomputes target dimensions (aspect-preserving,
    clamped to ``max_side``) and subsamples the fake body accordingly.

    A real deployment would swap the body transform for PIL/libvips inside
    the same kernel — signature, schema, and batch shape are unchanged.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                b = bytes(payload)
                if b[:4] != MAGIC or kind != "image":
                    continue
                w, hgt = struct.unpack(">II", b[4:12])
                scale = max(w, hgt) / max_side
                nw, nh = (max(1, int(w / scale)), max(1, int(hgt / scale))) if scale > 1 else (w, hgt)
                body = np.frombuffer(b[16:16 + w * hgt], dtype=np.uint8)
                if body.size == w * hgt:
                    grid = body.reshape(hgt, w)
                    ys = np.linspace(0, hgt - 1, nh).astype(int)
                    xs = np.linspace(0, w - 1, nw).astype(int)
                    nb = grid[np.ix_(ys, xs)].tobytes()
                else:
                    nb = b[16:]
                rows.append(
                    (mid, MAGIC + struct.pack(">II", nw, nh) + _KIND_TAG["image"] + nb, nw, nh)
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "payload", "width", "height"]
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        run, "media_id string, payload binary, width int, height int"
    )


def embed_media(media: DataFrame, dim: int = 16) -> DataFrame:
    """Deterministic fake media embedding (sha-derived, unit-norm) —
    stands in for a model forward pass; output feeds the ANN operators
    (`functions.similarity`) unchanged."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pd.DataFrame({"media_id": [], "embedding": []})
                continue
            # sha256 is the per-item "model forward" stand-in; everything
            # after the digests is one batched NumPy computation
            reps = dim * 4 // 32 + 1
            digests = b"".join(
                hashlib.sha256(bytes(p)).digest() for p in pdf["payload"]
            )
            arr = np.frombuffer(digests, dtype=np.uint8).reshape(n, 32)
            raw = (
                np.ascontiguousarray(np.tile(arr, (1, reps))[:, : dim * 4])
                .view(np.uint32)
            )
            v = (raw.astype(np.float64) / np.iinfo(np.uint32).max) - 0.5
            norms = np.linalg.norm(v, axis=1, keepdims=True)
            norms[norms == 0.0] = 1.0
            v = (v / norms).astype(np.float32)
            yield pd.DataFrame(
                {"media_id": pdf["media_id"].to_numpy(), "embedding": list(v)}
            )

    return media.select("media_id", "payload").mapInPandas(
        run, "media_id string, embedding array<float>"
    )
