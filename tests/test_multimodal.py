"""Multimodal binary-column operators: decode/feature/resize/frame-sample
plumbing over Arrow-batched mapInPandas kernels (codec step stubbed —
no PIL/ffmpeg in this container, see functions/multimodal.py)."""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pytest

from duwamish_spark.functions.multimodal import (
    MAGIC,
    decode_media,
    embed_media,
    frame_sample,
    resize_media,
    synth_media,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(f"d{i}", f"document number {i} with some text " * (1 + i % 3)) for i in range(30)]
    return spark.createDataFrame(rows, "doc_id string, text string")


@pytest.fixture(scope="module")
def media(spark, docs):
    return synth_media(docs).persist()


def test_synth_media_deterministic_schema(media, docs):
    rows = media.collect()
    assert len(rows) == 30
    assert set(media.columns) == {"media_id", "kind", "payload", "width", "height", "n_frames"}
    for r in rows:
        assert bytes(r.payload)[:4] == MAGIC
        w, h = struct.unpack(">II", bytes(r.payload)[4:12])
        assert (w, h) == (r.width, r.height)
        assert r.kind in ("image", "audio", "video")
    # determinism: regenerating yields identical payloads
    again = {r.media_id: bytes(r.payload) for r in synth_media(docs).collect()}
    assert all(again[r.media_id] == bytes(r.payload) for r in rows)


def test_decode_media_features(media):
    feats = {r.media_id: r for r in decode_media(media).collect()}
    for r in media.collect():
        f = feats[r.media_id]
        body = np.frombuffer(bytes(r.payload)[16:], dtype=np.uint8)
        assert f.n_bytes == len(bytes(r.payload))
        assert f.body_sha256 == hashlib.sha256(body.tobytes()).hexdigest()
        assert f.width == r.width and f.height == r.height
        assert abs(f.mean_byte - float(body.mean())) < 1e-9


def test_decode_requires_real_codecs_is_stubbed(media):
    with pytest.raises(NotImplementedError):
        decode_media(media, require_real_codecs=True).collect()


def test_injected_codec_through_same_kernel(media):
    # the pluggable codec boundary: a real deployment injects a PIL/ffmpeg
    # decoder with this exact signature; here a deterministic fake codec
    # proves the mapInPandas kernel, schema, and stats wiring are shared
    def fake_codec(payload: bytes, kind: str) -> tuple[int, int, bytes]:
        body = payload[-8:]  # "decode" = last 8 bytes
        return 4, 2, body

    feats = {r.media_id: r for r in decode_media(media, codec=fake_codec).collect()}
    for r in media.collect():
        f = feats[r.media_id]
        body = bytes(r.payload)[-8:]
        arr = np.frombuffer(body, dtype=np.uint8)
        assert (f.width, f.height) == (4, 2)
        assert f.n_bytes == len(bytes(r.payload))
        assert f.body_sha256 == hashlib.sha256(body).hexdigest()
        assert abs(f.mean_byte - float(arr.mean())) < 1e-9


def test_frame_sample_counts(media):
    vids = {r.media_id: r for r in media.where("kind = 'video'").collect()}
    sampled = frame_sample(media, every_k=2).collect()
    assert sampled, "expected at least one video in 30 docs"
    per_media: dict[str, list[int]] = {}
    for r in sampled:
        per_media.setdefault(r.media_id, []).append(r.frame_index)
        v = vids[r.media_id]
        assert len(bytes(r.frame)) == v.width * v.height
    for mid, idxs in per_media.items():
        n = vids[mid].n_frames
        assert sorted(idxs) == list(range(0, n, 2))


def test_resize_clamps_dims(media):
    out = resize_media(media, max_side=10).collect()
    imgs = {r.media_id for r in media.where("kind = 'image'").collect()}
    assert {r.media_id for r in out} == imgs
    for r in out:
        assert max(r.width, r.height) <= 10
        assert bytes(r.payload)[:4] == MAGIC
        assert len(bytes(r.payload)) == 16 + r.width * r.height


def test_embed_media_feeds_ann(media, spark):
    from pyspark.sql import functions as F

    from duwamish_spark.functions import knn_cosine

    emb = embed_media(media, dim=16)
    rows = emb.collect()
    for r in rows:
        v = np.array(r.embedding)
        assert v.shape == (16,)
        assert abs(np.linalg.norm(v) - 1.0) < 1e-3
    knn = knn_cosine(
        emb.select(F.col("media_id").alias("vec_id"), "embedding"), k=2
    ).collect()
    assert {r.vec_id for r in knn} == {r.media_id for r in rows}


def test_perrow_kernel_equals_vectorized(media, spark):
    # the per-row loop is the A/B reference (BENCH/media_ab.json) -- byte-for-byte
    # identical output to the vectorized prefix-sum kernel, including a
    # malformed (non-DWMM / short) payload row
    from pyspark.sql import functions as F

    bad = spark.createDataFrame(
        [("bad1", "image", bytearray(b"xx")), ("bad2", "audio", bytearray(b"NOPE" * 5))],
        "media_id string, kind string, payload binary",
    )
    both = media.select("media_id", "kind", "payload").unionAll(bad)

    def snap(kernel):
        rows = decode_media(both, kernel=kernel).collect()
        return sorted(
            (
                r["media_id"], r["kind"], r["n_bytes"], r["body_sha256"],
                r["width"], r["height"],
                None if r["mean_byte"] is None else round(r["mean_byte"], 9),
                None if r["std_byte"] is None else round(r["std_byte"], 9),
            )
            for r in rows
        )

    assert snap("perrow") == snap("vectorized")
    with pytest.raises(ValueError):
        decode_media(media, kernel="nope")
