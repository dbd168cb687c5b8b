"""Multimodal-column plumbing tests (operators.multimodal): real binary
packing + Arrow decode round-trip; stubbed codec ops must fail loudly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from savio_training_dask_2019_spark.operators import (
    MEDIA_META_SCHEMA,
    decode_meta,
    embedding_near_dup_pairs,
    pack_payload,
    resize_images,
    sample_frames,
)


@pytest.fixture(scope="module")
def packed(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, ""), (3, "x" * 1000)], ["doc_id", "text"]
    )
    return pack_payload(df, "text", "text/plain", "doc_id")


def test_pack_payload_schema_and_meta(packed):
    assert dict(packed.dtypes)["payload"] == "binary"
    rows = {r["id"]: r for r in packed.collect()}
    assert rows[1]["payload"] == b"hello world"
    assert rows[1]["meta"]["mime"] == "text/plain"
    assert rows[1]["meta"]["byte_len"] == 11
    assert rows[2]["meta"]["byte_len"] == 0
    assert rows[3]["meta"]["uri"] == "mem://3"
    assert {f.name for f in MEDIA_META_SCHEMA.fields} == set(
        rows[1]["meta"].asDict().keys()
    )


def test_decode_meta_deterministic_fake(packed):
    rows = {r["id"]: r for r in decode_meta(packed).collect()}
    # fake codec arithmetic, computable by hand: n=11, first=ord('h')=104
    assert rows[1]["width"] == 64 + 11 % 577
    assert rows[1]["height"] == 64 + (11 * 31 + 104) % 577
    assert rows[1]["checksum"] == (11 * 2654435761) % (1 << 31)
    assert rows[2]["width"] == 64 and rows[2]["checksum"] == 0  # empty payload
    again = {r["id"]: r for r in decode_meta(packed).collect()}
    assert rows == again


def _py_nearest_resize(buf, w, h, out_w, out_h):
    """Pure-Python reference for the numpy kernel: independent index math."""
    rows = []
    for y in range(out_h):
        sy = (y * h) // out_h
        row = buf[sy * w : (sy + 1) * w]
        rows.append(bytes(row[(x * w) // out_w] for x in range(out_w)))
    return b"".join(rows)


def test_synthesize_raw_images_payload_contract(spark):
    from savio_training_dask_2019_spark.operators import synthesize_raw_images

    df = spark.createDataFrame(
        [(1, "hello world"), (2, ""), (3, "x" * 1000)], ["doc_id", "text"]
    )
    rows = {r["id"]: r for r in synthesize_raw_images(df, "text", "doc_id").collect()}
    for r in rows.values():
        assert len(r["payload"]) == r["width"] * r["height"]  # raw8 contract
    # pixel buffer is the source bytes tiled, so content determines pixels
    b = "hello world".encode()
    assert rows[1]["payload"][: len(b)] == b
    assert rows[2]["payload"] == bytes(rows[2]["width"] * rows[2]["height"])  # empty -> zeros


def test_resize_images_matches_python_reference(spark):
    from savio_training_dask_2019_spark.operators import (
        resize_images,
        synthesize_raw_images,
    )

    df = spark.createDataFrame(
        [(1, "the quick brown fox " * 7), (2, "z"), (3, "abc" * 301)],
        ["doc_id", "text"],
    )
    imgs = synthesize_raw_images(df, "text", "doc_id")
    src = {r["id"]: r for r in imgs.collect()}
    out = {r["id"]: r for r in resize_images(imgs, size=(16, 12)).collect()}
    for i, r in out.items():
        assert (r["width"], r["height"]) == (16, 12)
        ref = _py_nearest_resize(
            src[i]["payload"], src[i]["width"], src[i]["height"], 16, 12
        )
        assert bytes(r["payload"]) == ref  # numpy kernel == reference, bit-for-bit
        assert r["px_sum"] == sum(ref)
    tiny = {r["id"]: r for r in resize_images(imgs, size=(1, 1)).collect()}
    for i, r in tiny.items():
        assert len(r["payload"]) == 1 and r["px_sum"] == src[i]["payload"][0]
    with pytest.raises(ValueError, match="size must be positive"):
        resize_images(imgs, size=(0, 4))


def test_sample_frames_fanout_and_timestamps(spark):
    from savio_training_dask_2019_spark.operators import (
        sample_frames,
        synthesize_raw_video,
    )

    df = spark.createDataFrame(
        [(1, "some video-ish text"), (2, "y" * 123)], ["doc_id", "text"]
    )
    vids = synthesize_raw_video(df, "text", "doc_id")
    meta = {r["id"]: r for r in vids.collect()}
    for r in meta.values():
        assert len(r["payload"]) == r["width"] * r["height"] * r["n_frames"]
        assert r["duration_ms"] == r["n_frames"] * 250  # 4 fps
    frames = sample_frames(vids, every_ms=500)  # stride 2 at 4 fps
    got = {}
    for r in frames.collect():
        got.setdefault(r["id"], []).append(r)
        m = meta[r["id"]]
        fsz = m["width"] * m["height"]
        start = r["frame_idx"] * fsz
        assert bytes(r["payload"]) == bytes(m["payload"][start : start + fsz])
        assert r["t_ms"] == r["frame_idx"] * 250
    for i, rs in got.items():
        n = meta[i]["n_frames"]
        assert sorted(r["frame_idx"] for r in rs) == list(range(0, n, 2))
    with pytest.raises(ValueError, match="every_ms must be positive"):
        sample_frames(vids, every_ms=0)


def test_sample_frames_renamed_metadata_columns(spark):
    """The metadata columns are parameterized like payload/id: a frame
    table with renamed width/height/n_frames columns must sample
    identically to the canonical schema."""
    from savio_training_dask_2019_spark.operators import (
        sample_frames,
        synthesize_raw_video,
    )

    df = spark.createDataFrame([(7, "renamed-cols clip")], ["doc_id", "text"])
    vids = synthesize_raw_video(df, "text", "doc_id")
    base = sorted(tuple(r) for r in sample_frames(vids, every_ms=500).collect())
    renamed = (
        vids.withColumnRenamed("width", "w")
        .withColumnRenamed("height", "h")
        .withColumnRenamed("n_frames", "nf")
    )
    got = sorted(
        tuple(r)
        for r in sample_frames(
            renamed, every_ms=500, width_col="w", height_col="h", n_frames_col="nf"
        ).collect()
    )
    assert got == base


def test_embedding_near_dup_brute_vs_lsh(spark):
    # two planted near-dup clusters + noise
    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0, 0.0]),     # near 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.98, 0.15, 0.0]),    # near 2
        (4, [0.5, 0.5, 0.5, 0.5]),
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    brute = {(r["id_a"], r["id_b"]) for r in
             embedding_near_dup_pairs(df, "embedding", "vec_id", 0.95, "brute").collect()}
    assert brute == {(0, 1), (2, 3)}
    with pytest.raises(ValueError, match="unknown method"):
        embedding_near_dup_pairs(df, "embedding", "vec_id", 0.9, "bogus")


def _py_pcm16(text: str) -> bytes:
    """Pure-Python reference for synthesize_raw_audio's PCM contract."""
    import struct

    b = text.encode("utf-8")
    n_samples = 512 + (len(b) * 7) % 1536
    src = list(b) if b else [0]
    if b:
        wave = [((x - 128) * 256 + 2**15) % 2**16 - 2**15 for x in src]
    else:
        wave = [0]
    tiled = [wave[i % len(wave)] for i in range(n_samples)]
    return struct.pack(f"<{n_samples}h", *tiled)


def test_synthesize_raw_audio_matches_python_reference(spark):
    from savio_training_dask_2019_spark.operators import synthesize_raw_audio

    df = spark.createDataFrame(
        [(1, "pcm sixteen little endian"), (2, ""), (3, "q" * 777)],
        ["doc_id", "text"],
    )
    rows = {r["id"]: r for r in synthesize_raw_audio(df, "text", "doc_id").collect()}
    texts = {1: "pcm sixteen little endian", 2: "", 3: "q" * 777}
    for i, r in rows.items():
        ref = _py_pcm16(texts[i])
        assert bytes(r["payload"]) == ref  # bit-for-bit PCM contract
        assert len(r["payload"]) == 2 * r["n_samples"]
        assert r["duration_ms"] == r["n_samples"] * 1000 // 8000


def test_audio_features_match_python_reference(spark):
    """Frame RMS / zero-crossing numpy kernels == a pure-Python reference
    (math module only), per frame, to the rounded 4 decimals shipped."""
    import math
    import struct

    from savio_training_dask_2019_spark.operators import (
        audio_features,
        synthesize_raw_audio,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta " * 5), (2, "yo")], ["doc_id", "text"]
    )
    clips = synthesize_raw_audio(df, "text", "doc_id")
    src = {r["id"]: bytes(r["payload"]) for r in clips.collect()}
    out = {r["id"]: r for r in audio_features(clips, frame_len=256).collect()}
    for i, r in out.items():
        wave = struct.unpack(f"<{len(src[i]) // 2}h", src[i])
        n_frames = len(wave) // 256
        assert r["n_frames"] == n_frames
        for k in range(n_frames):
            fr = wave[k * 256 : (k + 1) * 256]
            rms = math.sqrt(sum(x * x for x in fr) / 256)
            assert abs(r["frame_rms"][k] - round(rms, 4)) < 1e-9
            flips = sum(1 for a, b in zip(fr, fr[1:]) if (a < 0) != (b < 0))
            assert abs(r["frame_zcr"][k] - round(flips / 255, 4)) < 1e-9
        full_rms = math.sqrt(sum(x * x for x in wave) / len(wave))
        assert abs(r["rms"] - round(full_rms, 4)) < 1e-9
    with pytest.raises(ValueError, match="frame_len"):
        audio_features(clips, frame_len=1)


def test_image_features_match_python_reference(spark):
    """Per-image mean/std/histogram kernels == a pure-Python reference
    (math module only), to the rounded 4 decimals shipped."""
    import math

    from savio_training_dask_2019_spark.operators import (
        image_features,
        synthesize_raw_images,
    )

    df = spark.createDataFrame(
        [(1, "histogram of tiled utf8 bytes"), (2, "x"), (3, "é" * 40)],
        ["doc_id", "text"],
    )
    imgs = synthesize_raw_images(df, "text", "doc_id")
    src = {r["id"]: (bytes(r["payload"]), r["width"], r["height"]) for r in imgs.collect()}
    out = {r["id"]: r for r in image_features(imgs, n_bins=8).collect()}
    for i, (buf, w, h) in src.items():
        px = list(buf[: w * h])
        mean = sum(px) / len(px)
        std = math.sqrt(sum((x - mean) ** 2 for x in px) / len(px))
        hist = [0] * 8
        for x in px:
            hist[x * 8 // 256] += 1
        r = out[i]
        assert abs(r["px_mean"] - round(mean, 4)) < 1e-9
        assert abs(r["px_std"] - round(std, 4)) < 1e-9
        assert list(r["hist"]) == hist
        assert sum(r["hist"]) == w * h
    with pytest.raises(ValueError, match="n_bins"):
        image_features(imgs, n_bins=0)
