"""Multimodal columns (SURVEY.md §2.12): image/audio/video as opaque
``BinaryType`` payloads + typed ``StructType`` metadata, with decode /
feature-extract / resize / frame-sample as Arrow-batched Python ops.

The Spark-side plumbing — schemas, binary packing, mapInPandas batch shape,
partition behavior — is REAL and tested, and so is the PIXEL tier: resize
and frame sampling are genuine numpy kernels over an uncompressed ``raw8``
media model (uint8 grayscale buffers; see ``RAW8_IMAGE_MIME``). Only the
COMPRESSED-decode step (JPEG/H.264 → raw8) is out of scope: this container
has no codec libraries (re-probed 2026-08-14 round 6), so ``decode_meta``
uses a clearly-marked deterministic fake "codec" and the fixtures
synthesize raw8 payloads directly. Swapping in a real codec changes ONE
line per operator (the buffer-producing call) and none of the distributed
plumbing or pixel math.

At 100 TB: payloads ride in parquet binary columns next to their metadata;
decode runs as a narrow ``mapInPandas`` over the scan (no shuffle), and
``spark.sql.files.maxPartitionBytes`` controls batch memory. Feature vectors
produced here feed the similarity/dedup operators directly.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..workers import bind

#: Sidecar metadata schema carried next to every binary payload column.
MEDIA_META_SCHEMA = StructType(
    [
        StructField("mime", StringType()),
        StructField("byte_len", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", LongType()),
        StructField("uri", StringType()),
    ]
)


def pack_payload(df: DataFrame, src_col: str, mime: str, id_col: str) -> DataFrame:
    """Pack a source column into (id, payload BinaryType, meta struct).

    For fixtures the source is text (utf-8 bytes); in production the payload
    arrives pre-encoded from the ingestion layer — the downstream contract
    (binary + meta struct) is identical."""
    payload = F.encode(F.col(src_col), "utf-8")
    return df.select(
        F.col(id_col).alias("id"),
        payload.alias("payload"),
        F.struct(
            F.lit(mime).alias("mime"),
            F.octet_length(payload).cast("long").alias("byte_len"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.concat(F.lit("mem://"), F.col(id_col).cast("string")).alias("uri"),
        ).alias("meta"),
    )


def _decode(payload_col, id_col, batches):
    """The per-batch kernel of :func:`decode_meta`."""
    for pdf in batches:
        p = pdf[payload_col]
        n = p.map(len).astype("int64")
        first = p.map(lambda b: b[0] if len(b) else 0).astype("int64")
        yield pd.DataFrame(
            {
                "id": pdf[id_col],
                "width": (64 + (n % 577)).astype("int32"),
                "height": (64 + ((n * 31 + first) % 577)).astype("int32"),
                "checksum": (n * 2654435761 % (1 << 31)).astype("int64"),
            }
        )


def decode_meta(df: DataFrame, payload_col: str = "payload", id_col: str = "id") -> DataFrame:
    """'Decode' each payload to (width, height, checksum) via mapInPandas.

    DETERMINISTIC FAKE CODEC (clearly marked): a real implementation would
    call PIL/libav here; the fake derives dimensions arithmetically from the
    payload bytes so the full Arrow round-trip stays testable and
    oracle-checkable. The batch shape, schema, and partitioning are exactly
    what a real decoder uses."""
    return df.mapInPandas(
        bind(_decode, "_decode", payload_col, id_col),
        "id long, width int, height int, checksum long",
    )


#: Raw uncompressed media model the pixel tier operates on: uint8 grayscale,
#: row-major. Images are width*height bytes; videos are n_frames consecutive
#: frames of width*height bytes at a fixed _RAW8_FPS. COMPRESSED decode
#: (JPEG/H.264 → raw8) stays out of scope — that step needs a codec library
#: absent from this container (re-probed 2026-08-14 round 6: PIL / cv2 / av /
#: soundfile imports and the ffmpeg binary all still missing) — but every
#: pixel op BELOW decode is real numpy over raw8 buffers, exactly what a
#: PIL-backed decoder would hand downstream.
RAW8_IMAGE_MIME = "image/x-raw8"
RAW8_VIDEO_MIME = "video/x-raw8"
_RAW8_FPS = 4  # synthetic-video frame rate (frame every 250 ms)


def _synth_images(src_col, id_col, batches):
    """The per-batch kernel of :func:`synthesize_raw_images`."""
    import numpy as np

    for pdf in batches:
        ids, payloads, ws, hs = [], [], [], []
        for pid, s in zip(pdf[id_col], pdf[src_col]):
            b = s.encode("utf-8") if isinstance(s, str) else bytes(s)
            n = len(b)
            w, h = 16 + n % 17, 12 + (n * 31) % 13
            src = np.frombuffer(b, dtype=np.uint8) if n else np.zeros(1, np.uint8)
            ids.append(pid)
            payloads.append(np.resize(src, w * h).tobytes())
            ws.append(w)
            hs.append(h)
        yield pd.DataFrame(
            {"id": ids, "payload": payloads, "width": ws, "height": hs}
        )


def synthesize_raw_images(
    df: DataFrame, src_col: str, id_col: str
) -> DataFrame:
    """Deterministic raw8 image payloads from any source column — the
    fixture stand-in for a real decoder's output. Dimensions derive from
    the byte length (width 16..32, height 12..24) and the pixel buffer is
    the source bytes tiled to width*height, so every byte of the payload
    is a genuine addressable pixel. Arrow-batched mapInPandas; one narrow
    pass, no shuffle."""
    return df.mapInPandas(
        bind(_synth_images, "_synth", src_col, id_col),
        "id long, payload binary, width int, height int",
    )


def _resize(out_w, out_h, payload_col, width_col, height_col, id_col, batches):
    """The per-batch kernel of :func:`resize_images`."""
    import numpy as np

    for pdf in batches:
        ids, payloads, sums = [], [], []
        for pid, buf, w, h in zip(
            pdf[id_col], pdf[payload_col], pdf[width_col], pdf[height_col]
        ):
            w, h = int(w), int(h)
            img = np.frombuffer(buf, dtype=np.uint8, count=w * h).reshape(h, w)
            ri = (np.arange(out_h) * h) // out_h
            ci = (np.arange(out_w) * w) // out_w
            res = img[ri][:, ci]
            ids.append(pid)
            payloads.append(res.tobytes())
            sums.append(int(res.sum()))
        yield pd.DataFrame(
            {
                "id": ids,
                "payload": payloads,
                "width": out_w,
                "height": out_h,
                "px_sum": sums,
            }
        )


def resize_images(
    df: DataFrame,
    size: tuple[int, int] = (16, 12),
    payload_col: str = "payload",
    width_col: str = "width",
    height_col: str = "height",
    id_col: str = "id",
) -> DataFrame:
    """Nearest-neighbor resize of raw8 images to ``size`` = (out_w, out_h):
    pure numpy integer index-sampling (``img[ri][:, ci]`` with
    ``ri = arange(out_h)*h // out_h``) — the same kernel PIL's NEAREST
    filter applies after decode. Per-image Python loop inside each Arrow
    batch: pixel work is inherently per-payload; Arrow amortizes transfer.
    Output keeps the raw8 contract (payload is out_w*out_h bytes) plus a
    ``px_sum`` checksum so downstream tests/queries can verify pixels
    without shipping them. Swapping in a decode-capable backend replaces
    only ``np.frombuffer(...).reshape`` with the codec call."""
    out_w, out_h = size
    if out_w < 1 or out_h < 1:
        raise ValueError(f"size must be positive, got {size}")

    return df.mapInPandas(
        bind(
            _resize, "_resize", out_w, out_h, payload_col, width_col, height_col, id_col
        ),
        "id long, payload binary, width int, height int, px_sum long",
    )


def _synth_video(src_col, id_col, batches):
    """The per-batch kernel of :func:`synthesize_raw_video`."""
    import numpy as np

    for pdf in batches:
        ids, payloads, ws, hs, nf, dur = [], [], [], [], [], []
        for pid, s in zip(pdf[id_col], pdf[src_col]):
            b = s.encode("utf-8") if isinstance(s, str) else bytes(s)
            n = len(b)
            w, h, frames = 8 + n % 9, 6 + (n * 31) % 7, 4 + n % 5
            src = np.frombuffer(b, dtype=np.uint8) if n else np.zeros(1, np.uint8)
            buf = np.concatenate(
                [np.resize(np.roll(src, -k), w * h) for k in range(frames)]
            )
            ids.append(pid)
            payloads.append(buf.tobytes())
            ws.append(w)
            hs.append(h)
            nf.append(frames)
            dur.append(frames * 1000 // _RAW8_FPS)
        yield pd.DataFrame(
            {
                "id": ids,
                "payload": payloads,
                "width": ws,
                "height": hs,
                "n_frames": nf,
                "duration_ms": dur,
            }
        )


def synthesize_raw_video(df: DataFrame, src_col: str, id_col: str) -> DataFrame:
    """Deterministic raw8 video payloads: 4..8 frames of a small (w, h)
    grid at ``_RAW8_FPS``, pixel buffer tiled from the source bytes frame
    by frame (each frame offset by one byte so frames differ). Same
    fixture role as :func:`synthesize_raw_images`."""
    return df.mapInPandas(
        bind(_synth_video, "_synth", src_col, id_col),
        "id long, payload binary, width int, height int, n_frames int, duration_ms long",
    )


def _sample(step, payload_col, id_col, width_col, height_col, n_frames_col, batches):
    """The per-batch kernel of :func:`sample_frames`."""
    import numpy as np

    for pdf in batches:
        ids, idxs, ts, payloads, sums = [], [], [], [], []
        for pid, buf, w, h, frames in zip(
            pdf[id_col], pdf[payload_col], pdf[width_col], pdf[height_col], pdf[n_frames_col]
        ):
            w, h, frames = int(w), int(h), int(frames)
            vid = np.frombuffer(buf, dtype=np.uint8, count=frames * w * h)
            for k in range(0, frames, step):
                frame = vid[k * w * h : (k + 1) * w * h]
                ids.append(pid)
                idxs.append(k)
                ts.append(k * 1000 // _RAW8_FPS)
                payloads.append(frame.tobytes())
                sums.append(int(frame.sum()))
        yield pd.DataFrame(
            {
                "id": ids,
                "frame_idx": idxs,
                "t_ms": ts,
                "payload": payloads,
                "px_sum": sums,
            }
        )


def sample_frames(
    df: DataFrame,
    every_ms: int = 1000,
    payload_col: str = "payload",
    id_col: str = "id",
    width_col: str = "width",
    height_col: str = "height",
    n_frames_col: str = "n_frames",
) -> DataFrame:
    """Sample one frame every ``every_ms`` from raw8 video payloads — the
    1→N-rows mapInPandas contract (one output row per sampled frame, with
    its timestamp, raw frame bytes, and px_sum checksum). Frame stride is
    ``every_ms`` at the synthetic ``_RAW8_FPS``; frame 0 is always
    emitted. A real H.264 backend would replace the buffer slicing with
    codec seeks; the fan-out shape, schema, and partition behavior are
    identical."""
    if every_ms < 1:
        raise ValueError(f"every_ms must be positive, got {every_ms}")
    step = max(1, every_ms * _RAW8_FPS // 1000)

    return df.mapInPandas(
        bind(
            _sample, "_sample", step,
            payload_col, id_col, width_col, height_col, n_frames_col,
        ),
        "id long, frame_idx int, t_ms long, payload binary, px_sum long",
    )


def _image_features(n_bins, payload_col, width_col, height_col, id_col, batches):
    """The per-batch kernel of :func:`image_features`."""
    import numpy as np

    for pdf in batches:
        ids, means, stds, hists = [], [], [], []
        for pid, buf, w, h in zip(
            pdf[id_col], pdf[payload_col], pdf[width_col], pdf[height_col]
        ):
            px = np.frombuffer(buf, dtype=np.uint8, count=int(w) * int(h))
            f = px.astype(np.float64)
            ids.append(pid)
            means.append(float(np.round(f.mean(), 4)))
            stds.append(float(np.round(f.std(), 4)))
            hist, _ = np.histogram(px, bins=n_bins, range=(0, 256))
            hists.append([int(x) for x in hist])
        yield pd.DataFrame(
            {"id": ids, "px_mean": means, "px_std": stds, "hist": hists}
        )


def image_features(
    df: DataFrame,
    n_bins: int = 8,
    payload_col: str = "payload",
    width_col: str = "width",
    height_col: str = "height",
    id_col: str = "id",
) -> DataFrame:
    """Per-image feature extraction over raw8 payloads — the normalization
    statistics (mean, std) a training loader precomputes per image plus an
    ``n_bins``-bin intensity histogram (the cheap perceptual signature used
    for exposure filtering and as a near-dup prefilter). Real numpy: float64
    accumulation so a 2³²-pixel image cannot overflow; histogram bins are
    equal-width over [0, 256). A real embedding extractor (CLIP et al.)
    replaces the two kernel lines and none of the plumbing. One narrow
    mapInPandas pass, no shuffle; 1→1 rows."""
    if not 1 <= n_bins <= 256:
        raise ValueError(f"n_bins must be in [1, 256], got {n_bins}")

    return df.mapInPandas(
        bind(
            _image_features, "_features", n_bins,
            payload_col, width_col, height_col, id_col,
        ),
        "id long, px_mean double, px_std double, hist array<long>",
    )


#: Raw uncompressed audio model: signed 16-bit little-endian PCM, mono, at
#: _PCM16_RATE Hz — what a real codec (MP3/FLAC/Opus → PCM) hands downstream.
#: Same scope split as raw8 video: compressed-codec DECODE stays out (no
#: codec libs in this container), every feature op below decode is real
#: numpy over PCM buffers.
RAW_PCM16_MIME = "audio/x-raw-pcm16"
_PCM16_RATE = 8000  # synthetic sample rate (Hz)


def _synth_audio(src_col, id_col, batches):
    """The per-batch kernel of :func:`synthesize_raw_audio`."""
    import numpy as np

    for pdf in batches:
        ids, payloads, ns, durs = [], [], [], []
        for pid, s in zip(pdf[id_col], pdf[src_col]):
            b = s.encode("utf-8") if isinstance(s, str) else bytes(s)
            n_bytes = len(b)
            n_samples = 512 + (n_bytes * 7) % 1536
            if n_bytes:
                src = np.frombuffer(b, dtype=np.uint8).astype(np.int16)
                wave = np.resize((src - 128) * 256, n_samples)  # zero-mean int16
            else:
                wave = np.zeros(n_samples, np.int16)  # empty source -> silence
            ids.append(pid)
            payloads.append(wave.astype("<i2").tobytes())
            ns.append(n_samples)
            durs.append(n_samples * 1000 // _PCM16_RATE)
        yield pd.DataFrame(
            {
                "id": ids,
                "payload": payloads,
                "n_samples": ns,
                "duration_ms": durs,
            }
        )


def synthesize_raw_audio(df: DataFrame, src_col: str, id_col: str) -> DataFrame:
    """Deterministic PCM16 audio payloads from any source column — the
    fixture stand-in for a real audio decoder's output (same role as
    :func:`synthesize_raw_images` for the pixel tier). Consecutive source
    byte pairs become little-endian int16 samples, tiled to 512..2047
    samples (64..256 ms at 8 kHz) so every payload byte is genuine
    addressable signal; zero-mean shift keeps RMS meaningful. Arrow-batched
    mapInPandas; one narrow pass, no shuffle."""
    return df.mapInPandas(
        bind(_synth_audio, "_synth", src_col, id_col),
        "id long, payload binary, n_samples int, duration_ms long",
    )


def _audio_features(frame_len, payload_col, id_col, batches):
    """The per-batch kernel of :func:`audio_features`."""
    import numpy as np

    for pdf in batches:
        ids, nf, rms_arrs, zcr_arrs, rms_all = [], [], [], [], []
        for pid, buf in zip(pdf[id_col], pdf[payload_col]):
            wave = np.frombuffer(buf, dtype="<i2")
            n_frames = len(wave) // frame_len
            frames = wave[: n_frames * frame_len].reshape(n_frames, frame_len)
            f64 = frames.astype(np.float64)
            rms = np.sqrt((f64 * f64).mean(axis=1))
            sign_flips = np.signbit(frames[:, 1:]) != np.signbit(frames[:, :-1])
            zcr = sign_flips.mean(axis=1)
            ids.append(pid)
            nf.append(n_frames)
            rms_arrs.append([float(x) for x in np.round(rms, 4)])
            zcr_arrs.append([float(x) for x in np.round(zcr, 4)])
            all64 = wave.astype(np.float64)
            rms_all.append(float(np.round(np.sqrt((all64 * all64).mean()), 4)) if len(wave) else 0.0)
        yield pd.DataFrame(
            {
                "id": ids,
                "n_frames": nf,
                "frame_rms": rms_arrs,
                "frame_zcr": zcr_arrs,
                "rms": rms_all,
            }
        )


def audio_features(
    df: DataFrame,
    frame_len: int = 256,
    payload_col: str = "payload",
    id_col: str = "id",
) -> DataFrame:
    """Frame-level audio features over PCM16 payloads — the audio twin of
    :func:`resize_images`'s pixel kernel: per non-overlapping ``frame_len``-
    sample frame, RMS energy and zero-crossing rate, plus per-payload
    totals. Real numpy (samples are widened to float64 before the square/
    accumulate, so a full-scale int16 frame cannot overflow); one output
    row per payload with per-frame arrays, so the
    1→1 shape keeps downstream joins trivial. A real feature extractor
    (MFCC, mel filterbank) replaces the two kernel lines and none of the
    plumbing."""
    if frame_len < 2:
        raise ValueError(f"frame_len must be >= 2, got {frame_len}")

    return df.mapInPandas(
        bind(_audio_features, "_features", frame_len, payload_col, id_col),
        "id long, n_frames int, frame_rms array<double>, frame_zcr array<double>, rms double",
    )
