"""Multimodal columns: images/audio/video as opaque binary + typed metadata.

Decode status (this container has no PIL/opencv/ffmpeg):
- REAL decode for uncompressed formats via pure stdlib/numpy
  (media_codecs.py): BMP 24-bpp + P6 PPM → pixels, mean RGB, 64-bit aHash
  perceptual fingerprint; PCM WAV → samples, rate, duration, RMS.  Entry
  point: :func:`decode_media_features` (``_arrow.map_batches``).
- Compressed formats (JPEG/PNG/GIF/MP4) stay honestly STUBBED — they return
  status='unsupported:<mime>' (decode_media_features) or raise
  NotImplementedError (_decode_image / sample_video_frames); no fake numbers.

Pattern: media rows are wide (binary payload) → always process via
``_arrow.map_batches`` so Arrow batches stream through Python without
materializing a partition, and repartition by a size-balanced key before
heavy UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SparkDF
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .._arrow import map_batches, nan_as_null
from ..frame import LazyFrame

__all__ = [
    "MEDIA_SCHEMA",
    "IMAGE_FEATURE_SCHEMA",
    "MEDIA_FEATURE_SCHEMA",
    "attach_media_metadata",
    "extract_image_features",
    "decode_media_features",
    "image_near_dup_pairs",
    "audio_near_dup_pairs",
    "sample_video_frames",
]

# Canonical media column group: opaque payload + typed metadata.
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime_type", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

IMAGE_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("byte_histogram", T.ArrayType(T.LongType()), True),
        T.StructField("features", T.ArrayType(T.FloatType()), True),
    ]
)


def attach_media_metadata(frame: "LazyFrame | SparkDF", payload_col: str = "payload") -> LazyFrame:
    """Cheap metadata derivable without decoding: byte length + magic-number
    sniffing for the mime type.  Pure Column expressions."""
    sdf = frame._sdf if isinstance(frame, LazyFrame) else frame
    payload = F.col(payload_col)
    head = F.hex(F.substring(payload, 1, 4))
    mime = (
        F.when(head.startswith("FFD8"), F.lit("image/jpeg"))
        .when(head.startswith("89504E47"), F.lit("image/png"))
        .when(head.startswith("47494638"), F.lit("image/gif"))
        .when(head.startswith("52494646"), F.lit("audio/wav"))
        .otherwise(F.lit("application/octet-stream"))
    )
    return LazyFrame(
        sdf.withColumn("n_bytes", F.octet_length(payload).cast("long")).withColumn(
            "sniffed_mime", mime
        )
    )


def _decode_image(payload: bytes):
    """STUB: real implementation needs PIL/opencv (not in this container)."""
    raise NotImplementedError(
        "image decode requires PIL/opencv; container has neither. "
        "Wire a real decoder here; the surrounding Spark plumbing is complete."
    )


def extract_image_features(
    frame: "LazyFrame | SparkDF",
    payload_col: str = "payload",
    id_col: str = "media_id",
    feature_dim: int = 8,
    use_fake_decoder: bool = True,
) -> LazyFrame:
    """Feature extraction over binary payloads via ``_arrow.map_batches``.

    With use_fake_decoder=True (default — container has no media libs) the
    'features' are a deterministic function of the bytes (normalized byte
    histogram folded to feature_dim), so the distributed plumbing — batch
    iteration, schema, partition balance — is fully exercised and testable.
    """
    sdf = frame._sdf if isinstance(frame, LazyFrame) else frame

    def _batches(batches):
        for batch in batches:
            n_bytes, hists, feats = [], [], []
            for payload in batch.column(1).to_pylist():
                if payload is not None and not use_fake_decoder:
                    _decode_image(payload)  # raises NotImplementedError
                b = payload or b""  # a null payload featurizes as empty
                hist = [0] * 16
                for byte in b:
                    hist[byte >> 4] += 1
                total = max(len(b), 1)
                n_bytes.append(len(b))
                hists.append(hist)
                feats.append(
                    [float(sum(hist[i::feature_dim])) / total for i in range(feature_dim)]
                )
            yield {
                "media_id": batch.column(0),
                "n_bytes": n_bytes,
                "byte_histogram": hists,
                "features": feats,
            }

    out = map_batches(sdf.select(id_col, payload_col), _batches, IMAGE_FEATURE_SCHEMA)
    return LazyFrame(out)


MEDIA_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("mime", T.StringType(), True),
        T.StructField("status", T.StringType(), True),  # decoded | unsupported:<mime> | error:<msg>
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("mean_rgb", T.ArrayType(T.DoubleType()), True),
        T.StructField("ahash", T.LongType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_channels", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("afp", T.LongType(), True),  # 64-bit audio energy fingerprint
    ]
)


def decode_media_features(
    frame: "LazyFrame | SparkDF",
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> LazyFrame:
    """REAL media decode for uncompressed formats, distributed via
    ``_arrow.map_batches`` (Arrow batches, no partition materialization).

    BMP (24-bpp) and P6 PPM decode to actual pixel arrays → width/height,
    per-channel means, and a 64-bit aHash perceptual fingerprint (the
    candidate key for image near-dup: join on ahash or band its bits like
    minhash).  PCM WAV decodes to real samples → sample_rate/channels/
    duration/RMS.  Compressed formats (JPEG/PNG/GIF/MP4) need PIL/ffmpeg —
    absent in this container — and return status='unsupported:<mime>' rather
    than fake numbers; rows never error the job (status='error:...' carries
    malformed payloads).  A float that comes out NaN (an empty WAV's
    ``rms``) is null.  See media_codecs.py for the decoders.
    """
    from . import media_codecs as mc

    sdf = frame._sdf if isinstance(frame, LazyFrame) else frame

    def _batches(batches):
        cols = [f.name for f in MEDIA_FEATURE_SCHEMA.fields]
        for batch in batches:
            rows = []
            for mid, b in zip(batch.column(0).to_pylist(), batch.column(1).to_pylist()):
                base = dict.fromkeys(cols)
                base["media_id"] = mid
                if b is None:
                    base["status"] = "error:null payload"
                    rows.append(base)
                    continue
                mime = mc.sniff_mime(b)
                base["mime"] = mime
                try:
                    if mime == "image/bmp" or mime == "image/x-portable-pixmap":
                        px = mc.decode_bmp(b) if mime == "image/bmp" else mc.decode_ppm(b)
                        base.update(
                            status="decoded",
                            width=int(px.shape[1]),
                            height=int(px.shape[0]),
                            mean_rgb=[float(x) for x in px.reshape(-1, 3).mean(axis=0)],
                            ahash=mc.ahash64(px),
                        )
                    elif mime == "audio/wav":
                        rate, nch, samples = mc.decode_wav(b)
                        base.update(
                            status="decoded",
                            sample_rate=int(rate),
                            n_channels=int(nch),
                            duration_ms=int(round(len(samples) / rate * 1000)),
                            rms=float((samples**2).mean() ** 0.5),
                            afp=mc.audio_fingerprint64(samples),
                        )
                    else:
                        base["status"] = f"unsupported:{mime}"
                except Exception as exc:  # malformed payload must not kill the job
                    base["status"] = f"error:{type(exc).__name__}: {exc}"[:200]
                rows.append(base)
            out = {c: [r[c] for r in rows] for c in cols}
            out["mean_rgb"] = nan_as_null(out["mean_rgb"])
            out["rms"] = nan_as_null(out["rms"])
            yield out

    out = map_batches(sdf.select(id_col, payload_col), _batches, MEDIA_FEATURE_SCHEMA)
    return LazyFrame(out)


def image_near_dup_pairs(
    frame: "LazyFrame | SparkDF",
    payload_col: str = "payload",
    id_col: str = "media_id",
    max_hamming: int = 6,
    bands: int = 4,
) -> LazyFrame:
    """Image near-dup candidate pairs over binary payloads: decode → 64-bit
    aHash → banded bucket join → exact Hamming verify.

    Same scale shape as minhash/simhash dedup: the hash splits into ``bands``
    equal bit-slices and only images sharing at least one slice ever meet.
    Pigeonhole guarantee: a pair at Hamming distance d < ``bands`` always
    shares an untouched band (full recall); for bands=4 that covers d ≤ 3,
    and larger d up to ``max_hamming`` is recalled unless the flipped bits
    land in every band at once.  Verification is exact (``bit_count(xor)``),
    so precision is 1 — banding only affects recall.  Only decodable payloads
    (BMP/PPM here) participate; at 100 TB the hash computation is one
    ``_arrow.map_batches`` corpus pass and the join touches 16-bit-bucket
    candidates, never all pairs.
    """
    feats = decode_media_features(frame, payload_col=payload_col, id_col=id_col)
    hashed = feats._sdf.filter(F.col("ahash").isNotNull()).select("media_id", "ahash")
    return _banded_hamming_pairs(hashed, "ahash", max_hamming, bands)


def audio_near_dup_pairs(
    frame: "LazyFrame | SparkDF",
    payload_col: str = "payload",
    id_col: str = "media_id",
    max_hamming: int = 6,
    bands: int = 4,
) -> LazyFrame:
    """Audio near-dup candidate pairs: PCM WAV decode → 64-bit energy-envelope
    fingerprint (media_codecs.audio_fingerprint64, amplitude-invariant) →
    the same banded-bucket join + exact Hamming verify as
    :func:`image_near_dup_pairs`."""
    feats = decode_media_features(frame, payload_col=payload_col, id_col=id_col)
    hashed = feats._sdf.filter(F.col("afp").isNotNull()).select("media_id", "afp")
    return _banded_hamming_pairs(hashed, "afp", max_hamming, bands)


def _banded_hamming_pairs(
    hashed: SparkDF, hash_col: str, max_hamming: int, bands: int
) -> LazyFrame:
    from .dedup import banded_hamming_pairs

    return banded_hamming_pairs(
        hashed, hash_col=hash_col, id_col="media_id",
        max_hamming=max_hamming, bands=bands,
    )


def sample_video_frames(
    frame: "LazyFrame | SparkDF",
    payload_col: str = "payload",
    id_col: str = "media_id",
    every: int = 1,
    fps: float = 25.0,
    thumb: "tuple[int, int] | None" = (8, 8),
):
    """Video frame sampling — REAL for uncompressed concatenated-P6 streams
    (the y4m-style container :func:`media_codecs.split_ppm_stream` parses);
    compressed containers (mp4/webm) still raise NotImplementedError inside
    the batch (ffmpeg is not in this environment — the Spark-side shape is
    identical either way).

    ``_arrow.map_batches`` one->many: each sampled frame becomes a row
    (media_id, frame_idx, ts_ms, height, width, ahash, thumb bytes) —
    ``every`` keeps every k-th frame, ``fps`` derives ts_ms, ``thumb``
    resizes (nearest-neighbour numpy) to a fixed small size whose raw RGB
    bytes downstream ops treat as an opaque feature payload."""
    from .media_codecs import ahash64, resize_nearest, sniff_mime, split_ppm_stream

    sdf = frame._sdf if hasattr(frame, "_sdf") else frame
    schema = (
        f"{id_col} long, frame_idx long, ts_ms long, height int, width int, "
        "ahash long, thumb binary"
    )
    th = thumb

    def gen(batches):
        names = [id_col, "frame_idx", "ts_ms", "height", "width", "ahash", "thumb"]
        for batch in batches:
            rows = []
            ids = batch.column(id_col).to_pylist()
            for mid, b in zip(ids, batch.column(payload_col).to_pylist()):
                if b is None:
                    continue
                if not b.startswith(b"P6"):
                    raise NotImplementedError(
                        f"media {mid}: compressed video ({sniff_mime(b)}) needs "
                        "ffmpeg; only concatenated-P6 streams decode here"
                    )
                for i, px in enumerate(split_ppm_stream(b)):
                    if i % every:
                        continue
                    small = resize_nearest(px, th[0], th[1]) if th else px
                    rows.append(
                        (
                            int(mid),
                            i,
                            int(i * 1000.0 / fps),
                            int(px.shape[0]),
                            int(px.shape[1]),
                            _to_signed64(ahash64(px)),
                            small.tobytes(),
                        )
                    )
            if rows:
                yield dict(zip(names, zip(*rows)))

    return LazyFrame(map_batches(sdf, gen, schema))


def _to_signed64(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v
