"""Multimodal payload plumbing: binary columns + typed metadata.

Image/audio/video payloads ride as opaque ``binary`` columns with typed
metadata, exactly like the reference's image bytes
(/root/reference/src/gen-sods-doc-image-ray.py:72): Spark never interprets
the payload; decode/resize/frame-sample run inside Arrow-batched
``mapInPandas`` kernels.

PNG / JPEG / GIF decode for REAL via the stdlib-only kernel
``kernels/image.py`` — zlib IDAT inflate + scanline unfilter for PNG,
full T.81 baseline entropy decode + IDCT for JPEG pixels
(``kernels.image.decode_jpeg``), SOFn frame headers for dimensions, the
logical screen descriptor for GIF; no PIL/cv2 required.  The remaining
codec-bound formats (video frames, arithmetic-coded JPEG) keep
``decode_image`` as a clearly-marked seam: it
raises ``NotImplementedError`` unless ``deterministic_fake=True`` (stable
fake dimensions derived from the bytes, keeping the distributed plumbing
testable for audio/video-shaped payloads).  Swapping in PIL there is a
one-function change.

The reference's grayscale/crop/binarize preprocessing
(/root/reference/src/utils.py:26-50) maps to ``preprocess_spec`` metadata
on each row — the numeric crop box ``(0, 0.05·H, 0.70·W, 0.9·H)`` is
computed here (int-truncated, parity with crop_image); for PNG payloads
the pixels behind it are real too (``kernels.image.decode_png`` +
``grayscale``), pinned by TestImageKernel.
"""

from __future__ import annotations

from typing import Iterator, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("media_format", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("crop_left", T.IntegerType(), True),
        T.StructField("crop_top", T.IntegerType(), True),
        T.StructField("crop_right", T.IntegerType(), True),
        T.StructField("crop_bottom", T.IntegerType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)

_MAGIC = (
    (b"\x89PNG", "png"),
    (b"\xff\xd8\xff", "jpeg"),
    (b"GIF8", "gif"),
    (b"RIFF", "riff"),  # wav/webp container
    (b"%PDF-", "pdf"),
)


def sniff_format(payload: bytes) -> Optional[str]:
    for magic, name in _MAGIC:
        if payload[: len(magic)] == magic:
            return name
    return None


def decode_image(payload: bytes, deterministic_fake: bool = False) -> Tuple[int, int]:
    """Decode → (width, height).

    PNG/JPEG/GIF decode for REAL (stdlib header parse, kernels/image.py —
    ``deterministic_fake`` is ignored for them; a malformed payload raises
    ``ValueError`` and quarantines).  Any other format needs a codec this
    container doesn't have: ``NotImplementedError`` unless
    ``deterministic_fake=True``, which derives stable fake dimensions from
    the payload bytes so audio/video-shaped plumbing stays testable."""
    from document_automation_spark.kernels.image import image_dimensions

    head = payload[:8]
    if (
        head[:8] == b"\x89PNG\r\n\x1a\n"
        or head[:3] == b"\xff\xd8\xff"
        or head[:4] == b"GIF8"
        or payload[:4] == b"\x89PNG"  # PNG-intent but truncated: real path
    ):
        return image_dimensions(payload)
    if not deterministic_fake:
        raise NotImplementedError(
            "decode beyond PNG/JPEG/GIF headers requires PIL/cv2 — plug the "
            "real decoder in here"
        )
    w = 320 + (payload[0] if payload else 0) * 4
    h = 240 + (payload[-1] if payload else 0) * 3
    return w, h


def crop_box(width: int, height: int) -> Tuple[int, int, int, int]:
    """The reference's ad-removal crop heuristic, int-truncated
    (parity: /root/reference/src/utils.py:26-39)."""
    return (0, int(height * 0.05), int(width * 0.70), int(0.9 * height))


def resize_spec(width: int, height: int) -> Tuple[int, int]:
    """Aspect-preserving resize target, long side 256 (int truncation,
    deterministic).

    The pixel op itself needs PIL — this computes the exact output shape
    the real resizer would produce, so downstream schema/logic is testable."""
    long_side = max(width, height)
    if long_side <= 256:
        return width, height
    scale = 256 / long_side
    return max(1, int(width * scale)), max(1, int(height * scale))


def frame_sample_offsets(n_bytes: int) -> list:
    """Evenly-spaced byte-offsets of up to 8 4096-byte frames of a
    video-ish payload.

    Deterministic plumbing for the frame-sample stage: real decoding would
    seek these offsets with ffmpeg; the offset math (even spacing over the
    estimated frame count, first frame always included) is the real part."""
    n_frames = max(1, n_bytes // 4096)
    k = min(8, n_frames)
    if k == 1:
        return [0]
    step = (n_frames - 1) / (k - 1)
    return [int(round(i * step)) * 4096 for i in range(k)]


def feature_vector(payload: bytes) -> list:
    """Deterministic byte-level feature sketch (8-bucket byte histogram,
    L1-normalized) — the model-free stand-in for an image/audio embedding;
    swap for a real encoder behind the same signature."""
    counts = [0] * 8
    for b in payload:
        counts[b % 8] += 1
    total = sum(counts) or 1
    return [round(c / total, 6) for c in counts]


def pixel_feature_vector(payload: bytes) -> list:
    """REAL pixel features for decodable formats (PNG / baseline JPEG /
    GIF): integer-luma histogram over 8 equal brightness bands,
    L1-normalized — a true image statistic (invariant to the compressed
    byte layout), where :func:`feature_vector` only sketches the bytes.
    Raises ValueError for any payload the decoders reject — including
    malformed-but-header-valid streams (corrupt IDAT, truncated LZW…),
    whatever the underlying exception — so the caller's fallback contract
    is a single exception type."""
    import struct as _struct
    import zlib as _zlib

    from document_automation_spark.kernels.image import (
        decode_jpeg,
        decode_pixels,
        grayscale,
    )

    try:
        if payload[:3] == b"\xff\xd8\xff":
            # the Y plane IS luma: skip chroma upsample + double rounding
            w, h, ch, px = decode_jpeg(payload, luma_only=True)
        else:
            w, h, ch, px = decode_pixels(payload)
    except ValueError:
        raise
    except (_zlib.error, _struct.error, IndexError, OverflowError) as err:
        raise ValueError(f"undecodable pixels: {type(err).__name__}: {err}") from err
    if ch == 4:  # drop alpha for luma (C-speed slice delete)
        ba = bytearray(px)
        del ba[3::4]
        px, ch = bytes(ba), 3
    elif ch == 2:  # gray+alpha
        px, ch = bytes(px[0::2]), 1
    luma = grayscale(w, h, ch, px)
    counts = [0] * 8
    for v in luma:
        counts[min(7, v // 32)] += 1
    total = sum(counts) or 1
    return [round(c / total, 6) for c in counts]


MEDIA_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("resize_w", T.IntegerType(), True),
        T.StructField("resize_h", T.IntegerType(), True),
        T.StructField("frame_offsets", T.ArrayType(T.LongType()), True),
        T.StructField("features", T.ArrayType(T.FloatType()), True),
        T.StructField("error", T.StringType(), True),
    ]
)


def media_features(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    deterministic_fake: bool = True,
    max_pixel_decode_bytes: int = 262_144,
) -> DataFrame:
    """Decode → resize-spec → frame-sample → feature-extract, one pass.

    The full multimodal stage lineup (task brief).  Since round 4 the
    feature leg is REAL pixels for PNG/baseline-and-progressive-JPEG/GIF payloads (luma
    histogram via the stdlib decoders).  The pure-python decoders cost
    ~0.5-1 s per megapixel per core — honest but 1000× a byte sketch —
    so payloads above ``max_pixel_decode_bytes`` take the byte-sketch
    path (``0`` disables pixel decode entirely, ``-1`` removes the cap);
    a production deployment swaps a vectorized decoder into
    ``pixel_feature_vector``'s seam and lifts the cap.  Payloads whose
    DIMENSIONS decode but whose pixels cannot (lossless/arithmetic JPEG
    variants, or a malformed body behind a valid header) also fall back to the byte
    sketch with ``error=None`` — quarantine is reserved for payloads that
    fail the dimension decode itself (and, when ``deterministic_fake``
    is off, for formats beyond the stdlib decoders)."""

    def feat_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in MEDIA_FEATURES_SCHEMA.fields]
        for batch in batches:
            rows = []
            for media_id, payload in zip(batch[id_col], batch[payload_col]):
                try:
                    if payload is None:
                        raise ValueError("null payload")
                    raw = bytes(payload)
                    w, h = decode_image(raw, deterministic_fake)
                    features = None
                    if max_pixel_decode_bytes == -1 or (
                        max_pixel_decode_bytes and len(raw) <= max_pixel_decode_bytes
                    ):
                        try:
                            features = pixel_feature_vector(raw)
                        except ValueError:
                            features = None  # fall back below
                    if features is None:
                        features = feature_vector(raw)
                    rw, rh = resize_spec(w, h)
                    rows.append(
                        (
                            str(media_id),
                            rw,
                            rh,
                            frame_sample_offsets(len(raw)),
                            features,
                            None,
                        )
                    )
                except Exception as err:  # noqa: BLE001
                    rows.append(
                        (str(media_id), None, None, None, None, f"{type(err).__name__}: {err}")
                    )
            yield pd.DataFrame(rows, columns=cols)

    return media.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        feat_batches, MEDIA_FEATURES_SCHEMA
    )


def media_metadata(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    deterministic_fake: bool = True,
) -> DataFrame:
    """(media_id, payload:binary) → typed metadata rows via mapInPandas.

    Quarantine semantics match the extraction job: a payload the decoder
    rejects produces an ``error`` row, never a task failure."""

    def meta_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in MEDIA_SCHEMA.fields]
        for batch in batches:
            rows = []
            for media_id, payload in zip(batch[id_col], batch[payload_col]):
                try:
                    if payload is None:
                        raise ValueError("null payload")
                    fmt = sniff_format(bytes(payload))
                    w, h = decode_image(bytes(payload), deterministic_fake)
                    left, top, right, bottom = crop_box(w, h)
                    rows.append(
                        (str(media_id), fmt, w, h, len(payload), left, top, right, bottom, None)
                    )
                except Exception as err:  # noqa: BLE001
                    rows.append(
                        (
                            str(media_id),
                            None,
                            None,
                            None,
                            len(payload) if payload is not None else 0,
                            None,
                            None,
                            None,
                            None,
                            f"{type(err).__name__}: {err}",
                        )
                    )
            yield pd.DataFrame(rows, columns=cols)

    return media.select(
        F.col(id_col), F.col(payload_col)
    ).mapInPandas(meta_batches, MEDIA_SCHEMA)
