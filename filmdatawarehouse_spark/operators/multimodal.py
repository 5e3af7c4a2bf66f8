"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Design for image/audio/video at 100 TB: media travels as a ``binary`` column
plus typed metadata (schemas.MEDIA_ASSETS), processed by Arrow-batched
``mapInPandas`` stages — per-partition batch iterators, so payload bytes
never concentrate on the driver and each task streams batches. The codec
boundary decodes binary netpbm (P6/P5) GENUINELY — dependency-free, so
decode→resize→featurize is exercised end-to-end on real pixels (r12);
formats needing codec libraries not in this container (JPEG/PNG/ffmpeg)
stay stubbed (``NotImplementedError``) behind a deterministic fake.
Everything Spark-side — schema, batch shape, UDF signatures,
partitioning — is identical for both.

Byte-level feature extraction (histogram, entropy, mean) needs only numpy
and IS fully implemented — it's the shape of real featurization work.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BYTE_STATS_SCHEMA = (
    "asset_id bigint, n_bytes bigint, sum_bytes bigint, n_distinct_bytes int, "
    "mean_byte double, byte_entropy double"
)


def attach_text_payload(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Build a MEDIA_ASSETS-shaped frame from the documents table (the test
    corpus ships no binary columns): payload = utf-8 bytes of the text."""
    return docs.select(
        F.col(id_col).alias("asset_id"),
        F.lit("blob").alias("media_type"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
    )


def payload_meta(assets: DataFrame) -> DataFrame:
    """Typed metadata extracted JVM-side from the opaque binary column:
    byte length + content digest. This is the fully-codegen'd metadata path
    (no Python) — at 100 TB, digest/length run at scan speed and feed both
    exact-dedup on payload bytes and storage accounting."""
    return assets.select(
        "asset_id",
        "media_type",
        F.length(F.col("payload")).cast("bigint").alias("n_bytes"),
        F.md5(F.col("payload")).alias("payload_md5"),
    )


def decode_ppm(payload: bytes) -> np.ndarray:
    """Dependency-free decoder for binary netpbm images — P6 (PPM, RGB)
    and P5 (PGM, grayscale, expanded to 3 channels) at 8-bit depth —
    returning the ``decode_image`` contract's HxWx3 uint8 array (r12:
    one REAL format exercises the codec boundary; formats needing real
    codec libraries stay stubbed). Handles the format's full header
    grammar: arbitrary whitespace between tokens and ``#`` comments
    through end-of-line, exactly one whitespace byte before the raster.
    Truncated or malformed payloads raise ValueError — a corrupt asset
    must surface per-row, never decode into garbage pixels."""
    magic = payload[:2]
    if magic not in (b"P6", b"P5"):
        raise ValueError(f"not a binary PPM/PGM payload (magic {magic!r})")
    pos, vals = 2, []
    while len(vals) < 3:
        while pos < len(payload) and payload[pos : pos + 1] in b" \t\r\n":
            pos += 1
        if payload[pos : pos + 1] == b"#":
            nl = payload.find(b"\n", pos)
            if nl == -1:
                raise ValueError("truncated PPM header (unclosed comment)")
            pos = nl + 1
            continue
        start = pos
        while (
            pos < len(payload)
            and payload[pos : pos + 1] not in b" \t\r\n"
        ):
            pos += 1
        tok = payload[start:pos]
        if not tok.isdigit():
            raise ValueError(f"bad PPM header token {tok!r}")
        vals.append(int(tok))
    width, height, maxval = vals
    if width <= 0 or height <= 0:
        raise ValueError(f"bad PPM dimensions {width}x{height}")
    if not 0 < maxval <= 255:
        raise ValueError(f"only 8-bit PPM supported (maxval {maxval})")
    pos += 1  # the single whitespace byte separating header from raster
    channels = 3 if magic == b"P6" else 1
    need = width * height * channels
    raster = payload[pos : pos + need]
    if len(raster) < need:
        raise ValueError(
            f"truncated PPM raster: need {need} bytes, have {len(raster)}"
        )
    img = np.frombuffer(raster, dtype=np.uint8).reshape(
        height, width, channels
    )
    if channels == 1:
        img = np.repeat(img, 3, axis=2)
    if maxval != 255:
        img = (img.astype(np.uint16) * 255 // maxval).astype(np.uint8)
    return img


def encode_ppm(img: np.ndarray) -> bytes:
    """P6 writer (8-bit RGB) — the test-payload synthesizer paired with
    ``decode_ppm``; also the smallest honest way to round-trip the codec
    boundary without external libraries."""
    if img.ndim != 3 or img.shape[2] != 3 or img.dtype != np.uint8:
        raise ValueError(f"need HxWx3 uint8, got {img.shape} {img.dtype}")
    h, w = img.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + img.tobytes()


def decode_image(payload: bytes, mime: str) -> np.ndarray:
    """Codec boundary — image decode to HxWx3 uint8.

    REAL for binary netpbm (P6/P5 magic or an ``x-portable-*`` mime) via
    ``decode_ppm`` — no external library needed, so the whole
    decode→resize→featurize path runs genuinely on that format. JPEG/
    PNG/etc. remain STUBBED: their codec libraries are not in this
    container; the Spark-side pipeline around this call (batching,
    schema, partitioning) is the same either way and is tested against
    both the real PPM decode and ``fake_decode``."""
    if payload[:2] in (b"P6", b"P5") or "portable" in (mime or ""):
        return decode_ppm(payload)
    raise NotImplementedError(
        f"decoding {mime!r} requires a codec library not present in this "
        "container (netpbm P6/P5 decodes natively)"
    )


def resize_nearest(img: np.ndarray, height: int, width: int) -> np.ndarray:
    """Nearest-neighbor resample to (height, width) — dependency-free,
    deterministic (floor source mapping), the standard cheap resize for
    featurization pipelines."""
    ys = (np.arange(height) * img.shape[0]) // height
    xs = (np.arange(width) * img.shape[1]) // width
    return img[ys][:, xs]


def fake_decode(payload: bytes, shape: tuple[int, int] = (8, 8)) -> np.ndarray:
    """Deterministic stand-in for ``decode_image``: tiles the payload bytes
    into an HxWx3 uint8 array. Same contract, no codec dependency."""
    h, w = shape
    need = h * w * 3
    buf = np.frombuffer(payload, dtype=np.uint8)
    if buf.size == 0:
        buf = np.zeros(1, dtype=np.uint8)
    reps = int(np.ceil(need / buf.size))
    return np.tile(buf, reps)[:need].reshape(h, w, 3)


def byte_stats(assets: DataFrame) -> DataFrame:
    """Per-asset byte statistics via Arrow-batched mapInPandas:
    (asset_id, n_bytes, sum_bytes, n_distinct_bytes, mean_byte,
    byte_entropy) — the canonical featurization shape, engineered to be
    hash-checkable cross-engine:

    - the integer columns (count / byte sum / distinct byte values) are
      exact, order-independent;
    - ``mean_byte`` is ONE double division of two exact integers;
    - ``byte_entropy`` uses the identity H = log2(n) − (Σ c·log2 c)/n with
      the Σ folded SEQUENTIALLY over histogram counts in ascending byte
      value — a pinned operand order the SQL oracle replays with
      ``list_reduce`` over ``list(c ORDER BY byte)``, giving bit-identical
      doubles (both engines call libm log2).
    """
    import math

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                buf = np.frombuffer(payload or b"", dtype=np.uint8)
                n = int(buf.size)
                if n == 0:
                    out.append((asset_id, 0, 0, 0, 0.0, 0.0))
                    continue
                hist = np.bincount(buf, minlength=256)
                nz = hist[hist > 0]  # ascending byte value, matching ORDER BY
                acc = 0.0
                for c in nz:
                    acc += float(c) * math.log2(float(c))
                out.append(
                    (
                        asset_id,
                        n,
                        int(buf.sum(dtype=np.int64)),
                        int(nz.size),
                        int(buf.sum(dtype=np.int64)) / n,
                        math.log2(n) - acc / n,
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "asset_id", "n_bytes", "sum_bytes", "n_distinct_bytes",
                    "mean_byte", "byte_entropy",
                ],
            )

    from filmdatawarehouse_spark.io.sources import spread_unsplittable_scan

    return spread_unsplittable_scan(
        assets.select("asset_id", "payload"), "asset_id"
    ).mapInPandas(compute, schema=BYTE_STATS_SCHEMA)


def byte_stats_native(assets: DataFrame) -> DataFrame:
    """JVM-native twin of ``byte_stats`` — the 100 TB production path.

    Same output contract, no Python: the payload is widened to one row per
    byte (hex dump → 2-char slices → int), histogrammed per (asset, byte),
    then folded per asset with Spark's own ``log2`` — all JVM expressions,
    map-side-combinable aggregations. Doubles may differ from the
    pinned-fold certification twin in the last ulps; property-tested to
    |Δ| < 1e-9 (tests/test_properties.py). Empty/NULL payloads keep their
    zero row via explode_outer + conditional aggregation, matching the
    twin's (0, 0, 0, 0.0, 0.0) contract.

    Scale shape: the per-byte explosion is the honest cost of a JVM
    histogram (×~3.4 row-width of the hex string, collapsed map-side by the
    first combine to ≤256 rows per asset per partition before any
    exchange); for multi-MB media payloads prefer the Arrow twin, whose
    numpy ``bincount`` never materializes per-byte rows.
    """
    # Linear hex→bytes: inject a separator after every hex pair and split —
    # O(len) per payload. (A sequence+substring form is O(len²): each
    # substring re-scans the full hex string per element — measured 10×
    # slower on ~600-byte payloads.) regexp_replace emits a trailing
    # separator, so split yields one empty tail element — dropped by the
    # empty-string filter, which also makes the empty-payload array empty.
    hex_pairs = F.split(
        F.regexp_replace(F.hex(F.col("payload")), "(..)", "$1,"), ","
    )
    byte_arr = F.transform(
        F.filter(hex_pairs, lambda p: p != F.lit("")),
        lambda p: F.conv(p, 16, 10).cast("int"),
    )
    # the hex→conv per-byte explosion is heavy per-row JVM work fused
    # onto the scan
    from filmdatawarehouse_spark.io.sources import spread_unsplittable_scan

    assets = spread_unsplittable_scan(
        assets.select("asset_id", "payload"), "asset_id"
    )
    b = assets.select("asset_id", F.explode_outer(byte_arr).alias("_b"))
    h = b.groupBy("asset_id", "_b").agg(F.count(F.lit(1)).alias("_c"))
    real = F.col("_b").isNotNull()
    c = F.col("_c").cast("double")
    agg = h.groupBy("asset_id").agg(
        F.sum(F.when(real, F.col("_c")).otherwise(F.lit(0))).alias("n_bytes"),
        F.sum(
            F.when(real, F.col("_b").cast("bigint") * F.col("_c")).otherwise(
                F.lit(0)
            )
        ).alias("sum_bytes"),
        F.count(F.when(real, F.lit(1))).cast("int").alias("n_distinct_bytes"),
        F.sum(F.when(real, c * F.log2(c)).otherwise(F.lit(0.0))).alias("_acc"),
    )
    n = F.col("n_bytes").cast("double")
    nonempty = F.col("n_bytes") > 0
    return agg.select(
        "asset_id",
        "n_bytes",
        "sum_bytes",
        "n_distinct_bytes",
        F.when(nonempty, F.col("sum_bytes") / n).otherwise(F.lit(0.0)).alias(
            "mean_byte"
        ),
        F.when(nonempty, F.log2(n) - F.col("_acc") / n)
        .otherwise(F.lit(0.0))
        .alias("byte_entropy"),
    )


def resize_images(
    assets: DataFrame, height: int = 64, width: int = 64, use_fake: bool = True
) -> DataFrame:
    """Decode → resize-to-fixed-shape → re-emit as flattened pixels.

    With ``use_fake`` (default for formats without an in-container
    codec) the decode is the deterministic tile at target shape; with
    ``use_fake=False`` the REAL decode runs (netpbm natively — r12) and
    the decoded array is nearest-neighbor resampled to (height, width).
    Output: (asset_id, height, width, pixels array<int>).
    """

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for asset_id, payload, mime in zip(
                pdf["asset_id"], pdf["payload"], pdf["mime"]
            ):
                img = (
                    fake_decode(payload or b"", (height, width))
                    if use_fake
                    else resize_nearest(
                        decode_image(payload, mime), height, width
                    )
                )
                rows.append(
                    (asset_id, height, width, img.ravel().astype(int).tolist())
                )
            yield pd.DataFrame(
                rows, columns=["asset_id", "height", "width", "pixels"]
            )

    return assets.select("asset_id", "payload", "mime").mapInPandas(
        compute, schema="asset_id bigint, height int, width int, pixels array<int>"
    )


def sample_frames(
    assets: DataFrame, every_n_bytes: int = 1024, frame_bytes: int = 256
) -> DataFrame:
    """Frame-sampling shape for video payloads: emit one row per sampled
    "frame" (byte window) — a one-to-many mapInPandas, the same explosion
    pattern a real frame sampler has. Output: (asset_id, frame_idx, frame)."""

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                buf = payload or b""
                for idx, off in enumerate(range(0, len(buf), every_n_bytes)):
                    rows.append((asset_id, idx, buf[off : off + frame_bytes]))
            yield pd.DataFrame(rows, columns=["asset_id", "frame_idx", "frame"])

    return assets.select("asset_id", "payload").mapInPandas(
        compute, schema="asset_id bigint, frame_idx int, frame binary"
    )
