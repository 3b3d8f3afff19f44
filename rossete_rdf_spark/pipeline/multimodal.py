"""Multimodal column handling: image/audio/video as opaque binary columns
with typed metadata, processed through mapInPandas in Arrow batches.

Image decode is REAL for the two headerful uncompressed codecs a pure-Python
decoder can own without media libraries: 24-bit BI_RGB BMP and binary PPM
(P6). The decoder parses the actual byte layout — little-endian BMP header
fields, 4-byte-aligned bottom-up pixel rows, PPM's ASCII header — and
reduces the pixel array to per-channel statistics with vectorized numpy.
Compressed formats (JPEG/PNG/audio/video codecs) raise NotImplementedError
at the same dispatch point; that is where PIL/libvips/ffmpeg slot in on a
host that has them. Either way the Spark-side plumbing — binary column,
Arrow batch iteration, schema, partitioning — is identical.

Reference parity note: the reference engine has no media path at all; this
module is beyond-reference surface for the training-data pipeline tier.
"""

from __future__ import annotations

import re
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # bmp | ppm | jpeg | ...
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", T.StringType()),  # JSON metadata (codec...)
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
    ]
)

_BMP_HEADER_SIZE = 54  # 14-byte file header + 40-byte BITMAPINFOHEADER
_PPM_HEADER = re.compile(rb"P6\s+(\d+)\s+(\d+)\s+(\d+)[ \t\r\n]")


def _bmp_row_size(width: int) -> int:
    """BMP pixel rows are padded to 4-byte boundaries (3 bytes/px at 24bpp)."""
    return (3 * width + 3) // 4 * 4


def synth_image_bytes(media_id: int, codec: str) -> bytes:
    """Deterministic REAL image file for media_id: a (4 + id%4) x (3 + id%3)
    gradient whose channel value at (x, y) is (id%200) + x + y + c for RGB
    channel index c — every value stays < 256 by construction, so the
    per-channel mean has the closed form base + (w-1)/2 + (h-1)/2 + c that
    the DuckDB oracle replays without touching the binary."""
    w, h, base = 4 + media_id % 4, 3 + media_id % 3, media_id % 200
    if codec == "ppm":
        # P6: ASCII header, then w*h RGB triplets, maxval 255
        head = b"P6\n%d %d\n255\n" % (w, h)
        px = bytearray(3 * w * h)
        for y in range(h):
            for x in range(w):
                p = 3 * (y * w + x)
                px[p : p + 3] = bytes(
                    (base + x + y, base + x + y + 1, base + x + y + 2)
                )
        return head + bytes(px)
    if codec == "bmp":
        # 24-bit BI_RGB, bottom-up rows, stored as B,G,R with row padding
        row = _bmp_row_size(w)
        px = bytearray(row * h)
        for y in range(h):
            for x in range(w):
                p = y * row + 3 * x
                px[p : p + 3] = bytes(
                    (base + x + y + 2, base + x + y + 1, base + x + y)
                )
        head = struct.pack(
            "<2sIHHI", b"BM", _BMP_HEADER_SIZE + len(px), 0, 0, _BMP_HEADER_SIZE
        ) + struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(px), 2835, 2835, 0, 0
        )
        return head + bytes(px)
    raise ValueError(f"unknown synth codec {codec!r}")


def decode_image(payload: bytes) -> tuple[int, int, float, float, float]:
    """(width, height, mean_r, mean_g, mean_b) from a real BMP (24-bit
    BI_RGB) or binary PPM (P6) payload — header fields parsed from the
    bytes, channel means reduced with vectorized numpy. Any other format
    (JPEG magic, PNG magic, audio containers) raises NotImplementedError:
    compressed codecs need real media libraries, absent in this container.
    Malformed payloads of a SUPPORTED format raise ValueError (truncated
    data and zero dimensions are data defects, not missing decoders)."""
    if len(payload) < 2:
        raise ValueError("malformed payload: empty or shorter than any magic")
    if payload[:2] == b"BM":
        if len(payload) < _BMP_HEADER_SIZE:
            raise ValueError(
                f"malformed BMP: {len(payload)} bytes is shorter than the "
                f"{_BMP_HEADER_SIZE}-byte header"
            )
        off = struct.unpack_from("<I", payload, 10)[0]
        w, h = struct.unpack_from("<ii", payload, 18)
        bpp = struct.unpack_from("<H", payload, 28)[0]
        comp = struct.unpack_from("<I", payload, 30)[0]
        if bpp != 24 or comp != 0:
            raise NotImplementedError(
                f"only 24-bit BI_RGB BMP is supported (bpp={bpp}, comp={comp})"
            )
        h_abs = abs(h)  # negative height = top-down; means are unaffected
        row = _bmp_row_size(w)
        if w <= 0 or h_abs == 0:
            raise ValueError(f"malformed BMP: degenerate dimensions {w}x{h}")
        if off < _BMP_HEADER_SIZE or len(payload) < off + row * h_abs:
            raise ValueError(
                f"malformed BMP: header declares {row * h_abs} pixel bytes "
                f"at offset {off}, payload has {len(payload)}"
            )
        px = (
            np.frombuffer(payload, np.uint8, count=row * h_abs, offset=off)
            .reshape(h_abs, row)[:, : 3 * w]
            .reshape(-1, 3)
            .astype(np.float64)
        )
        mb, mg, mr = px.mean(axis=0)
        return w, h_abs, float(mr), float(mg), float(mb)
    m = _PPM_HEADER.match(payload[:64])
    if m:
        # regex, not split(): pixel bytes may themselves be whitespace
        # values, so only the single separator after maxval is consumed
        w, h, maxval = (int(g) for g in m.groups())
        if maxval != 255:
            raise NotImplementedError("only maxval-255 P6 PPM is supported")
        if w == 0 or h == 0:
            raise ValueError(f"malformed PPM: degenerate dimensions {w}x{h}")
        if len(payload) < m.end() + 3 * w * h:
            raise ValueError(
                f"malformed PPM: header declares {3 * w * h} pixel bytes, "
                f"payload has {len(payload) - m.end()} after the header"
            )
        px = (
            np.frombuffer(payload, np.uint8, count=3 * w * h, offset=m.end())
            .reshape(-1, 3)
            .astype(np.float64)
        )
        mr, mg, mb = px.mean(axis=0)
        return w, h, float(mr), float(mg), float(mb)
    raise NotImplementedError(
        "no pure-Python decoder for this payload (compressed image/audio/"
        "video formats need media libraries)"
    )


def extract_media_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads (mapInPandas:
    whole-batch control, the shape a real decoder needs for batched
    GPU/SIMD work). One output row per input row; decoding is REAL header
    parsing + numpy channel statistics (decode_image).

    Error contract: a MALFORMED payload of a supported format (truncated
    header/pixel data, zero dimensions — routine in a crawl) yields NULL
    feature columns instead of killing the job; an UNSUPPORTED format
    (decode_image's NotImplementedError) still propagates, because feeding
    a codec the pipeline has no decoder for is a configuration error, not
    a data defect."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def safe(b) -> tuple:
            try:
                return decode_image(bytes(b or b""))
            except ValueError:
                return (None, None, None, None, None)

        for pdf in batches:
            decoded = [safe(b) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"]
                    .map(lambda b: len(b or b""))
                    .astype("int64"),
                    "width": pd.array(
                        [d[0] for d in decoded], dtype="Int64"
                    ),
                    "height": pd.array(
                        [d[1] for d in decoded], dtype="Int64"
                    ),
                    "mean_r": [d[2] for d in decoded],
                    "mean_g": [d[3] for d in decoded],
                    "mean_b": [d[4] for d in decoded],
                }
            )

    return media.mapInPandas(run, schema=FEATURES_SCHEMA)


def _payload_udf():
    """pandas_udf building real BMP/PPM bytes from the id (even ids -> BMP,
    odd -> PPM, so both decoders run in every batch)."""

    @F.pandas_udf(T.BinaryType())
    def make(mid: pd.Series) -> pd.Series:
        return mid.map(
            lambda i: synth_image_bytes(int(i), "bmp" if i % 2 == 0 else "ppm")
        )

    return make


def synth_media(spark, n: int, partitions: int = 8) -> DataFrame:
    """Deterministic media table with REAL image payloads (BMP/PPM per id
    parity), generated distributed via a pandas UDF."""
    df = spark.range(0, n, 1, partitions)
    kind = F.when(F.col("id") % 2 == 0, F.lit("bmp")).otherwise(F.lit("ppm"))
    return df.select(
        F.col("id").alias("media_id"),
        kind.alias("kind"),
        _payload_udf()(F.col("id")).alias("payload"),
        F.concat(
            F.lit('{"codec": "'), kind, F.lit('"}')
        ).alias("meta"),
    )


def multimodal_features_query(docs: DataFrame) -> DataFrame:
    """Driver-contract wrapper: mint a real BMP or PPM payload per document
    id, run the mapInPandas extraction — REAL header parsing + numpy channel
    means, no stub — and project byte count, parsed dimensions, and
    per-channel means. The synth gradient gives every statistic a closed
    form in the id (see synth_image_bytes), which is what the DuckDB oracle
    computes; the Spark side only ever sees the binary payload."""
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("bmp"))
        .otherwise(F.lit("ppm"))
        .alias("kind"),
        _payload_udf()(F.col("doc_id")).alias("payload"),
        F.lit("{}").alias("meta"),
    )
    feats = extract_media_features(media)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        "width",
        "height",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
    )
