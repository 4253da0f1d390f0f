"""Multimodal column plumbing (SURVEY.md §2.11; BASELINE.json north
star): image/audio/video as opaque ``binary`` columns with typed
metadata, processed via Arrow-batched ``mapInPandas``.

Decode tiers (round 8 — the real branch now RUNS):

- **Real image decode, dependency-free** — PPM (P6) and uncompressed
  24-bit BMP are header+pixel formats a few dozen lines of stdlib
  ``struct`` + numpy decode exactly; :func:`decode_image_bytes` does,
  and :func:`decode_image_stats` runs it Arrow-batched over a binary
  column. The battery query ``multimodal_real_decode`` plants a
  closed-form pixel formula, ENCODES it into real PPM/BMP files
  (bottom-up rows, BGR order, 4-byte row padding and all), and
  hash-checks the DECODED per-channel sums + a positional checksum
  against DuckDB's re-derivation of the formula — header parse,
  row flip, channel swap and pad stripping are all load-bearing.
- **Library-bound formats** (JPEG/PNG/audio/video) still need
  PIL/ffmpeg/torchaudio, which are NOT in this container — that seam
  stays an honest ``NotImplementedError`` raised inside the worker
  batch for unrecognized magics.
- A clearly-marked deterministic fake kernel (byte histogram)
  remains the format-agnostic test path.

Everything Spark-side — schemas, partitioning, UDF signatures,
batch iteration, frame-index planning — is real and tested.

Scale notes: binary payloads make row sizes large and skewed; the
processing pattern is ``mapInPandas`` with bounded Arrow batches
(``spark.sql.execution.arrow.maxRecordsPerBatch`` sized so
batch_bytes ≈ records × max_payload fits the Python worker), and
metadata-only plans (like frame sampling) must NOT read the binary
column at all — column pruning keeps the payload out of the scan.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Canonical multimodal record: opaque payload + typed metadata.
MEDIA_META = StructType(
    [
        StructField("format", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", LongType()),
    ]
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),  # image | audio | video
        StructField("content", BinaryType()),
        StructField("meta", MEDIA_META),
    ]
)

FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),
        StructField("byte_len", LongType()),
        StructField("checksum", LongType()),
        StructField("features", ArrayType(FloatType())),
    ]
)


def synthesize_media_from_documents(docs: DataFrame) -> DataFrame:
    """Build a deterministic multimodal table from the documents
    fixture (no media libs needed): payload = utf-8 text bytes,
    metadata derived from n_chars. Gives the plumbing a real
    binary column of realistic shape."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.encode("text", "utf-8").alias("content"),
        F.struct(
            F.lit("synthetic").alias("format"),
            (F.col("n_chars") % 640 + 16).cast("int").alias("width"),
            (F.col("n_chars") % 480 + 16).cast("int").alias("height"),
            (F.col("n_chars") * 10).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


def extract_features(media: DataFrame, real_decode: bool = False) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    ``real_decode=True`` decodes payloads :func:`decode_image_bytes`
    recognizes (PPM P6, uncompressed 24-bit BMP — no media library
    needed) and emits pixel-space features ``[w, h, mean_r, mean_g,
    mean_b]``; any other payload raises ``NotImplementedError``
    inside the worker batch — the honest seam where PIL / ffmpeg /
    torchaudio would run, unavailable in this container. The fake
    path computes deterministic features from raw bytes (length,
    additive checksum, 8 byte-histogram buckets normalized) — same
    schema, same batching, same partitioning as the real thing.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if real_decode:
                import numpy as np

                out = []
                for mid, mtype, content in zip(
                    pdf["media_id"], pdf["media_type"], pdf["content"]
                ):
                    b = bytes(content)
                    w, h, rgb = decode_image_bytes(b)  # raises on non-image
                    v = np.frombuffer(rgb, dtype=np.uint8).astype(np.float64)
                    n = max(w * h, 1)
                    out.append(
                        (
                            int(mid),
                            str(mtype),
                            len(b),
                            int(v.sum()) % (1 << 31),
                            [
                                float(w),
                                float(h),
                                float(v[0::3].sum() / n),
                                float(v[1::3].sum() / n),
                                float(v[2::3].sum() / n),
                            ],
                        )
                    )
                yield pd.DataFrame(
                    out,
                    columns=[
                        "media_id", "media_type", "byte_len",
                        "checksum", "features",
                    ],
                )
                continue
            out = []
            for mid, mtype, content in zip(
                pdf["media_id"], pdf["media_type"], pdf["content"]
            ):
                b = bytes(content)
                hist = [0] * 8
                for byte in b:
                    hist[byte >> 5] += 1
                n = max(len(b), 1)
                out.append(
                    (
                        int(mid),
                        str(mtype),
                        len(b),
                        sum(b) % (1 << 31),
                        [float(h) / n for h in hist],
                    )
                )
            yield pd.DataFrame(
                out,
                columns=["media_id", "media_type", "byte_len", "checksum", "features"],
            )

    return media.select("media_id", "media_type", "content").mapInPandas(
        fn, FEATURES_SCHEMA
    )


# --- real image decode (round 8) --------------------------------------
#
# PPM P6: ASCII header "P6 <w> <h> <maxval>" (whitespace/#-comments),
# one whitespace byte, then w·h·3 raw RGB bytes row-major top-down.
# BMP 24-bit uncompressed: 14-byte file header + 40-byte info header;
# pixel rows padded to 4 bytes, stored BOTTOM-UP (positive height),
# BGR byte order. Both decode with stdlib struct + numpy — no media
# library — which is what lets the REAL decode branch run (and be
# oracle-checked) in this container.

IMAGE_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("fmt", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_px", LongType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
        StructField("first_px_r", IntegerType()),
        StructField("last_px_b", IntegerType()),
        StructField("pos_checksum", LongType()),
    ]
)


def encode_ppm(w: int, h: int, rgb: bytes) -> bytes:
    """Canonical P6 encoding of row-major top-down RGB bytes."""
    if len(rgb) != w * h * 3:
        raise ValueError(f"need {w * h * 3} RGB bytes, got {len(rgb)}")
    return b"P6\n%d %d\n255\n" % (w, h) + rgb


def encode_bmp24(w: int, h: int, rgb: bytes) -> bytes:
    """Uncompressed 24-bit BMP (BITMAPINFOHEADER) of row-major
    top-down RGB bytes — rows are written bottom-up, BGR, padded to
    4 bytes, exactly as the format demands (the decoder must undo
    all three; the planted-truth oracle catches it if it doesn't)."""
    import struct

    import numpy as np

    if len(rgb) != w * h * 3:
        raise ValueError(f"need {w * h * 3} RGB bytes, got {len(rgb)}")
    arr = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
    bgr_bottom_up = arr[::-1, :, ::-1]
    row = w * 3
    pad = (-row) % 4
    stride = row + pad
    data = np.zeros((h, stride), dtype=np.uint8)
    data[:, :row] = bgr_bottom_up.reshape(h, row)
    payload = data.tobytes()
    offset = 14 + 40
    fh = struct.pack("<2sIHHI", b"BM", offset + len(payload), 0, 0, offset)
    ih = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(payload), 2835, 2835, 0, 0
    )
    return fh + ih + payload


def encode_png(w: int, h: int, rgb: bytes) -> bytes:
    """Real PNG encoder, stdlib-only (zlib DEFLATE + CRC32): 8-bit
    truecolor, non-interlaced, filter-0 scanlines. PNG is the one
    compressed image format whose codec needs nothing beyond the
    standard library — so unlike JPEG (PIL-gated), the PNG path runs
    and is oracle-checked HERE, in this environment."""
    import struct
    import zlib

    if len(rgb) != w * h * 3:
        raise ValueError(f"need {w * h * 3} RGB bytes, got {len(rgb)}")

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    row = w * 3
    raw = b"".join(
        b"\x00" + rgb[y * row : (y + 1) * row] for y in range(h)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def _decode_png(b: bytes) -> tuple[int, int, bytes]:
    """PNG decode, stdlib+numpy only: chunk walk, zlib inflate, and
    ALL FIVE scanline filters (None/Sub/Up/Average/Paeth) undone per
    the spec — so PNGs from any well-behaved encoder decode here, not
    just our filter-0 ones (tests forward-filter every type and
    round-trip). 8-bit RGB (color type 2) and RGBA (6, alpha
    dropped), non-interlaced; anything else raises the documented
    NotImplementedError seam."""
    import struct
    import zlib

    import numpy as np

    pos, idat = 8, []
    w = h = bit_depth = color_type = interlace = None
    while pos + 8 <= len(b):
        (length,) = struct.unpack_from(">I", b, pos)
        tag = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, bit_depth, color_type, _c, _f, interlace = struct.unpack(
                ">IIBBBBB", data
            )
        elif tag == b"IDAT":
            idat.append(data)
        elif tag == b"IEND":
            break
    if w is None:
        raise ValueError("PNG missing IHDR chunk")
    if bit_depth != 8 or color_type not in (2, 6) or interlace != 0:
        raise NotImplementedError(
            f"PNG bit_depth={bit_depth} color_type={color_type} "
            f"interlace={interlace}: only 8-bit non-interlaced "
            "RGB/RGBA supported"
        )
    ch = 3 if color_type == 2 else 4
    stride = w * ch
    raw = zlib.decompress(b"".join(idat))
    if len(raw) != h * (stride + 1):
        raise ValueError(
            f"PNG inflate size mismatch: need {h * (stride + 1)}, "
            f"got {len(raw)}"
        )
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    p = 0
    for y in range(h):
        f = raw[p]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=p + 1
        ).copy()
        p += 1 + stride
        if f == 0:
            pass
        elif f == 2:  # Up: no intra-row dependency, vectorized
            line += prev  # uint8 add wraps mod 256, as the spec asks
        elif f in (1, 3, 4):  # Sub/Average/Paeth: left-neighbor chain
            for x in range(stride):
                a = int(line[x - ch]) if x >= ch else 0
                if f == 1:
                    rec = a
                elif f == 3:
                    rec = (a + int(prev[x])) >> 1
                else:
                    bb = int(prev[x])
                    c = int(prev[x - ch]) if x >= ch else 0
                    pp = a + bb - c
                    pa, pb, pc = abs(pp - a), abs(pp - bb), abs(pp - c)
                    rec = a if pa <= pb and pa <= pc else (
                        bb if pb <= pc else c
                    )
                line[x] = (int(line[x]) + rec) & 0xFF
        else:
            raise ValueError(f"PNG bad filter byte {f} on row {y}")
        out[y] = line
        prev = line
    px = out.reshape(h, w, ch)
    if ch == 4:
        px = px[:, :, :3]
    return w, h, px.tobytes()


def decode_image_bytes(b: bytes) -> tuple[int, int, bytes]:
    """REAL image decode: (width, height, row-major top-down RGB
    bytes) from PPM P6, uncompressed 24-bit BMP, or PNG (stdlib-zlib
    codec, all five scanline filters). Other magics (JPEG/GIF/...)
    fall through to a CAPABILITY-GATED PIL branch — live on any
    machine with PIL installed, a documented ``NotImplementedError``
    here (the protobuf-gate pattern from tests/test_streaming.py)."""
    import struct

    import numpy as np

    if b[:2] == b"P6":
        pos, vals = 2, []
        while len(vals) < 3:
            while b[pos : pos + 1].isspace():
                pos += 1
            if b[pos : pos + 1] == b"#":  # comment to end of line
                while b[pos : pos + 1] not in (b"\n", b""):
                    pos += 1
                continue
            start = pos
            while pos < len(b) and not b[pos : pos + 1].isspace():
                pos += 1
            vals.append(int(b[start:pos]))
        pos += 1  # exactly ONE whitespace byte separates maxval from data
        w, h, maxval = vals
        if maxval != 255:
            raise NotImplementedError(
                f"PPM maxval {maxval}: only 8-bit-per-channel supported"
            )
        rgb = b[pos : pos + w * h * 3]
        if len(rgb) != w * h * 3:
            raise ValueError(
                f"PPM truncated: need {w * h * 3} bytes, got {len(rgb)}"
            )
        return w, h, bytes(rgb)
    if b[:2] == b"BM":
        offset = struct.unpack_from("<I", b, 10)[0]
        w, h_signed = struct.unpack_from("<ii", b, 18)
        bpp = struct.unpack_from("<H", b, 28)[0]
        compression = struct.unpack_from("<I", b, 30)[0]
        if bpp != 24 or compression != 0:
            raise NotImplementedError(
                f"BMP bpp={bpp} compression={compression}: only "
                "uncompressed 24-bit supported without a media library"
            )
        top_down = h_signed < 0
        h = abs(h_signed)
        row = w * 3
        stride = (row + 3) & ~3
        need = offset + h * stride
        if len(b) < need:
            raise ValueError(f"BMP truncated: need {need}, got {len(b)}")
        data = np.frombuffer(b, dtype=np.uint8, count=h * stride, offset=offset)
        rows = data.reshape(h, stride)[:, :row].reshape(h, w, 3)
        if not top_down:
            rows = rows[::-1]
        return w, h, rows[:, :, ::-1].tobytes()  # BGR -> RGB
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        return _decode_png(bytes(b))
    # capability gate (r9 verdict #4): PIL takes over for the
    # formats a real multimodal corpus contains (JPEG/GIF/WebP) —
    # this branch goes LIVE wherever PIL exists and carries a
    # skipped-here test (tests/test_multimodal.py)
    try:
        from PIL import Image  # noqa: F401 — optional dependency
    except ImportError:
        raise NotImplementedError(
            "unrecognized image magic %r: JPEG/GIF/WebP decode is "
            "PIL-gated and PIL is not installed in this environment "
            "(PPM/BMP/PNG decode dependency-free above)"
            % bytes(b[:2])
        ) from None
    import io

    img = Image.open(io.BytesIO(bytes(b))).convert("RGB")
    return img.width, img.height, img.tobytes()


def synthesize_images(
    ids: DataFrame,
    id_col: str = "doc_id",
    effective_mod: int | None = None,
    formats: tuple[str, ...] = ("ppm", "bmp"),
) -> DataFrame:
    """Deterministic image fixture ENCODER: one real image per input
    row in ``formats[id % len(formats)]`` (default PPM for even ids,
    BMP for odd; add ``"png"`` for the zlib-compressed tier), pixel
    value
    ``v(i) = (id·31 + i·7) mod 256`` over row-major RGB positions
    ``i ∈ [0, w·h·3)`` with ``w = id%13+4``, ``h = id%7+3`` — a
    closed form DuckDB re-derives without parsing any bytes, which
    is what makes the decode round-trip oracle-checkable.

    ``effective_mod`` plants DUPLICATE CLASSES: pixel content and
    dimensions derive from ``id % effective_mod`` while the media id
    and the FORMAT choice keep the real id — with an odd modulus,
    every class contains both PPM and BMP encodings of the same
    pixels, so cross-format duplicate detection (image_dhash) has a
    planted ground truth."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = []
            for mid in pdf[id_col]:
                mid = int(mid)
                eid = mid % effective_mod if effective_mod else mid
                w, h = eid % 13 + 4, eid % 7 + 3
                i = np.arange(w * h * 3, dtype=np.int64)
                rgb = ((eid * 31 + i * 7) % 256).astype(np.uint8).tobytes()
                fmt = formats[mid % len(formats)]
                if fmt == "ppm":
                    payload = encode_ppm(w, h, rgb)
                elif fmt == "bmp":
                    payload = encode_bmp24(w, h, rgb)
                elif fmt == "png":
                    payload = encode_png(w, h, rgb)
                else:
                    raise ValueError(f"unknown fixture format {fmt!r}")
                out.append((mid, fmt, payload))
            yield pd.DataFrame(out, columns=["media_id", "fmt", "content"])

    return ids.select(id_col).mapInPandas(
        fn,
        StructType(
            [
                StructField("media_id", LongType()),
                StructField("fmt", StringType()),
                StructField("content", BinaryType()),
            ]
        ),
    )


def decode_image_stats(media: DataFrame) -> DataFrame:
    """REAL decode path over a binary image column: Arrow-batched
    :func:`decode_image_bytes` (magic dispatch, header parse, BMP
    row-flip/BGR-swap/pad-strip), emitting exact-integer pixel stats
    — per-channel sums, the first/last planted probe pixels, and a
    position-weighted checksum ``Σ i·v(i)`` that pins EVERY pixel to
    its row-major position (a decoder that misorders rows or
    channels cannot pass it). All integers, so the battery
    hash-check is exact cross-engine."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = []
            for mid, fmt, content in zip(
                pdf["media_id"], pdf["fmt"], pdf["content"]
            ):
                w, h, rgb = decode_image_bytes(bytes(content))
                v = np.frombuffer(rgb, dtype=np.uint8).astype(np.int64)
                out.append(
                    (
                        int(mid),
                        str(fmt),
                        w,
                        h,
                        w * h,
                        int(v[0::3].sum()),
                        int(v[1::3].sum()),
                        int(v[2::3].sum()),
                        int(v[0]),
                        int(v[-1]),
                        int((np.arange(v.size) * v).sum()),
                    )
                )
            yield pd.DataFrame(out, columns=[f.name for f in IMAGE_STATS_SCHEMA])

    return media.select("media_id", "fmt", "content").mapInPandas(
        fn, IMAGE_STATS_SCHEMA
    )


def plan_frame_samples(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling PLAN: (media_id, frame_ms) rows at a fixed
    stride over each video's duration — metadata-only (never touches
    the binary column, so the scan prunes it). The actual frame
    decode would consume this plan via :func:`extract_features`'s
    real path."""
    videos = media.filter(F.col("media_type") == "video")
    return videos.select(
        "media_id",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.col("meta.duration_ms"),
                F.lit(every_ms).cast("long"),
            )
        ).alias("frame_ms"),
    )


IMAGE_DHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("b0", IntegerType()),
        StructField("b1", IntegerType()),
        StructField("b2", IntegerType()),
        StructField("b3", IntegerType()),
    ]
)


def image_dhash(media: DataFrame) -> DataFrame:
    """Perceptual difference-hash over a binary image column — the
    multimodal twin of the text tier's SimHash: DECODE the real
    bytes (:func:`decode_image_bytes` — format dispatch, BMP
    row-flip/BGR-swap/pad-strip), nearest-neighbor resample to a
    fixed 8×9 grid, and emit one bit per horizontal brightness
    comparison, packed into FOUR 16-bit bands.

    Integer-exact by construction (the oracle requirement): the
    "brightness" of a grid cell is the raw ``r+g+b`` sum of its
    nearest source pixel — no grayscale weights, no box averaging,
    no division — and nearest-neighbor indices are pure integer
    ``(t·src)//dst`` arithmetic, so DuckDB re-derives every bit from
    the fixture's closed-form pixel formula without parsing a byte.

    The band layout IS the near-dup index: band b packs grid rows
    2b..2b+1 (16 comparisons), so Hamming-close images collide on
    ≥1 band with the banded-LSH guarantee the text tier uses
    (operators/dedup.py::band_buckets), and exact duplicates —
    including CROSS-FORMAT re-encodes of the same pixels — agree on
    all four. Non-negative 16-bit ints keep every engine's BIGINT
    arithmetic overflow-free.

    Scale shape: decode + hash are one Arrow-batched map over the
    binary column (scan speed, no shuffle); grouping/banding
    downstream are ordinary hash-aggs on 4 small ints per image —
    8 bytes of index state per image, the SimHash contract."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        rows, cols = 8, 9
        ty = np.arange(rows)
        tx = np.arange(cols)
        for pdf in batches:
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                w, h, rgb = decode_image_bytes(bytes(content))
                v = np.frombuffer(rgb, dtype=np.uint8).astype(np.int64)
                sy = (ty * h) // rows
                sx = (tx * w) // cols
                base = 3 * (sy[:, None] * w + sx[None, :])
                g = v[base] + v[base + 1] + v[base + 2]
                bits = (g[:, 1:] > g[:, :-1]).astype(np.int64)
                bands = [
                    int(
                        sum(
                            int(bits[2 * b + r, c]) << (r * 8 + c)
                            for r in range(2)
                            for c in range(cols - 1)
                        )
                    )
                    for b in range(rows // 2)
                ]
                out.append((int(mid), *bands))
            yield pd.DataFrame(
                out, columns=["media_id", "b0", "b1", "b2", "b3"]
            )

    return media.select("media_id", "content").mapInPandas(
        fn, IMAGE_DHASH_SCHEMA
    )


RESIZE_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("fmt", StringType()),
        StructField("src_w", IntegerType()),
        StructField("src_h", IntegerType()),
        StructField("out_w", IntegerType()),
        StructField("out_h", IntegerType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
        StructField("resized_checksum", LongType()),
    ]
)


def resize_image_stats(
    media: DataFrame, out_w: int = 8, out_h: int = 6
) -> DataFrame:
    """REAL image resize (round 10 — the task verb the dHash kernel
    only used internally): decode the binary payload (PPM/BMP/PNG —
    the full codec dispatch), nearest-neighbor map to ``out_w ×
    out_h`` with the floor convention ``src = (out·len) // out_len``
    per axis, and emit exact-integer stats of the RESIZED pixels —
    per-channel sums plus the positional checksum ``Σ i·v(i)`` over
    the resized row-major buffer, so the oracle pins every output
    pixel to the exact source pixel the mapping selects (an
    off-by-one in either axis, a swapped axis order, or a
    center-sampling convention cannot pass). Arrow-batched
    ``mapInPandas``, the multimodal contract."""
    if out_w < 1 or out_h < 1:
        raise ValueError("output dims must be >= 1")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = []
            for mid, fmt, content in zip(
                pdf["media_id"], pdf["fmt"], pdf["content"]
            ):
                w, h, rgb = decode_image_bytes(bytes(content))
                v = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
                sy = (np.arange(out_h) * h) // out_h
                sx = (np.arange(out_w) * w) // out_w
                r = v[sy][:, sx].astype(np.int64)  # (out_h, out_w, 3)
                flat = r.reshape(-1)
                out.append(
                    (
                        int(mid), str(fmt), w, h, out_w, out_h,
                        int(r[:, :, 0].sum()),
                        int(r[:, :, 1].sum()),
                        int(r[:, :, 2].sum()),
                        int((np.arange(flat.size) * flat).sum()),
                    )
                )
            yield pd.DataFrame(
                out, columns=[f.name for f in RESIZE_STATS_SCHEMA]
            )

    return media.select("media_id", "fmt", "content").mapInPandas(
        fn, RESIZE_STATS_SCHEMA
    )
