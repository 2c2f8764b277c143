"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The container has no image/audio codecs, so the full-raster DECODE step
is a deterministic fake (header and raw-pixel formats decode for real as
Column math) — but everything Spark-side is real and tested: the schema
(binary payload + metadata struct), the Arrow-batched ``mapInPandas``
plumbing, the batch shapes, and the partitioning story (payloads
hash-partition by id; metadata projections never deserialize the payload
column thanks to parquet column pruning).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: schema of a multimodal asset table
ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("n_bytes", T.LongType()),
                    T.StructField("checksum", T.StringType()),
                ]
            ),
        ),
    ]
)

FRAME_SCHEMA = "asset_id long, frame_idx int, n_bytes long"


def to_assets(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Wrap a text column as a binary asset table (the testbed stand-in for
    real media ingestion): payload = utf-8 bytes, typed metadata struct."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col).cast("long").alias("asset_id"),
        F.lit("text/plain").alias("media_type"),
        payload.alias("payload"),
        F.struct(
            F.length(payload).cast("long").alias("n_bytes"),
            F.md5(F.col(text_col)).alias("checksum"),
        ).alias("meta"),
    )


#: PNG wire format: 8-byte signature, then the IHDR chunk
#: (4-byte length, "IHDR", 4-byte BE width, 4-byte BE height, ...)
PNG_SIG_IHDR_HEX = "89504E470D0A1A0A0000000D49484452"


def _be_u32(payload: Column, byte_pos: int) -> Column:
    """Big-endian uint32 at 1-based ``byte_pos`` of a binary column —
    pure Column byte math (substring on binary → hex → base-16 parse),
    no UDF, stays in codegen."""
    return F.conv(F.hex(F.substring(payload, byte_pos, 4)), 16, 10).cast("long")


def png_dims(payload: Column) -> tuple[Column, Column]:
    """(width, height) decoded from a PNG payload's IHDR chunk: bytes
    17-20 / 21-24 big-endian (PNG spec, public wire format). Columns
    only — a metadata pass over petabytes of images runs fully JVM-side
    with zero Python and zero codec dependencies."""
    return _be_u32(payload, 17), _be_u32(payload, 21)


#: non-SOF0 frame markers (progressive SOF2 etc.) — present in the range
#: FFC0–FFCF but NOT frame headers: C4=DHT, C8=JPG-extension, CC=DAC
_JPEG_NON_SOF = ("FFC4", "FFC8", "FFCC")


def jpeg_sof0_dims(payload: Column, max_segments: int = 32) -> tuple[Column, Column]:
    """(width, height) from a JPEG's SOF0 frame header via a REAL
    segment walk, not a substring scan.

    A naive ``locate('FFC0', hex(payload))`` is wrong twice over: the
    hex-char offset need not be byte-aligned (bytes ``AF FC 05`` contain
    the text ``FFC0`` straddling a byte boundary), and APP1/EXIF segment
    *payloads* may legitimately contain the bytes ``FF C0`` before the
    real frame header. The only correct locator is the spec's: start
    after SOI, and at each marker skip its 2-byte big-endian length
    (which covers itself), until a frame marker appears.

    Implemented as a bounded fold (``F.aggregate`` over a constant
    ``sequence``): the accumulator is the next marker's byte offset
    (1-based); negated once SOF0 is found (terminal), zeroed on any
    failure — bad SOI, a non-FF byte where a marker belongs, running
    off the payload, reaching SOS scan data, or a non-baseline SOFn
    (progressive SOF2 etc. are detected and returned as NULL — decoding
    them is explicitly unhandled). The accumulator is a lambda variable,
    so the walk evaluates iteratively at runtime (no expression blowup)
    and stays entirely JVM-side — a petabyte metadata pass needs no UDF.
    ``max_segments`` bounds the walk; real JPEGs carry far fewer
    metadata segments before SOF than 32."""

    def _u16(pos: Column) -> Column:
        return F.conv(F.hex(F.substring(payload, pos, 2)), 16, 10).cast("int")

    def _step(acc: Column, _elem: Column) -> Column:
        marker = F.hex(F.substring(payload, acc, 2))
        return (
            F.when(acc <= 0, acc)  # terminal (found or failed)
            .when(marker == "FFC0", -acc)  # SOF0: record and stop
            .when(marker == "FFDA", F.lit(0))  # SOS before any SOF: fail
            .when(
                marker.rlike("^FFC[0-9A-F]$")
                & ~marker.isin(*_JPEG_NON_SOF),
                F.lit(0),  # SOF1/2/...: real frame header, unhandled type
            )
            # spec-legal 0xFF fill/padding before a marker: the marker is
            # the LAST FF plus the type byte, so consume one fill byte
            # per step (bounded by max_segments) rather than misreading
            # "FFFF" as a marker with a payload length
            .when(marker == "FFFF", acc + 1)
            .when(marker.rlike("^FF"), acc + 2 + _u16(acc + 2))  # skip segment
            .otherwise(F.lit(0))  # not a marker (truncated/garbage)
        )

    start = F.when(
        F.hex(F.substring(payload, 1, 2)) == "FFD8", F.lit(3)
    ).otherwise(F.lit(0))
    final = F.aggregate(
        F.sequence(F.lit(1), F.lit(max_segments)), start, _step
    )
    # SOF0 layout at byte offset p: FF C0 | len(2) | precision(1) |
    # height(2) | width(2) — so height at p+5, width at p+7 (1-based)
    sof = -final
    none = F.lit(None).cast("long")
    return (
        F.when(final < 0, _u16(sof + 7).cast("long")).otherwise(none),
        F.when(final < 0, _u16(sof + 5).cast("long")).otherwise(none),
    )


def _le_u16(payload: Column, byte_pos: int) -> Column:
    """Little-endian uint16 at 1-based ``byte_pos`` — byte-wise hex parse
    with the byte order swapped (WAV/RIFF is little-endian, unlike
    PNG/JPEG network order). Pure Column math, stays in codegen."""
    lo = F.conv(F.hex(F.substring(payload, byte_pos, 1)), 16, 10).cast("long")
    hi = F.conv(F.hex(F.substring(payload, byte_pos + 1, 1)), 16, 10).cast("long")
    return lo + hi * 256


def _le_u32(payload: Column, byte_pos: int) -> Column:
    return _le_u16(payload, byte_pos) + _le_u16(payload, byte_pos + 2) * 65536


def wav_header(payload: Column) -> tuple[Column, Column, Column]:
    """(channels, sample_rate, bits_per_sample) from a canonical WAV
    header (RIFF spec, public wire format): ``RIFF`` + size + ``WAVE`` +
    ``fmt `` chunk with PCM fields at fixed little-endian offsets —
    channels at byte 23, sample rate at 25, bits at 35 (1-based).
    Returns NULLs unless both the ``RIFF``/``WAVE`` magics and the
    ``fmt `` chunk id match (canonical layout; files with extension
    chunks before ``fmt `` are out of scope and fail closed). Like
    png_dims/jpeg_sof0_dims this needs no codec and no UDF — an audio
    metadata pass over petabytes runs fully JVM-side."""
    magic_ok = (
        (F.hex(F.substring(payload, 1, 4)) == F.lit("52494646"))  # 'RIFF'
        & (F.hex(F.substring(payload, 9, 4)) == F.lit("57415645"))  # 'WAVE'
        & (F.hex(F.substring(payload, 13, 4)) == F.lit("666D7420"))  # 'fmt '
    )
    none = F.lit(None).cast("long")
    return (
        F.when(magic_ok, _le_u16(payload, 23)).otherwise(none),
        F.when(magic_ok, _le_u32(payload, 25)).otherwise(none),
        F.when(magic_ok, _le_u16(payload, 35)).otherwise(none),
    )


def gif_dims(payload: Column) -> tuple[Column, Column]:
    """(width, height) from a GIF's Logical Screen Descriptor: magic
    ``GIF87a``/``GIF89a`` then LITTLE-endian uint16 width at byte 7 and
    height at byte 9 (1-based). Fails closed (NULLs) on any other
    magic. Pure Column byte math like png_dims/wav_header."""
    magic = F.substring(payload, 1, 6).cast("string")
    ok = magic.isin("GIF87a", "GIF89a")
    none = F.lit(None).cast("long")
    return (
        F.when(ok, _le_u16(payload, 7)).otherwise(none),
        F.when(ok, _le_u16(payload, 9)).otherwise(none),
    )


def bmp_dims(payload: Column) -> tuple[Column, Column, Column]:
    """(width, height, bits_per_pixel) from a BMP: magic ``BM``, then a
    BITMAPINFOHEADER with SIGNED little-endian int32 width at byte 19
    and height at byte 23 (1-based), uint16 bpp at byte 29. A negative
    height is spec-legal (top-down row order) — the sign bit is decoded
    (two's complement via the 2^31 fold), and the magnitude reported
    with a ``top_down``-style negative value preserved so callers see
    the orientation. Fails closed (NULLs) on a non-BM magic. Pure
    Column byte math like png/wav/gif."""

    def _le_i32(pos: int) -> Column:
        u = _le_u32(payload, pos)
        return F.when(u >= 2147483648, u - 4294967296).otherwise(u)

    ok = F.substring(payload, 1, 2).cast("string") == "BM"
    none = F.lit(None).cast("long")
    return (
        F.when(ok, _le_i32(19)).otherwise(none),
        F.when(ok, _le_i32(23)).otherwise(none),
        F.when(ok, _le_u16(payload, 29)).otherwise(none),
    )


def sample_frames(df: DataFrame, frames_mod: int = 3) -> DataFrame:
    """Frame-sampling plumbing over mapInPandas: each asset yields
    ``asset_id % frames_mod + 1`` deterministic fake frames.

    The Arrow batch shape, schema contract, and executor-side iteration are
    exactly what a real ffmpeg/PIL extractor uses — only the decode body is
    fake. Payload bytes ARE read (length check) to prove binary transfer.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ids, out_idx, out_bytes = [], [], []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                n = int(asset_id) % frames_mod + 1
                size = len(payload) if payload is not None else 0
                for i in range(n):
                    out_ids.append(int(asset_id))
                    out_idx.append(i)
                    out_bytes.append(size)
            yield pd.DataFrame(
                {"asset_id": out_ids, "frame_idx": out_idx, "n_bytes": out_bytes}
            )

    return df.select("asset_id", "payload").mapInPandas(extract, FRAME_SCHEMA)


FEATURE_SCHEMA = "asset_id long, f0 double, f1 double, f2 double, f3 double"


def extract_features(df: DataFrame) -> DataFrame:
    """Feature-extraction plumbing over mapInPandas: 4 fake feature dims
    per asset derived from the payload's md5 (a real extractor would run a
    vision/audio model over the same Arrow batches).

    Deterministic and engine-independent: dim k = int(md5[8k:8k+8], 16) /
    2^32 — exactly reproducible in SQL, so the corpus oracle checks the
    whole Python↔Arrow↔JVM path bit-for-bit. No rounding: the division is
    exact IEEE in both engines.
    """
    import hashlib

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"asset_id": [], "f0": [], "f1": [], "f2": [], "f3": []}
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                digest = hashlib.md5(payload or b"").hexdigest()
                rows["asset_id"].append(int(asset_id))
                for k in range(4):
                    rows[f"f{k}"].append(
                        int(digest[8 * k : 8 * k + 8], 16) / 4294967296.0
                    )
            yield pd.DataFrame(rows)

    return df.select("asset_id", "payload").mapInPandas(extract, FEATURE_SCHEMA)


def meta_projection(df: DataFrame) -> DataFrame:
    """Metadata-only projection: never touches ``payload`` — at scale this
    is the column-pruned scan that makes metadata queries cheap."""
    return df.select(
        "asset_id",
        "media_type",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.checksum").alias("checksum"),
    )


RESIZE_SCHEMA = "asset_id long, in_w int, in_h int, out_w int, out_h int"


def resize_assets(df: DataFrame, max_side: int = 224) -> DataFrame:
    """Resize plumbing over mapInPandas: aspect-preserving fit-to-box on
    deterministic fake dimensions derived from payload length (a real
    implementation reads the header and resamples pixels over the same
    Arrow batches — only the pixel work is fake here).

    All integer math, so the corpus oracle reproduces it exactly:
    in_w = n % 624 + 16, in_h = (7n) % 464 + 16; if the longer side
    exceeds ``max_side`` both sides scale by max_side/longer (floor).
    """

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("asset_id", "in_w", "in_h", "out_w", "out_h")}
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                n = len(payload) if payload is not None else 0
                w = n % 624 + 16
                h = (7 * n) % 464 + 16
                m = max(w, h)
                if m <= max_side:
                    ow, oh = w, h
                else:
                    ow = w * max_side // m
                    oh = h * max_side // m
                rows["asset_id"].append(int(asset_id))
                rows["in_w"].append(w)
                rows["in_h"].append(h)
                rows["out_w"].append(ow)
                rows["out_h"].append(oh)
            yield pd.DataFrame(rows)

    return df.select("asset_id", "payload").mapInPandas(resize, RESIZE_SCHEMA)


#: Full P6 header shape: magic, three whitespace-separated integers,
#: then exactly ONE whitespace byte before the raster (Netpbm spec).
#: The trailing \s is load-bearing twice over: it rejects a number
#: truncated by the prefix cut (a cut-off digit group must NOT parse as
#: a smaller value — fail closed to NULL), and group 0's length IS the
#: raster's byte offset for the pixel decoder.
_PPM_HEADER_PAT = r"^P6\s+(\d+)\s+(\d+)\s+(\d+)\s"

#: Prefix bytes inspected for the header. 64 covers any realistic P6
#: header (max "P6\n<5 digits> <5 digits>\n65535\n" = 21 bytes) with
#: headroom for spec-legal extra whitespace; headers longer than this
#: (e.g. with '#' comment lines, which this parser does not handle)
#: fail the anchored match and yield NULL rather than a wrong value.
_PPM_PREFIX_BYTES = 64


def ppm_dims(payload: Column) -> tuple[Column, Column, Column]:
    """(width, height, maxval) from a binary-Netpbm (P6) header — the
    first ASCII-format container in the battery: "P6\\n<w> <h>\\n<max>".
    Decoded with one anchored regexp per field over the byte prefix
    (cast to string — Netpbm headers are ASCII by spec), magic-gated on
    'P6', NULLs otherwise — including a number group cut off by the
    prefix window, which the pattern's trailing whitespace requirement
    rejects instead of silently truncating. Regexp stays JVM-side
    codegen like the binary parsers."""
    head = F.substring(payload, 1, _PPM_PREFIX_BYTES).cast("string")
    ok = F.substring(payload, 1, 2).cast("string") == "P6"
    none = F.lit(None).cast("long")

    def grp(i: int) -> Column:
        g = F.regexp_extract(head, _PPM_HEADER_PAT, i)
        return F.when(ok & (g != ""), g.cast("long")).otherwise(none)

    return grp(1), grp(2), grp(3)


def ppm_pixel_stats(
    df: DataFrame,
    id_col: str = "asset_id",
    payload_col: str = "payload",
    max_pixels: int = 4096,
) -> DataFrame:
    """REAL pixel decode of 8-bit binary-Netpbm (P6) images — per-image
    sum / min / max / mean for each RGB channel, entirely JVM-side (one
    ``F.aggregate`` fold per image; zero Python, zero codec libs) — the
    first multimodal op in the battery that decodes a raster payload,
    not just its header.

    Wire format (Netpbm spec, public): ASCII header "P6 <w> <h> <max>"
    terminated by one whitespace byte, then w*h pixels of 3 samples
    each (1 byte per sample when max < 256). The raster offset is the
    length of the header regexp match — ASCII header, so chars == bytes.

    Fails closed (all-NULL stats) on: non-P6 magic, malformed/oversized
    header, 2-byte samples (maxval > 255 — unhandled, like jpeg_sof0's
    progressive refusal), a raster shorter than 3*w*h bytes, or more
    than ``max_pixels`` pixels (bounds the per-row fold the same way
    jpeg_sof0_dims bounds its segment walk; raise it for bigger
    thumbnails — the fold is O(pixels), the right envelope for a
    stats pass over billions of SMALL images; full-size rasters belong
    in mapInPandas + a codec, not a Column fold).

    Plan shape: stage 1 projects the hex'd raster + dims ONCE and lazily
    checkpoints — an F.aggregate lambda re-evaluates every captured
    expression per element, so without the cut the header regexp would
    run per PIXEL (the HOF-projection-fusion trap from the repo's verify
    notes); stage 2 folds a 9-field struct accumulator in one pass
    (never N parallel folds over the same array — interpreted folds
    don't CSE)."""
    p = F.col(payload_col)
    w, h, mx = ppm_dims(p)
    hdr = F.regexp_extract(
        F.substring(p, 1, _PPM_PREFIX_BYTES).cast("string"),
        _PPM_HEADER_PAT,
        0,
    )
    npix = (w * h).cast("long")
    ok = (
        (F.length(hdr) > 0)
        & (mx == 255)
        & (npix > 0)
        & (npix <= max_pixels)
        & (F.length(p) >= F.length(hdr) + 3 * npix)
    )
    staged = df.select(
        F.col(id_col),
        w.alias("width"),
        h.alias("height"),
        npix.alias("_npix"),
        ok.alias("_ok"),
        # hex of exactly the raster: 6 hex chars per pixel, offset math
        # done once here instead of per fold element
        F.when(
            ok, F.hex(F.substr(p, F.length(hdr) + 1, (3 * npix).cast("int")))
        ).alias("_hx"),
    ).localCheckpoint(eager=False)

    # pixel i, channel c -> 2 hex chars at 1-based 6*i + 2*c + 1
    return _rgb_channel_stats(
        staged, id_col, lambda i, c: i * 6 + 2 * c + 1
    )


def _rgb_channel_stats(staged, id_col: str, sample_pos) -> DataFrame:
    """Shared raster fold: per-image sum/min/max/mean for each RGB
    channel from a staged frame carrying (_hx hex'd pixel region, _npix,
    _ok, width, height). ``sample_pos(i, c)`` maps (pixel index Column,
    output channel index 0=r/1=g/2=b) to the 1-based hex position of
    that sample — format-specific layout (P6 packing, BMP stride
    padding + BGR order) lives entirely in that function. ONE
    9-field-struct F.aggregate pass (interpreted folds don't CSE)."""

    def _sample(i: Column, c: int) -> Column:
        return F.conv(
            F.substr(F.col("_hx"), sample_pos(i, c), F.lit(2)), 16, 10
        ).cast("long")

    names = [f"{agg}_{ch}" for ch in "rgb" for agg in ("sum", "min", "max")]
    zero = F.struct(
        *[
            F.lit(0 if n.startswith("sum") else (256 if n.startswith("min") else -1))
            .cast("long")
            .alias(n)
            for n in names
        ]
    )

    def _step(acc: Column, i: Column) -> Column:
        fields = []
        for ci, ch in enumerate("rgb"):
            v = _sample(i, ci)
            fields.append((acc[f"sum_{ch}"] + v).alias(f"sum_{ch}"))
            fields.append(F.least(acc[f"min_{ch}"], v).alias(f"min_{ch}"))
            fields.append(F.greatest(acc[f"max_{ch}"], v).alias(f"max_{ch}"))
        return F.struct(*fields)

    st = F.aggregate(
        F.sequence(F.lit(0).cast("long"), F.col("_npix") - 1), zero, _step
    )
    none = F.lit(None).cast("long")
    out_cols = [F.col(id_col), F.col("width"), F.col("height")]
    stc = F.when(F.col("_ok"), st)
    for ch in "rgb":
        out_cols += [
            F.coalesce(stc[f"min_{ch}"], none).alias(f"min_{ch}"),
            F.coalesce(stc[f"max_{ch}"], none).alias(f"max_{ch}"),
            F.coalesce(stc[f"sum_{ch}"], none).alias(f"sum_{ch}"),
            # mean: ONE float op per output row over exact integer
            # sums (repo float discipline)
            F.round(stc[f"sum_{ch}"] / F.col("_npix"), 4).alias(f"mean_{ch}"),
        ]
    return staged.select(*out_cols)


def bmp_pixel_stats(
    df: DataFrame,
    id_col: str = "asset_id",
    payload_col: str = "payload",
    max_pixels: int = 4096,
) -> DataFrame:
    """REAL pixel decode of uncompressed 24-bit BMPs — per-image
    sum / min / max / mean per RGB channel, JVM-side, no codec libs.
    Unlike the byte-contiguous P6 raster, the BMP pixel array
    (BITMAPINFOHEADER, public wire format) has real layout hazards the
    decoder must honor:

    - each row is padded to a 4-byte boundary (stride = (3w + 3) & ~3),
      so the padding bytes must be EXCLUDED from the stats;
    - samples are stored B,G,R — the fold swaps them back;
    - a negative height means top-down row order; channel stats are
      row-order-free, so both signs decode (|h| rows) — a positional op
      (resize/crop) would need the flip, stats don't.

    Fails closed (all-NULL stats) on: non-BM magic, bpp != 24,
    compression != BI_RGB (0), zero/oversized dimensions, a pixel-array
    offset pointing inside the 54-byte header (would decode header
    bytes as pixels), or a payload shorter than
    offset + stride * |h|."""
    p = F.col(payload_col)
    w, h, bpp = bmp_dims(p)
    ah = F.abs(h)
    compression = _le_u32(p, 31)
    off = _le_u32(p, 11)  # pixel-array offset (0-based in the file)
    stride3 = 3 * w + 3
    stride = stride3 - (stride3 % 4)
    npix = (w * ah).cast("long")
    ok = (
        w.isNotNull()
        & (bpp == 24)
        & (compression == 0)
        & (w > 0)
        & (ah > 0)
        & (npix <= max_pixels)
        # 14-byte file header + 40-byte BITMAPINFOHEADER: an offset
        # inside that span points at header bytes, not pixels
        & (off >= 54)
        & (F.length(p) >= off + stride * ah)
    )
    staged = df.select(
        F.col(id_col),
        w.alias("width"),
        ah.alias("height"),
        w.alias("_w"),
        stride.alias("_stride"),
        npix.alias("_npix"),
        ok.alias("_ok"),
        F.when(
            ok, F.hex(F.substr(p, (off + 1).cast("int"), (stride * ah).cast("int")))
        ).alias("_hx"),
    ).localCheckpoint(eager=False)

    def pos(i: Column, c: int) -> Column:
        # pixel i: row-major over w*|h| pixels; byte offset inside the
        # pixel array = row*stride + col*3 + (2 - c)   [B,G,R on disk]
        row = F.floor(i / F.col("_w")).cast("long")
        colx = i % F.col("_w")
        return (row * F.col("_stride") + colx * 3 + (2 - c)) * 2 + 1

    return _rgb_channel_stats(staged, id_col, pos)


def wav_pcm_stats(
    df: DataFrame,
    id_col: str = "asset_id",
    payload_col: str = "payload",
    max_samples: int = 8192,
) -> DataFrame:
    """REAL audio decode of canonical 16-bit mono PCM WAV payloads —
    per-file sample count, min/max/sum amplitude, mean, exact energy
    (sum of squares), and RMS, entirely JVM-side. Samples are SIGNED
    little-endian int16 (two's complement via the 2^15 fold — the same
    device as bmp_dims' int32); the data chunk is located at the
    canonical offset (bytes 37-40 = 'data', size at 41, samples from
    45) — files with extension chunks before 'data' fail closed, like
    wav_header's canonical-layout contract.

    Fails closed (all-NULL stats) on: bad RIFF/WAVE/fmt magic, a
    non-PCM format tag, channels != 1, bits != 16, a missing canonical
    'data' chunk, an odd or oversized sample count, or a payload
    shorter than the declared data size."""
    p = F.col(payload_col)
    channels, rate, bits = wav_header(p)
    fmt_tag = _le_u16(p, 21)
    data_magic = F.hex(F.substring(p, 37, 4)) == F.lit("64617461")  # 'data'
    dsize = _le_u32(p, 41)
    nsamp = (dsize / 2).cast("long")
    ok = (
        channels.isNotNull()
        & (fmt_tag == 1)
        & (channels == 1)
        & (bits == 16)
        & data_magic
        & (dsize % 2 == 0)
        & (nsamp > 0)
        & (nsamp <= max_samples)
        & (F.length(p) >= 44 + dsize)
    )
    staged = df.select(
        F.col(id_col),
        rate.alias("sample_rate"),
        nsamp.alias("_n"),
        ok.alias("_ok"),
        F.when(ok, F.hex(F.substr(p, F.lit(45), dsize.cast("int")))).alias(
            "_hx"
        ),
    ).localCheckpoint(eager=False)

    def sample(i: Column) -> Column:
        lo = F.conv(F.substr(F.col("_hx"), i * 4 + 1, F.lit(2)), 16, 10).cast(
            "long"
        )
        hi = F.conv(F.substr(F.col("_hx"), i * 4 + 3, F.lit(2)), 16, 10).cast(
            "long"
        )
        u = lo + hi * 256
        return F.when(u >= 32768, u - 65536).otherwise(u)

    zero = F.struct(
        F.lit(0).cast("long").alias("s"),
        F.lit(0).cast("long").alias("sq"),
        F.lit(32768).cast("long").alias("mn"),
        F.lit(-32769).cast("long").alias("mx"),
    )

    def step(acc: Column, i: Column) -> Column:
        v = sample(i)
        return F.struct(
            (acc["s"] + v).alias("s"),
            (acc["sq"] + v * v).alias("sq"),
            F.least(acc["mn"], v).alias("mn"),
            F.greatest(acc["mx"], v).alias("mx"),
        )

    st = F.aggregate(
        F.sequence(F.lit(0).cast("long"), F.col("_n") - 1), zero, step
    )
    stc = F.when(F.col("_ok"), st)
    none = F.lit(None).cast("long")
    return staged.select(
        F.col(id_col),
        F.when(F.col("_ok"), F.col("sample_rate")).alias("sample_rate"),
        F.when(F.col("_ok"), F.col("_n")).alias("n_samples"),
        F.coalesce(stc["mn"], none).alias("min_amp"),
        F.coalesce(stc["mx"], none).alias("max_amp"),
        F.coalesce(stc["s"], none).alias("sum_amp"),
        F.round(stc["s"] / F.col("_n"), 4).alias("mean_amp"),
        F.coalesce(stc["sq"], none).alias("energy"),
        # sqrt + round: two float ops over exact integer sums, evaluated
        # once per output row (sqrt is correctly-rounded IEEE in both
        # engines, so the oracle reproduces it bit-for-bit)
        F.round(F.sqrt(stc["sq"] / F.col("_n")), 4).alias("rms"),
    )


def gif_animation_inventory(
    df: DataFrame,
    id_col: str = "asset_id",
    payload_col: str = "payload",
    max_blocks: int = 64,
) -> DataFrame:
    """REAL animation inventory from a GIF89a container walk — frame
    count, total duration (centiseconds, per-frame Graphic Control
    Extension delays summed), and NETSCAPE loop count — without
    decoding a single LZW pixel. This is pure block-structure traversal
    (the GIF spec's grammar, public wire format), the animation/video
    analog of :func:`jpeg_sof0_dims`'s segment walk:

    - header: magic + Logical Screen Descriptor, then the Global Color
      Table (3·2^(N+1) bytes) skipped by HOISTED math — computed once
      outside the fold (F.aggregate lambdas re-evaluate captured
      expressions per element);
    - ``0x2C`` Image Descriptor: counts a frame, skips the optional
      Local Color Table + LZW-min-code byte, then enters the
      size-prefixed data sub-block chain (skipped, never decoded);
    - ``0x21 0xF9`` Graphic Control Extension: fixed 8-byte layout,
      little-endian delay accumulated;
    - ``0x21 0xFF`` NETSCAPE2.0 application extension: loop count
      (fixed 19-byte layout); any other extension (comment, plain
      text, foreign app) skips generically through its sub-blocks;
    - ``0x3B`` trailer terminates.

    One ``F.aggregate`` fold with a struct accumulator (pos, mode,
    frames, delay, loop); each step consumes exactly one block or one
    sub-block, so ``max_blocks`` bounds the walk. FAILS CLOSED (all
    NULL) on: bad magic, an unknown block byte, any field read past the
    payload end (NULL position poisons the step), a truncated GCE, or
    step exhaustion before the trailer — a partial inventory is never
    reported as a total one. ``loop_count`` is NULL when no NETSCAPE
    block exists (a non-looping animation).

    Reference parity: the reference pipelines treat media as opaque
    strings (es/es_to_bytehouse.py:166-188); this operator is part of
    the engine's multimodal extension (SURVEY §2 multimodal battery)."""
    p = F.col("_pay")
    packed = F.conv(F.hex(F.substring(p, 11, 1)), 16, 10).cast("long")
    gct = F.when(
        packed >= 128,
        F.lit(3) * F.pow(F.lit(2.0), F.pmod(packed, 8) + 1).cast("long"),
    ).otherwise(F.lit(0))
    staged = df.select(
        F.col(id_col),
        F.col(payload_col).alias("_pay"),
        (F.substring(F.col(payload_col), 1, 6).cast("string") == "GIF89a").alias("_ok0"),
    ).select(
        F.col(id_col),
        p.alias("_pay"),
        (F.col("_ok0") & (F.length(p) >= 14)).alias("_ok"),
        F.when(F.col("_ok0"), F.lit(14) + gct).otherwise(F.lit(0)).alias("_p0"),
    ).localCheckpoint(eager=False)

    def u8(pos: Column) -> Column:
        h = F.hex(F.substring(p, pos.cast("int"), 1))
        return F.when(h == "", F.lit(None)).otherwise(
            F.conv(h, 16, 10).cast("long")
        )

    def le16(pos: Column) -> Column:
        return u8(pos) + u8(pos + 1) * 256

    FAIL = F.struct(
        F.lit(0).cast("long").alias("pos"),
        F.lit(0).cast("long").alias("mode"),
        F.lit(0).cast("long").alias("frames"),
        F.lit(0).cast("long").alias("delay"),
        F.lit(-1).cast("long").alias("loop"),
    )

    def mk(pos, mode, frames, delay, loop) -> Column:
        return F.struct(
            pos.cast("long").alias("pos"),
            mode.cast("long").alias("mode"),
            frames.cast("long").alias("frames"),
            delay.cast("long").alias("delay"),
            loop.cast("long").alias("loop"),
        )

    def step(acc: Column, _i: Column) -> Column:
        pos, mode = acc["pos"], acc["mode"]
        frames, delay, loop = acc["frames"], acc["delay"], acc["loop"]
        b = u8(pos)
        label = u8(pos + 1)
        # sub-block chain: one size-prefixed block per step; size 0 ends
        sub_sz = u8(pos)
        in_sub = F.when(sub_sz.isNull(), FAIL).when(
            sub_sz == 0, mk(pos + 1, F.lit(0), frames, delay, loop)
        ).otherwise(mk(pos + 1 + sub_sz, F.lit(1), frames, delay, loop))
        # GCE: 21 F9 04 packed delay_lo delay_hi transparent 00
        gce_ok = (u8(pos + 2) == 4) & (u8(pos + 7) == 0)
        gce = F.when(
            gce_ok & le16(pos + 4).isNotNull(),
            mk(pos + 8, F.lit(0), frames, delay + le16(pos + 4), loop),
        ).otherwise(FAIL)
        # NETSCAPE2.0: 21 FF 0B "NETSCAPE2.0" 03 01 loop_lo loop_hi 00
        is_netscape = (u8(pos + 2) == 11) & (
            F.substring(p, (pos + 3).cast("int"), 11).cast("string")
            == "NETSCAPE2.0"
        ) & (u8(pos + 14) == 3) & (u8(pos + 15) == 1) & (u8(pos + 18) == 0)
        netscape = F.when(
            le16(pos + 16).isNotNull(),
            mk(pos + 19, F.lit(0), frames, delay, le16(pos + 16)),
        ).otherwise(FAIL)
        # image descriptor: 2C + 8 bytes geometry + packed, optional LCT,
        # LZW min-code byte, then data sub-blocks
        ipacked = u8(pos + 9)
        lct = F.when(
            ipacked >= 128,
            F.lit(3) * F.pow(F.lit(2.0), F.pmod(ipacked, 8) + 1).cast("long"),
        ).otherwise(F.lit(0))
        imgdesc = F.when(ipacked.isNull(), FAIL).otherwise(
            mk(pos + 10 + lct + 1, F.lit(1), frames + 1, delay, loop)
        )
        ext = (
            F.when(label.isNull(), FAIL)
            .when(label == 0xF9, gce)
            .when(
                label == 0xFF,
                F.when(is_netscape, netscape).otherwise(
                    mk(pos + 2, F.lit(1), frames, delay, loop)
                ),
            )
            .otherwise(mk(pos + 2, F.lit(1), frames, delay, loop))
        )
        nxt = (
            F.when(pos <= 0, acc)  # terminal: done (-1) or failed (0)
            .when(mode == 1, in_sub)
            .when(b.isNull(), FAIL)
            .when(b == 0x3B, mk(F.lit(-1), F.lit(0), frames, delay, loop))
            .when(b == 0x21, ext)
            .when(b == 0x2C, imgdesc)
            .otherwise(FAIL)
        )
        # a NULL position (read past payload end) poisons the walk
        return F.when(nxt["pos"].isNull(), FAIL).otherwise(nxt)

    zero = mk(F.col("_p0"), F.lit(0), F.lit(0), F.lit(0), F.lit(-1))
    st = F.aggregate(
        F.sequence(F.lit(1), F.lit(int(max_blocks))), zero, step
    )
    done = F.col("_ok") & (st["pos"] == -1)
    none = F.lit(None).cast("long")
    return staged.select(
        F.col(id_col),
        F.when(done, st["frames"]).otherwise(none).alias("frame_count"),
        F.when(done, st["delay"]).otherwise(none).alias("total_delay_cs"),
        F.when(done & (st["loop"] >= 0), st["loop"])
        .otherwise(none)
        .alias("loop_count"),
    )


def tiff_ifd_dims(
    df: DataFrame,
    id_col: str = "asset_id",
    payload_col: str = "payload",
    max_tags: int = 32,
) -> DataFrame:
    """REAL TIFF header decode: byte order, IFD0 tag count, and the
    image dimensions from tags 256/257 — in BOTH byte orders. TIFF is
    the one mainstream raster container whose endianness is DECLARED BY
    THE FILE (``II`` little / ``MM`` big, TIFF 6.0 spec, public wire
    format), so a correct decoder must parameterize every integer read
    by data, not by convention:

    - header: order mark, magic 42 (order-dependent bytes!), u32 offset
      of IFD0;
    - IFD0: u16 entry count, then 12-byte entries (tag u16, type u16,
      count u32, value-or-offset u32). SHORT (type 3) values small
      enough to inline are LEFT-justified in the 4-byte field — so in
      both orders the first two bytes at the value position ARE the
      value, read with the file's endianness (the classic MM-inline
      hazard: an LE-only reader returns width*65536);
    - entries are random-access, so this is a pure ``F.transform`` over
      the entry index — no fold, no UDF, one projection;
    - only inline SHORT/LONG values of single-count tags are read
      (width/height are always that); anything else is skipped.

    Fails closed (NULLs) on: a bad order mark or magic, an IFD offset
    or entry running past the payload, or tags 256/257 absent/non-
    inline. ``n_tags`` reports the declared IFD0 entry count."""
    p = F.col("_pay")

    def u8(pos: Column) -> Column:
        h = F.hex(F.substring(p, pos.cast("int"), 1))
        return F.when(h == "", F.lit(None)).otherwise(
            F.conv(h, 16, 10).cast("long")
        )

    is_le = F.col("_le")

    def u16e(pos: Column) -> Column:
        return F.when(is_le, u8(pos) + u8(pos + 1) * 256).otherwise(
            u8(pos) * 256 + u8(pos + 1)
        )

    def u32e(pos: Column) -> Column:
        return F.when(
            is_le, u16e(pos) + u16e(pos + 2) * 65536
        ).otherwise(u16e(pos) * 65536 + u16e(pos + 2))

    order = F.substring(F.col(payload_col), 1, 2).cast("string")
    staged = df.select(
        F.col(id_col),
        F.col(payload_col).alias("_pay"),
        order.alias("_ord"),
        (order == "II").alias("_le"),
    ).localCheckpoint(eager=False)

    magic_ok = staged["_ord"].isin("II", "MM") & (u16e(F.lit(3)) == 42)
    ifd = u32e(F.lit(5)) + 1  # 1-based position of the entry count
    count = u16e(ifd)

    def entry(i: Column) -> Column:
        base = ifd + 2 + i * 12
        etype = u16e(base + 2)
        ecount = u32e(base + 4)
        val = F.when(
            (ecount == 1) & (etype == 3), u16e(base + 8)
        ).when((ecount == 1) & (etype == 4), u32e(base + 8))
        return F.struct(
            u16e(base).alias("tag"), val.alias("val")
        )

    n = F.least(count, F.lit(int(max_tags))).cast("int")
    entries = F.when(
        magic_ok & count.isNotNull() & (count > 0),
        F.transform(F.sequence(F.lit(0), n - 1), entry),
    )

    def tag_val(tag: int) -> Column:
        hits = F.filter(entries, lambda e: e["tag"] == tag)
        return F.when(F.size(hits) == 1, hits[0]["val"])

    ok = magic_ok & entries.isNotNull()
    none = F.lit(None)
    return staged.select(
        F.col(id_col),
        F.when(ok, F.col("_ord")).otherwise(none.cast("string")).alias("byte_order"),
        F.when(ok, count).otherwise(none.cast("long")).alias("n_tags"),
        F.when(ok, tag_val(256)).otherwise(none.cast("long")).alias("width"),
        F.when(ok, tag_val(257)).otherwise(none.cast("long")).alias("height"),
    )


def avi_header_inventory(
    df: DataFrame,
    id_col: str = "asset_id",
    payload_col: str = "payload",
) -> DataFrame:
    """REAL AVI container inventory — frame count, fps, duration and
    frame dimensions from the ``avih`` main header (RIFF/AVI spec,
    public wire format): ``RIFF`` size ``AVI `` then the mandatory
    first ``LIST hdrl`` whose first chunk is ``avih`` with fixed
    little-endian u32 fields (dwMicroSecPerFrame at +0, dwTotalFrames
    at +16, dwWidth/dwHeight at +32/+36). The video-container analog of
    :func:`gif_animation_inventory` — no codec, pure header math, all
    JVM-side Column expressions (one projection, no fold needed since
    the hdrl LIST is spec-required to come first).

    Fails closed (NULLs) on: wrong RIFF/AVI /LIST/hdrl/avih magics, an
    avih chunk shorter than the 40 bytes read, a declared RIFF size
    inconsistent with the payload, or a zero frame interval (fps would
    divide by zero). fps and duration are each ONE float expression
    over exact integers (repo float discipline)."""
    p = F.col(payload_col)

    def fourcc(pos: int) -> Column:
        return F.substring(p, pos, 4).cast("string")

    avih_data = 33  # 1-based: RIFF(12) + LIST hdr(12) + avih hdr(8) + 1
    micro = _le_u32(p, avih_data)
    frames = _le_u32(p, avih_data + 16)
    width = _le_u32(p, avih_data + 32)
    height = _le_u32(p, avih_data + 36)
    avih_size = _le_u32(p, 29)
    riff_size = _le_u32(p, 5)
    ok = (
        (fourcc(1) == "RIFF")
        & (fourcc(9) == "AVI ")
        & (fourcc(13) == "LIST")
        & (fourcc(21) == "hdrl")
        & (fourcc(25) == "avih")
        & (avih_size >= 40)
        & (F.length(p) >= riff_size + 8)
        & (F.length(p) >= avih_data + 39)
        & (micro > 0)
    )
    none = F.lit(None).cast("long")
    return df.select(
        F.col(id_col),
        F.when(ok, frames).otherwise(none).alias("total_frames"),
        F.when(ok, width).otherwise(none).alias("width"),
        F.when(ok, height).otherwise(none).alias("height"),
        F.when(ok, F.round(F.lit(1_000_000.0) / micro, 2)).alias("fps"),
        F.when(ok, F.floor(frames * micro / 1000).cast("long"))
        .otherwise(none)
        .alias("duration_ms"),
    )


def flac_streaminfo(
    df: DataFrame,
    id_col: str = "asset_id",
    payload_col: str = "payload",
) -> DataFrame:
    """REAL FLAC STREAMINFO decode — the first BIT-packed (not
    byte-aligned) wire format in the battery: sample rate (20 bits),
    channels (3), bits-per-sample (5) and total samples (36) share a
    64-bit big-endian field (FLAC format spec, public wire format).
    Spark has no column-level bit slicing on binary, so the extraction
    is integer algebra over two 32-bit reads — floor-div shifts and
    pmod masks, all exact (every intermediate < 2^53, and the 36-bit
    total splits as hi-4-bits * 2^32 + lo-32):

    - ``fLaC`` magic, then the first metadata block MUST be STREAMINFO
      (type bits 0, length 34) — both verified, not assumed;
    - u32 @19 (1-based): sr = >>12, ch = (>>9 & 7)+1, bps = (>>4 & 31)+1,
      total_hi = & 15; u32 @23: total_lo;
    - duration_ms = floor(total * 1000 / sr) — one float op over exact
      integers (repo float discipline; max total*1000 = 6.9e13 < 2^53).

    Fails closed (all NULL) on: bad magic, a first block that is not
    STREAMINFO/34, a payload shorter than the 42 header bytes, or a
    zero sample rate (the spec's "unknown" marker — duration undefined)."""
    p = F.col(payload_col)

    def u8(pos: int) -> Column:
        return F.conv(F.hex(F.substring(p, pos, 1)), 16, 10).cast("long")

    u32a = _be_u32(p, 19)
    u32b = _be_u32(p, 23)
    sr = F.floor(u32a / 4096).cast("long")
    ch = (F.floor(u32a / 512).cast("long") % 8) + 1
    bps = (F.floor(u32a / 16).cast("long") % 32) + 1
    total = (u32a % 16) * F.lit(4294967296) + u32b
    block_type = u8(5) % 128  # high bit = last-metadata-block flag
    block_len = F.conv(F.hex(F.substring(p, 6, 3)), 16, 10).cast("long")
    ok = (
        (F.substring(p, 1, 4).cast("string") == "fLaC")
        & (block_type == 0)
        & (block_len == 34)
        & (F.length(p) >= 42)
        & (sr > 0)
    )
    none = F.lit(None).cast("long")
    return df.select(
        F.col(id_col),
        F.when(ok, sr).otherwise(none).alias("sample_rate"),
        F.when(ok, ch).otherwise(none).alias("channels"),
        F.when(ok, bps).otherwise(none).alias("bits_per_sample"),
        F.when(ok, total).otherwise(none).alias("total_samples"),
        F.when(ok, F.floor(total * 1000 / sr).cast("long"))
        .otherwise(none)
        .alias("duration_ms"),
    )


#: MPEG-1 Layer III bitrate table, kbps, index 1-14 (ISO/IEC 11172-3)
MP3_BITRATES_KBPS = (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
#: MPEG-1 sample rates by 2-bit index (3 = reserved)
MP3_SAMPLE_RATES = (44100, 48000, 32000)


def mp3_frame_inventory(
    df: DataFrame,
    id_col: str = "asset_id",
    payload_col: str = "payload",
    max_frames: int = 64,
) -> DataFrame:
    """REAL MP3 (MPEG-1 Layer III) frame walk — frame count, sample
    rate, max bitrate and duration WITHOUT decoding audio: each frame
    header declares its own length (``floor(144000 * kbps / srate) +
    padding``, ISO/IEC 11172-3 public spec), so the walk hops header to
    header exactly like :func:`jpeg_sof0_dims` hops segments. VBR-aware:
    the bitrate index is re-read per frame and the max is folded.

    One ``F.aggregate`` fold, struct accumulator (pos, frames, srate of
    the FIRST frame, max kbps). A walk SUCCEEDS only by landing exactly
    on ``length+1`` — a trailing partial frame, garbage between frames,
    a reserved bitrate/samplerate index, a broken sync word, or more
    than ``max_frames`` frames all fail closed (all-NULL): a truncated
    file must not report a confident duration. Frames-per-file beyond
    64 needs a bigger ``max_frames`` — the fixture-scale default keeps
    the fold bounded.

    duration_ms = floor(frames * 1152 * 1000 / srate) — 1152
    samples/frame for MPEG-1 Layer III; one float op over exact ints."""
    p = F.col(payload_col)

    def u8(pos: Column) -> Column:
        h = F.hex(F.substring(p, pos.cast("int"), 1))
        return F.when(h == "", F.lit(None)).otherwise(
            F.conv(h, 16, 10).cast("long")
        )

    br_arr = F.array(*[F.lit(v) for v in MP3_BITRATES_KBPS])
    sr_arr = F.array(*[F.lit(v) for v in MP3_SAMPLE_RATES])
    end = F.length(p) + 1

    FAIL = F.struct(
        F.lit(0).cast("long").alias("pos"),
        F.lit(0).cast("long").alias("frames"),
        F.lit(None).cast("long").alias("sr"),
        F.lit(0).cast("long").alias("brmax"),
    )

    def step(acc: Column, _i: Column) -> Column:
        pos = acc["pos"]
        b0, b1, b2 = u8(pos), u8(pos + 1), u8(pos + 2)
        sync_ok = (
            (b0 == 255)
            & (F.floor(b1 / 32) == 7)          # 11 sync bits
            & (F.floor(b1 / 8).cast("long") % 4 == 3)   # MPEG-1
            & (F.floor(b1 / 2).cast("long") % 4 == 1)   # Layer III
        )
        br_idx = F.floor(b2 / 16).cast("long")
        sr_idx = (F.floor(b2 / 4).cast("long")) % 4
        pad = (F.floor(b2 / 2).cast("long")) % 2
        idx_ok = (br_idx >= 1) & (br_idx <= 14) & (sr_idx <= 2)
        kbps = F.element_at(br_arr, br_idx.cast("int"))
        srate = F.element_at(sr_arr, (sr_idx + 1).cast("int"))
        flen = F.floor(144000 * kbps / srate).cast("long") + pad
        advanced = F.struct(
            (pos + flen).alias("pos"),
            (acc["frames"] + 1).alias("frames"),
            F.coalesce(acc["sr"], srate.cast("long")).alias("sr"),
            F.greatest(acc["brmax"], kbps.cast("long")).alias("brmax"),
        )
        nxt = (
            F.when(pos <= 0, acc)                      # terminal
            .when(pos == end, F.struct(                # clean end of file
                F.lit(-1).cast("long").alias("pos"),
                acc["frames"].alias("frames"),
                acc["sr"].alias("sr"),
                acc["brmax"].alias("brmax"),
            ))
            .when(sync_ok & idx_ok, advanced)
            .otherwise(FAIL)
        )
        return F.when(nxt["pos"].isNull(), FAIL).otherwise(nxt)

    zero = F.struct(
        F.lit(1).cast("long").alias("pos"),
        F.lit(0).cast("long").alias("frames"),
        F.lit(None).cast("long").alias("sr"),
        F.lit(0).cast("long").alias("brmax"),
    )
    # +1 step so the end-of-file check can fire after max_frames frames
    st = F.aggregate(F.sequence(F.lit(0), F.lit(int(max_frames))), zero, step)
    ok = (st["pos"] == -1) & (st["frames"] > 0)
    none = F.lit(None).cast("long")
    return df.select(
        F.col(id_col),
        F.when(ok, st["frames"]).otherwise(none).alias("frame_count"),
        F.when(ok, st["sr"]).otherwise(none).alias("sample_rate"),
        F.when(ok, st["brmax"]).otherwise(none).alias("max_bitrate_kbps"),
        F.when(ok, F.floor(st["frames"] * 1152 * 1000 / st["sr"]).cast("long"))
        .otherwise(none)
        .alias("duration_ms"),
    )


def mp3_frame_inventory_pandas(
    df: DataFrame,
    id_col: str = "asset_id",
    payload_col: str = "payload",
    max_frames: int = 1_000_000,
) -> DataFrame:
    """The SCALE path for the MP3 frame inventory — the same contract
    and output schema as :func:`mp3_frame_inventory`, executed as an
    Arrow-batched ``mapInPandas`` walker instead of a Column fold.

    Why two paths: the fold's per-step byte reads re-materialize the
    binary field from the row, so its cost is O(frames × payload) — fine
    at fixture scale (≤ ~1 MB, a few thousand frames), a cliff on
    multi-MB audio (measured: MM_THROUGHPUT.md). This walker holds the
    payload ONCE as Python bytes and hops headers in O(frames); it is
    the switchover target the fold's docstring names, with the decode
    semantics pinned equal by tests (valid chains, VBR max, truncation,
    garbage, reserved indices, frame caps all agree).

    Fail-closed like the fold: success ONLY by landing exactly on
    end-of-payload with ≤ ``max_frames`` frames; anything else — broken
    sync word, reserved bitrate/samplerate index, trailing partial
    frame — yields all-NULL columns."""
    schema = (
        f"{id_col} long, frame_count long, sample_rate long, "
        "max_bitrate_kbps long, duration_ms long"
    )

    def _walk(b: bytes):
        pos, n, sr0, brmax = 0, 0, None, 0
        size = len(b)
        while pos < size:
            if n >= max_frames or pos + 3 > size:
                return None
            b0, b1, b2 = b[pos], b[pos + 1], b[pos + 2]
            if (
                b0 != 0xFF
                or (b1 >> 5) != 7          # 11 sync bits
                or ((b1 >> 3) & 3) != 3    # MPEG-1
                or ((b1 >> 1) & 3) != 1    # Layer III
            ):
                return None
            br_idx, sr_idx, pad = b2 >> 4, (b2 >> 2) & 3, (b2 >> 1) & 1
            if not 1 <= br_idx <= 14 or sr_idx > 2:
                return None
            kbps = MP3_BITRATES_KBPS[br_idx - 1]
            srate = MP3_SAMPLE_RATES[sr_idx]
            pos += 144000 * kbps // srate + pad
            n += 1
            sr0 = srate if sr0 is None else sr0
            brmax = max(brmax, kbps)
        if pos != size or n == 0:
            return None
        return n, sr0, brmax, n * 1152 * 1000 // sr0

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                id_col: [], "frame_count": [], "sample_rate": [],
                "max_bitrate_kbps": [], "duration_ms": [],
            }
            for asset_id, payload in zip(pdf[id_col], pdf[payload_col]):
                res = _walk(bytes(payload)) if payload is not None else None
                rows[id_col].append(int(asset_id))
                if res is None:
                    for k in ("frame_count", "sample_rate",
                              "max_bitrate_kbps", "duration_ms"):
                        rows[k].append(None)
                else:
                    n, sr, br, dur = res
                    rows["frame_count"].append(n)
                    rows["sample_rate"].append(sr)
                    rows["max_bitrate_kbps"].append(br)
                    rows["duration_ms"].append(dur)
            yield pd.DataFrame(rows)

    return df.select(id_col, payload_col).mapInPandas(extract, schema)


def warc_record_inventory(
    df: DataFrame,
    id_col: str = "asset_id",
    payload_col: str = "payload",
    max_records: int = 32,
    max_header_bytes: int = 4096,
) -> DataFrame:
    """REAL WARC (ISO 28500, the Common Crawl wire format) record
    inventory — record count, response/request counts and total content
    bytes — by hopping record headers exactly as the MP3/JPEG walks hop
    frames: each record declares its own ``Content-Length``, and
    records are delimited by CRLFCRLF after both the header block and
    the content block.

    Binary-safe offset trick: Spark's ``locate`` counts CHARS, so the
    payload is decoded as ISO-8859-1 — a bijective byte<->char map — so
    every char offset IS the byte offset and arbitrary binary record
    content (gzip, images) walks correctly. Header parsing per hop:

    - version line must open ``WARC/1.`` (1.0 and 1.1 accepted);
    - the header/content boundary is the first CRLFCRLF within a
      ``max_header_bytes`` window (real WARC headers are far smaller);
    - ``Content-Length`` and ``WARC-Type`` are extracted from the
      header block alone (never from content, which may embed
      lookalike lines);
    - next record = boundary + content + the spec's trailing CRLFCRLF.

    One bounded ``F.aggregate`` fold, struct accumulator; success ONLY
    by landing exactly on end-of-payload, so truncated content, a
    missing Content-Length, or a malformed version line fail closed
    (all NULL) — the crawl-ingest contract where a half-read archive
    must not report a confident record count."""
    s = F.decode(F.col(payload_col), "ISO-8859-1")
    end = F.length(s) + 1

    FAIL = F.struct(
        F.lit(0).cast("long").alias("pos"),
        F.lit(0).cast("long").alias("n"),
        F.lit(0).cast("long").alias("resp"),
        F.lit(0).cast("long").alias("req"),
        F.lit(0).cast("long").alias("bytes"),
    )

    def step(acc: Column, _i: Column) -> Column:
        pos = acc["pos"]
        window = F.substring(s, pos.cast("int"), max_header_bytes)
        rel = F.locate("\r\n\r\n", window)  # 1-based, 0 = not found
        header = F.substring(window, 1, rel + 1)  # incl. one CRLF
        clen = F.nullif(
            F.regexp_extract(header, r"\r\nContent-Length: (\d+)\r\n", 1),
            F.lit(""),
        ).cast("long")
        wtype = F.regexp_extract(header, r"\r\nWARC-Type: ([a-z]+)\r\n", 1)
        advanced = F.struct(
            (pos + rel + 3 + clen + 4).alias("pos"),
            (acc["n"] + 1).alias("n"),
            (acc["resp"] + F.when(wtype == "response", 1).otherwise(0)).alias("resp"),
            (acc["req"] + F.when(wtype == "request", 1).otherwise(0)).alias("req"),
            (acc["bytes"] + clen).alias("bytes"),
        )
        nxt = (
            F.when(pos <= 0, acc)
            .when(pos == end, F.struct(
                F.lit(-1).cast("long").alias("pos"),
                acc["n"].alias("n"),
                acc["resp"].alias("resp"),
                acc["req"].alias("req"),
                acc["bytes"].alias("bytes"),
            ))
            .when(
                (F.substring(window, 1, 7) == "WARC/1.")
                & (rel > 0)
                & clen.isNotNull(),
                advanced,
            )
            .otherwise(FAIL)
        )
        return F.when(nxt["pos"].isNull(), FAIL).otherwise(nxt)

    zero = F.struct(
        F.lit(1).cast("long").alias("pos"),
        F.lit(0).cast("long").alias("n"),
        F.lit(0).cast("long").alias("resp"),
        F.lit(0).cast("long").alias("req"),
        F.lit(0).cast("long").alias("bytes"),
    )
    st = F.aggregate(F.sequence(F.lit(0), F.lit(int(max_records))), zero, step)
    ok = (st["pos"] == -1) & (st["n"] > 0)
    none = F.lit(None).cast("long")
    return df.select(
        F.col(id_col),
        F.when(ok, st["n"]).otherwise(none).alias("n_records"),
        F.when(ok, st["resp"]).otherwise(none).alias("n_response"),
        F.when(ok, st["req"]).otherwise(none).alias("n_request"),
        F.when(ok, st["bytes"]).otherwise(none).alias("content_bytes"),
    )


def warc_record_inventory_pandas(
    df: DataFrame,
    id_col: str = "asset_id",
    payload_col: str = "payload",
    max_records: int = 1_000_000,
    max_header_bytes: int = 4096,
) -> DataFrame:
    """The SCALE path for the WARC inventory — same contract and output
    schema as :func:`warc_record_inventory`, as an Arrow-batched
    ``mapInPandas`` walker.

    Why this one gets a scale path: WARC is the crawl wire format
    (Common Crawl ships ~1 GB warc.gz members), and the fold pays the
    measured Column-fold law (MM_THROUGHPUT.md) — every step's window
    substring re-materializes the whole decoded payload, so a
    gigabyte-scale record walk is fold-hostile. This walker holds the
    bytes once: the boundary search is one ``find`` per record, the
    hop O(records). Semantics pinned equal to the fold by tests:
    ``WARC/1.`` version gate, CRLFCRLF boundary within
    ``max_header_bytes``, Content-Length/WARC-Type parsed from the
    header block only, success ONLY by landing exactly on
    end-of-payload."""
    import re as _re

    schema = (
        f"{id_col} long, n_records long, n_response long, n_request long, "
        "content_bytes long"
    )
    clen_re = _re.compile(rb"\r\nContent-Length: (\d+)\r\n")
    type_re = _re.compile(rb"\r\nWARC-Type: ([a-z]+)\r\n")

    def _walk(b: bytes):
        pos, n, resp, req, total = 0, 0, 0, 0, 0
        size = len(b)
        while pos < size:
            if n >= max_records:
                return None
            window = b[pos : pos + max_header_bytes]
            if window[:7] != b"WARC/1.":
                return None
            idx = window.find(b"\r\n\r\n")
            if idx < 0:
                return None
            header = window[: idx + 2]  # incl. one CRLF, like the fold
            m = clen_re.search(header)
            if m is None:
                return None
            clen = int(m.group(1))
            t = type_re.search(header)
            wtype = t.group(1) if t else b""
            if wtype == b"response":
                resp += 1
            elif wtype == b"request":
                req += 1
            n += 1
            total += clen
            pos += idx + 4 + clen + 4  # boundary + content + trailing CRLFCRLF
        if pos != size or n == 0:
            return None
        return n, resp, req, total

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                id_col: [], "n_records": [], "n_response": [],
                "n_request": [], "content_bytes": [],
            }
            for asset_id, payload in zip(pdf[id_col], pdf[payload_col]):
                res = _walk(bytes(payload)) if payload is not None else None
                rows[id_col].append(int(asset_id))
                if res is None:
                    for k in ("n_records", "n_response", "n_request",
                              "content_bytes"):
                        rows[k].append(None)
                else:
                    n, resp, req, total = res
                    rows["n_records"].append(n)
                    rows["n_response"].append(resp)
                    rows["n_request"].append(req)
                    rows["content_bytes"].append(total)
            yield pd.DataFrame(rows)

    return df.select(id_col, payload_col).mapInPandas(extract, schema)


def gzip_member_inventory(
    df: DataFrame,
    id_col: str = "asset_id",
    payload_col: str = "payload",
    max_name_bytes: int = 256,
) -> DataFrame:
    """REAL gzip (RFC 1952) member decode — header fields and the
    trailer, no inflate: the wrapper every ``.json.gz`` / ``.wet.gz``
    shard of a crawl corpus wears. The header is a genuine variable-
    length walk: after the fixed 10 bytes (magic 1f8b, CM=8, FLG,
    MTIME u32le, XFL, OS), the FLG bits gate OPTIONAL fields in spec
    order — FEXTRA (u16le length + data), FNAME and FCOMMENT
    (NUL-terminated strings, located via the ISO-8859-1 byte<->char
    device), FHCRC (u16) — so the data offset is computed, never
    assumed. The trailer's last 8 bytes carry CRC32 and ISIZE
    (uncompressed length mod 2^32, little-endian).

    Returns mtime (epoch seconds), os byte, the FNAME (NULL when
    absent), deflate_bytes (member length minus header minus trailer)
    and isize. Fails closed on: bad magic, CM != 8, reserved FLG bits,
    a FNAME/FCOMMENT terminator beyond ``max_name_bytes``, or a header
    that overruns the payload (deflate_bytes would go negative)."""
    p = F.col(payload_col)
    s = F.decode(p, "ISO-8859-1")

    def u8(pos) -> Column:
        return F.conv(F.hex(F.substring(p, pos, 1)), 16, 10).cast("long")

    cm = u8(3)
    flg = u8(4)
    bit = lambda n: F.floor(flg / (2 ** n)).cast("long") % 2  # noqa: E731
    ftext, fhcrc, fextra, fname, fcomment = bit(0), bit(1), bit(2), bit(3), bit(4)
    xlen = _le_u16(p, 11)
    extra_end = F.when(fextra == 1, 12 + xlen).otherwise(F.lit(10)).cast("long")
    # FNAME: NUL-terminated, search a bounded window after the extras
    nm_rel = F.locate(
        "\x00", F.substring(s, (extra_end + 1).cast("int"), max_name_bytes)
    )
    name_end = F.when(
        fname == 1, F.when(nm_rel > 0, extra_end + nm_rel)
    ).otherwise(extra_end)
    cm_rel = F.locate(
        "\x00", F.substring(s, (name_end + 1).cast("int"), max_name_bytes)
    )
    comment_end = F.when(
        fcomment == 1, F.when(cm_rel > 0, name_end + cm_rel)
    ).otherwise(name_end)
    header_end = comment_end + F.when(fhcrc == 1, 2).otherwise(0)
    deflate_bytes = F.length(p) - header_end - 8
    ok = (
        (F.hex(F.substring(p, 1, 2)) == "1F8B")
        & (cm == 8)  # deflate is the only RFC 1952 method
        & (F.floor(flg / 32) == 0)  # reserved bits 5-7 must be zero
        & header_end.isNotNull()
        & (deflate_bytes >= 0)
        & (ftext <= 1)
    )
    mtime = _le_u32(p, 5)
    os_byte = u8(10)
    isize = _le_u32(p, (F.length(p) - 3).cast("int"))
    crc = _le_u32(p, (F.length(p) - 7).cast("int"))
    fname_str = F.when(
        (fname == 1) & (nm_rel > 0),
        F.substring(s, (extra_end + 1).cast("int"), nm_rel - 1),
    )
    none = F.lit(None).cast("long")
    return df.select(
        F.col(id_col),
        F.when(ok, mtime).otherwise(none).alias("mtime"),
        F.when(ok, os_byte).otherwise(none).alias("os_byte"),
        F.when(ok, fname_str).otherwise(F.lit(None).cast("string")).alias("fname"),
        F.when(ok, deflate_bytes).otherwise(none).alias("deflate_bytes"),
        F.when(ok, isize).otherwise(none).alias("isize"),
        F.when(ok, crc).otherwise(none).alias("crc32"),
    )


def zstd_frame_inventory(
    df: DataFrame,
    id_col: str = "asset_id",
    payload_col: str = "payload",
) -> DataFrame:
    """REAL Zstandard frame-header decode (RFC 8878, public wire
    format) — the other compression wrapper modern crawl corpora ship
    in. Like gzip's FLG walk, every field after the magic is gated by
    descriptor BITS, so offsets are computed, never assumed:

    - magic ``28 B5 2F FD`` (little-endian 0xFD2FB528);
    - frame-header descriptor byte: bits 7-6 = Frame_Content_Size
      field size code (0->0-or-1, 1->2, 2->4, 3->8 bytes), bit 5 =
      Single_Segment (drops the window descriptor AND promotes size
      code 0 to a 1-byte field), bit 3 reserved (must be 0), bit 2 =
      Content_Checksum, bits 1-0 = Dictionary_ID size code (0/1/2/4);
    - window descriptor (when present): window_size =
      2^(10+exponent) + mantissa * 2^(10+exponent-3) — pure exponent
      algebra, exact for every legal exponent;
    - Frame_Content_Size: LE, and the 2-byte format stores
      ``value - 256`` (the spec's offset encoding — a decoder that
      skips the +256 is wrong for every small-but-not-tiny frame).

    Returns dict_id (NULL when absent), window_size (NULL under
    Single_Segment), content_size (NULL when not declared),
    has_checksum, header_bytes. Fails closed on bad magic, the
    reserved descriptor bit, or a header overrunning the payload."""
    p = F.col(payload_col)

    def u8(pos) -> Column:
        h = F.hex(F.substring(p, pos, 1))
        return F.when(h == "", F.lit(None)).otherwise(
            F.conv(h, 16, 10).cast("long")
        )

    def le_n(pos: Column, nbytes: Column) -> Column:
        """Little-endian unsigned int of 1/2/4/8 bytes at Column pos."""
        return (
            F.when(nbytes == 1, u8(pos))
            .when(nbytes == 2, u8(pos) + u8(pos + 1) * 256)
            .when(nbytes == 4, _le_u32(p, pos))
            .when(
                nbytes == 8,
                _le_u32(p, pos) + _le_u32(p, pos + 4) * F.lit(4294967296),
            )
        )

    desc = u8(5)
    fcs_code = F.floor(desc / 64).cast("long")
    single = (F.floor(desc / 32).cast("long") % 2) == 1
    reserved = (F.floor(desc / 8).cast("long") % 2)
    checksum = (F.floor(desc / 4).cast("long") % 2) == 1
    did_code = desc % 4
    did_len = F.when(did_code == 3, 4).otherwise(did_code).cast("long")
    fcs_len = (
        F.when(fcs_code == 0, F.when(single, 1).otherwise(0))
        .when(fcs_code == 1, 2)
        .when(fcs_code == 2, 4)
        .otherwise(8)
        .cast("long")
    )
    win_pos = F.lit(6).cast("long")
    win_len = F.when(single, 0).otherwise(1).cast("long")
    did_pos = win_pos + win_len
    fcs_pos = did_pos + did_len
    header_bytes = fcs_pos + fcs_len - 1  # total incl. 4-byte magic
    wd = u8(win_pos)
    wexp = F.floor(wd / 8).cast("long") + 10
    wmant = wd % 8
    window_size = (
        F.pow(F.lit(2.0), wexp).cast("long")
        + wmant * F.pow(F.lit(2.0), wexp - 3).cast("long")
    )
    raw_fcs = le_n(fcs_pos, fcs_len)
    content_size = F.when(fcs_len == 0, F.lit(None).cast("long")).otherwise(
        F.when(fcs_len == 2, raw_fcs + 256).otherwise(raw_fcs)
    )
    ok = (
        (F.hex(F.substring(p, 1, 4)) == "28B52FFD")
        & desc.isNotNull()
        & (reserved == 0)
        & (F.length(p) >= header_bytes)
    )
    none = F.lit(None).cast("long")
    return df.select(
        F.col(id_col),
        F.when(ok & (did_len > 0), le_n(did_pos, did_len))
        .otherwise(none)
        .alias("dict_id"),
        F.when(ok & ~single, window_size).otherwise(none).alias("window_size"),
        F.when(ok, content_size).otherwise(none).alias("content_size"),
        F.when(ok, checksum).otherwise(F.lit(None).cast("boolean")).alias("has_checksum"),
        F.when(ok, header_bytes).otherwise(none).alias("header_bytes"),
    )


def tar_archive_inventory(
    df: DataFrame,
    id_col: str = "asset_id",
    payload_col: str = "payload",
    max_entries: int = 16,
) -> DataFrame:
    """REAL ustar tar inventory (POSIX.1-1988, public wire format) —
    entry / file / directory counts and total file bytes, with the
    header CHECKSUM actually validated: the stored octal checksum must
    equal the sum of all 512 header bytes with the checksum field
    itself read as eight spaces. That validation is what makes this a
    decode rather than a guess — a corrupted or misaligned header is
    rejected, not inventoried.

    Walk: 512-byte header blocks; the size field (octal text, offset
    124) sets the data-block hop (ceil(size/512)*512); typeflag '0'/NUL
    counts a file, '5' a directory. A block whose first byte is NUL is
    the end-of-archive marker (the spec's two zero blocks). One outer
    ``F.aggregate`` per archive; the per-header byte sum is an inner
    256-element fold over the block's hex pairs (bounded, JVM-side).

    Fails closed (all NULL) on: a non-``ustar`` magic, a checksum
    mismatch, an unparsable size field, a header overrunning the
    payload, or more than ``max_entries`` entries."""
    p = F.col(payload_col)

    FAIL = F.struct(
        F.lit(0).cast("long").alias("pos"),
        F.lit(0).cast("long").alias("n"),
        F.lit(0).cast("long").alias("files"),
        F.lit(0).cast("long").alias("dirs"),
        F.lit(0).cast("long").alias("bytes"),
    )

    def step(acc: Column, _i: Column) -> Column:
        pos = acc["pos"]
        block_hex = F.hex(F.substring(p, pos.cast("int"), 512))
        first = F.substring(block_hex, 1, 2)
        # checksum: sum of 512 bytes with the checksum field (offsets
        # 148-155 0-based) as spaces; fold PAIRS of bytes (256 steps)
        def _pair(a: Column, i: Column) -> Column:
            return (
                a
                + F.conv(F.substring(block_hex, i * 4 + 1, 2), 16, 10).cast("long")
                + F.conv(F.substring(block_hex, i * 4 + 3, 2), 16, 10).cast("long")
            )

        raw_sum = F.aggregate(
            F.sequence(F.lit(0), F.lit(255)), F.lit(0).cast("long"), _pair
        )
        chk_field = F.substring(block_hex, 148 * 2 + 1, 16)

        def _chk_pair(a: Column, i: Column) -> Column:
            return a + F.conv(F.substring(chk_field, i * 2 + 1, 2), 16, 10).cast("long")

        chk_bytes = F.aggregate(
            F.sequence(F.lit(0), F.lit(7)), F.lit(0).cast("long"), _chk_pair
        )
        expected = raw_sum - chk_bytes + 8 * 0x20

        def octal(off: int, length: int) -> Column:
            txt = F.decode(
                F.unhex(F.substring(block_hex, off * 2 + 1, length * 2)),
                "ISO-8859-1",
            )
            return F.conv(
                F.nullif(F.regexp_extract(txt, "([0-7]+)", 1), F.lit("")),
                8,
                10,
            ).cast("long")

        stored_chk = octal(148, 8)
        size = octal(124, 12)
        typeflag = F.substring(block_hex, 156 * 2 + 1, 2)
        magic_ok = F.substring(block_hex, 257 * 2 + 1, 10) == "7573746172"  # 'ustar'
        data_blocks = F.ceil(size / 512).cast("long")
        advanced = F.struct(
            (pos + 512 + data_blocks * 512).alias("pos"),
            (acc["n"] + 1).alias("n"),
            (acc["files"] + F.when(typeflag.isin("30", "00"), 1).otherwise(0)).alias("files"),
            (acc["dirs"] + F.when(typeflag == "35", 1).otherwise(0)).alias("dirs"),
            (acc["bytes"] + F.when(typeflag.isin("30", "00"), size).otherwise(0)).alias("bytes"),
        )
        nxt = (
            F.when(pos <= 0, acc)
            .when(first == "00", F.struct(  # end-of-archive zero block
                F.lit(-1).cast("long").alias("pos"),
                acc["n"].alias("n"),
                acc["files"].alias("files"),
                acc["dirs"].alias("dirs"),
                acc["bytes"].alias("bytes"),
            ))
            .when(
                magic_ok
                & size.isNotNull()
                & stored_chk.isNotNull()
                & (stored_chk == expected)
                & (F.length(p) >= pos + 511),
                advanced,
            )
            .otherwise(FAIL)
        )
        return F.when(nxt["pos"].isNull(), FAIL).otherwise(nxt)

    zero = F.struct(
        F.lit(1).cast("long").alias("pos"),
        F.lit(0).cast("long").alias("n"),
        F.lit(0).cast("long").alias("files"),
        F.lit(0).cast("long").alias("dirs"),
        F.lit(0).cast("long").alias("bytes"),
    )
    st = F.aggregate(F.sequence(F.lit(0), F.lit(int(max_entries))), zero, step)
    ok = (st["pos"] == -1) & (st["n"] > 0)
    none = F.lit(None).cast("long")
    return df.select(
        F.col(id_col),
        F.when(ok, st["n"]).otherwise(none).alias("n_entries"),
        F.when(ok, st["files"]).otherwise(none).alias("n_files"),
        F.when(ok, st["dirs"]).otherwise(none).alias("n_dirs"),
        F.when(ok, st["bytes"]).otherwise(none).alias("total_file_bytes"),
    )


def tar_archive_inventory_pandas(
    df: DataFrame,
    id_col: str = "asset_id",
    payload_col: str = "payload",
    max_entries: int = 100_000,
) -> DataFrame:
    """The SCALE path for the tar inventory — same contract and output
    schema as :func:`tar_archive_inventory`, as an Arrow-batched
    ``mapInPandas`` walker.

    Why: the fold's per-header 512-byte checksum is ~512 byte-extraction
    steps per entry, and every step re-materializes the whole binary
    field (measured ~21 s/pass at 1 MB x 32 copies, MM_THROUGHPUT.md).
    This walker holds the payload once: the checksum is one ``sum()``
    over a 512-byte slice, the walk O(entries). Semantics pinned equal
    to the fold by tests: ustar magic, validated checksum (checksum
    field read as eight spaces), octal size/typeflag parsing, NUL
    end-of-archive block, fail-closed on truncation / mismatch /
    > ``max_entries``."""
    import re as _re

    schema = (
        f"{id_col} long, n_entries long, n_files long, n_dirs long, "
        "total_file_bytes long"
    )

    def _octal(field: bytes):
        m = _re.search(rb"[0-7]+", field)
        return int(m.group(), 8) if m else None

    def _walk(b: bytes):
        pos, n, files, dirs, total = 0, 0, 0, 0, 0
        size_len = len(b)
        while True:
            if pos >= size_len:
                return None  # ran off the end without a zero block
            if b[pos] == 0:  # end-of-archive marker
                return (n, files, dirs, total) if n > 0 else None
            if n >= max_entries or pos + 512 > size_len:
                return None
            block = b[pos : pos + 512]
            if block[257:262] != b"ustar":
                return None
            size = _octal(block[124:136])
            stored = _octal(block[148:156])
            if size is None or stored is None:
                return None
            if stored != sum(block) - sum(block[148:156]) + 8 * 0x20:
                return None
            tf = block[156]
            if tf in (0x30, 0x00):
                files += 1
                total += size
            elif tf == 0x35:
                dirs += 1
            n += 1
            pos += 512 + ((size + 511) // 512) * 512

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                id_col: [], "n_entries": [], "n_files": [], "n_dirs": [],
                "total_file_bytes": [],
            }
            for asset_id, payload in zip(pdf[id_col], pdf[payload_col]):
                res = _walk(bytes(payload)) if payload is not None else None
                rows[id_col].append(int(asset_id))
                if res is None:
                    for k in ("n_entries", "n_files", "n_dirs",
                              "total_file_bytes"):
                        rows[k].append(None)
                else:
                    n, files, dirs, total = res
                    rows["n_entries"].append(n)
                    rows["n_files"].append(files)
                    rows["n_dirs"].append(dirs)
                    rows["total_file_bytes"].append(total)
            yield pd.DataFrame(rows)

    return df.select(id_col, payload_col).mapInPandas(extract, schema)
