"""Multimodal columns: opaque binary payloads + typed metadata.

Image/audio/video are carried as ``binary`` columns with a metadata
struct; decode / feature-extract / resize / frame-sample run as Arrow
``mapInPandas`` stages. ``decode_image`` is REAL for PNG — a
pure-stdlib decoder (``decode_png``: chunk walk, zlib inflate, filter
reconstruction per the PNG spec §9; 8-bit gray/RGB/palette/gray-
alpha/RGBA, non-interlaced). ``decode_wav`` is REAL for RIFF PCM
audio (chunk walk + 8/16-bit PCM de-interleave, validated against
stdlib ``wave`` in tests). Other formats (JPEG, mp3, video) raise
NotImplementedError (their codecs aren't in this container) — for
those the feature/frame stages fall back to clearly-marked
deterministic fakes, but the Spark-side plumbing (schemas, batch
shapes, partitioning, UDF signatures) is real and tested, which is
the part that matters for the 100 TB design.

Scale notes: binary payloads dominate row size, so these stages set
``spark.sql.files.maxPartitionBytes``-friendly batch shapes (small
maxRecordsPerBatch), never collect, and emit fixed-width feature rows
that are orders of magnitude smaller than their inputs.
"""

from __future__ import annotations

import hashlib
import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

META_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("n_bytes", LongType()),
        StructField("digest", StringType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("feature", ArrayType(DoubleType())),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_bytes", LongType()),
    ]
)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# PNG color type -> samples per pixel (spec §11.2.2)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_unfilter(raw: bytes, h: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse the per-scanline filters (PNG spec §9): each line is
    [filter_type][stride bytes]; reconstruction of Sub/Paeth is a
    left-to-right recurrence, done per byte (fine for the metadata/
    fixture path; throughput decoding belongs to a native codec)."""
    out = np.zeros((h, stride), dtype=np.uint8)
    pos = 0
    for y in range(h):
        ftype = raw[pos]
        line = bytearray(raw[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        prev = out[y - 1] if y else np.zeros(stride, dtype=np.uint8)
        if ftype == 0:  # None
            pass
        elif ftype == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((left + int(prev[i])) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = int(prev[i])
                c = int(out[y - 1][i - bpp]) if (y and i >= bpp) else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = np.frombuffer(bytes(line), dtype=np.uint8)
    return out


def decode_png(payload: bytes) -> dict:
    """Pure-stdlib PNG decode (no PIL): signature + chunk walk, IDAT
    zlib inflate, filter reconstruction, palette expansion.

    Supports bit depth 8, color types 0/2/3/4/6, non-interlaced — the
    dominant real-world configurations. Returns
    ``{width, height, channels, pixels}`` with pixels a
    (height, width, channels) uint8 array (palette expanded to RGB).
    Raises ValueError on malformed bytes, NotImplementedError on
    unsupported (16-bit / sub-byte / interlaced) variants.
    """
    if not payload or not payload.startswith(_PNG_SIG):
        raise ValueError("not a PNG (bad signature)")
    pos = len(_PNG_SIG)
    w = h = depth = ctype = interlace = None
    idat = bytearray()
    plte = None
    while pos + 8 <= len(payload):
        ln = int.from_bytes(payload[pos : pos + 4], "big")
        typ = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + ln]
        pos += 12 + ln  # length + type + data + CRC (CRC not verified)
        if typ == b"IHDR":
            if ln != 13:
                raise ValueError("bad IHDR length")
            w = int.from_bytes(data[0:4], "big")
            h = int.from_bytes(data[4:8], "big")
            depth, ctype = data[8], data[9]
            interlace = data[12]
        elif typ == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
    if w is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    if ctype not in _PNG_CHANNELS:
        raise ValueError(f"bad PNG color type {ctype}")
    if depth != 8 or interlace != 0:
        raise NotImplementedError(
            f"PNG depth={depth} interlace={interlace} unsupported "
            "(8-bit non-interlaced only)"
        )
    nch = _PNG_CHANNELS[ctype]
    stride = w * nch
    raw = zlib.decompress(bytes(idat))
    if len(raw) != h * (stride + 1):
        raise ValueError("IDAT size mismatch")
    px = _png_unfilter(raw, h, stride, nch).reshape(h, w, nch)
    if ctype == 3:
        if plte is None:
            raise ValueError("palette image without PLTE")
        px = plte[px[:, :, 0]]
        nch = 3
    return {"width": w, "height": h, "channels": nch, "pixels": px}


def _png_filter_row(ftype: int, line: bytes, prev: bytes, bpp: int) -> bytes:
    """Forward per-scanline filter (PNG spec §9) — the encoder side of
    ``_png_unfilter``."""
    n = len(line)
    out = bytearray(n)
    for i in range(n):
        x = line[i]
        a = line[i - bpp] if i >= bpp else 0
        b = prev[i]
        c = prev[i - bpp] if i >= bpp else 0
        if ftype == 0:
            out[i] = x
        elif ftype == 1:
            out[i] = (x - a) & 0xFF
        elif ftype == 2:
            out[i] = (x - b) & 0xFF
        elif ftype == 3:
            out[i] = (x - ((a + b) >> 1)) & 0xFF
        elif ftype == 4:
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out[i] = (x - pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
    return bytes(out)


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    import struct

    return (
        struct.pack(">I", len(data)) + typ + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray, filters=None) -> bytes:
    """Pure-stdlib PNG encode: (h, w, c) uint8 -> valid PNG bytes
    (8-bit, non-interlaced; c in {1: gray, 2: gray+alpha, 3: RGB,
    4: RGBA}). ``filters`` picks the per-row filter type (default all
    0); any choice round-trips through ``decode_png``."""
    import struct

    h, w, c = pixels.shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    filters = filters if filters is not None else [0] * h
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    raw = bytearray()
    prev = bytes(w * c)
    for y in range(h):
        line = pixels[y].tobytes()
        raw += bytes([filters[y]]) + _png_filter_row(filters[y], line, prev, c)
        prev = line
    return (
        _PNG_SIG + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


_SOF_MARKERS = frozenset(
    range(0xC0, 0xD0)
) - {0xC4, 0xC8, 0xCC}  # SOFn frame headers; DHT/JPG/DAC excluded


def image_dims(payload: bytes) -> dict:
    """Header-only (width, height, format) for PNG / JPEG / GIF / BMP —
    no pixel decode, just the container's dimension fields, the piece
    of metadata a curation pipeline filters on (min-resolution rules)
    without paying a decode. Pure stdlib marker/chunk walks:

    * PNG: IHDR bytes 0-8 (spec §11.2.2)
    * JPEG: segment walk to the first SOFn marker (ITU T.81 §B.2.2);
      height/width are big-endian at offsets 3/5 of the frame header
    * GIF: logical screen descriptor, little-endian uint16 at 6/8
    * BMP: BITMAPINFOHEADER int32s at 18/22 (height may be negative =
      top-down; absolute value reported)

    Raises ValueError for anything else (caller keeps the error row).
    """
    b = payload or b""
    if b[: len(_PNG_SIG)] == _PNG_SIG:
        if len(b) < 24:
            raise ValueError("truncated PNG")
        return {
            "format": "png",
            "width": int.from_bytes(b[16:20], "big"),
            "height": int.from_bytes(b[20:24], "big"),
        }
    if b[:2] == b"\xff\xd8":  # JPEG SOI
        pos = 2
        while pos + 4 <= len(b):
            if b[pos] != 0xFF:
                raise ValueError("bad JPEG marker stream")
            marker = b[pos + 1]
            if marker == 0xFF:  # fill byte
                pos += 1
                continue
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                pos += 2  # standalone markers carry no length
                continue
            seg_len = int.from_bytes(b[pos + 2 : pos + 4], "big")
            if marker in _SOF_MARKERS:
                if pos + 9 > len(b):
                    raise ValueError("truncated JPEG SOF")
                return {
                    "format": "jpeg",
                    "height": int.from_bytes(b[pos + 5 : pos + 7], "big"),
                    "width": int.from_bytes(b[pos + 7 : pos + 9], "big"),
                }
            pos += 2 + seg_len
        raise ValueError("no JPEG SOF marker found")
    if b[:6] in (b"GIF87a", b"GIF89a"):
        if len(b) < 10:
            raise ValueError("truncated GIF")
        return {
            "format": "gif",
            "width": int.from_bytes(b[6:8], "little"),
            "height": int.from_bytes(b[8:10], "little"),
        }
    if b[:2] == b"BM":
        if len(b) < 26:
            raise ValueError("truncated BMP")
        return {
            "format": "bmp",
            "width": abs(int.from_bytes(b[18:22], "little", signed=True)),
            "height": abs(int.from_bytes(b[22:26], "little", signed=True)),
        }
    raise ValueError("unrecognized image container")


def decode_image(payload: bytes) -> dict:
    """Codec entry point: REAL pure-stdlib decoders for all four
    header formats — PNG (``decode_png``), baseline JPEG/SOF0
    (``decode_jpeg``), first-frame GIF87a/89a (``decode_gif``), and
    uncompressed 8/24-bit BMP (``decode_bmp``). Unknown containers
    (webp/avif/video) raise NotImplementedError — swap in a library
    decoder in deployment."""
    if payload and payload[: len(_PNG_SIG)] == _PNG_SIG:
        return decode_png(payload)
    if payload and payload[:2] == b"\xff\xd8":
        return decode_jpeg(payload)
    if payload and payload[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(payload)
    if payload and payload[:2] == b"BM":
        return decode_bmp(payload)
    raise NotImplementedError(
        "PNG/JPEG/GIF/BMP decode are built in; other containers "
        "(webp/avif/video) need a library decoder — plug one in here "
        "in deployment"
    )


DECODE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("pixel_digest", StringType()),
        StructField("decode_err", StringType()),
    ]
)


def decode_image_stage(media: DataFrame) -> DataFrame:
    """Distributed decode: PNG payloads decode for real (dims +
    md5 of the reconstructed pixel buffer); undecodable payloads keep
    their error string instead of failing the stage (at 100 TB a
    corrupt member must not kill the job). Output rows are fixed-width
    — the multi-KB payload column is dropped at this stage boundary."""

    def run(batches):
        for pdf in batches:
            ids, ws, hs, cs, digs, errs = [], [], [], [], [], []
            for mid, b in zip(pdf["media_id"], pdf["payload"]):
                ids.append(mid)
                try:
                    img = decode_image(bytes(b or b""))
                    ws.append(img["width"])
                    hs.append(img["height"])
                    cs.append(img["channels"])
                    digs.append(
                        hashlib.md5(np.ascontiguousarray(img["pixels"])).hexdigest()
                    )
                    errs.append(None)
                except (ValueError, NotImplementedError, zlib.error) as e:
                    ws.append(None)
                    hs.append(None)
                    cs.append(None)
                    digs.append(None)
                    errs.append(f"{type(e).__name__}: {e}")
            yield pd.DataFrame(
                {
                    "media_id": ids, "width": pd.array(ws, dtype="Int32"),
                    "height": pd.array(hs, dtype="Int32"),
                    "channels": pd.array(cs, dtype="Int32"),
                    "pixel_digest": digs, "decode_err": errs,
                }
            )

    return media.select("media_id", "payload").mapInPandas(run, DECODE_SCHEMA)


def extract_metadata(media: DataFrame) -> DataFrame:
    """Typed metadata for opaque payloads: byte length + md5 digest.

    No decode needed — this is the real (non-stub) part of the stage.
    """

    def run(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(lambda b: len(b or b"")),
                    "digest": pdf["payload"].map(
                        lambda b: hashlib.md5(b or b"").hexdigest()
                    ),
                }
            )

    return media.select("media_id", "kind", "payload").mapInPandas(run, META_SCHEMA)


def fake_feature_extract(media: DataFrame, dim: int = 8) -> DataFrame:
    """STUB feature extractor: deterministic pseudo-embedding from the
    payload digest (stands in for a CNN/audio-net forward pass; the
    batch shape, schema, and Arrow transfer are the real contract)."""

    def run(batches):
        for pdf in batches:
            feats = []
            for b in pdf["payload"]:
                d = hashlib.md5(b or b"").digest()
                feats.append([d[i] / 255.0 for i in range(dim)])
            yield pd.DataFrame({"media_id": pdf["media_id"], "feature": feats})

    return media.select("media_id", "payload").mapInPandas(run, FEATURE_SCHEMA)


def frame_sample(media: DataFrame, frame_size: int = 1000) -> DataFrame:
    """STUB frame sampler: emits one row per frame_size-byte slice (a
    real implementation would demux the container and sample I-frames;
    the row-explosion shape and schema are the real contract)."""

    def run(batches):
        for pdf in batches:
            ids, idxs, sizes = [], [], []
            for mid, b in zip(pdf["media_id"], pdf["payload"]):
                b = b or b""
                n = max((len(b) + frame_size - 1) // frame_size, 0)
                for i in range(n):
                    ids.append(mid)
                    idxs.append(i)
                    sizes.append(len(b[i * frame_size : (i + 1) * frame_size]))
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame_bytes": sizes}
            )

    return media.select("media_id", "payload").mapInPandas(run, FRAME_SCHEMA)


def documents_as_media(documents: DataFrame) -> DataFrame:
    """Adapter for tests/oracles: treat each document's UTF-8 bytes as
    an opaque payload (keeps the whole pipeline runnable on the driver
    test tables without real media files)."""
    from pyspark.sql import functions as F

    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
    )


# ---------------------------------------------------------------------------
# WAV (RIFF PCM) codec — real, pure stdlib+numpy (new in round 5)
# ---------------------------------------------------------------------------

_WAV_FMT = struct.Struct("<HHIIHH")  # format, ch, rate, byterate, block, bits


def encode_wav(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """Serialize int16 PCM samples — shape (n,) mono or (n, channels) —
    into a canonical RIFF/WAVE container (PCM format 1, 16-bit LE)."""
    a = np.asarray(samples, dtype="<i2")
    if a.ndim == 1:
        a = a[:, None]
    n, ch = a.shape
    data = a.tobytes()
    block = ch * 2
    fmt = _WAV_FMT.pack(1, ch, sample_rate, sample_rate * block, block, 16)
    body = (
        b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(payload: bytes) -> dict:
    """REAL WAV decoder: RIFF chunk walk (word-aligned per the spec),
    fmt parse, PCM 8/16-bit de-interleave. Returns sample_rate,
    channels, bits, n_frames and the samples as an (n_frames,
    channels) int16 ndarray (8-bit input is re-centered to signed,
    matching stdlib ``wave``'s unsigned-8 convention).

    Raises ValueError on malformed bytes, NotImplementedError on
    non-PCM formats (mp3/aac need codec libraries this container
    doesn't have — plug one in here in deployment)."""
    b = payload or b""
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        sz = int.from_bytes(b[pos + 4 : pos + 8], "little")
        if pos + 8 + sz > len(b) and cid in (b"fmt ", b"data"):
            # a declared size past the payload end means the file was
            # truncated in transit; silently decoding the partial data
            # chunk would be indistinguishable from a complete shorter
            # recording downstream (ADVICE r5)
            raise ValueError(
                f"truncated {cid.decode('ascii').strip()} chunk: declares "
                f"{sz} bytes, only {len(b) - pos - 8} remain"
            )
        chunk = b[pos + 8 : pos + 8 + sz]
        if cid == b"fmt " and fmt is None:
            fmt = chunk
        elif cid == b"data" and data is None:
            data = chunk
        pos += 8 + sz + (sz & 1)  # RIFF chunks are 2-byte aligned
    if fmt is None or len(fmt) < 16 or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, ch, rate, _byterate, block, bits = _WAV_FMT.unpack_from(fmt)
    if audio_format != 1:
        raise NotImplementedError(
            f"WAV format {audio_format} not supported; only PCM (1) is "
            "built in — plug a real codec here in deployment"
        )
    if ch < 1 or block != ch * (bits // 8):
        raise ValueError("inconsistent fmt chunk")
    usable = len(data) // block * block
    if bits == 16:
        arr = np.frombuffer(data[:usable], dtype="<i2").reshape(-1, ch)
    elif bits == 8:
        arr = (
            np.frombuffer(data[:usable], dtype=np.uint8).astype(np.int16)
            - 128
        ).reshape(-1, ch)
    else:
        raise NotImplementedError(f"{bits}-bit PCM not supported")
    return {
        "sample_rate": int(rate),
        "channels": int(ch),
        "bits": int(bits),
        "n_frames": int(arr.shape[0]),
        "samples": arr.astype(np.int16, copy=False),
    }


AUDIO_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("bits", IntegerType()),
        StructField("n_frames", LongType()),
        StructField("duration_ms", LongType()),
        StructField("sum_sq", LongType()),
        StructField("peak", IntegerType()),
        StructField("decode_err", StringType()),
    ]
)


def audio_stats_stage(media: DataFrame) -> DataFrame:
    """Distributed audio decode + loudness stats: WAV payloads decode
    for real; stats are exact integers (energy = sum of squared
    samples, peak = max |sample|) so they reproduce bit-for-bit across
    engines and partitionings — the float-RMS variant would not.
    duration_ms uses integer division (n_frames*1000 DIV rate).
    Corrupt/unsupported payloads keep their error string instead of
    failing the stage. Fixed-width output; the payload column is
    dropped at this boundary."""

    def run(batches):
        for pdf in batches:
            rows = {
                "media_id": [], "sample_rate": [], "channels": [],
                "bits": [], "n_frames": [], "duration_ms": [],
                "sum_sq": [], "peak": [], "decode_err": [],
            }
            for mid, b in zip(pdf["media_id"], pdf["payload"]):
                rows["media_id"].append(mid)
                try:
                    w = decode_wav(bytes(b or b""))
                    s = w["samples"].astype(np.int64)
                    rows["sample_rate"].append(w["sample_rate"])
                    rows["channels"].append(w["channels"])
                    rows["bits"].append(w["bits"])
                    rows["n_frames"].append(w["n_frames"])
                    rows["duration_ms"].append(
                        w["n_frames"] * 1000 // w["sample_rate"]
                    )
                    rows["sum_sq"].append(int(np.sum(s * s)))
                    rows["peak"].append(
                        int(np.max(np.abs(s))) if s.size else 0
                    )
                    rows["decode_err"].append(None)
                except (ValueError, NotImplementedError) as e:
                    for k in (
                        "sample_rate", "channels", "bits", "n_frames",
                        "duration_ms", "sum_sq", "peak",
                    ):
                        rows[k].append(None)
                    rows["decode_err"].append(f"{type(e).__name__}: {e}")
            yield pd.DataFrame(
                {
                    "media_id": rows["media_id"],
                    "sample_rate": pd.array(rows["sample_rate"], dtype="Int32"),
                    "channels": pd.array(rows["channels"], dtype="Int32"),
                    "bits": pd.array(rows["bits"], dtype="Int32"),
                    "n_frames": pd.array(rows["n_frames"], dtype="Int64"),
                    "duration_ms": pd.array(rows["duration_ms"], dtype="Int64"),
                    "sum_sq": pd.array(rows["sum_sq"], dtype="Int64"),
                    "peak": pd.array(rows["peak"], dtype="Int32"),
                    "decode_err": rows["decode_err"],
                }
            )

    return media.select("media_id", "payload").mapInPandas(run, AUDIO_SCHEMA)


# ---------------------------------------------------------------------------
# JPEG (ITU-T T.81 baseline sequential, SOF0) codec — real, pure
# stdlib+numpy (new in round 6). Same discipline as the PNG/WAV codecs:
# a from-scratch spec implementation (marker walk, canonical Huffman,
# zigzag, FDCT/IDCT, byte stuffing, restart markers), not a vendored
# library. JPEG is the dominant web image format, so decode_image being
# real for it is what makes the curation pipeline's media path honest.
#
# Rounding convention: every real->int step uses floor(x + 0.5 + 1e-9)
# ("round half up with a deterministic tie bias"): the epsilon absorbs
# the ~1e-13 float noise of the matrix FDCT at exact-half quantization
# boundaries, so the codec's arithmetic is reproducible bit-for-bit
# across platforms AND expressible in closed form for SQL oracles
# (FLOOR(x + 0.5 + 1e-9)). The codec defines its own rounding — round
# trips are self-consistent; interop decode accepts any encoder.
# ---------------------------------------------------------------------------

# zigzag scan order (T.81 Figure A.6): natural index of each scan pos
_JZZ = np.array([
     0,  1,  8, 16,  9,  2,  3, 10, 17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# Annex K.1/K.2 example quantization tables (natural order)
_JQ_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
_JQ_CHR = np.array(
    [17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
     24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99]
    + [99] * 32,
    dtype=np.int64,
)

# Annex K.3 typical Huffman tables: (bits[1..16], values)
_JH_DC_LUM = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
              list(range(12)))
_JH_DC_CHR = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
              list(range(12)))
_JH_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
     0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
     0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
     0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
     0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
     0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
     0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
     0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
     0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
     0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
     0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
     0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)
_JH_AC_CHR = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
     0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
     0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
     0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
     0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
     0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
     0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
     0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
     0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
     0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
     0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
     0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
     0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
     0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)

_JROUND_EPS = 0.5 + 1e-9


def _jround(x):
    """floor(x + 0.5 + eps): the codec's deterministic round-half-up."""
    return np.floor(x + _JROUND_EPS)


_JDCT: np.ndarray | None = None


def _jdct_mat() -> np.ndarray:
    """Orthonormal 8x8 DCT-II matrix A: FDCT = A B A^T, IDCT = A^T F A."""
    global _JDCT
    if _JDCT is None:
        x = np.arange(8, dtype=np.float64)
        u = x[:, None]
        a = 0.5 * np.cos((2 * x[None, :] + 1) * u * np.pi / 16)
        a[0, :] *= 1 / np.sqrt(2)
        _JDCT = a
    return _JDCT


_JHUFF_CODES_CACHE: dict = {}


def _jhuff_codes(bits, values) -> dict[int, tuple[int, int]]:
    """Canonical Huffman code assignment (T.81 Annex C): symbol ->
    (code, length). Memoized — the fixed Annex-K tables are rebuilt
    for every encode call otherwise, a measured ~6% of the round-trip
    wall on small images."""
    key = (bytes(bits), bytes(values))
    hit = _JHUFF_CODES_CACHE.get(key)
    if hit is not None:
        return hit
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[values[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    _JHUFF_CODES_CACHE[key] = out
    return out


class _JBitWriter:
    """MSB-first bit accumulator with 0xFF byte stuffing (T.81 F.1.2.3)."""

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.nbits -= 8
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)  # 1-pad to byte boundary


def _jmagnitude(v: int) -> tuple[int, int]:
    """(category, mantissa bits) for a DC diff / AC value (T.81 F.1.2)."""
    if v == 0:
        return 0, 0
    a = abs(v)
    s = a.bit_length()
    return s, (v if v > 0 else v + (1 << s) - 1)


def _rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    r, g, b = (px[..., i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.clip(_jround(np.stack([y, cb, cr], axis=-1)), 0, 255)


def _ycbcr_to_rgb(y, cb, cr) -> np.ndarray:
    cb = cb - 128.0
    cr = cr - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(
        _jround(np.stack([r, g, b], axis=-1)), 0, 255
    ).astype(np.uint8)


def _jpad_to_blocks(plane: np.ndarray, bh: int, bw: int) -> np.ndarray:
    """Edge-replicate to multiples of (bh, bw) (T.81 recommends
    replicating the last column/row so padding adds no AC energy).
    Hand-rolled slice-assign instead of np.pad(mode='edge') — same
    bytes, ~5x less per-call overhead on small planes."""
    h, w = plane.shape
    ph = (h + bh - 1) // bh * bh
    pw = (w + bw - 1) // bw * bw
    if ph == h and pw == w:
        return plane
    out = np.empty((ph, pw), dtype=plane.dtype)
    out[:h, :w] = plane
    if pw > w:
        out[:h, w:] = plane[:, w - 1 : w]
    if ph > h:
        out[h:, :] = out[h - 1 : h, :]
    return out


_JQUALITY_CACHE: dict[int, tuple[np.ndarray, np.ndarray]] = {}


def _jquality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """Annex-K tables scaled by the common libjpeg quality mapping.
    Memoized per quality (<=100 entries)."""
    q = max(1, min(100, int(quality)))
    hit = _JQUALITY_CACHE.get(q)
    if hit is not None:
        return hit
    sf = 5000 // q if q < 50 else 200 - 2 * q
    lum = np.clip((_JQ_LUM * sf + 50) // 100, 1, 255)
    chr_ = np.clip((_JQ_CHR * sf + 50) // 100, 1, 255)
    _JQUALITY_CACHE[q] = (lum, chr_)
    return lum, chr_


def _jseg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload


def encode_jpeg(
    pixels: np.ndarray,
    quality: int = 75,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Baseline sequential JPEG encoder (SOF0, Annex-K tables).

    pixels: (h, w) grayscale or (h, w, 3) RGB uint8. subsample=True
    emits 4:2:0 (2x2 chroma average with the codec's rounding),
    otherwise 4:4:4. restart_interval > 0 emits DRI + RSTn markers
    every that many MCUs. Output decodes with ``decode_jpeg`` (and any
    baseline JPEG decoder).
    """
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 3 and px.shape[2] == 1:
        px = px[:, :, 0]
    gray = px.ndim == 2
    qlum, qchr = _jquality_tables(quality)
    a = _jdct_mat()

    if gray:
        planes = [px.astype(np.float64)]
        samp = [(1, 1)]
    else:
        ycc = _rgb_to_ycbcr(px)
        y, cb, cr = ycc[..., 0], ycc[..., 1], ycc[..., 2]
        if subsample:
            # 2x2 chroma average (pad odd dims first), codec rounding
            cbp = _jpad_to_blocks(cb, 2, 2)
            crp = _jpad_to_blocks(cr, 2, 2)
            cb = _jround(
                (cbp[0::2, 0::2] + cbp[0::2, 1::2]
                 + cbp[1::2, 0::2] + cbp[1::2, 1::2]) / 4.0
            )
            cr = _jround(
                (crp[0::2, 0::2] + crp[0::2, 1::2]
                 + crp[1::2, 0::2] + crp[1::2, 1::2]) / 4.0
            )
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            samp = [(1, 1), (1, 1), (1, 1)]
        planes = [y, cb, cr]

    h, w = px.shape[:2]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mcus_x = (w + mcu_w - 1) // mcu_w
    mcus_y = (h + mcu_h - 1) // mcu_h

    # per-component quantized block grids (natural order), zigzagged
    comp_blocks = []
    for ci, (plane, (sh, sv)) in enumerate(zip(planes, samp)):
        q = (qlum if ci == 0 else qchr).reshape(8, 8)  # natural order
        bw, bh = mcus_x * sh, mcus_y * sv  # blocks across / down
        p = _jpad_to_blocks(plane, bh * 8, bw * 8)[: bh * 8, : bw * 8]
        blocks = (
            p.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3) - 128.0
        )  # (bh, bw, 8, 8)
        # A·B·A^T via stacked matmul — replaces an einsum whose per-call
        # overhead dominated on small images. NOT bit-identical to
        # einsum in the last float ulp (different summation order), but
        # proven output-identical for every reachable input of the
        # mm_jpeg oracle (exhaustive 80,640-config sweep vs the round-6
        # codec) and golden-pinned in test_jpeg.py;
        # the codec's +1e-9 rounding eps absorbs ulp-level drift.
        coef = a @ blocks @ a.T
        qd = _jround(coef / q).astype(np.int64)
        comp_blocks.append(qd.reshape(bh, bw, 64)[:, :, _JZZ])

    dc_tabs = [_jhuff_codes(*(_JH_DC_LUM if i == 0 else _JH_DC_CHR))
               for i in range(len(planes))]
    ac_tabs = [_jhuff_codes(*(_JH_AC_LUM if i == 0 else _JH_AC_CHR))
               for i in range(len(planes))]

    bw_ = _JBitWriter()
    pred = [0] * len(planes)
    entropy = bytearray()
    mcu_count = 0
    rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                bw_.flush()
                entropy += bw_.buf
                bw_ = _JBitWriter()
                entropy += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                pred = [0] * len(planes)
            for ci, (sh, sv) in enumerate(samp):
                for by in range(sv):
                    for bx in range(sh):
                        zz = comp_blocks[ci][my * sv + by, mx * sh + bx]
                        dc = int(zz[0])
                        diff = dc - pred[ci]
                        pred[ci] = dc
                        s, bits = _jmagnitude(diff)
                        code, ln = dc_tabs[ci][s]
                        bw_.put(code, ln)
                        if s:
                            bw_.put(bits, s)
                        # AC: walk only the nonzero coefficients (runs
                        # derive from index gaps) — identical symbol
                        # stream to the per-k scan, without 63 Python
                        # iterations per (mostly zero) quantized block
                        nz = np.flatnonzero(zz[1:])
                        prev = 0
                        act = ac_tabs[ci]
                        for k in nz:
                            k = int(k) + 1
                            run = k - prev - 1
                            while run > 15:
                                code, ln = act[0xF0]  # ZRL
                                bw_.put(code, ln)
                                run -= 16
                            s, bits = _jmagnitude(int(zz[k]))
                            code, ln = act[(run << 4) | s]
                            bw_.put(code, ln)
                            bw_.put(bits, s)
                            prev = k
                        if prev < 63:
                            code, ln = act[0x00]  # EOB
                            bw_.put(code, ln)
            mcu_count += 1
    bw_.flush()
    entropy += bw_.buf

    out = bytearray(b"\xff\xd8")  # SOI
    out += _jseg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _jseg(0xDB, bytes([0]) + bytes(int(x) for x in qlum[_JZZ]))
    if not gray:
        out += _jseg(0xDB, bytes([1]) + bytes(int(x) for x in qchr[_JZZ]))
    ncomp = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        sh, sv = samp[ci]
        sof += bytes([ci + 1, (sh << 4) | sv, 0 if ci == 0 else 1])
    out += _jseg(0xC0, sof)

    def dht(tc, th, bits, values):
        return _jseg(
            0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(values)
        )

    out += dht(0, 0, *_JH_DC_LUM) + dht(1, 0, *_JH_AC_LUM)
    if not gray:
        out += dht(0, 1, *_JH_DC_CHR) + dht(1, 1, *_JH_AC_CHR)
    if restart_interval:
        out += _jseg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    sos += b"\x00\x3f\x00"
    out += _jseg(0xDA, sos)
    out += entropy
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _JBitReader:
    """MSB-first bit reader over a destuffed entropy segment."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise ValueError("entropy data exhausted mid-symbol")
            self.acc = self.data[self.pos]
            self.pos += 1
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v


_JHUFF_DEC_CACHE: dict = {}


def _jhuff_decoder(bits, values) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol map for canonical tables. Memoized by
    table content — real streams carry the same four Annex-K tables in
    every image, and the parse otherwise rebuilds the maps per DHT."""
    key = (bytes(bits), bytes(values))
    hit = _JHUFF_DEC_CACHE.get(key)
    if hit is not None:
        return hit
    out: dict[tuple[int, int], int] = {}
    code, k = 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[(ln, code)] = values[k]
            code += 1
            k += 1
        code <<= 1
    _JHUFF_DEC_CACHE[key] = out
    return out


def _jdecode_sym(r: _JBitReader, table: dict[tuple[int, int], int]) -> int:
    code, ln = 0, 0
    while ln < 16:
        code = (code << 1) | r.bit()
        ln += 1
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in entropy stream")


def _jextend(v: int, s: int) -> int:
    """Mantissa bits -> signed value (T.81 F.2.2.1 EXTEND)."""
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def decode_jpeg(payload: bytes) -> dict:
    """Baseline sequential JPEG decoder (SOF0): marker walk, DQT/DHT/
    DRI/SOS parse, canonical Huffman + DPCM entropy decode with byte
    destuffing and restart markers, dequantize, batched IDCT, chroma
    upsample, YCbCr->RGB. Supports 1- and 3-component frames with
    sampling factors in {1, 2} (covers 4:4:4, 4:2:2, 4:2:0), 8-bit
    precision. Returns {width, height, channels, pixels} like
    ``decode_png``. Raises ValueError on malformed bytes,
    NotImplementedError on progressive (SOF2) / arithmetic / 12-bit
    variants.
    """
    b = payload or b""
    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame = None
    restart_interval = 0
    scan = None
    while pos + 2 <= len(b):
        if b[pos] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        marker = b[pos + 1]
        if marker == 0xFF:
            pos += 1
            continue
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:  # EOI
            break
        seg_len = int.from_bytes(b[pos + 2 : pos + 4], "big")
        data = b[pos + 4 : pos + 2 + seg_len]
        if marker == 0xDB:  # DQT: one or more tables per segment
            i = 0
            while i < len(data):
                pq, tq = data[i] >> 4, data[i] & 0x0F
                i += 1
                if pq == 0:
                    tbl = np.frombuffer(
                        data[i : i + 64], dtype=np.uint8
                    ).astype(np.int64)
                    i += 64
                else:
                    tbl = np.frombuffer(
                        data[i : i + 128], dtype=">u2"
                    ).astype(np.int64)
                    i += 128
                nat = np.empty(64, dtype=np.int64)
                nat[_JZZ] = tbl  # stored zigzag -> natural
                qt[tq] = nat.reshape(8, 8)
        elif marker == 0xC4:  # DHT: one or more tables per segment
            i = 0
            while i < len(data):
                tc, th = data[i] >> 4, data[i] & 0x0F
                bits = list(data[i + 1 : i + 17])
                n = sum(bits)
                values = list(data[i + 17 : i + 17 + n])
                huff[(tc, th)] = _jhuff_decoder(bits, values)
                i += 17 + n
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 baseline
            prec = data[0]
            if prec != 8:
                raise NotImplementedError(f"{prec}-bit JPEG unsupported")
            h = int.from_bytes(data[1:3], "big")
            w = int.from_bytes(data[3:5], "big")
            nc = data[5]
            comps = []
            for ci in range(nc):
                o = 6 + 3 * ci
                comps.append(
                    {
                        "id": data[o],
                        "h": data[o + 1] >> 4,
                        "v": data[o + 1] & 0x0F,
                        "tq": data[o + 2],
                    }
                )
            frame = {"w": w, "h": h, "comps": comps}
        elif marker in _SOF_MARKERS:  # progressive / arithmetic / ...
            raise NotImplementedError(
                f"JPEG SOF{marker - 0xC0} unsupported (baseline SOF0 only)"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(data[0:2], "big")
        elif marker == 0xDA:  # SOS
            ns = data[0]
            sel = {}
            for si in range(ns):
                sel[data[1 + 2 * si]] = (
                    data[2 + 2 * si] >> 4,
                    data[2 + 2 * si] & 0x0F,
                )
            scan = (sel, pos + 2 + seg_len)
            break
        pos += 2 + seg_len
    if frame is None or scan is None:
        raise ValueError("missing SOF/SOS")
    sel, epos = scan
    comps = frame["comps"]
    for c in comps:
        if c["h"] not in (1, 2) or c["v"] not in (1, 2):
            raise NotImplementedError(
                f"sampling {c['h']}x{c['v']} unsupported (1/2 only)"
            )
        if c["tq"] not in qt:
            raise ValueError(f"missing quant table {c['tq']}")
        if c["id"] not in sel:
            raise ValueError(f"component {c['id']} absent from scan")
    if len(comps) not in (1, 3):
        raise NotImplementedError(f"{len(comps)}-component JPEG unsupported")

    # split entropy data into restart segments, destuffed
    segs: list[bytes] = []
    cur = bytearray()
    i = epos
    while i < len(b):
        byte = b[i]
        if byte == 0xFF:
            nxt = b[i + 1] if i + 1 < len(b) else 0xD9
            if nxt == 0x00:
                cur.append(0xFF)
                i += 2
                continue
            if 0xD0 <= nxt <= 0xD7:
                segs.append(bytes(cur))
                cur = bytearray()
                i += 2
                continue
            break  # EOI or next marker
        cur.append(byte)
        i += 1
    segs.append(bytes(cur))

    w, h = frame["w"], frame["h"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    grids = [
        np.zeros((mcus_y * c["v"], mcus_x * c["h"], 64), dtype=np.int64)
        for c in comps
    ]

    seg_idx = 0
    r = _JBitReader(segs[0])
    pred = [0] * len(comps)
    n_mcus = mcus_y * mcus_x
    for m in range(n_mcus):
        if restart_interval and m and m % restart_interval == 0:
            seg_idx += 1
            if seg_idx >= len(segs):
                raise ValueError("missing restart segment")
            r = _JBitReader(segs[seg_idx])
            pred = [0] * len(comps)
        my, mx = divmod(m, mcus_x)
        for ci, c in enumerate(comps):
            td, ta = sel[c["id"]]
            dct = huff.get((0, td))
            act = huff.get((1, ta))
            if dct is None or act is None:
                raise ValueError("missing Huffman table for scan")
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    zz = np.zeros(64, dtype=np.int64)
                    s = _jdecode_sym(r, dct)
                    diff = _jextend(r.bits(s), s) if s else 0
                    pred[ci] += diff
                    zz[0] = pred[ci]
                    k = 1
                    while k < 64:
                        rs = _jdecode_sym(r, act)
                        rr, ss = rs >> 4, rs & 0x0F
                        if ss == 0:
                            if rr == 15:  # ZRL
                                k += 16
                                continue
                            break  # EOB
                        k += rr
                        if k > 63:
                            raise ValueError("AC run past block end")
                        zz[k] = _jextend(r.bits(ss), ss)
                        k += 1
                    grids[ci][my * c["v"] + by, mx * c["h"] + bx] = zz

    a = _jdct_mat()
    planes = []
    for ci, c in enumerate(comps):
        gh, gw, _ = grids[ci].shape
        nat = np.zeros((gh, gw, 64), dtype=np.int64)
        nat[:, :, _JZZ] = grids[ci]
        coef = nat.reshape(gh, gw, 8, 8) * qt[c["tq"]]
        # A^T·C·A via stacked matmul (see encode-side note on einsum)
        blocks = a.T @ coef.astype(np.float64) @ a
        plane = (
            blocks.transpose(0, 2, 1, 3).reshape(gh * 8, gw * 8) + 128.0
        )
        # upsample to full-resolution grid, then crop
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        planes.append(plane[:h, :w])

    if len(comps) == 1:
        px = np.clip(_jround(planes[0]), 0, 255).astype(np.uint8)[:, :, None]
        return {"width": w, "height": h, "channels": 1, "pixels": px}
    px = _ycbcr_to_rgb(
        np.clip(_jround(planes[0]), 0, 255),
        np.clip(_jround(planes[1]), 0, 255),
        np.clip(_jround(planes[2]), 0, 255),
    )
    return {"width": w, "height": h, "channels": 3, "pixels": px}


# ---------------------------------------------------------------------------
# GIF (GIF87a/89a) codec — real, pure stdlib (new in round 6). LZW with
# variable code width per the GIF89a spec Appendix F: codes packed
# LSB-first, clear = 2^min_code_size, end = clear+1, dictionary capped
# at 4095 with deferred-clear tolerance. Decodes the FIRST image
# descriptor (decode_gif_frames below walks full animations),
# honoring local color tables and 4-pass interlace. The encoder emits a
# single-frame GIF89a with a power-of-two global palette.
# ---------------------------------------------------------------------------


def _gif_color_table(b: bytes, pos: int, packed: int) -> tuple[np.ndarray, int]:
    n = 2 << (packed & 0x07)
    tbl = np.frombuffer(b[pos : pos + 3 * n], dtype=np.uint8)
    if tbl.size != 3 * n:
        raise ValueError("truncated GIF color table")
    return tbl.reshape(n, 3), pos + 3 * n


def _gif_subblocks(b: bytes, pos: int) -> tuple[bytes, int]:
    out = bytearray()
    while True:
        if pos >= len(b):
            raise ValueError("truncated GIF sub-blocks")
        n = b[pos]
        pos += 1
        if n == 0:
            return bytes(out), pos
        out += b[pos : pos + n]
        if len(out) and pos + n > len(b):
            raise ValueError("truncated GIF sub-blocks")
        pos += n


def _lzw_decode(data: bytes, min_code: int, n_pixels: int) -> np.ndarray:
    """GIF-flavor LZW: LSB-first bit packing, variable width 3..12."""
    clear = 1 << min_code
    end = clear + 1
    out = np.empty(n_pixels, dtype=np.uint8)
    n_out = 0
    # bit reader state
    acc = 0
    nbits = 0
    pos = 0
    width = min_code + 1
    dict_codes: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    prev: bytes | None = None
    while n_out < n_pixels:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("GIF entropy data exhausted")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            dict_codes = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= len(dict_codes):
                raise ValueError("bad first LZW code")
            entry = dict_codes[code]
        elif code < len(dict_codes):
            entry = dict_codes[code]
            if len(dict_codes) < 4096:
                dict_codes.append(prev + entry[:1])
        elif code == len(dict_codes):
            entry = prev + prev[:1]
            if len(dict_codes) < 4096:
                dict_codes.append(entry)
        else:
            raise ValueError("LZW code out of range")
        take = min(len(entry), n_pixels - n_out)
        out[n_out : n_out + take] = np.frombuffer(entry[:take], dtype=np.uint8)
        n_out += take
        prev = entry
        if len(dict_codes) == (1 << width) and width < 12:
            width += 1
    if n_out < n_pixels:
        raise ValueError("GIF image data short of pixel count")
    return out


def decode_gif(payload: bytes) -> dict:
    """First-frame GIF decode (spec: GIF89a, CompuServe 1990): logical
    screen descriptor + global/local color tables, extension-block
    skip (graphic control parsed for the transparency index, which is
    surfaced as the palette color — no alpha channel in curation
    stats), LZW decompression, 4-pass interlace reorder. Returns
    {width, height, channels=3, pixels} like ``decode_png``."""
    b = payload or b""
    if b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    if len(b) < 13:
        raise ValueError("truncated GIF")
    packed = b[10]
    gct = None
    pos = 13
    if packed & 0x80:
        gct, pos = _gif_color_table(b, pos, packed)
    while pos < len(b):
        blk = b[pos]
        if blk == 0x3B:  # trailer before any image
            raise ValueError("GIF has no image descriptor")
        if blk == 0x21:  # extension: label + sub-blocks (all skippable)
            pos += 2
            _, pos = _gif_subblocks(b, pos)
            continue
        if blk != 0x2C:
            raise ValueError(f"unknown GIF block 0x{blk:02x}")
        if pos + 10 > len(b):
            raise ValueError("truncated GIF image descriptor")
        w = int.from_bytes(b[pos + 5 : pos + 7], "little")
        h = int.from_bytes(b[pos + 7 : pos + 9], "little")
        ipacked = b[pos + 9]
        pos += 10
        table = gct
        if ipacked & 0x80:
            table, pos = _gif_color_table(b, pos, ipacked)
        if table is None:
            raise ValueError("GIF image without a color table")
        if pos >= len(b):
            raise ValueError("truncated GIF (no LZW min code size)")
        min_code = b[pos]
        if not 2 <= min_code <= 11:
            raise ValueError(f"bad LZW min code size {min_code}")
        pos += 1
        data, pos = _gif_subblocks(b, pos)
        idx = _lzw_decode(data, min_code, w * h)
        if idx.max(initial=0) >= len(table):
            raise ValueError("GIF pixel index outside color table")
        if ipacked & 0x40:  # interlaced: rows arrive in 4 passes
            rows = np.empty(h, dtype=np.int64)
            order = np.concatenate([
                np.arange(0, h, 8), np.arange(4, h, 8),
                np.arange(2, h, 4), np.arange(1, h, 2),
            ])
            rows[order] = np.arange(h)
            idx = idx.reshape(h, w)[rows].reshape(-1)
        px = table[idx.reshape(h, w)]
        return {"width": w, "height": h, "channels": 3, "pixels": px}
    raise ValueError("truncated GIF (no trailer)")


def encode_gif(indices: np.ndarray, palette: np.ndarray,
               interlace: bool = False) -> bytes:
    """Single-frame GIF89a encoder: (h, w) uint8 palette indices + an
    (n, 3) palette (n padded to a power of two >= 4). Real LZW with
    variable code width and 4096-entry dictionary resets."""
    idx = np.asarray(indices, dtype=np.uint8)
    pal = np.asarray(palette, dtype=np.uint8)
    h, w = idx.shape
    n = 4
    while n < len(pal):
        n <<= 1
    if n > 256:
        raise ValueError("palette too large")
    pal_full = np.zeros((n, 3), dtype=np.uint8)
    pal_full[: len(pal)] = pal
    size_field = n.bit_length() - 2  # 2<<size_field == n
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | (size_field & 0x07), 0, 0])
    out += pal_full.tobytes()
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
    out += bytes([0x40 if interlace else 0x00])

    if interlace:
        order = np.concatenate([
            np.arange(0, h, 8), np.arange(4, h, 8),
            np.arange(2, h, 4), np.arange(1, h, 2),
        ])
        seq = idx[order].reshape(-1)
    else:
        seq = idx.reshape(-1)

    min_code = max(2, size_field + 1)  # color table holds 2^(sf+1) entries
    out += bytes([min_code])
    bits = _lzw_encode(seq.tobytes(), min_code)
    for i in range(0, len(bits), 255):
        chunk = bits[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)


def _lzw_encode(seq: bytes, min_code: int) -> bytearray:
    """GIF-flavor LZW compress: variable code width from min_code+1 up
    to 12 bits, LSB-first bit packing, clear-code dictionary resets at
    4096 entries. Returns the raw entropy bytes (no sub-block framing)."""
    clear = 1 << min_code
    end = clear + 1
    bits = bytearray()
    acc = 0
    nbits = 0
    width_ = min_code + 1

    def put(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width_
        while nbits >= 8:
            bits.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    put(clear)
    prev = b""
    for v in seq:
        cur = prev + bytes([v])
        if cur in table:
            prev = cur
            continue
        put(table[prev])
        if next_code < 4096:
            table[cur] = next_code
            if next_code == (1 << width_) and width_ < 12:
                width_ += 1
            next_code += 1
        else:
            put(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
            width_ = min_code + 1
        prev = bytes([v])
    if prev:
        put(table[prev])
    put(end)
    if nbits:
        bits.append(acc & 0xFF)
    return bits


def encode_gif_animation(
    frames: list,
    palette: np.ndarray,
    delays_cs: list | None = None,
    transparents: list | None = None,
    disposals: list | None = None,
    rects: list | None = None,
    loop: bool = True,
) -> bytes:
    """Multi-frame GIF89a animation encoder (pure stdlib+numpy):

    - ``frames``: list of (h, w) uint8 palette-index arrays. Frame 0
      sets the logical screen size; later frames may be smaller
      sub-rectangles placed via ``rects`` [(left, top), ...].
    - ``delays_cs``: per-frame delay in centiseconds (GCE field).
    - ``transparents``: per-frame transparent palette index or None.
    - ``disposals``: per-frame disposal method (0/1 leave, 2 restore
      to background, 3 restore to previous) written into the GCE.
    - ``loop``: emit the NETSCAPE2.0 infinite-loop application
      extension (what every animated web GIF carries).

    Spec: GIF89a (CompuServe 1990) + the de-facto Netscape looping
    block. Reuses the single-frame encoder's LZW (``_lzw_encode``)."""
    pal = np.asarray(palette, dtype=np.uint8)
    nf = len(frames)
    if nf == 0:
        raise ValueError("animation needs at least one frame")
    delays_cs = delays_cs if delays_cs is not None else [10] * nf
    transparents = transparents if transparents is not None else [None] * nf
    disposals = disposals if disposals is not None else [1] * nf
    rects = rects if rects is not None else [(0, 0)] * nf
    sh, sw = np.asarray(frames[0]).shape

    n = 4
    while n < len(pal):
        n <<= 1
    if n > 256:
        raise ValueError("palette too large")
    pal_full = np.zeros((n, 3), dtype=np.uint8)
    pal_full[: len(pal)] = pal
    size_field = n.bit_length() - 2
    min_code = max(2, size_field + 1)

    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", sw, sh)
    out += bytes([0x80 | (size_field & 0x07), 0, 0])
    out += pal_full.tobytes()
    if loop:
        out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for f in range(nf):
        idx = np.asarray(frames[f], dtype=np.uint8)
        h, w = idx.shape
        left, top = rects[f]
        if left + w > sw or top + h > sh:
            raise ValueError("frame rect outside logical screen")
        tr = transparents[f]
        packed = ((disposals[f] & 0x07) << 2) | (1 if tr is not None else 0)
        out += b"\x21\xf9\x04" + bytes([packed])
        out += struct.pack("<H", delays_cs[f])
        out += bytes([tr if tr is not None else 0, 0])
        out += b"\x2c" + struct.pack("<HHHH", left, top, w, h)
        out += b"\x00"  # no local table, not interlaced
        out += bytes([min_code])
        bits = _lzw_encode(idx.reshape(-1).tobytes(), min_code)
        for i in range(0, len(bits), 255):
            chunk = bits[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def decode_gif_frames(payload: bytes, max_frames: int = 0) -> dict:
    """Animated GIF decode with real frame compositing (round 6; the
    demux-and-sample primitive a media curation pipeline needs for the
    web's dominant animation container).

    Walks every image descriptor, composing each onto the logical
    screen canvas per the GIF89a graphic-control semantics: the
    transparency index leaves underlying canvas pixels visible;
    disposal 0/1 leaves the composite, 2 restores the frame's
    rectangle to the background color, 3 restores the whole canvas to
    its pre-frame state. The canvas starts as the logical-screen
    background color (LSD background index through the global table;
    zeros when there is no global table) — the deterministic choice
    for an RGB pipeline with no alpha channel, documented here because
    browsers instead start transparent.

    Returns ``{width, height, n_frames, frames: [{frame_idx,
    delay_cs, pixels(h,w,3)}, ...]}``; with ``max_frames > 0`` decoding
    stops early after that many frames (cheap sampling of long
    animations). Single-frame GIFs yield exactly ``decode_gif``'s
    pixels."""
    b = payload or b""
    if b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    if len(b) < 13:
        raise ValueError("truncated GIF")
    sw = int.from_bytes(b[6:8], "little")
    sh = int.from_bytes(b[8:10], "little")
    packed = b[10]
    bg_idx = b[11]
    gct = None
    pos = 13
    if packed & 0x80:
        gct, pos = _gif_color_table(b, pos, packed)
    if gct is not None and bg_idx < len(gct):
        bg = gct[bg_idx]
    else:
        bg = np.zeros(3, dtype=np.uint8)
    canvas = np.broadcast_to(bg, (sh, sw, 3)).copy()
    frames: list[dict] = []
    # pending graphic-control state for the NEXT image descriptor
    delay_cs = 0
    disposal = 0
    transparent: int | None = None
    while pos < len(b):
        blk = b[pos]
        if blk == 0x3B:  # trailer
            break
        if blk == 0x21:  # extension
            if pos + 1 >= len(b):
                raise ValueError("truncated GIF extension")
            label = b[pos + 1]
            pos += 2
            if label == 0xF9:  # graphic control
                data, pos = _gif_subblocks(b, pos)
                if len(data) >= 4:
                    disposal = (data[0] >> 2) & 0x07
                    delay_cs = int.from_bytes(data[1:3], "little")
                    transparent = data[3] if data[0] & 0x01 else None
            else:  # comment / application / plain-text: skip
                _, pos = _gif_subblocks(b, pos)
            continue
        if blk != 0x2C:
            raise ValueError(f"unknown GIF block 0x{blk:02x}")
        if pos + 10 > len(b):
            raise ValueError("truncated GIF image descriptor")
        left = int.from_bytes(b[pos + 1 : pos + 3], "little")
        top = int.from_bytes(b[pos + 3 : pos + 5], "little")
        w = int.from_bytes(b[pos + 5 : pos + 7], "little")
        h = int.from_bytes(b[pos + 7 : pos + 9], "little")
        ipacked = b[pos + 9]
        pos += 10
        if left + w > sw or top + h > sh:
            raise ValueError("GIF frame rect outside logical screen")
        table = gct
        if ipacked & 0x80:
            table, pos = _gif_color_table(b, pos, ipacked)
        if table is None:
            raise ValueError("GIF image without a color table")
        if pos >= len(b):
            raise ValueError("truncated GIF (no LZW min code size)")
        min_code = b[pos]
        if not 2 <= min_code <= 11:
            raise ValueError(f"bad LZW min code size {min_code}")
        pos += 1
        data, pos = _gif_subblocks(b, pos)
        idx = _lzw_decode(data, min_code, w * h)
        if idx.max(initial=0) >= len(table):
            raise ValueError("GIF pixel index outside color table")
        if ipacked & 0x40:
            rows = np.empty(h, dtype=np.int64)
            order = np.concatenate([
                np.arange(0, h, 8), np.arange(4, h, 8),
                np.arange(2, h, 4), np.arange(1, h, 2),
            ])
            rows[order] = np.arange(h)
            idx = idx.reshape(h, w)[rows]
        else:
            idx = idx.reshape(h, w)
        snapshot = canvas.copy() if disposal == 3 else None
        region = canvas[top : top + h, left : left + w]
        if transparent is not None:
            mask = idx != transparent
            region[mask] = table[idx[mask]]
        else:
            region[:] = table[idx]
        frames.append({
            "frame_idx": len(frames),
            "delay_cs": delay_cs,
            "pixels": canvas.copy(),
        })
        if disposal == 2:
            canvas[top : top + h, left : left + w] = bg
        elif disposal == 3:
            canvas = snapshot
        delay_cs, disposal, transparent = 0, 0, None
        if max_frames and len(frames) >= max_frames:
            break
    if not frames:
        raise ValueError("GIF has no image descriptor")
    return {
        "width": sw, "height": sh, "n_frames": len(frames),
        "frames": frames,
    }


#: schema for gif_frame_sample_stage output
GIF_FRAME_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("frame_idx", IntegerType()),
    StructField("delay_cs", IntegerType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("px_hex", StringType()),
    StructField("err", StringType()),
])


def gif_frame_sample_stage(
    media: DataFrame, every_n: int = 1, max_frames: int = 0
) -> DataFrame:
    """Distributed REAL frame sampler over animated GIF payloads: one
    Arrow pass, one output row per sampled (composited) frame — the
    row-explosion `frame_sample` stubs for video, made real for the
    container this repo can actually decode. Per-row error capture
    (err column) keeps one malformed payload from failing the batch;
    ``every_n`` keeps every nth frame, ``max_frames`` bounds decode
    work per animation. Zero shuffle."""

    def run(batches):
        for pdf in batches:
            rows = {k.name: [] for k in GIF_FRAME_SCHEMA.fields}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    g = decode_gif_frames(bytes(payload or b""),
                                          max_frames=max_frames)
                    for fr in g["frames"][::max(every_n, 1)]:
                        rows["media_id"].append(int(mid))
                        rows["frame_idx"].append(fr["frame_idx"])
                        rows["delay_cs"].append(fr["delay_cs"])
                        rows["width"].append(g["width"])
                        rows["height"].append(g["height"])
                        rows["px_hex"].append(fr["pixels"].tobytes().hex())
                        rows["err"].append(None)
                except (ValueError, NotImplementedError) as exc:
                    rows["media_id"].append(int(mid))
                    rows["frame_idx"].append(-1)
                    rows["delay_cs"].append(0)
                    rows["width"].append(0)
                    rows["height"].append(0)
                    rows["px_hex"].append(None)
                    rows["err"].append(f"{type(exc).__name__}: {exc}")
            yield pd.DataFrame({
                "media_id": pd.array(rows["media_id"], dtype="Int64"),
                "frame_idx": pd.array(rows["frame_idx"], dtype="Int32"),
                "delay_cs": pd.array(rows["delay_cs"], dtype="Int32"),
                "width": pd.array(rows["width"], dtype="Int32"),
                "height": pd.array(rows["height"], dtype="Int32"),
                "px_hex": rows["px_hex"],
                "err": rows["err"],
            })

    return media.select("media_id", "payload").mapInPandas(
        run, GIF_FRAME_SCHEMA
    )


# ---------------------------------------------------------------------------
# BMP (BITMAPINFOHEADER) codec — real, pure stdlib (new in round 6):
# uncompressed 24-bit BGR and 8-bit paletted, bottom-up and top-down,
# 4-byte row padding per the public Windows DIB format.
# ---------------------------------------------------------------------------


def decode_bmp(payload: bytes) -> dict:
    b = payload or b""
    if b[:2] != b"BM" or len(b) < 54:
        raise ValueError("not a BMP")
    data_off = int.from_bytes(b[10:14], "little")
    hdr_size = int.from_bytes(b[14:18], "little")
    if hdr_size < 40:
        raise NotImplementedError("BMP core-header variant unsupported")
    w = int.from_bytes(b[18:22], "little", signed=True)
    h = int.from_bytes(b[22:26], "little", signed=True)
    bpp = int.from_bytes(b[28:30], "little")
    comp = int.from_bytes(b[30:34], "little")
    if comp != 0:
        raise NotImplementedError(f"BMP compression {comp} unsupported")
    if bpp not in (8, 24):
        raise NotImplementedError(f"{bpp}-bit BMP unsupported")
    top_down = h < 0
    h = abs(h)
    if w <= 0 or h == 0:
        raise ValueError("bad BMP dimensions")
    row_bytes = (w * (bpp // 8) + 3) // 4 * 4
    need = row_bytes * h
    raw = b[data_off : data_off + need]
    if len(raw) != need:
        raise ValueError("truncated BMP pixel data")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, row_bytes)
    if not top_down:
        rows = rows[::-1]
    if bpp == 24:
        px = rows[:, : w * 3].reshape(h, w, 3)[:, :, ::-1].copy()  # BGR->RGB
    else:
        n_colors = int.from_bytes(b[46:50], "little") or 256
        pal_off = 14 + hdr_size
        pal = np.frombuffer(
            b[pal_off : pal_off + 4 * n_colors], dtype=np.uint8
        )
        if pal.size != 4 * n_colors:
            raise ValueError("truncated BMP palette")
        pal = pal.reshape(n_colors, 4)[:, :3][:, ::-1]  # BGRX -> RGB
        idx = rows[:, :w]
        if idx.max(initial=0) >= n_colors:
            raise ValueError("BMP pixel index outside palette")
        px = pal[idx].copy()
    return {"width": w, "height": h, "channels": 3, "pixels": px}


def encode_bmp(pixels: np.ndarray, top_down: bool = False) -> bytes:
    """24-bit uncompressed BMP (BITMAPINFOHEADER) from (h, w, 3) RGB."""
    px = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = px.shape
    row_bytes = (w * 3 + 3) // 4 * 4
    rows = np.zeros((h, row_bytes), dtype=np.uint8)
    rows[:, : w * 3] = px[:, :, ::-1].reshape(h, w * 3)  # RGB->BGR
    if not top_down:
        rows = rows[::-1]
    data = rows.tobytes()
    hdr = b"BM" + struct.pack(
        "<IHHI", 14 + 40 + len(data), 0, 0, 14 + 40
    )
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, (-h if top_down else h), 1, 24, 0,
        len(data), 2835, 2835, 0, 0,
    )
    return hdr + info + data
