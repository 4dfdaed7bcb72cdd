"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio decode libraries are not present in this container
(BASELINE.json instruction), so the VIDEO-CODEC pixel kernels are
stubs — but the Spark-side contract is real and tested: BinaryType
payload columns, a metadata struct, Arrow-batched mapInPandas with a
declared output schema, and partition-size-aware batching. Swapping the
stub for a real decoder (PIL / torchaudio / pyav) changes only
`_decode_batch`.

Pixel/sample decode for PNG, baseline JPEG (grayscale AND 4:2:0
color), and WAV PCM IS real, stdlib + numpy only:
- `decode_png_pixels` inflates IDAT with zlib and undoes the scanline
  filters (None/Sub/Up/Average/Paeth) in numpy (m06);
- `decode_jpeg_gray` is a full baseline JPEG decoder — marker walk,
  DHT/DQT read from the file, byte-unstuffed canonical-huffman entropy
  decode with DC prediction and EOB/ZRL runs, dequant, IDCT (m09);
- `decode_jpeg_color` extends it to 3 interleaved YCbCr components
  with 4:2:0 subsampling, per-component tables, and BT.601 RGB (m10);
- `wav_sample_stats` reads PCM frames with numpy (m07).
Each is verified end-to-end against closed-form oracles on synthesized
payloads.

Container-FORMAT parsing, however, needs no external library, so those
decoders are REAL: `parse_image_meta` reads PNG IHDR / JPEG SOFn / GIF
headers and `parse_wav_meta` walks RIFF chunks — the metadata-extraction
pass a 100 TB ingest runs before any pixel decode (routing, dedup-by-dims,
size accounting). Verified end-to-end by m03/m04: payloads are synthesized
with doc_id-derived dimensions, so the oracle recomputes the expected
metadata independently with plain arithmetic.
"""

from __future__ import annotations

import math
import struct
import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

# Inter-frame-predicted video codecs (H.264-class) need pyav (absent
# from this container) and raise NotImplementedError inside
# decode_avi_mjpeg_frames. Everything else decodes for REAL: PNG
# (incl. palette + Adam7), baseline JPEG (gray + 4:2:0 color), GIF
# LZW, WAV PCM, and MJPEG-in-AVI video — so frame_sample (round 5,
# replacing the round-1 byte-slicing stub) runs a genuine container
# walk + per-frame JPEG decode.

# [mean, std, min, max] / 255 + 4-bin histogram fractions
FEATURE_DIM = 8

_DECODED_SCHEMA = ("doc_id long, mime string, byte_len long, "
                   "feature array<double>")


def attach_binary_payload(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Simulate a multimodal table: payload = utf-8 bytes of the text,
    metadata struct (mime, byte_len). On a real corpus the payload comes
    from the storage layer; everything downstream only sees bytes."""
    payload = F.encode(F.col(text_col), "utf-8")
    return df.select(
        F.col(id_col),
        payload.alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.octet_length(payload).cast("long").alias("byte_len"),
        ).alias("meta"))


def _decode_image(buf: bytes) -> np.ndarray:
    """Route an image payload to the right REAL decoder: PNG (8/16-bit,
    palette, Adam7) or baseline JPEG — grayscale first, 3-component
    files fall through to the 4:2:0 color decoder, whose LUMA plane is
    returned (chroma is half-resolution and would skew value stats).
    Raises ValueError for non-image payloads."""
    if buf.startswith(b"\x89PNG\r\n\x1a\n"):
        return decode_png_pixels(buf)
    if buf.startswith(b"\xff\xd8"):
        try:
            return decode_jpeg_gray(buf)
        except (ValueError, NotImplementedError):
            y, _cb, _cr = decode_jpeg_color(buf)
            return np.asarray(y)
    raise ValueError("not an image payload (PNG or baseline JPEG)")


def _to_8bit_range(px: np.ndarray) -> np.ndarray:
    """Map decoded pixels to float64 in the 8-bit value range: 16-bit
    samples are scaled by 1/257 (65535 → 255.0 exactly), so features
    and resizes are comparable across depths."""
    if px.dtype == np.uint16:
        return px.astype(np.float64) / 257.0
    return px.astype(np.float64)


def _sample_values(buf: bytes) -> np.ndarray:
    """Decode a payload to a flat float64 sample array via the REAL
    decoders (16-bit depths rescaled to the 8-bit range); anything
    non-image (text/unknown) is treated as raw uint8 bytes, which
    keeps the featurizer total over arbitrary corpora. Totality means
    catching EVERY decode failure mode, not just ValueError: an
    unsupported bit depth / progressive JPEG raises
    NotImplementedError, a corrupt IDAT raises zlib.error, a truncated
    chunk header raises struct.error — each falls back to raw bytes
    instead of killing the Spark task (review finding r4)."""
    try:
        return _to_8bit_range(_decode_image(buf)).ravel()
    except (ValueError, NotImplementedError, zlib.error, struct.error,
            IndexError):
        return np.frombuffer(buf, dtype=np.uint8).astype(np.float64)


def image_features(buf: bytes) -> list[float] | None:
    """REAL featurize kernel over decoded samples: [mean, std, min, max]
    scaled to [0, 1] plus a 4-bin value histogram (fractions in [0, 64),
    [64, 128), [128, 192), [192, 256)) — the compact per-item signature
    a dedup / quality / drift pass reads instead of raw pixels."""
    vals = _sample_values(buf)
    if vals.size == 0:
        return None
    n = float(vals.size)
    return [
        float(vals.mean()) / 255.0,
        float(vals.std()) / 255.0,
        float(vals.min()) / 255.0,
        float(vals.max()) / 255.0,
        float(np.count_nonzero(vals < 64.0)) / n,
        float(np.count_nonzero((vals >= 64.0) & (vals < 128.0))) / n,
        float(np.count_nonzero((vals >= 128.0) & (vals < 192.0))) / n,
        float(np.count_nonzero(vals >= 192.0)) / n,
    ]


def _decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        feats = [None if buf is None else image_features(bytes(buf))
                 for buf in pdf["payload"]]
        yield pd.DataFrame({
            "doc_id": pdf["doc_id"],
            "mime": [m["mime"] for m in pdf["meta"]],
            "byte_len": [m["byte_len"] for m in pdf["meta"]],
            "feature": feats,
        })


def decode_features(df: DataFrame) -> DataFrame:
    """mapInPandas decode stage: Arrow batches of (doc_id, payload, meta)
    → (doc_id, mime, byte_len, feature). Batch size is governed by
    spark.sql.execution.arrow.maxRecordsPerBatch; at scale, repartition
    upstream so each task holds ~128 MB of payload."""
    return df.mapInPandas(_decode_batch, schema=_DECODED_SCHEMA)


_RESIZED_SCHEMA = ("doc_id long, width int, height int, pixels binary")


def box_resize_gray(px: np.ndarray, width: int, height: int) -> np.ndarray:
    """REAL box-filter downsample of a decoded pixel array to a
    (height, width) uint8 grid. Multichannel input is first averaged to
    gray; source box for output pixel (i, j) is
    [floor(j*H/height), floor((j+1)*H/height)) x [floor(i*W/width),
    floor((i+1)*W/width)) and the output value is the round-half-up box
    mean — deterministic, exactly reproducible arithmetic (box means of
    integer pixels are multiples of representable dyadic fractions for
    the test fixtures, so the closed-form oracle matches bit-for-bit)."""
    if px.ndim == 3:
        px = px.astype(np.float64).mean(axis=2)
    px = px.astype(np.float64)
    h_in, w_in = px.shape
    if w_in < width or h_in < height:
        raise ValueError(
            f"box_resize_gray downsamples only: source {w_in}x{h_in} "
            f"smaller than target {width}x{height}")
    xe = (np.arange(width + 1) * w_in) // width
    ye = (np.arange(height + 1) * h_in) // height
    sums = np.add.reduceat(np.add.reduceat(px, ye[:-1], axis=0),
                           xe[:-1], axis=1)
    counts = np.outer(np.diff(ye), np.diff(xe)).astype(np.float64)
    return np.floor(sums / counts + 0.5).astype(np.uint8)


def resize_image(df: DataFrame, width: int = 8, height: int = 8) -> DataFrame:
    """Image resize stage: image payload → fixed (width×height) gray
    byte grid, one row per image. The kernel is the REAL
    ``box_resize_gray`` over the REAL PNG/JPEG decoders — no byte
    tiling. mapInPandas keeps the work Arrow-batched and embarrassingly
    parallel; at scale, repartition upstream so each task holds ~128 MB
    of payloads."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, out = [], []
            for doc_id, buf in zip(pdf["doc_id"], pdf["payload"]):
                if buf is None:
                    continue
                px = _to_8bit_range(_decode_image(bytes(buf)))
                ids.append(doc_id)
                out.append(box_resize_gray(px, width, height).tobytes())
            yield pd.DataFrame({"doc_id": ids,
                                "width": width, "height": height,
                                "pixels": out})

    return df.mapInPandas(run, schema=_RESIZED_SCHEMA)


@F.pandas_udf(T.ArrayType(T.IntegerType()))
def binary_to_ints(b: pd.Series) -> pd.Series:
    """Inspection helper: binary column → array<int> of its bytes (used
    by the gate to hash-check every resized pixel as an integer)."""
    return b.map(lambda v: None if v is None
                 else [int(x) for x in bytes(v)])


def synth_gradient_resize_vals(df: DataFrame, width: int = 4,
                               height: int = 4) -> DataFrame:
    """Fused m12 kernel: gradient-PNG synth → REAL PNG decode → box
    resize → per-pixel int values, in ONE mapInPandas crossing
    (doc_id in, (doc_id, vals) out). Composes the exact same kernels
    as the three-stage chain (``png_bytes_gradient`` fixtures,
    ``_decode_image``/``_to_8bit_range``, ``box_resize_gray``,
    ``binary_to_ints``' byte expansion) — the chain stays the reusable
    operator surface, this is its fusion for the pipeline that needs
    no intermediate. Rationale (optimization guide §4): the three
    chained Python stages each pay a per-task Arrow worker fan-out
    (~0.4 s × 32 tasks locally) to move a payload that is never
    inspected between them; fusing moves doc_id in and 16 ints out,
    once (r13 interleaved A/B: chain-spread 1.44 s → fused 0.57 s,
    output pinned identical in tests/test_spread.py)."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, vals = [], []
            for i in pdf["doc_id"]:
                buf = png_bytes_gradient(int(i) % 60 + 4,
                                         int(i) % 28 + 4, int(i) % 120)
                px = _to_8bit_range(_decode_image(buf))
                ids.append(i)
                vals.append([int(x) for x in
                             box_resize_gray(px, width, height).tobytes()])
            yield pd.DataFrame({"doc_id": ids, "vals": vals})

    return df.mapInPandas(run, schema="doc_id long, vals array<int>")


_SAMPLED_FRAMES = ("doc_id long, sample_index int, frame_idx int, "
                   "width int, height int, mean double")


def frame_sample(df: DataFrame, every_n: int = 2,
                 max_frames: int = 4) -> DataFrame:
    """REAL video frame sampling (round 5 — retires the round-1
    byte-slicing stub): walk the AVI/RIFF container, decode every
    retained frame with the real baseline-JPEG decoder
    (decode_avi_mjpeg_frames), and keep every ``every_n``-th decoded
    frame up to ``max_frames`` — the thinning step a training pipeline
    runs to turn video into model-ready frames. Explode-shaped output:
    one row per SAMPLED frame, (sample_index, source frame_idx, dims,
    pixel mean). Corrupt / truncated payloads contribute no rows (the
    explode-shaped face of the decode-totality contract) — but an
    UNSUPPORTED CODEC (non-MJPEG video stream, H.264-class) RAISES to
    the caller, per the stated contract everywhere this decoder is
    documented: silent zero-row output would be indistinguishable from
    corruption and lose whole corpora. Those codecs need pyav, which
    this container lacks. Arrow-batched mapInPandas: per-payload work,
    embarrassingly parallel, no shuffle."""
    if every_n <= 0:
        raise ValueError("frame_sample: every_n must be positive")
    if max_frames <= 0:
        raise ValueError("frame_sample: max_frames must be positive")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, sidx, fidx, ws, hs, means = [], [], [], [], [], []
            for doc_id, buf in zip(pdf["doc_id"], pdf["payload"]):
                if buf is None:
                    continue
                try:
                    w, h, frames = decode_avi_mjpeg_frames(bytes(buf))
                except (ValueError, struct.error, IndexError):
                    continue  # corrupt/truncated: no rows
                # NotImplementedError (unsupported codec) propagates
                for s, f in enumerate(range(0, len(frames), every_n)):
                    if s >= max_frames:
                        break
                    ids.append(doc_id)
                    sidx.append(s)
                    fidx.append(f)
                    ws.append(w)
                    hs.append(h)
                    means.append(
                        float(frames[f].astype(np.float64).mean()))
            yield pd.DataFrame({"doc_id": ids, "sample_index": sidx,
                                "frame_idx": fidx, "width": ws,
                                "height": hs, "mean": means})

    return df.mapInPandas(run, schema=_SAMPLED_FRAMES)


# ---------------------------------------------------------------------------
# REAL container-format decoders (pure stdlib — no PIL/pyav needed).
# ---------------------------------------------------------------------------

def png_bytes(width: int, height: int, pixel: bytes = b"\x00") -> bytes:
    """Minimal valid PNG: signature + IHDR + one zlib IDAT + IEND.
    8-bit grayscale, `pixel` repeated — enough for any header parser and
    for deterministic payload synthesis in tests/oracles."""
    def chunk(tag: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + pixel * width for _ in range(height))
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def jpeg_bytes(width: int, height: int) -> bytes:
    """Minimal JPEG header stream: SOI + APP0/JFIF + SOF0 + EOI (no scan
    data — sufficient for metadata extraction paths)."""
    app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    sof0 = struct.pack(">BHHB", 8, height, width, 1) + b"\x01\x11\x00"
    return (b"\xff\xd8"
            + b"\xff\xe0" + struct.pack(">H", len(app0) + 2) + app0
            + b"\xff\xc0" + struct.pack(">H", len(sof0) + 2) + sof0
            + b"\xff\xd9")


def wav_bytes(channels: int, sample_rate: int, n_samples: int) -> bytes:
    """Minimal valid 16-bit PCM WAV (RIFF/WAVE + fmt + silent data)."""
    data = b"\x00\x00" * n_samples * channels
    byte_rate = sample_rate * channels * 2
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate, byte_rate,
                      channels * 2, 16)
    body = (b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


_IMAGE_META = T.StructType([
    T.StructField("fmt", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
])


def _image_meta_one(b: bytes):
    if b.startswith(b"\x89PNG\r\n\x1a\n") and b[12:16] == b"IHDR":
        w, h = struct.unpack(">II", b[16:24])
        return ("png", w, h)
    if b.startswith(b"\xff\xd8"):
        # walk JPEG segments to the first SOFn (0xC0-0xCF minus DHT/DAC/RST)
        i = 2
        while i + 4 <= len(b):
            if b[i] != 0xFF:
                break
            marker = b[i + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            seg_len = struct.unpack(">H", b[i + 2:i + 4])[0]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = struct.unpack(">HH", b[i + 5:i + 9])
                return ("jpeg", w, h)
            i += 2 + seg_len
        return ("jpeg", None, None)
    if b[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", b[6:10])
        return ("gif", w, h)
    return (None, None, None)


@F.pandas_udf(_IMAGE_META)
def parse_image_meta(payload: pd.Series) -> pd.DataFrame:
    """REAL image-container metadata decode: PNG IHDR, JPEG SOFn scan,
    GIF logical-screen header. The routing/size pass of a multimodal
    ingest — no pixel decode, so no external deps."""
    rows = [_image_meta_one(bytes(b)) if b is not None else (None, None, None)
            for b in payload]
    return pd.DataFrame(rows, columns=["fmt", "width", "height"])


_WAV_META = T.StructType([
    T.StructField("channels", T.IntegerType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("n_samples", T.LongType()),
    T.StructField("duration_ms", T.DoubleType()),
])


def _wav_meta_one(b: bytes):
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return (None, None, None, None)
    i, channels, rate, bits, data_len = 12, None, None, 16, None
    while i + 8 <= len(b):
        tag = b[i:i + 4]
        (size,) = struct.unpack("<I", b[i + 4:i + 8])
        if tag == b"fmt ":
            # buffer cut mid-fmt: flag with the null row (this path's
            # malformed-input contract), never a raw struct.error
            if i + 24 > len(b):
                return (None, None, None, None)
            _, channels, rate = struct.unpack("<HHI", b[i + 8:i + 16])
            bits = struct.unpack("<H", b[i + 22:i + 24])[0]
        elif tag == b"data":
            data_len = size
        i += 8 + size + (size & 1)  # chunks are word-aligned
    if channels is None or data_len is None:
        return (None, None, None, None)
    n = data_len // (channels * (bits // 8))
    # unrounded — callers round with F.round (HALF_UP, matching SQL
    # engines; Python round() is banker's and diverges on .5 boundaries)
    return (channels, rate, n, n * 1000.0 / rate)


@F.pandas_udf(_WAV_META)
def parse_wav_meta(payload: pd.Series) -> pd.DataFrame:
    """REAL WAV metadata decode: RIFF chunk walk → (channels, sample_rate,
    n_samples, duration_ms)."""
    rows = [_wav_meta_one(bytes(b)) if b is not None else (None,) * 4
            for b in payload]
    return pd.DataFrame(rows, columns=["channels", "sample_rate",
                                       "n_samples", "duration_ms"])


# ---------------------------------------------------------------------------
# REAL PNG pixel decode — stdlib zlib + numpy filter reconstruction.
# No PIL required: inflate the IDAT stream and undo the per-scanline
# filters (None/Sub/Up/Average/Paeth). Narrows the "no pixel decode"
# stub to JPEG/video only.
# ---------------------------------------------------------------------------

_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}  # gray, RGB, palette, +A
# Adam7 pass layout: (x_start, y_start, x_step, y_step)
_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _png_unfilter(raw: bytes, offset: int, width: int, height: int,
                  bpp: int) -> tuple[np.ndarray, int]:
    """Undo PNG scanline filters over ``height`` rows of ``width*bpp``
    bytes starting at ``offset`` in the decompressed stream (``bpp`` =
    bytes per pixel = channels x bytes-per-sample; the spec's filters
    reference the byte ``bpp`` positions left, which is what makes the
    same code serve 8- and 16-bit depths). Returns the
    (height, width*bpp) byte array and the offset after the last row.

    Filters 0/1/2 are vectorized (Sub is a per-byte-lane mod-256
    cumsum — numpy uint8 cumsum wraps exactly like PNG arithmetic);
    Average and Paeth have a true left-to-right data dependence, so
    they fall back to a scalar loop per scanline."""
    stride = width * bpp
    if len(raw) < offset + height * (stride + 1):
        raise ValueError("IDAT length does not match dimensions")
    out = np.empty((height, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        pos = offset + y * (stride + 1)
        ftype = raw[pos]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride,
                             offset=pos + 1)
        if ftype == 0:
            rec = line.copy()
        elif ftype == 1:  # Sub: per-byte-lane cumulative sum mod 256
            rec = np.cumsum(line.reshape(stride // bpp, bpp), axis=0,
                            dtype=np.uint8).reshape(stride)
        elif ftype == 2:  # Up
            rec = line + prior  # uint8 add wraps mod 256
        elif ftype in (3, 4):  # Average / Paeth: sequential in x
            rec = np.empty(stride, dtype=np.uint8)
            for x in range(stride):
                left = int(rec[x - bpp]) if x >= bpp else 0
                up = int(prior[x])
                if ftype == 3:
                    pred = (left + up) >> 1
                else:
                    ul = int(prior[x - bpp]) if x >= bpp else 0
                    p = left + up - ul
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                    pred = (left if pa <= pb and pa <= pc
                            else up if pb <= pc else ul)
                rec[x] = (int(line[x]) + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = rec
        prior = rec
    return out, offset + height * (stride + 1)


def _png_assemble(arr: np.ndarray, h: int, w: int, ch: int,
                  sbytes: int) -> np.ndarray:
    """Combine an unfiltered (h, w*ch*sbytes) byte plane into pixels:
    uint8 (h, w, ch) at depth 8, big-endian uint16 (h, w, ch) at 16."""
    if sbytes == 1:
        return arr.reshape(h, w, ch)
    pairs = arr.reshape(h, w, ch, 2).astype(np.uint16)
    return (pairs[..., 0] << 8) | pairs[..., 1]


def decode_png_pixels(b: bytes) -> np.ndarray:
    """Decode a PNG — 8-bit gray/RGB(A)/PALETTE (PLTE), 16-BIT
    gray/RGB(A), and Adam7 INTERLACED streams — to a (height, width,
    channels) array using only stdlib zlib + numpy: uint8 at depth 8
    (palette images return channels=3, PLTE-mapped), uint16 at depth
    16 (big-endian samples per the spec; filters operate on the byte
    stream with bpp-byte left references, which _png_unfilter
    honors). Sub-8-bit depths raise NotImplementedError.

    Adam7: each of the 7 passes is an independently filtered sub-image
    (the filter `prior` row resets per pass); decoded pass pixels
    scatter back to the full grid at (x0 + i*dx, y0 + j*dy).

    Corruption discipline (round 9): a damaged IDAT stream or chunk
    layout surfaces as diagnostic ValueError, never bare zlib.error /
    struct.error / IndexError. The inflated IDAT length is checked
    against the IHDR dimensions (per pass for Adam7) before any pixel
    buffer is allocated, so a corrupt width or height raises instead
    of sizing a buffer the payload cannot fill."""
    import zlib as _z
    try:
        return _decode_png_inner(b)
    except (_z.error, struct.error, IndexError) as e:
        raise ValueError(f"corrupt PNG: {e}") from e


def _decode_png_inner(b: bytes) -> np.ndarray:
    if not b.startswith(b"\x89PNG\r\n\x1a\n"):
        raise ValueError("not a PNG stream")
    i, width, height, idat, plte = 8, None, None, [], None
    bit_depth = color_type = interlace = None
    while i + 8 <= len(b):
        (length,) = struct.unpack(">I", b[i:i + 4])
        tag = b[i + 4:i + 8]
        data = b[i + 8:i + 8 + length]
        if tag == b"IHDR":
            (width, height, bit_depth, color_type,
             _, _, interlace) = struct.unpack(">IIBBBBB", data)
        elif tag == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat.append(data)
        elif tag == b"IEND":
            break
        i += 12 + length  # length + tag + data + crc
    if width is None or not idat:
        raise ValueError("truncated PNG: missing IHDR/IDAT")
    if (bit_depth not in (8, 16) or color_type not in _PNG_CHANNELS
            or interlace not in (0, 1)
            or (color_type == 3 and bit_depth != 8)):
        raise NotImplementedError(
            f"only 8/16-bit gray/RGB(A) + 8-bit palette, interlace 0/1 "
            f"supported (depth={bit_depth}, color={color_type}, "
            f"interlace={interlace})")
    if color_type == 3 and plte is None:
        raise ValueError("palette PNG without PLTE chunk")
    ch = _PNG_CHANNELS[color_type]
    sbytes = bit_depth // 8
    bpp = ch * sbytes
    dtype = np.uint8 if sbytes == 1 else np.uint16
    raw = zlib.decompress(b"".join(idat))
    if interlace == 0:
        plane, end = _png_unfilter(raw, 0, width, height, bpp)
        out = _png_assemble(plane, height, width, ch, sbytes)
    else:
        passes = [(x0, y0, dx, dy, (width - x0 + dx - 1) // dx,
                   (height - y0 + dy - 1) // dy)
                  for (x0, y0, dx, dy) in _ADAM7]
        passes = [p for p in passes if p[4] > 0 and p[5] > 0]
        # size check before the allocation: a corrupt IHDR must not
        # size a buffer that its IDAT cannot fill
        if len(raw) != sum(hp * (wp * bpp + 1) for *_, wp, hp in passes):
            raise ValueError("IDAT length does not match dimensions")
        out = np.zeros((height, width, ch), dtype=dtype)
        pos = 0
        for (x0, y0, dx, dy, wp, hp) in passes:
            sub, pos = _png_unfilter(raw, pos, wp, hp, bpp)
            out[y0::dy, x0::dx] = _png_assemble(sub, hp, wp, ch, sbytes)
        end = pos
    if len(raw) != end:
        raise ValueError("IDAT length does not match dimensions")
    if color_type == 3:
        if int(out.max()) >= len(plte):
            raise ValueError("palette index out of range")
        return plte[out[:, :, 0]]
    return out


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))


def _filter_rows(rows: list[list[int]], bpp: int = 1) -> bytes:
    """Encode scanlines of raw BYTES with the filter type cycling 0..4
    by row (None/Sub/Up/Average/Paeth; left references are ``bpp``
    bytes back, per the spec), so a decode of the stream exercises
    every PNG filter. Used for whole images and, per pass, for Adam7
    sub-images (each pass's `prior` starts at zero, exactly as the
    spec requires of decoders)."""
    # callers sometimes hand numpy uint8 scalars; Sub/Average/Paeth
    # arithmetic must NOT wrap at 8 bits before the % 256, so force
    # plain ints up front
    rows = [[int(v) for v in row] for row in rows]
    out, prior = [], [0] * (len(rows[0]) if rows else 0)
    for y, row in enumerate(rows):
        width = len(row)
        t = y % 5
        if t == 0:
            f = row
        elif t == 1:
            f = [(row[x] - (row[x - bpp] if x >= bpp else 0)) % 256
                 for x in range(width)]
        elif t == 2:
            f = [(row[x] - (prior[x] if x < len(prior) else 0)) % 256
                 for x in range(width)]
        elif t == 3:
            f = [(row[x] - (((row[x - bpp] if x >= bpp else 0)
                             + prior[x]) >> 1)) % 256
                 for x in range(width)]
        else:
            f = []
            for x in range(width):
                left = row[x - bpp] if x >= bpp else 0
                up = prior[x]
                ul = prior[x - bpp] if x >= bpp else 0
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = (left if pa <= pb and pa <= pc
                        else up if pb <= pc else ul)
                f.append((row[x] - pred) % 256)
        out.append(bytes([t]) + bytes(f))
        prior = row
    return b"".join(out)


def png_bytes_gradient(width: int, height: int, base: int) -> bytes:
    """PNG whose pixel (x, y) = base + x + y — callers keep
    base + width + height <= 257 so no value wraps mod 256 and the
    mean/std have closed forms (x and y are independent uniforms:
    mean = base + (w-1)/2 + (h-1)/2, var = (w²-1)/12 + (h²-1)/12).
    The filter type cycles 0..4 by row, so a decode exercises every
    PNG filter; any filter-reconstruction bug shifts the mean/std."""
    rows = [[base + x + y for x in range(width)] for y in range(height)]
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(_filter_rows(rows)))
            + _png_chunk(b"IEND", b""))


def png_bytes_rgb(arr: np.ndarray) -> bytes:
    """Encode an (H, W, 3) uint8 array as a non-interlaced 8-bit RGB
    PNG (filter 0 rows — rasters here are small client-side figures;
    zlib does the heavy lifting). Round-trips through
    decode_png_pixels, which the figure-sink tests exploit."""
    if arr.ndim != 3 or arr.shape[2] != 3 or arr.dtype != np.uint8:
        raise ValueError("png_bytes_rgb expects (H, W, 3) uint8")
    h, w, _ = arr.shape
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(raw))
            + _png_chunk(b"IEND", b""))


def png_bytes_gradient16(width: int, height: int, base: int,
                         scale: int) -> bytes:
    """16-BIT grayscale PNG whose pixel (x, y) = base + scale*(x + y)
    (big-endian samples; callers keep the max below 65536). Filters
    cycle 0..4 at the BYTE level with bpp=2 left references, so a
    decode exercises the 16-bit filter geometry, not just the sample
    reassembly."""
    rows = []
    for y in range(height):
        row = []
        for x in range(width):
            v = base + scale * (x + y)
            row += [v >> 8, v & 0xFF]
        rows.append(row)
    ihdr = struct.pack(">IIBBBBB", width, height, 16, 0, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(_filter_rows(rows, bpp=2)))
            + _png_chunk(b"IEND", b""))


def png_bytes_palette(width: int, height: int, palette: list[tuple],
                      index_rows: list[list[int]],
                      interlace: bool = False) -> bytes:
    """8-bit PALETTE (color type 3) PNG, optionally Adam7-interlaced.
    ``palette`` is a list of (r, g, b); ``index_rows`` is the
    height x width grid of palette indices. Non-interlaced streams use
    the cycling 0..4 row filters; interlaced streams filter each Adam7
    pass independently (again cycling), so a decode exercises both the
    pass geometry and per-pass filter state."""
    plte = b"".join(bytes(c) for c in palette)
    if interlace:
        parts = []
        for (x0, y0, dx, dy) in _ADAM7:
            sub = [row[x0::dx] for row in index_rows[y0::dy]]
            if sub and sub[0]:
                parts.append(_filter_rows(sub))
        raw = b"".join(parts)
    else:
        raw = _filter_rows(index_rows)
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 3, 0, 0,
                       1 if interlace else 0)
    return (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"PLTE", plte)
            + _png_chunk(b"IDAT", zlib.compress(raw))
            + _png_chunk(b"IEND", b""))


_PNG_STATS = T.StructType([
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("pixel_mean", T.DoubleType()),
    T.StructField("pixel_std", T.DoubleType()),
    T.StructField("pixel_min", T.IntegerType()),
    T.StructField("pixel_max", T.IntegerType()),
])


@F.pandas_udf(_PNG_STATS)
def png_pixel_stats(payload: pd.Series) -> pd.DataFrame:
    """REAL pixel-level decode: inflate + unfilter (+ de-interlace,
    + palette-map) each PNG, emit (width, height, mean, population std,
    min, max) over all samples. Arrow-batched; at scale, repartition
    upstream so each task holds ~128 MB of payloads (same guidance as
    decode_features)."""
    rows = []
    for buf in payload:
        if buf is None:
            rows.append((None, None, None, None, None, None))
            continue
        px = decode_png_pixels(bytes(buf)).astype(np.float64)
        rows.append((px.shape[1], px.shape[0],
                     float(px.mean()), float(px.std()),
                     int(px.min()), int(px.max())))
    return pd.DataFrame(rows, columns=["width", "height",
                                       "pixel_mean", "pixel_std",
                                       "pixel_min", "pixel_max"])


@F.pandas_udf(T.BinaryType())
def synth_png_gradient_payload(doc_id: pd.Series) -> pd.Series:
    """Deterministic gradient PNG per doc: width = id%64+1, height =
    id%32+1, base = id%128 (base+w+h <= 127+64+32 < 257: no mod-256
    wrap, so the closed-form mean/std oracle holds)."""
    return doc_id.map(lambda i: png_bytes_gradient(
        int(i) % 64 + 1, int(i) % 32 + 1, int(i) % 128))


@F.pandas_udf(T.BinaryType())
def synth_png_gradient_min4_payload(doc_id: pd.Series) -> pd.Series:
    """Gradient PNG with dimensions >= 4 (width = id%60+4, height =
    id%28+4, base = id%120; max value 120+62+30 < 256) so a 4x4
    box-filter resize is always a pure downsample with closed-form
    box means."""
    return doc_id.map(lambda i: png_bytes_gradient(
        int(i) % 60 + 4, int(i) % 28 + 4, int(i) % 120))


@F.pandas_udf(T.BinaryType())
def synth_png16_gradient_payload(doc_id: pd.Series) -> pd.Series:
    """16-bit gradient PNG per doc: width = id%24+1, height = id%16+1,
    base = id%1000, scale 171 (max 999 + 171*38 < 65536). Mean/std
    have the same closed forms as the 8-bit gradient, scaled."""
    return doc_id.map(lambda i: png_bytes_gradient16(
        int(i) % 24 + 1, int(i) % 16 + 1, int(i) % 1000, 171))


def _palette_png_one(i: int) -> bytes:
    """Palette fixture: K = id%16+2 gray entries palette[k] =
    base + 7k (base = id%100; max 99 + 7*17 < 256), index(x, y) =
    (x + 2y) % K, width = id%24+1, height = id%16+1. Odd ids are
    Adam7-INTERLACED — both layouts decode to the same pixel field,
    so one closed-form oracle covers the interlaced and sequential
    code paths."""
    k = i % 16 + 2
    base = i % 100
    w, h = i % 24 + 1, i % 16 + 1
    palette = [(base + 7 * j,) * 3 for j in range(k)]
    idx = [[(x + 2 * y) % k for x in range(w)] for y in range(h)]
    return png_bytes_palette(w, h, palette, idx, interlace=bool(i % 2))


@F.pandas_udf(T.BinaryType())
def synth_palette_png_payload(doc_id: pd.Series) -> pd.Series:
    return doc_id.map(lambda i: _palette_png_one(int(i)))


# ---------------------------------------------------------------------------
# REAL WAV sample decode — 16-bit PCM is raw little-endian int16, so
# numpy.frombuffer IS the decoder; no torchaudio needed. With the PNG
# pixel path above, the "no real decode" stub now covers JPEG/video only.
# ---------------------------------------------------------------------------

def _ulaw_expand(b: np.ndarray) -> np.ndarray:
    """G.711 mu-law byte -> linear 16-bit PCM, the CCITT reference
    expansion (bit-exact, all-integer): with u = ~byte, the magnitude
    is ((mantissa << 3) + 132) << exponent, rebased by the 132 bias,
    negated when the (inverted) sign bit is set. Max magnitude 32124.
    The same arithmetic is SQL-expressible, which is what lets the
    m29 oracle replay the codec without a golden file."""
    u = (~b.astype(np.int32)) & 0xFF
    t = (((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 0x07)
    return np.where(u & 0x80, 0x84 - t, t - 0x84).astype(np.int32)


def decode_wav_samples(b: bytes) -> np.ndarray:
    """Decode a PCM WAV to an int array of shape (n_samples, channels).
    Walks RIFF chunks like _wav_meta_one and reinterprets the data
    chunk. Round 4 extends the real decoder beyond 16-bit: 8-bit PCM
    (unsigned, rebased to signed per the spec), 24-bit PCM
    (little-endian sign-extended to int32), and 32-bit PCM; round 5
    adds G.711 mu-law (fmt code 7, telephony 8-bit companding,
    expanded to linear by _ulaw_expand). Other codecs (float, a-law,
    ADPCM, ...) raise NotImplementedError."""
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    i, fmt_code, channels, bits, data = 12, None, None, None, None
    while i + 8 <= len(b):
        tag = b[i:i + 4]
        (size,) = struct.unpack("<I", b[i + 4:i + 8])
        if tag == b"fmt ":
            # same truncation discipline as the data chunk: a buffer
            # cut mid-fmt must raise the diagnostic ValueError, not a
            # bare struct.error from a short unpack slice
            if i + 24 > len(b) or i + 8 + size > len(b):
                raise ValueError(
                    f"truncated WAV: fmt chunk declares {size} bytes, "
                    f"only {max(0, len(b) - i - 8)} present")
            fmt_code, channels = struct.unpack("<HH", b[i + 8:i + 12])
            bits = struct.unpack("<H", b[i + 22:i + 24])[0]
        elif tag == b"data":
            # the chunk header DECLARES its size; a buffer shorter than
            # that is a truncated capture and must raise, not silently
            # decode the partial tail (fault-injection discipline:
            # decoders raise or flag, never drop)
            if i + 8 + size > len(b):
                raise ValueError(
                    f"truncated WAV: data chunk declares {size} bytes, "
                    f"only {len(b) - i - 8} present")
            data = b[i + 8:i + 8 + size]
        i += 8 + size + (size & 1)
    if data is None or channels is None:
        raise ValueError("truncated WAV: missing fmt/data chunk")
    if fmt_code == 7:                  # G.711 mu-law (round 5 cont.)
        if bits != 8:
            raise NotImplementedError(
                f"mu-law WAVs are 8-bit by spec (bits={bits})")
        return _ulaw_expand(np.frombuffer(data, dtype=np.uint8)) \
            .reshape(-1, channels)
    if fmt_code != 1 or bits not in (8, 16, 24, 32):
        raise NotImplementedError(
            f"only integer PCM (fmt 1, 8/16/24/32-bit) and mu-law "
            f"(fmt 7) supported (fmt={fmt_code}, bits={bits})")
    if bits == 8:      # spec: 8-bit PCM is UNSIGNED with midpoint 128
        arr = np.frombuffer(data, dtype=np.uint8).astype(np.int32) - 128
    elif bits == 16:
        arr = np.frombuffer(data, dtype="<i2")
    elif bits == 32:
        arr = np.frombuffer(data, dtype="<i4")
    else:              # 24-bit: pad each 3-byte LE triplet, sign-extend
        trips = np.frombuffer(data[:len(data) - len(data) % 3],
                              dtype=np.uint8).reshape(-1, 3)
        quads = np.zeros((trips.shape[0], 4), dtype=np.uint8)
        quads[:, 1:] = trips          # value << 8 in a LE int32...
        arr = quads.view("<i4").ravel() >> 8   # ...then >> 8 sign-extends
    return arr.reshape(-1, channels)


_WAV_STATS = T.StructType([
    T.StructField("n_samples", T.LongType()),
    T.StructField("rms", T.DoubleType()),
    T.StructField("peak", T.IntegerType()),
    T.StructField("dc_mean", T.DoubleType()),
])


@F.pandas_udf(_WAV_STATS)
def wav_sample_stats(payload: pd.Series) -> pd.DataFrame:
    """REAL sample-level audio decode: PCM frames → (n_samples, RMS,
    peak |amplitude|, DC mean) across all channels."""
    rows = []
    for buf in payload:
        if buf is None:
            rows.append((None, None, None, None))
            continue
        s = decode_wav_samples(bytes(buf)).astype(np.float64)
        rows.append((s.shape[0], float(np.sqrt((s * s).mean())),
                     int(np.abs(s).max()) if s.size else 0,
                     float(s.mean())))
    return pd.DataFrame(rows, columns=["n_samples", "rms", "peak", "dc_mean"])


@F.pandas_udf(T.BinaryType())
def synth_wav_tone_payload(doc_id: pd.Series) -> pd.Series:
    """Deterministic square-wave WAV per doc: mono 16-bit PCM,
    amplitude A = id%1000+1, alternating +A/-A over n = 2*(id%250+50)
    samples — closed forms the oracle recomputes with arithmetic:
    rms = A exactly, peak = A, dc_mean = 0 (even sample count)."""
    def gen(i: int) -> bytes:
        amp = i % 1000 + 1
        n = 2 * (i % 250 + 50)
        data = struct.pack("<2h", amp, -amp) * (n // 2)
        fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        body = (b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(data)) + data)
        return b"RIFF" + struct.pack("<I", len(body)) + body
    return doc_id.map(lambda i: gen(int(i)))


def wav_bytes_pcm(channels: int, sample_rate: int, samples: list[int],
                  bits: int) -> bytes:
    """PCM WAV encoder for any supported bit depth: 8 (unsigned,
    midpoint 128 per spec), 16, 24 (LE low-3-bytes two's complement),
    32. ``samples`` is the interleaved signed sample list."""
    if bits == 8:
        data = bytes((s + 128) & 0xFF for s in samples)
    elif bits == 16:
        data = b"".join(struct.pack("<h", s) for s in samples)
    elif bits == 24:
        data = b"".join(struct.pack("<i", s)[:3] for s in samples)
    elif bits == 32:
        data = b"".join(struct.pack("<i", s) for s in samples)
    else:
        raise ValueError(f"unsupported bit depth {bits}")
    block = channels * bits // 8
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate,
                      sample_rate * block, block, bits)
    body = (b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


@F.pandas_udf(T.BinaryType())
def synth_wav_multibits_payload(doc_id: pd.Series) -> pd.Series:
    """Square-wave WAV whose BIT DEPTH cycles 8/16/24/32 by doc_id%4,
    amplitude A = (id%100+1) x {1, 256, 65536, 16777216} (so every
    depth's dynamic range is exercised; A < 2^31 keeps the int32 peak
    column exact), n = 2*(id%200+25) mono samples. Closed forms:
    rms = A (alternating +/-A), peak = A, dc_mean = 0."""
    def gen(i: int) -> bytes:
        bits = (8, 16, 24, 32)[i % 4]
        amp = (i % 100 + 1) * (1, 256, 65536, 16777216)[i % 4]
        n = 2 * (i % 200 + 25)
        return wav_bytes_pcm(1, 8000, [amp, -amp] * (n // 2), bits)
    return doc_id.map(lambda i: gen(int(i)))


@F.pandas_udf(T.BinaryType())
def synth_png_payload(doc_id: pd.Series) -> pd.Series:
    """Deterministic PNG payload per doc: width = id%64+1, height =
    id%32+1 — the oracle recomputes these from doc_id directly, which
    independently verifies the parser."""
    return doc_id.map(lambda i: png_bytes(int(i) % 64 + 1, int(i) % 32 + 1))


@F.pandas_udf(T.BinaryType())
def synth_wav_payload(doc_id: pd.Series) -> pd.Series:
    """Deterministic WAV payload per doc: channels = id%2+1, rate =
    8000*(id%3+1), samples = id%500+100."""
    return doc_id.map(lambda i: wav_bytes(
        int(i) % 2 + 1, 8000 * (int(i) % 3 + 1), int(i) % 500 + 100))


# ---------------------------------------------------------------------------
# REAL MP4 / ISO-BMFF container parse — stdlib struct box walk.
# The reference has no video path at all; this is the beyond-reference
# multimodal surface (SURVEY.md §2.6): the metadata/routing pass a
# 100 TB video ingest runs before any codec work (duration accounting,
# resolution routing, sample-table sizing). Frame PIXEL decode needs a
# codec (pyav, absent) and stays stubbed; the container walk is real.
# ---------------------------------------------------------------------------

_MP4_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}

_MP4_META = T.StructType([
    T.StructField("brand", T.StringType()),
    T.StructField("timescale", T.LongType()),
    T.StructField("duration_s", T.DoubleType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_tracks", T.IntegerType()),
    T.StructField("n_samples", T.LongType()),
    T.StructField("media_bytes", T.LongType()),
])


def _mp4_walk(b: bytes, start: int, end: int, out: dict) -> None:
    """Iterative-recursive ISO-BMFF box walk over b[start:end].

    Detectable damage (a box header whose declared size runs past the
    enclosing span, or a cut mid-largesize) marks ``out['_damaged']``
    and stops that level; ``_mp4_meta_one`` then nulls the whole row —
    the metadata-path convention (same as WAV): damaged captures
    surface as nulls, never as silently-partial track/sample counts.
    A buffer cut exactly at a top-level box boundary is
    indistinguishable from a complete file (ISO-BMFF carries no total
    length) and parses as the prefix it is."""
    i = start
    while i + 8 <= end:
        (size,) = struct.unpack(">I", b[i:i + 4])
        tag = b[i + 4:i + 8]
        body = i + 8
        if size == 1:  # 64-bit largesize
            if i + 16 > end:
                out["_damaged"] = True  # cut mid-largesize header
                return
            (size,) = struct.unpack(">Q", b[i + 8:i + 16])
            body = i + 16
        elif size == 0:  # box extends to end of enclosing box
            size = end - i
        if size < 8 or i + size > end:
            out["_damaged"] = True  # declared size overruns the span
            return
        # leaf reads stay INSIDE the declared box: a corrupt undersized
        # leaf must damage the row, not read the next box's bytes as
        # field values
        if tag == b"ftyp":
            if body + 4 > i + size:
                out["_damaged"] = True
                return
            out["brand"] = b[body:body + 4].decode("ascii", "replace")
        elif tag == b"mvhd":
            ver = b[body] if body < i + size else 255
            need = 32 if ver == 1 else 20
            if ver not in (0, 1) or body + need > i + size:
                out["_damaged"] = True
                return
            if ver == 1:
                ts, dur = struct.unpack(">IQ", b[body + 20:body + 32])
            else:
                ts, dur = struct.unpack(">II", b[body + 12:body + 20])
            out["timescale"], out["duration"] = ts, dur
        elif tag == b"tkhd":
            if size < 16:  # last-8-bytes read must not overlap the header
                out["_damaged"] = True
                return
            out["n_tracks"] = out.get("n_tracks", 0) + 1
            # width/height are the LAST 8 bytes of the box (16.16 fixed),
            # same offset-from-end for v0 and v1
            w, h = struct.unpack(">II", b[i + size - 8:i + size])
            if w and h and "width" not in out:  # first visual track wins
                out["width"], out["height"] = w >> 16, h >> 16
        elif tag == b"stsz":
            cnt_off = body + 8
            if body + 12 > i + size:
                out["_damaged"] = True
                return
            sample_size, count = struct.unpack(">II", b[body + 4:body + 12])
            if sample_size:
                total = sample_size * count
            else:
                if cnt_off + 4 + 4 * count > i + size:
                    out["_damaged"] = True  # size table overruns the box
                    return
                sizes = np.frombuffer(
                    b, dtype=">u4", count=count, offset=cnt_off + 4)
                total = int(sizes.sum())
            out["n_samples"] = out.get("n_samples", 0) + count
            out["media_bytes"] = out.get("media_bytes", 0) + total
        elif tag in _MP4_CONTAINERS:
            _mp4_walk(b, body, i + size, out)
        i += size
    if i != end:
        # 1-7 stray bytes after the last whole box: a cut mid-header.
        # Intact ISO-BMFF tiles every span exactly with boxes.
        out["_damaged"] = True


def _mp4_meta_one(b: bytes):
    if len(b) < 12 or b[4:8] != b"ftyp":
        return (None,) * 8
    out: dict = {}
    _mp4_walk(b, 0, len(b), out)
    if out.get("_damaged"):
        return (None,) * 8  # flagged, not silently partial
    ts = out.get("timescale")
    dur = out.get("duration")
    return (out.get("brand"), ts,
            (dur / ts) if ts and dur is not None else None,
            out.get("width"), out.get("height"),
            out.get("n_tracks", 0), out.get("n_samples", 0),
            out.get("media_bytes", 0))


@F.pandas_udf(_MP4_META)
def parse_mp4_meta(payload: pd.Series) -> pd.DataFrame:
    """REAL MP4 metadata decode: ISO-BMFF box walk (ftyp/moov/mvhd/
    trak/tkhd/mdia/minf/stbl/stsz) → brand, timescale, duration,
    first-visual-track resolution, track count, sample count, media
    byte total."""
    rows = [_mp4_meta_one(bytes(b)) if b is not None else (None,) * 8
            for b in payload]
    return pd.DataFrame(rows, columns=[f.name for f in _MP4_META])


def _box(tag: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", len(payload) + 8) + tag + payload


def mp4_bytes(timescale: int, duration: int, width: int, height: int,
              sample_sizes: list[int], with_audio_track: bool) -> bytes:
    """Minimal spec-shaped MP4: ftyp + moov(mvhd, trak(tkhd,
    mdia(mdhd, minf(stbl(stsz))))[, audio trak]). Enough structure that
    a real demuxer's metadata pass and ours agree on every field."""
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2")
    mvhd = _box(b"mvhd", struct.pack(
        ">B3xIIII", 0, 0, 0, timescale, duration)
        + struct.pack(">IHH8x", 0x00010000, 0x0100, 0)
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24 + struct.pack(">I", 2))

    def trak(track_id: int, w: int, h: int, sizes: list[int]) -> bytes:
        tkhd = _box(b"tkhd", struct.pack(
            ">B3xIII4xI8xHHHH", 0, 0, 0, track_id, duration, 0, 0, 0, 0)
            + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                          0x40000000)
            + struct.pack(">II", w << 16, h << 16))
        mdhd = _box(b"mdhd", struct.pack(
            ">B3xIIIIHH", 0, 0, 0, timescale, duration, 0x55C4, 0))
        stsz = _box(b"stsz", struct.pack(">B3xII", 0, 0, len(sizes))
                    + b"".join(struct.pack(">I", s) for s in sizes))
        stbl = _box(b"stbl", stsz)
        minf = _box(b"minf", stbl)
        mdia = _box(b"mdia", mdhd + minf)
        return _box(b"trak", tkhd + mdia)

    traks = trak(1, width, height, sample_sizes)
    if with_audio_track:
        traks += trak(2, 0, 0, [64] * max(1, len(sample_sizes) // 2))
    return ftyp + _box(b"moov", mvhd + traks)


@F.pandas_udf(T.BinaryType())
def synth_mp4_payload(doc_id: pd.Series) -> pd.Series:
    """Deterministic MP4 per doc, every field doc_id-derived so the
    oracle recomputes expected metadata with plain arithmetic:
    timescale 600, duration_s = id%120+1, width = 16*(id%61+8),
    height = 16*(id%41+6), n video samples = id%30+5 with sizes
    100+((id+k)%50), audio track iff id is odd."""
    def gen(i: int) -> bytes:
        n = i % 30 + 5
        return mp4_bytes(
            timescale=600, duration=600 * (i % 120 + 1),
            width=16 * (i % 61 + 8), height=16 * (i % 41 + 6),
            sample_sizes=[100 + ((i + k) % 50) for k in range(n)],
            with_audio_track=bool(i % 2))
    return doc_id.map(lambda i: gen(int(i)))


# ---------------------------------------------------------------------------
# REAL baseline JPEG (grayscale) pixel decode — stdlib + numpy only.
# Marker/segment walk, DQT + DHT parsed FROM THE FILE (the decoder
# hardcodes no tables), byte-unstuffed bit reader, canonical-huffman
# entropy decode with DC prediction, EOB/ZRL AC run-lengths, dequant,
# inverse zigzag, separable IDCT (8x8 DCT-III as two matrix products),
# level shift + clamp. Color JPEG (chroma subsampling / YCbCr upsample)
# and progressive scans stay out of scope; together with m06 (PNG) and
# m07 (WAV) this narrows the "needs external libs" stub to color JPEG
# and video codecs only.
# The tables the ENCODER writes are the public JPEG spec Annex K
# luminance tables; the decoder reads whatever DHT/DQT the file carries.
# ---------------------------------------------------------------------------

_JPEG_DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
_JPEG_DC_VALS = tuple(range(12))
_JPEG_AC_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
_JPEG_AC_VALS = (
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
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
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA)

_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63])

# quant table in zigzag order: DC step 4 (exercises real dequant —
# 8*(v-128) is always divisible by 4), ACs a position-derived pattern
_JPEG_QZZ = np.array([4] + [1 + (i % 7) for i in range(1, 64)],
                     dtype=np.int64)


def _dct_mat() -> np.ndarray:
    u = np.arange(8).reshape(-1, 1)
    x = np.arange(8).reshape(1, -1)
    a = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16)
    a[0, :] *= 1.0 / np.sqrt(2.0)
    return a


_DCT_A = _dct_mat()


def _canonical_codes(bits, vals):
    """JPEG canonical huffman: {symbol: (code, length)} (spec C.2)."""
    enc, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            enc[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return enc


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, val: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self._acc = (self._acc << 1) | ((val >> i) & 1)
            self._n += 1
            if self._n == 8:
                self.buf.append(self._acc)
                if self._acc == 0xFF:   # byte stuffing
                    self.buf.append(0x00)
                self._acc = 0
                self._n = 0

    def flush(self) -> None:
        while self._n:
            self.write(1, 1)


def _mag_bits(v: int) -> tuple[int, int]:
    """(size category, appended bits) for a DC diff / AC coefficient."""
    if v == 0:
        return 0, 0
    s = int(abs(v)).bit_length()
    return s, (v if v >= 0 else v + (1 << s) - 1)


def _seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">HH", marker, len(payload) + 2) + payload


def write_jpeg_gray(coefs: np.ndarray, width: int, height: int) -> bytes:
    """Serialize quantized coefficient blocks (n_blocks x 64, zigzag
    order, row-major block layout) as a baseline grayscale JFIF using
    the Annex K luminance tables and _JPEG_QZZ quantization."""
    dc_enc = _canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_enc = _canonical_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    bw = _BitWriter()
    prev_dc = 0
    for blk in coefs:
        s, mb = _mag_bits(int(blk[0]) - prev_dc)
        prev_dc = int(blk[0])
        code, ln = dc_enc[s]
        bw.write(code, ln)
        if s:
            bw.write(mb, s)
        k = 1
        while k < 64:
            if blk[k] == 0:
                run = 0
                while k < 64 and blk[k] == 0:
                    run += 1
                    k += 1
                if k == 64:
                    code, ln = ac_enc[0x00]      # EOB
                    bw.write(code, ln)
                    break
                while run >= 16:
                    code, ln = ac_enc[0xF0]      # ZRL
                    bw.write(code, ln)
                    run -= 16
                s, mb = _mag_bits(int(blk[k]))
                code, ln = ac_enc[(run << 4) | s]
                bw.write(code, ln)
                bw.write(mb, s)
                k += 1
            else:
                s, mb = _mag_bits(int(blk[k]))
                code, ln = ac_enc[s]             # run = 0
                bw.write(code, ln)
                bw.write(mb, s)
                k += 1
    bw.flush()

    out = bytearray(b"\xFF\xD8")                                   # SOI
    out += _seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _seg(0xFFDB, b"\x00" + bytes(int(q) for q in _JPEG_QZZ))  # DQT
    out += _seg(0xFFC0, struct.pack(">BHHB", 8, height, width, 1)
                + b"\x01\x11\x00")                                 # SOF0
    out += _seg(0xFFC4, b"\x00" + bytes(_JPEG_DC_BITS)
                + bytes(_JPEG_DC_VALS))                            # DHT DC
    out += _seg(0xFFC4, b"\x10" + bytes(_JPEG_AC_BITS)
                + bytes(_JPEG_AC_VALS))                            # DHT AC
    out += _seg(0xFFDA, b"\x01\x01\x00\x00\x3F\x00")               # SOS
    out += bw.buf
    out += b"\xFF\xD9"                                             # EOI
    return bytes(out)


def encode_jpeg_gray(pixels: np.ndarray) -> bytes:
    """FDCT + quantize an 8-aligned grayscale image and serialize it.
    Dimensions must be multiples of 8 (no edge replication here)."""
    h, w = pixels.shape
    coefs = []
    shifted = pixels.astype(np.float64) - 128.0
    for by in range(0, h, 8):
        for bx in range(0, w, 8):
            s = _DCT_A @ shifted[by:by + 8, bx:bx + 8] @ _DCT_A.T
            zz = np.round(s.reshape(64)[_ZIGZAG] / _JPEG_QZZ).astype(np.int64)
            coefs.append(zz)
    return write_jpeg_gray(np.array(coefs), w, h)


class _BitReader:
    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self._acc = 0
        self._n = 0

    def bit(self) -> int:
        if self._n == 0:
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos]
                if nxt == 0x00:
                    self.pos += 1        # stuffed byte
                else:
                    raise ValueError(f"unexpected marker FF{nxt:02X} in scan")
            self._acc = b
            self._n = 8
        self._n -= 1
        return (self._acc >> self._n) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v


def _decode_symbol(br: _BitReader, table: dict) -> int:
    code, length = 0, 0
    while length <= 16:
        code = (code << 1) | br.bit()
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid huffman code")


def _extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def decode_jpeg_gray(data: bytes) -> np.ndarray:
    """Full baseline decode of a grayscale JFIF produced by any
    conformant encoder (single component, no restart markers):
    segment walk -> tables from the file -> entropy decode -> dequant
    -> IDCT -> uint8 pixels. Corrupt streams (flipped table ids,
    truncated entropy data, out-of-range code lengths) surface as
    diagnostic ValueError, never bare KeyError/IndexError/
    OverflowError (round-9 corruption discipline)."""
    try:
        return _decode_jpeg_gray_inner(data)
    except (KeyError, IndexError, OverflowError, struct.error) as e:
        raise ValueError(
            f"corrupt JPEG: {type(e).__name__}: {e}") from e


def _decode_jpeg_gray_inner(data: bytes) -> np.ndarray:
    if data[:2] != b"\xFF\xD8":
        raise ValueError("not a JPEG")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    width = height = None
    comp_q = comp_dc = comp_ac = 0
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError("bad marker alignment")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack(">H", data[pos:pos + 2])
        body = data[pos + 2:pos + seglen]
        if marker == 0xDB:
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 15
                if pq:
                    raise ValueError("16-bit quant tables unsupported")
                qt[tq] = np.frombuffer(body[i + 1:i + 65],
                                       dtype=np.uint8).astype(np.int64)
                i += 65
        elif marker == 0xC0:
            _, height, width, ncomp = struct.unpack(">BHHB", body[:6])
            if ncomp != 1:
                raise ValueError("only grayscale baseline supported")
            if body[7] != 0x11:
                raise ValueError("subsampled grayscale unsupported")
            comp_q = body[8]
        elif marker in (0xC1, 0xC2, 0xC3):
            raise ValueError("only baseline sequential (SOF0) supported")
        elif marker == 0xC4:
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 15
                bits = list(body[i + 1:i + 17])
                nvals = sum(bits)
                vals = list(body[i + 17:i + 17 + nvals])
                enc = _canonical_codes(bits, vals)
                huff[(tc, th)] = {(ln, code): sym
                                  for sym, (code, ln) in enc.items()}
                i += 17 + nvals
        elif marker == 0xDA:
            comp_dc, comp_ac = body[2] >> 4, body[2] & 15
            pos += seglen
            break
        pos += seglen
    if width is None:
        raise ValueError("no SOF0 before SOS")
    bw_blocks = (width + 7) // 8
    bh_blocks = (height + 7) // 8
    # every huffman symbol is >= 1 bit and a block is >= 2 symbols (DC,
    # then EOB or an AC code), so the scan's bytes bound the block count
    scan_bytes = max(len(data) - pos, 0)
    if bh_blocks * bw_blocks > 4 * scan_bytes:
        raise ValueError(f"JPEG SOF {width}x{height} exceeds what its "
                         f"{scan_bytes}-byte scan can encode")
    q = qt[comp_q]
    dct, act = huff[(0, comp_dc)], huff[(1, comp_ac)]
    br = _BitReader(data, pos)
    out = np.zeros((bh_blocks * 8, bw_blocks * 8), dtype=np.uint8)
    prev_dc = 0
    inv_zz = np.empty(64, dtype=np.int64)
    inv_zz[_ZIGZAG] = np.arange(64)
    for bi in range(bh_blocks * bw_blocks):
        zz = np.zeros(64, dtype=np.int64)
        s = _decode_symbol(br, dct)
        diff = _extend(br.bits(s), s) if s else 0
        prev_dc += diff
        zz[0] = prev_dc
        k = 1
        while k < 64:
            rs = _decode_symbol(br, act)
            r, s = rs >> 4, rs & 15
            if rs == 0x00:       # EOB
                break
            if rs == 0xF0:       # ZRL
                k += 16
                continue
            k += r
            zz[k] = _extend(br.bits(s), s)
            k += 1
        block = ((zz * q)[inv_zz]).reshape(8, 8).astype(np.float64)
        pix = _DCT_A.T @ block @ _DCT_A + 128.0
        by, bx = divmod(bi, bw_blocks)
        out[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = \
            np.clip(np.round(pix), 0, 255).astype(np.uint8)
    return out[:height, :width]


_JPEG_STATS = T.StructType([
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_blocks", T.IntegerType()),
    T.StructField("pixel_mean", T.DoubleType()),
    T.StructField("pixel_std", T.DoubleType()),
    T.StructField("pixel_min", T.IntegerType()),
    T.StructField("pixel_max", T.IntegerType()),
])


@F.pandas_udf(_JPEG_STATS)
def jpeg_pixel_stats(payload: pd.Series) -> pd.DataFrame:
    """REAL JPEG pixel statistics: full baseline grayscale decode
    (huffman + dequant + IDCT) per payload, then mean/std/min/max over
    the decoded pixels."""
    rows = []
    for b in payload:
        if b is None:
            rows.append((None,) * 7)
            continue
        px = decode_jpeg_gray(bytes(b))
        h, w = px.shape
        rows.append((w, h, (w // 8) * (h // 8),
                     float(px.mean()), float(px.std()),
                     int(px.min()), int(px.max())))
    return pd.DataFrame(rows, columns=[f.name for f in _JPEG_STATS])


@F.pandas_udf(T.BinaryType())
def synth_jpeg_payload(doc_id: pd.Series) -> pd.Series:
    """Deterministic grayscale JPEG per doc: side = 8*(id%3+1), block
    (row-major index b) is the solid value 16 + ((id*7 + b*29) % 224).
    Constant blocks make the DCT round trip exact (DC = 8*(v-128),
    divisible by the DC quant step 4; ACs exactly 0), so the oracle
    recomputes every statistic arithmetically."""
    def gen(i: int) -> bytes:
        k = i % 3 + 1
        side = 8 * k
        img = np.zeros((side, side), dtype=np.uint8)
        for b in range(k * k):
            by, bx = divmod(b, k)
            img[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = \
                16 + ((i * 7 + b * 29) % 224)
        return encode_jpeg_gray(img)
    return doc_id.map(lambda i: gen(int(i)))


# ---------------------------------------------------------------------------
# Color JPEG (YCbCr 4:2:0) — extends the baseline codec above to 3
# interleaved components with chroma subsampling: per-component
# DQT/DHT selection from the file, MCU = 2x2 Y blocks + 1 Cb + 1 Cr,
# separate DC predictors per component, nearest-neighbor chroma
# upsample, and the ITU-R BT.601 YCbCr->RGB transform. With this the
# only remaining pixel stub is video codecs.
# ---------------------------------------------------------------------------

# standard chrominance tables (JPEG spec Annex K)
_JPEG_DC_BITS_C = (0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
_JPEG_DC_VALS_C = tuple(range(12))
_JPEG_AC_BITS_C = (0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
_JPEG_AC_VALS_C = (
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
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
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA)

_JPEG_QZZ_C = np.array([4] + [1] * 63, dtype=np.int64)


def _encode_plane_block(plane: np.ndarray, by: int, bx: int) -> np.ndarray:
    blk = plane[by:by + 8, bx:bx + 8].astype(np.float64) - 128.0
    s = _DCT_A @ blk @ _DCT_A.T
    return s.reshape(64)[_ZIGZAG]


def encode_jpeg_color(y: np.ndarray, cb: np.ndarray,
                      cr: np.ndarray) -> bytes:
    """Serialize YCbCr planes (Y full-res HxW, Cb/Cr H/2 x W/2) as a
    baseline 4:2:0 JFIF. H and W must be multiples of 16."""
    h, w = y.shape
    assert h % 16 == 0 and w % 16 == 0
    assert cb.shape == (h // 2, w // 2) and cr.shape == cb.shape
    enc_dc_y = _canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    enc_ac_y = _canonical_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    enc_dc_c = _canonical_codes(_JPEG_DC_BITS_C, _JPEG_DC_VALS_C)
    enc_ac_c = _canonical_codes(_JPEG_AC_BITS_C, _JPEG_AC_VALS_C)
    bw = _BitWriter()
    prev = [0, 0, 0]  # DC predictors per component

    def emit(zz: np.ndarray, comp: int) -> None:
        q = _JPEG_QZZ if comp == 0 else _JPEG_QZZ_C
        dc_enc = enc_dc_y if comp == 0 else enc_dc_c
        ac_enc = enc_ac_y if comp == 0 else enc_ac_c
        qz = np.round(zz / q).astype(np.int64)
        s, mb = _mag_bits(int(qz[0]) - prev[comp])
        prev[comp] = int(qz[0])
        code, ln = dc_enc[s]
        bw.write(code, ln)
        if s:
            bw.write(mb, s)
        k = 1
        while k < 64:
            if qz[k] == 0:
                run = 0
                while k < 64 and qz[k] == 0:
                    run += 1
                    k += 1
                if k == 64:
                    code, ln = ac_enc[0x00]
                    bw.write(code, ln)
                    break
                while run >= 16:
                    code, ln = ac_enc[0xF0]
                    bw.write(code, ln)
                    run -= 16
                s, mb = _mag_bits(int(qz[k]))
                code, ln = ac_enc[(run << 4) | s]
                bw.write(code, ln)
                bw.write(mb, s)
                k += 1
            else:
                s, mb = _mag_bits(int(qz[k]))
                code, ln = ac_enc[s]
                bw.write(code, ln)
                bw.write(mb, s)
                k += 1

    for my in range(0, h, 16):
        for mx in range(0, w, 16):
            for dy in (0, 8):            # 4 Y blocks, raster order
                for dx in (0, 8):
                    emit(_encode_plane_block(y, my + dy, mx + dx), 0)
            emit(_encode_plane_block(cb, my // 2, mx // 2), 1)
            emit(_encode_plane_block(cr, my // 2, mx // 2), 2)
    bw.flush()

    out = bytearray(b"\xFF\xD8")
    out += _seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _seg(0xFFDB, b"\x00" + bytes(int(v) for v in _JPEG_QZZ))
    out += _seg(0xFFDB, b"\x01" + bytes(int(v) for v in _JPEG_QZZ_C))
    out += _seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 3)
                + b"\x01\x22\x00"        # Y: 2x2 sampling, qtable 0
                + b"\x02\x11\x01"        # Cb: 1x1, qtable 1
                + b"\x03\x11\x01")       # Cr
    out += _seg(0xFFC4, b"\x00" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS))
    out += _seg(0xFFC4, b"\x10" + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS))
    out += _seg(0xFFC4, b"\x01" + bytes(_JPEG_DC_BITS_C)
                + bytes(_JPEG_DC_VALS_C))
    out += _seg(0xFFC4, b"\x11" + bytes(_JPEG_AC_BITS_C)
                + bytes(_JPEG_AC_VALS_C))
    out += _seg(0xFFDA, b"\x03\x01\x00\x02\x11\x03\x11\x00\x3F\x00")
    out += bw.buf
    out += b"\xFF\xD9"
    return bytes(out)


def ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    """ITU-R BT.601 full-range conversion (the JFIF definition)."""
    y = y.astype(np.float64)
    cb = cb.astype(np.float64) - 128.0
    cr = cr.astype(np.float64) - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0,
                   255).astype(np.uint8)


def decode_jpeg_color(data: bytes):
    """Full baseline 4:2:0 color decode: returns (y, cb, cr) planes
    (chroma at half resolution — callers upsample/convert as needed).
    Grayscale files decode via decode_jpeg_gray. Corruption surfaces
    as diagnostic ValueError (same contract as decode_jpeg_gray)."""
    try:
        return _decode_jpeg_color_inner(data)
    except (KeyError, IndexError, OverflowError, struct.error) as e:
        raise ValueError(
            f"corrupt JPEG: {type(e).__name__}: {e}") from e


def _decode_jpeg_color_inner(data: bytes):
    if data[:2] != b"\xFF\xD8":
        raise ValueError("not a JPEG")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    width = height = None
    comps = []       # (id, h_samp, v_samp, tq)
    scan_sel = {}    # comp id -> (td, ta)
    while pos < len(data):
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack(">H", data[pos:pos + 2])
        body = data[pos + 2:pos + seglen]
        if marker == 0xDB:
            i = 0
            while i < len(body):
                qt[body[i] & 15] = np.frombuffer(
                    body[i + 1:i + 65], dtype=np.uint8).astype(np.int64)
                i += 65
        elif marker == 0xC0:
            _, height, width, ncomp = struct.unpack(">BHHB", body[:6])
            for c in range(ncomp):
                cid, samp, tq = body[6 + 3 * c:9 + 3 * c]
                comps.append((cid, samp >> 4, samp & 15, tq))
        elif marker in (0xC1, 0xC2, 0xC3):
            raise ValueError("only baseline sequential (SOF0) supported")
        elif marker == 0xC4:
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 15
                bits = list(body[i + 1:i + 17])
                nvals = sum(bits)
                vals = list(body[i + 17:i + 17 + nvals])
                enc = _canonical_codes(bits, vals)
                huff[(tc, th)] = {(ln, code): sym
                                  for sym, (code, ln) in enc.items()}
                i += 17 + nvals
        elif marker == 0xDA:
            ns = body[0]
            for c in range(ns):
                scan_sel[body[1 + 2 * c]] = (body[2 + 2 * c] >> 4,
                                             body[2 + 2 * c] & 15)
            pos += seglen
            break
        pos += seglen
    if len(comps) == 1:
        raise ValueError("grayscale file: use decode_jpeg_gray")
    if len(comps) != 3 or [(c[1], c[2]) for c in comps] != \
            [(2, 2), (1, 1), (1, 1)]:
        raise ValueError("only 3-component 4:2:0 supported")
    if height % 16 or width % 16:
        raise ValueError("dimensions must be multiples of 16")
    # an MCU is 6 blocks of >= 2 huffman symbols of >= 1 bit each
    scan_bytes = max(len(data) - pos, 0)
    if 12 * (height // 16) * (width // 16) > 8 * scan_bytes:
        raise ValueError(f"JPEG SOF {width}x{height} exceeds what its "
                         f"{scan_bytes}-byte scan can encode")

    inv_zz = np.empty(64, dtype=np.int64)
    inv_zz[_ZIGZAG] = np.arange(64)
    br = _BitReader(data, pos)
    prev = {c[0]: 0 for c in comps}
    y_plane = np.zeros((height, width), dtype=np.uint8)
    cb_plane = np.zeros((height // 2, width // 2), dtype=np.uint8)
    cr_plane = np.zeros((height // 2, width // 2), dtype=np.uint8)

    def read_block(cid: int, tq: int) -> np.ndarray:
        td, ta = scan_sel[cid]
        zz = np.zeros(64, dtype=np.int64)
        s = _decode_symbol(br, huff[(0, td)])
        diff = _extend(br.bits(s), s) if s else 0
        prev[cid] += diff
        zz[0] = prev[cid]
        k = 1
        while k < 64:
            rs = _decode_symbol(br, huff[(1, ta)])
            r, s = rs >> 4, rs & 15
            if rs == 0x00:
                break
            if rs == 0xF0:
                k += 16
                continue
            k += r
            zz[k] = _extend(br.bits(s), s)
            k += 1
        blk = ((zz * qt[tq])[inv_zz]).reshape(8, 8).astype(np.float64)
        pix = _DCT_A.T @ blk @ _DCT_A + 128.0
        return np.clip(np.round(pix), 0, 255).astype(np.uint8)

    (yid, _, _, ytq), (cbid, _, _, cbtq), (crid, _, _, crtq) = comps
    for my in range(0, height, 16):
        for mx in range(0, width, 16):
            for dy in (0, 8):
                for dx in (0, 8):
                    y_plane[my + dy:my + dy + 8, mx + dx:mx + dx + 8] = \
                        read_block(yid, ytq)
            cb_plane[my // 2:my // 2 + 8, mx // 2:mx // 2 + 8] = \
                read_block(cbid, cbtq)
            cr_plane[my // 2:my // 2 + 8, mx // 2:mx // 2 + 8] = \
                read_block(crid, crtq)
    return y_plane, cb_plane, cr_plane


_COLOR_JPEG_STATS = T.StructType([
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("y_mean", T.DoubleType()),
    T.StructField("y_std", T.DoubleType()),
    T.StructField("cb_mean", T.DoubleType()),
    T.StructField("cr_mean", T.DoubleType()),
])


@F.pandas_udf(_COLOR_JPEG_STATS)
def color_jpeg_stats(payload: pd.Series) -> pd.DataFrame:
    """REAL 4:2:0 color JPEG decode per payload -> per-channel pixel
    statistics (Y population mean/std, chroma means)."""
    rows = []
    for b in payload:
        if b is None:
            rows.append((None,) * 6)
            continue
        y, cb, cr = decode_jpeg_color(bytes(b))
        rows.append((y.shape[1], y.shape[0],
                     float(y.mean()), float(y.std()),
                     float(cb.mean()), float(cr.mean())))
    return pd.DataFrame(rows, columns=[f.name for f in _COLOR_JPEG_STATS])


@F.pandas_udf(T.BinaryType())
def synth_color_jpeg_payload(doc_id: pd.Series) -> pd.Series:
    """Deterministic 32x32 4:2:0 color JPEG per doc: 16 solid Y blocks
    (16 + ((id*7 + b*13) % 224)), 4 solid Cb blocks
    (64 + ((id*3 + b*17) % 128)), 4 solid Cr blocks
    (48 + ((id*5 + b*11) % 160)) — every channel statistic has a
    closed form."""
    def gen(i: int) -> bytes:
        y = np.zeros((32, 32), dtype=np.uint8)
        for b in range(16):
            by, bx = divmod(b, 4)
            y[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = \
                16 + ((i * 7 + b * 13) % 224)
        cb = np.zeros((16, 16), dtype=np.uint8)
        cr = np.zeros((16, 16), dtype=np.uint8)
        for b in range(4):
            by, bx = divmod(b, 2)
            cb[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = \
                64 + ((i * 3 + b * 17) % 128)
            cr[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = \
                48 + ((i * 5 + b * 11) % 160)
        return encode_jpeg_color(y, cb, cr)
    return doc_id.map(lambda i: gen(int(i)))


# ---------------------------------------------------------------------------
# REAL frame-level audio features (round 4): non-overlapping 32-sample
# frames over decoded PCM, per-frame RMS energy + zero-crossing rate —
# the librosa-style framing primitive a speech/music data pipeline runs
# before VAD or silence trimming, built on decode_wav_samples.
# ---------------------------------------------------------------------------

AUDIO_FRAME_LEN = 32

_FRAME_FEATS = T.ArrayType(T.StructType([
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("rms", T.DoubleType()),
    T.StructField("zcr", T.DoubleType()),
]))


@F.pandas_udf(_FRAME_FEATS)
def wav_frame_features(payload: pd.Series) -> pd.Series:
    """Per-frame (RMS, zero-crossing-rate) over channel 0 of a PCM WAV.

    Frames are non-overlapping windows of AUDIO_FRAME_LEN samples; the
    trailing partial frame is dropped (hop == frame length). ZCR is the
    fraction of adjacent in-frame pairs with a strict sign change
    (s[j] * s[j+1] < 0), denominator L-1. Vectorized: one reshape +
    two reductions per clip, no Python loop over samples."""
    L = AUDIO_FRAME_LEN
    out = []
    for buf in payload:
        if buf is None:
            out.append(None)
            continue
        s = decode_wav_samples(bytes(buf))[:, 0].astype(np.float64)
        nf = s.shape[0] // L
        if nf == 0:
            out.append([])
            continue
        fr = s[:nf * L].reshape(nf, L)
        rms = np.sqrt((fr * fr).mean(axis=1))
        zc = ((fr[:, :-1] * fr[:, 1:]) < 0).sum(axis=1) / (L - 1)
        out.append([{"frame_idx": int(i), "rms": float(rms[i]),
                     "zcr": float(zc[i])} for i in range(nf)])
    return pd.Series(out)


@F.pandas_udf(T.BinaryType())
def synth_wav_burst_payload(doc_id: pd.Series) -> pd.Series:
    """Deterministic tone-burst WAV per doc: mono 16-bit PCM, a square
    wave of amplitude A = id%1000+1 for the first half = id%250+50
    samples, then half samples of silence. Frame f of length L=32 then
    contains k = clamp(half - 32f, 0, 32) tone samples, giving the
    closed forms the oracle restates:
      rms(f) = sqrt(A^2 * k / 32),  zcr(f) = max(k-1, 0) / 31."""
    def gen(i: int) -> bytes:
        amp = i % 1000 + 1
        half = i % 250 + 50
        samples = [amp if j % 2 == 0 else -amp for j in range(half)]
        samples += [0] * half
        return wav_bytes_pcm(1, 8000, samples, 16)
    return doc_id.map(lambda i: gen(int(i)))


# ---------------------------------------------------------------------------
# Perceptual image hash (round 4): dHash over REAL decoded PNG pixels —
# 4x4 box-downsample to an 8x9 luminance grid, then 64 adjacent-column
# comparisons. Near-identical images (re-encodes, small edits) collide
# or differ in a few bits, so Hamming distance on the hash is the
# image near-dup signal (the picture-side sibling of SimHash on text).
# ---------------------------------------------------------------------------

DHASH_W, DHASH_H = 36, 32        # 9x8 cells of exactly 4x4 pixels

_DHASH = T.StructType([
    T.StructField("hash_hi", T.LongType()),
    T.StructField("hash_lo", T.LongType()),
])


@F.pandas_udf(_DHASH)
def image_dhash(payload: pd.Series) -> pd.DataFrame:
    """64-bit dHash of a DHASH_W x DHASH_H grayscale PNG, returned as
    two unsigned 32-bit halves (hash_hi = bits 63..32) so the value
    stays positive in a signed BIGINT on every engine. Cell luminance
    uses integer floor(sum/16) — bit-exact across platforms, no float
    averaging."""
    rows = []
    for buf in payload:
        if buf is None:
            rows.append((None, None))
            continue
        px = decode_png_pixels(bytes(buf))
        if px.ndim == 3:          # collapse RGB via integer mean
            px = px.sum(axis=2) // px.shape[2]
        h, w = px.shape
        if (w, h) != (DHASH_W, DHASH_H):
            raise ValueError(f"dhash expects {DHASH_W}x{DHASH_H}, "
                             f"got {w}x{h}")
        cells = (px.astype(np.int64).reshape(8, 4, 9, 4)
                 .swapaxes(1, 2).reshape(8, 9, 16).sum(axis=2)) // 16
        bits = cells[:, :-1] > cells[:, 1:]          # (8, 8)
        hi = lo = 0
        for r in range(8):
            for c in range(8):
                if bits[r, c]:
                    idx = r * 8 + c
                    if idx >= 32:
                        hi |= 1 << (idx - 32)
                    else:
                        lo |= 1 << idx
        rows.append((hi, lo))
    return pd.DataFrame(rows, columns=["hash_hi", "hash_lo"])


@F.pandas_udf(T.BinaryType())
def synth_png_pattern_payload(doc_id: pd.Series) -> pd.Series:
    """Deterministic patterned PNG per doc: DHASH_W x DHASH_H grayscale,
    pixel(x, y) = (a*x + b*y) % 256 with a = id%7+1, b = id%5+1 — the
    mod-256 sawtooth makes the 4x4 cell averages non-monotonic, so the
    dHash bit pattern varies across docs and every bit has a closed
    form the oracle recomputes. Rows are written with the cycling
    0..4 filter stream, so the hash also certifies the unfiltering."""
    def gen(i: int) -> bytes:
        a, b = i % 7 + 1, i % 5 + 1
        rows = [[(a * x + b * y) % 256 for x in range(DHASH_W)]
                for y in range(DHASH_H)]
        ihdr = struct.pack(">IIBBBBB", DHASH_W, DHASH_H, 8, 0, 0, 0, 0)
        return (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
                + _png_chunk(b"IDAT", zlib.compress(_filter_rows(rows)))
                + _png_chunk(b"IEND", b""))
    return doc_id.map(lambda i: gen(int(i)))


# ---------------------------------------------------------------------------
# REAL GIF pixel decode (round 4): variable-width LSB-first LZW with
# clear/end codes and dictionary growth, palette mapping through the
# global color table. With PNG/JPEG/WAV/MP4 already real, video
# codecs are now the only remaining pixel stub.
# ---------------------------------------------------------------------------

def _gif_lzw_decode(data: bytes, mcs: int, npix: int) -> np.ndarray:
    """Decode a GIF LZW code stream (already de-sub-blocked) into
    ``npix`` palette indices. Codes are packed LSB-first; width starts
    at mcs+1 and grows when the table fills (cap 12 bits per spec)."""
    if not 2 <= mcs <= 11:
        # spec cap: code width <= 12, so mcs <= 11. A corrupt mcs byte
        # (e.g. a flipped high bit: 0x08 -> 0x18) would otherwise
        # allocate a 2^mcs base table — 16M tuples for mcs=24 — before
        # any code is read: seconds of CPU + RAM per corrupt doc.
        raise ValueError(f"GIF LZW: invalid min code size {mcs}")
    clear, end = 1 << mcs, (1 << mcs) + 1
    base = [(i,) for i in range(clear)] + [None, None]
    table = list(base)
    width = mcs + 1
    out: list[int] = []
    prev: tuple | None = None
    bitpos, total = 0, len(data) * 8
    while bitpos + width <= total and len(out) < npix:
        byte_i = bitpos >> 3
        chunk = int.from_bytes(data[byte_i:byte_i + 4], "little")
        code = (chunk >> (bitpos & 7)) & ((1 << width) - 1)
        bitpos += width
        if code == clear:
            table, width, prev = list(base), mcs + 1, None
            continue
        if code == end:
            break
        if prev is None:
            if code >= clear:
                raise ValueError("GIF LZW: first code after clear not literal")
            entry = table[code]
        elif code < len(table) and table[code] is not None:
            entry = table[code]
            table.append(prev + (entry[0],))
        elif code == len(table):          # the KwKwK case
            entry = prev + (prev[0],)
            table.append(entry)
        else:
            raise ValueError("GIF LZW: code beyond table")
        out.extend(entry)
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    if len(out) < npix:
        raise ValueError("GIF LZW: truncated pixel stream")
    return np.asarray(out[:npix], dtype=np.int64)


def decode_gif_pixels(b: bytes) -> np.ndarray:
    """Decode the FIRST image of a GIF87a/89a to an (H, W, 3) RGB
    array via the global color table. Extensions are skipped; local
    color tables and interlace raise NotImplementedError (documented
    edges, same policy as the PNG decoder grew out of).

    Truncation discipline (round 9): the walk must reach the 0x3B
    trailer — a stream whose image data happens to be complete but
    whose tail was cut is still a truncated capture and raises; short
    reads surface as diagnostic ValueError, never bare IndexError."""
    try:
        return _gif_first_image(b)
    except (IndexError, struct.error) as e:
        raise ValueError(f"truncated GIF: {e}") from e


def _gif_first_image(b: bytes) -> np.ndarray:
    if b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF stream")
    w, h, packed = struct.unpack("<HHB", b[6:11])
    i = 13
    if not packed & 0x80:
        raise NotImplementedError("GIF without a global color table")
    gct_n = 2 << (packed & 0x07)
    gct = np.frombuffer(b[i:i + 3 * gct_n], dtype=np.uint8).reshape(-1, 3)
    i += 3 * gct_n
    img = None
    while i < len(b):
        tag = b[i]
        if tag == 0x21:                   # extension: skip sub-blocks
            i += 2
            while b[i]:
                i += 1 + b[i]
            i += 1
        elif tag == 0x2C:                 # image descriptor
            _, _, iw, ih, ipk = struct.unpack("<HHHHB", b[i + 1:i + 10])
            if ipk & 0x80:
                raise NotImplementedError("GIF local color table")
            if ipk & 0x40:
                raise NotImplementedError("interlaced GIF")
            i += 10
            mcs = b[i]
            i += 1
            chunks = []
            while b[i]:
                n = b[i]
                chunks.append(b[i + 1:i + 1 + n])
                i += 1 + n
            i += 1                        # sub-block terminator
            if img is None:               # first image wins; later
                idx = _gif_lzw_decode(b"".join(chunks), mcs, iw * ih)
                img = gct[idx].reshape(ih, iw, 3)
        elif tag == 0x3B:
            if img is not None:
                return img
            break
        else:
            raise ValueError(f"unknown GIF block 0x{tag:02x}")
    if img is not None:
        raise ValueError("truncated GIF: missing trailer")
    raise ValueError("GIF without an image block")


def _gif_lzw_pack(rows: list, mcs: int = 8) -> bytearray:
    """Pack pixel rows as the classic 'uncompressed GIF' LZW stream:
    every pixel is its own literal code at width mcs+1, with a clear
    code inserted before the table could force a width change — a
    valid stream every decoder must accept, and one that exercises
    clear handling + table growth in ours. Shared by the single- and
    multi-frame fixture writers (review finding r4: the packer existed
    twice)."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    width = mcs + 1
    codes = [clear]
    budget = (1 << width) - clear - 2     # appends before width bump
    for row in rows:
        for v in row:
            if budget == 0:
                codes.append(clear)
                budget = (1 << width) - clear - 2
            codes.append(int(v))
            budget -= 1
    codes.append(end)
    acc = bits = 0
    payload = bytearray()
    for c in codes:
        acc |= c << bits
        bits += width
        while bits >= 8:
            payload.append(acc & 0xFF)
            acc >>= 8
            bits -= 8
    if bits:
        payload.append(acc & 0xFF)
    return payload


def _gif_sub_blocks(payload: bytearray) -> bytearray:
    out = bytearray()
    for j in range(0, len(payload), 255):
        block = payload[j:j + 255]
        out.append(len(block))
        out += block
    out.append(0)
    return out


def gif_bytes_gray(rows: list) -> bytes:
    """Encode rows of 0-255 values as a single-frame GIF89a with a
    256-gray global color table (_gif_lzw_pack stream)."""
    h, w = len(rows), len(rows[0])
    mcs = 8
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | 0x07, 0, 0)   # 256-color GCT
    out += bytes(v for g in range(256) for v in (g, g, g))
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)      # descriptor
    out.append(mcs)
    out += _gif_sub_blocks(_gif_lzw_pack(rows, mcs))
    out += b"\x3b"
    return bytes(out)


_GIF_STATS = T.StructType([
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("mean", T.DoubleType()),
    T.StructField("std", T.DoubleType()),
    T.StructField("p00", T.IntegerType()),
    T.StructField("p_last", T.IntegerType()),
])


@F.pandas_udf(_GIF_STATS)
def gif_pixel_stats(payload: pd.Series) -> pd.DataFrame:
    """REAL GIF decode -> per-image stats over the red channel (gray
    palettes make all channels equal): dimensions, population
    mean/std, first and last pixel."""
    rows = []
    for buf in payload:
        if buf is None:
            rows.append((None, None, None, None, None, None))
            continue
        px = decode_gif_pixels(bytes(buf))[:, :, 0].astype(np.float64)
        h, w = px.shape
        rows.append((w, h, float(px.mean()), float(px.std()),
                     int(px[0, 0]), int(px[-1, -1])))
    return pd.DataFrame(rows, columns=["width", "height", "mean", "std",
                                       "p00", "p_last"])


@F.pandas_udf(T.BinaryType())
def synth_gif_payload(doc_id: pd.Series) -> pd.Series:
    """Deterministic GIF per doc: 16x16 gray, pixel(x, y) = a*x + b*y
    with a = id%7+1, b = id%5+1 (max 180 < 256, no wrap), so
    mean = 7.5(a+b) and var = 21.25(a^2+b^2) exactly."""
    def gen(i: int) -> bytes:
        a, b = i % 7 + 1, i % 5 + 1
        return gif_bytes_gray([[a * x + b * y for x in range(16)]
                               for y in range(16)])
    return doc_id.map(lambda i: gen(int(i)))


def decode_gif_frames(b: bytes) -> list:
    """Decode EVERY image block of an animated GIF87a/89a into a list
    of (H, W, 3) RGB arrays (full-frame images sharing the global
    color table — the fixture writer's layout; partial-frame placement
    and local tables raise, same policy as decode_gif_pixels).

    Truncation discipline (round 9): a stream cut between frames used
    to return the frames seen so far as if the animation were complete
    — the silent-loss class the WAV fix taught. The walk now requires
    the 0x3B trailer, and short reads raise diagnostic ValueError."""
    try:
        return _gif_all_frames(b)
    except (IndexError, struct.error) as e:
        raise ValueError(f"truncated GIF: {e}") from e


def _gif_all_frames(b: bytes) -> list:
    if b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF stream")
    w, h, packed = struct.unpack("<HHB", b[6:11])
    i = 13
    if not packed & 0x80:
        raise NotImplementedError("GIF without a global color table")
    gct_n = 2 << (packed & 0x07)
    gct = np.frombuffer(b[i:i + 3 * gct_n], dtype=np.uint8).reshape(-1, 3)
    i += 3 * gct_n
    frames = []
    saw_trailer = False
    while i < len(b):
        tag = b[i]
        if tag == 0x21:
            i += 2
            while b[i]:
                i += 1 + b[i]
            i += 1
        elif tag == 0x2C:
            left, top, iw, ih, ipk = struct.unpack("<HHHHB",
                                                   b[i + 1:i + 10])
            if ipk & 0xC0:
                raise NotImplementedError("local color table / interlace")
            if (left, top, iw, ih) != (0, 0, w, h):
                raise NotImplementedError("partial-frame placement")
            i += 10
            mcs = b[i]
            i += 1
            chunks = []
            while b[i]:
                n = b[i]
                chunks.append(b[i + 1:i + 1 + n])
                i += 1 + n
            i += 1
            idx = _gif_lzw_decode(b"".join(chunks), mcs, iw * ih)
            frames.append(gct[idx].reshape(ih, iw, 3))
        elif tag == 0x3B:
            saw_trailer = True
            break
        else:
            raise ValueError(f"unknown GIF block 0x{tag:02x}")
    if not saw_trailer:
        raise ValueError("truncated GIF: missing trailer")
    if not frames:
        raise ValueError("GIF without an image block")
    return frames


_GIF_FRAME = T.ArrayType(T.StructType([
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("mean", T.DoubleType()),
    T.StructField("p00", T.IntegerType()),
]))


@F.pandas_udf(_GIF_FRAME)
def gif_frame_sample(payload: pd.Series, every: pd.Series) -> pd.Series:
    """REAL frame sampling over an animated GIF: decode all frames,
    keep every ``every``-th (frame 0 always), report per-kept-frame
    red-channel mean and first pixel — the GIF sibling of the AVI
    frame_sample, exercising multi-frame LZW streams."""
    out = []
    for buf, ev in zip(payload, every):
        if buf is None or ev is None:
            out.append(None)
            continue
        frames = decode_gif_frames(bytes(buf))
        step = max(int(ev), 1)
        out.append([
            {"frame_idx": int(fi),
             "mean": float(fr[:, :, 0].astype(np.float64).mean()),
             "p00": int(fr[0, 0, 0])}
            for fi, fr in enumerate(frames) if fi % step == 0])
    return pd.Series(out)


def gif_bytes_gray_frames(frame_rows: list) -> bytes:
    """Multi-frame variant of gif_bytes_gray: each entry of
    ``frame_rows`` becomes one full-frame image block (uncompressed
    LZW stream), preceded by a minimal graphic-control extension so
    the stream exercises extension skipping between frames."""
    h, w = len(frame_rows[0]), len(frame_rows[0][0])
    mcs = 8
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | 0x07, 0, 0)
    out += bytes(v for g in range(256) for v in (g, g, g))
    for rows in frame_rows:
        out += b"\x21\xf9\x04\x00\x0a\x00\x00\x00"   # GCE: 10cs delay
        out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)
        out.append(mcs)
        out += _gif_sub_blocks(_gif_lzw_pack(rows, mcs))
    out += b"\x3b"
    return bytes(out)


@F.pandas_udf(T.BinaryType())
def synth_gif_anim_payload(doc_id: pd.Series) -> pd.Series:
    """Deterministic animated GIF per doc: nf = id%5+2 full frames of
    8x8 gray, frame f constant value (a + 10*f) with a = id%100 — so
    every sampled frame's mean and corner pixel are the closed form
    a + 10*f."""
    def gen(i: int) -> bytes:
        a, nf = i % 100, i % 5 + 2
        return gif_bytes_gray_frames(
            [[[a + 10 * f] * 8 for _ in range(8)] for f in range(nf)])
    return doc_id.map(lambda i: gen(int(i)))


# ---------------------------------------------------------------------------
# REAL video: MJPEG-in-AVI (round 4). AVI is a RIFF container; MJPEG
# stores each video frame as a complete baseline JPEG — which this
# module already decodes for real. Container walk + per-frame JPEG
# decode = actual video frame extraction with no stubbed stage
# (frame_sample above runs its sampling contract on this same path;
# inter-frame-predicted codecs like H.264 raise — they need pyav).
# ---------------------------------------------------------------------------

def avi_bytes_mjpeg(frames: list, width: int, height: int,
                    fps: int = 10) -> bytes:
    """Minimal spec-shaped AVI wrapping complete JPEG frames: RIFF
    'AVI ' -> LIST hdrl (avih + LIST strl (strh 'vids'/'MJPG' + strf
    BITMAPINFOHEADER)) -> LIST movi ('00dc' chunks, word-aligned)."""
    def chunk(tag: bytes, data: bytes) -> bytes:
        pad = b"\x00" if len(data) & 1 else b""
        return tag + struct.pack("<I", len(data)) + data + pad

    def lst(kind: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", kind + data)

    usec = 1_000_000 // fps
    avih = struct.pack("<14I", usec, 0, 0, 0x10, len(frames), 0, 1, 0,
                       width, height, 0, 0, 0, 0)
    strh = (b"vids" + b"MJPG" + struct.pack("<IHHIIIIIIIII", 0, 0, 0, 0,
                                            1, fps, 0, len(frames), 0,
                                            0xFFFFFFFF, 0, 0))
    strf = struct.pack("<IiiHH4sIiiII", 40, width, height, 1, 24,
                       b"MJPG", width * height * 3, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00dc", f) for f in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_avi_mjpeg_frames(b: bytes) -> tuple:
    """Walk the RIFF/AVI tree, read (width, height, n_frames) from
    avih, and decode every '00dc' MJPEG chunk with the real baseline
    JPEG decoder. Returns (width, height, [frame arrays]). Non-AVI
    RIFFs and non-MJPEG streams raise."""
    if b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI stream")
    meta = {}
    frames = []

    def walk(start: int, end: int) -> None:
        i = start
        while i + 8 <= end:
            tag = b[i:i + 4]
            (size,) = struct.unpack("<I", b[i + 4:i + 8])
            data_start = i + 8
            if data_start + size > len(b):
                raise ValueError("truncated AVI chunk")
            if tag == b"LIST":
                walk(data_start + 4, data_start + size)
            elif tag == b"avih":
                if size < 56:
                    raise ValueError("truncated avih header")
                vals = struct.unpack("<14I", b[data_start:data_start + 56])
                meta["n_frames"], meta["w"], meta["h"] = \
                    vals[4], vals[8], vals[9]
            elif tag == b"strh":
                if b[data_start:data_start + 4] == b"vids" and \
                        b[data_start + 4:data_start + 8] != b"MJPG":
                    raise NotImplementedError(
                        "only the MJPG video codec is supported")
            elif tag == b"00dc":
                frames.append(
                    decode_jpeg_gray(b[data_start:data_start + size]))
            i = data_start + size + (size & 1)

    walk(12, len(b))
    if not meta:
        raise ValueError("AVI without an avih header")
    if len(frames) != meta["n_frames"]:
        raise ValueError("frame count mismatch vs avih")
    return meta["w"], meta["h"], frames


_AVI_FRAMES = T.StructType([
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_frames", T.IntegerType()),
    T.StructField("frames", T.ArrayType(T.StructType([
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("mean", T.DoubleType()),
    ]))),
])


@F.pandas_udf(_AVI_FRAMES)
def avi_frame_stats(payload: pd.Series) -> pd.DataFrame:
    """REAL video frame extraction: AVI walk + per-frame MJPEG decode,
    per-frame pixel mean."""
    rows = []
    for buf in payload:
        if buf is None:
            rows.append((None, None, None, None))
            continue
        w, h, frames = decode_avi_mjpeg_frames(bytes(buf))
        rows.append((w, h, len(frames),
                     [{"frame_idx": int(i),
                       "mean": float(fr.astype(np.float64).mean())}
                      for i, fr in enumerate(frames)]))
    return pd.DataFrame(rows,
                        columns=["width", "height", "n_frames", "frames"])


# Marked non-deterministic so the optimizer cannot DUPLICATE the decode
# (optimization guide §4.4): an explode over the returned `frames`
# array makes InferFiltersFromGenerate synthesize a size(frames)>0
# filter, push it below the upstream (spread) Exchange, and re-evaluate
# the entire synth+decode chain a second time — single-task (r13c
# measurement on m19: count() 4.7–6.0s with 2 ArrowEvalPython nodes →
# 1.1–1.45s warm with 1 after this; results unchanged, the kernel is a
# pure function).
avi_frame_stats = avi_frame_stats.asNondeterministic()


@F.pandas_udf(T.BinaryType())
def synth_avi_payload(doc_id: pd.Series) -> pd.Series:
    """Deterministic MJPEG AVI per doc: nf = id%4+2 frames of a solid
    8x8 gray JPEG, frame f value 16 + ((id*7 + f*29) % 224). Constant
    blocks make the JPEG DCT roundtrip exact, so each frame's decoded
    mean equals its source value."""
    def gen(i: int) -> bytes:
        nf = i % 4 + 2
        frames = []
        for f in range(nf):
            v = 16 + ((i * 7 + f * 29) % 224)
            frames.append(encode_jpeg_gray(
                np.full((8, 8), v, dtype=np.uint8)))
        return avi_bytes_mjpeg(frames, 8, 8)
    return doc_id.map(lambda i: gen(int(i)))


def dhash_neardup_pairs(hashes, max_hamming: int = 6,
                        id_col: str = "doc_id"):
    """Image near-duplicate pairs from dHash values: byte-band
    blocking over the two 32-bit halves then exact Hamming — the
    image-modality face of dedup.banded_hamming_pairs (pigeonhole
    recall bound: 8 bands cover hamming <= 7; larger thresholds
    raise there). ``hashes`` is a Spark DataFrame with
    (id_col, hash_hi, hash_lo) as produced by image_dhash."""
    from ecmm428_pycart_spark.datapipe.dedup import banded_hamming_pairs

    return banded_hamming_pairs(hashes, ["hash_hi", "hash_lo"],
                                id_col=id_col, max_hamming=max_hamming)


# ---------------------------------------------------------------------------
# Frequency-domain audio features (round 4): a REAL numpy rfft over
# REAL decoded PCM — the spectral sibling of the time-domain
# wav_frame_features. The square-wave fixture is built so every output
# has an exact closed form: the wave has c = 2^(id%5) full cycles in
# exactly N=64 samples, so the spectral peak sits on bin c, the DC bin
# is exactly 0 (balanced wave), and Parseval's theorem pins the
# spectrum's total energy to sum(x^2) = N*A^2 — an end-to-end identity
# check on the whole decode->FFT chain, stated by the oracle in plain
# integer arithmetic.
# ---------------------------------------------------------------------------

SPECTRUM_N = 64

_SPECTRUM = T.StructType([
    T.StructField("n_fft", T.IntegerType()),
    T.StructField("peak_bin", T.IntegerType()),
    T.StructField("dc_mag", T.DoubleType()),
    T.StructField("spec_energy", T.DoubleType()),
])


def _decode_ch0_or_none(buf):
    """Channel 0 as float64, or None for corrupt/unsupported payloads —
    ONE definition of the decode-totality exception contract shared by
    the WAV-stats UDFs (spectrum, resample)."""
    if buf is None:
        return None
    try:
        return decode_wav_samples(bytes(buf))[:, 0].astype(np.float64)
    except (ValueError, NotImplementedError, struct.error, IndexError):
        return None


@F.pandas_udf(T.BinaryType())
def synth_wav_square_payload(doc_id: pd.Series) -> pd.Series:
    """Deterministic square-wave WAV per doc: mono 16-bit PCM, N=64
    samples, c = 2^(id%5) in {1,2,4,8,16} full cycles (half-period
    h = 32/c divides N exactly), amplitude A = id%100+1. Closed forms:
    peak_bin = c, dc_mag = 0, spectral energy (Parseval/N) = 64*A^2."""
    def gen(i: int) -> bytes:
        amp = i % 100 + 1
        c = 1 << (i % 5)
        h = 32 // c
        samples = [amp if (j // h) % 2 == 0 else -amp
                   for j in range(SPECTRUM_N)]
        return wav_bytes_pcm(1, 8000, samples, 16)
    return doc_id.map(lambda i: gen(int(i)))


@F.pandas_udf(_SPECTRUM)
def wav_spectrum_stats(payload: pd.Series) -> pd.DataFrame:
    """numpy rfft over channel 0: (n_fft, argmax magnitude bin
    excluding DC, DC magnitude, Parseval energy sum|X|^2 / N over the
    full symmetric spectrum). Ties on the peak break toward the lowest
    bin (np.argmax), but the fixture family never ties: the square
    wave's fundamental dominates every harmonic, and rounding noise
    sits ~1e-8 below it."""
    rows = []
    for buf in payload:
        if buf is None:
            rows.append((None, None, None, None))
            continue
        s = _decode_ch0_or_none(buf)
        if s is None:
            # corrupt/non-WAV payload degrades to a null row, never a
            # task kill (decode-totality contract)
            rows.append((None, None, None, None))
            continue
        n = s.shape[0]
        if n == 0:
            rows.append((0, None, None, None))
            continue
        X = np.fft.rfft(s)
        mag = np.abs(X)
        # full-spectrum Parseval sum: interior rfft bins count twice
        full = mag ** 2
        w = np.full(full.shape, 2.0)
        w[0] = 1.0
        if n % 2 == 0:
            w[-1] = 1.0
        energy = float((full * w).sum() / n)
        # a 1-sample clip has only the DC bin — "no peak" is None, the
        # same convention as the n == 0 row, never bin 0
        peak = int(np.argmax(mag[1:]) + 1) if mag.shape[0] > 1 else None
        rows.append((int(n), peak, float(mag[0]), energy))
    return pd.DataFrame(rows,
                        columns=["n_fft", "peak_bin", "dc_mag",
                                 "spec_energy"])


# ---------------------------------------------------------------------------
# Mel filterbank energies (round 4): the standard ASR front-end feature
# on top of the real decode->rfft chain — triangle filters spaced
# uniformly on the mel scale (Slaney-style mel = 2595 log10(1 + f/700)),
# applied to the power spectrum, log-compressed. Deterministic (the
# bank depends only on n_fft/sr/n_mels), so round-5 can golden it.
# ---------------------------------------------------------------------------

_MEL = T.ArrayType(T.DoubleType())


from functools import lru_cache


@lru_cache(maxsize=64)
def mel_filterbank(n_fft: int, sr: int, n_mels: int) -> np.ndarray:
    """(n_mels, n_fft//2 + 1) triangle filter matrix: peaks uniform in
    mel between 0 and sr/2, each triangle spanning its neighbors'
    peaks. Pure numpy; identical on driver and executors. lru_cache:
    clips sharing (n_fft, sr) reuse one bank per executor instead of
    rebuilding it per payload (callers must not mutate the result)."""
    def to_mel(f):
        return 2595.0 * np.log10(1.0 + f / 700.0)

    def from_mel(m):
        return 700.0 * (10.0 ** (m / 2595.0) - 1.0)

    n_bins = n_fft // 2 + 1
    peaks_mel = np.linspace(0.0, to_mel(sr / 2.0), n_mels + 2)
    peaks_hz = from_mel(peaks_mel)
    bin_hz = np.arange(n_bins) * (sr / n_fft)
    bank = np.zeros((n_mels, n_bins))
    for m in range(n_mels):
        lo, mid, hi = peaks_hz[m], peaks_hz[m + 1], peaks_hz[m + 2]
        up = (bin_hz - lo) / max(mid - lo, 1e-12)
        down = (hi - bin_hz) / max(hi - mid, 1e-12)
        bank[m] = np.clip(np.minimum(up, down), 0.0, None)
    return bank


@F.pandas_udf(_MEL)
def wav_mel_energies(payload: pd.Series) -> pd.Series:
    """log10(1 + mel-filtered power spectrum) of channel 0 — the
    8-band fingerprint a speech/audio pipeline aggregates, dedups, or
    clusters on. Null/corrupt payloads degrade to null (totality
    contract); sub-2-sample clips yield an empty array."""
    out = []
    for buf in payload:
        if buf is None:
            out.append(None)
            continue
        try:
            _ch, sr, _n, _dur = _wav_meta_one(bytes(buf))
            if sr is None:
                out.append(None)
                continue
            s = decode_wav_samples(bytes(buf))[:, 0].astype(np.float64)
        except (ValueError, NotImplementedError, struct.error,
                IndexError):
            out.append(None)
            continue
        n = s.shape[0]
        if n < 2:
            out.append([])
            continue
        power = np.abs(np.fft.rfft(s)) ** 2
        bank = mel_filterbank(n, sr, 8)
        out.append([float(x) for x in
                    np.log10(1.0 + bank @ power)])
    return pd.Series(out)


# Same §4.4 anti-duplication marking as avi_frame_stats: m21's
# posexplode over the returned array otherwise re-evaluates the
# synth+FFT chain below the inferred size()>0 filter (2 ArrowEvalPython
# nodes in the count plan; pure function, results unchanged).
wav_mel_energies = wav_mel_energies.asNondeterministic()


# ---------------------------------------------------------------------------
# Pixel-level augmentation ops (round 4): flips / 90-degree rotation
# over REALLY decoded pixels — the training-time augmentation family,
# map-side per payload like every other kernel here. The summary
# output (dims + corner pixels + mean) makes the geometry checkable in
# closed form on the gradient fixture: pixel(x, y) = base + x + y, so
# e.g. flip_h's top-left pixel is base + (w-1) exactly.
# ---------------------------------------------------------------------------

_AUG_STATS = T.StructType([
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("first_px", T.DoubleType()),
    T.StructField("last_px", T.DoubleType()),
    T.StructField("pixel_mean", T.DoubleType()),
])

_AUG_OPS = ("identity", "flip_h", "flip_v", "rot90")


def _augment_array(px: np.ndarray, op: str) -> np.ndarray:
    if op == "identity":
        return px
    if op == "flip_h":
        return px[:, ::-1]
    if op == "flip_v":
        return px[::-1, :]
    if op == "rot90":                 # clockwise
        return px.T[:, ::-1]
    raise ValueError(f"unknown augmentation {op!r}; "
                     f"supported: {_AUG_OPS}")


def augment_pixel_stats(op: str):
    """Returns a pandas UDF computing (w, h, first_px, last_px, mean)
    of the op-augmented REAL decode of an image payload. Op validated
    eagerly on the driver; decode failures degrade to null rows."""
    if op not in _AUG_OPS:
        raise ValueError(f"unknown augmentation {op!r}; "
                         f"supported: {_AUG_OPS}")

    @F.pandas_udf(_AUG_STATS)
    def stats(payload: pd.Series) -> pd.DataFrame:
        rows = []
        for buf in payload:
            if buf is None:
                rows.append((None, None, None, None, None))
                continue
            try:
                px = _to_8bit_range(_decode_image(bytes(buf)))
            except (ValueError, NotImplementedError, zlib.error,
                    struct.error, IndexError):
                rows.append((None, None, None, None, None))
                continue
            if px.ndim == 3:          # grayscale decoders emit (h, w, 1)
                px = px[:, :, 0]
            a = _augment_array(px, op)
            rows.append((int(a.shape[1]), int(a.shape[0]),
                         float(a[0, 0]), float(a[-1, -1]),
                         float(a.mean())))
        return pd.DataFrame(rows, columns=["width", "height",
                                           "first_px", "last_px",
                                           "pixel_mean"])
    return stats


_RESAMPLE = T.StructType([
    T.StructField("n_in", T.IntegerType()),
    T.StructField("n_out", T.IntegerType()),
    T.StructField("n_zero", T.IntegerType()),
    T.StructField("sum_abs", T.DoubleType()),
])


def resample_linear(samples: "np.ndarray", factor: float) -> "np.ndarray":
    """Linear-interpolation resample of a 1-D PCM channel by ``factor``
    (>1 upsamples): output positions k/factor for k = 0 ..
    floor((n-1)*factor) — endpoints preserved, O(n) numpy, the
    sample-rate normalization step (16 kHz-ing a corpus) every audio
    front-end runs before featurization. Linear interp is the honest
    baseline (alias-free band-limited sinc is a windowed-filter
    extension of the same shape)."""
    if factor <= 0:
        # no semantics exist for this; an empty return would launder a
        # caller's rate-ratio bug into plausible-looking empty clips
        raise ValueError("resample factor must be positive")
    n = len(samples)
    if n == 0:
        return samples[:0].astype(np.float64)
    # k = 0 .. floor((n-1)*factor) EXACTLY — naive arange((n-1)*f + 1)
    # overshoots by one clamped duplicate whenever (n-1)*f is fractional
    k_max = int(math.floor((n - 1) * factor))
    pos = np.arange(k_max + 1) / factor
    return np.interp(pos, np.arange(n), samples.astype(np.float64))


@F.pandas_udf(_RESAMPLE)
def wav_resample2_stats(payload: pd.Series) -> pd.DataFrame:
    """Decode channel 0 and 2x-upsample via ``resample_linear``,
    reduced to closed-form-checkable stats (zero crossings land
    EXACTLY on interpolated midpoints of the square fixture: n_zero =
    2*cycles - 1, sum_abs = amp*(128 - 2*cycles)). Corrupt payloads
    degrade to the null row (decode-totality contract)."""
    rows = []
    for buf in payload:
        if buf is None:
            rows.append((None, None, None, None))
            continue
        s = _decode_ch0_or_none(buf)
        if s is None:
            rows.append((None, None, None, None))
            continue
        y = resample_linear(s, 2.0)
        rows.append((int(len(s)), int(len(y)),
                     int(np.sum(y == 0.0)),
                     float(round(np.sum(np.abs(y)), 4))))
    return pd.DataFrame(rows, columns=["n_in", "n_out", "n_zero",
                                       "sum_abs"])


# ---------------------------------------------------------------------------
# Perceptual DCT hash (pHash) over real decoded PNG pixels — the
# frequency-domain sibling of image_dhash: robust to uniform
# brightness/contrast shifts (which move every low-frequency
# coefficient together and cancel against the median threshold) where
# dHash's spatial gradient is not. All arithmetic after the one-time
# cosine-table quantization is EXACT int64 — the cross-engine contract
# that lets a SQL oracle replay the hash bit-for-bit.
# ---------------------------------------------------------------------------

PHASH_N = 32                     # analyzed crop (left 32 cols of 36)
PHASH_K = 8                      # retained low-frequency block
_PHASH_SCALE = 10000

import math as _math

# DCT-II basis, floor(cos*1e4 + 0.5)-quantized: 256 fixed integers the
# oracle re-derives from DuckDB's cos() — libm-parity verified entry-
# by-entry (tests/test_round6_ops.py pins all 256).
_PHASH_CT = np.array(
    [[int(_math.floor(_math.cos(_math.pi * (2 * t + 1) * u
                                / (2.0 * PHASH_N)) * _PHASH_SCALE + 0.5))
      for u in range(PHASH_K)] for t in range(PHASH_N)],
    dtype=np.int64)


@F.pandas_udf(_DHASH)
def image_phash(payload: pd.Series) -> pd.DataFrame:
    """63-bit perceptual hash of a DHASH_W x DHASH_H grayscale PNG:
    decode, crop the left 32x32, 2D DCT-II via the integer-quantized
    basis (coef = CT^T . px . CT, pure int64 matmuls — inner sums
    bound by 255*1e4*32 ~ 8e7, outer by 2.6e13, no overflow), drop the
    DC term, threshold the 63 AC coefficients against their exact
    integer median (element 31 of the sorted 63). Bit idx u*8+v packs
    into (hash_hi = bits 63..32, hash_lo = bits 31..1); bit 0 is the
    dropped DC, so both halves stay positive signed BIGINTs."""
    rows = []
    for buf in payload:
        if buf is None:
            rows.append((None, None))
            continue
        px = decode_png_pixels(bytes(buf))
        if px.ndim == 3:
            px = px.sum(axis=2) // px.shape[2]
        if px.shape[0] < PHASH_N or px.shape[1] < PHASH_N:
            raise ValueError(f"phash needs >= {PHASH_N}x{PHASH_N}, "
                             f"got {px.shape[1]}x{px.shape[0]}")
        a = px[:PHASH_N, :PHASH_N].astype(np.int64)      # [y, x]
        # coef[u, v] = sum_x sum_y px[y, x] CT[x, u] CT[y, v]
        coef = _PHASH_CT.T @ a.T @ _PHASH_CT
        ac = np.delete(coef.reshape(-1), 0)              # drop (0, 0)
        med = int(np.sort(ac)[31])
        hi = lo = 0
        for u in range(PHASH_K):
            for v in range(PHASH_K):
                if (u, v) == (0, 0):
                    continue
                if int(coef[u, v]) > med:
                    idx = u * 8 + v
                    if idx >= 32:
                        hi |= 1 << (idx - 32)
                    else:
                        lo |= 1 << idx
        rows.append((hi, lo))
    return pd.DataFrame(rows, columns=["hash_hi", "hash_lo"])


# ---------------------------------------------------------------------------
# Dataset normalization constants (the ImageNet-mean/std computation):
# per-channel pixel sums over REAL decoded RGB PNGs, reduced corpus-
# wide. Everything is exact integer arithmetic until the final
# floor-divided parts-per-million mean, so the corpus constants are
# layout-deterministic at any partitioning.
# ---------------------------------------------------------------------------

RGB_W, RGB_H = 16, 12

_CHAN = T.StructType([
    T.StructField("sum_r", T.LongType()),
    T.StructField("sum_g", T.LongType()),
    T.StructField("sum_b", T.LongType()),
    T.StructField("n_pix", T.LongType()),
])


@F.pandas_udf(T.BinaryType())
def synth_png_rgb_payload(doc_id: pd.Series) -> pd.Series:
    """Deterministic RGB_W x RGB_H color PNG per doc: channel c of
    pixel (x, y) = (a*x + b*y + 37*c) % 256 with a = id%7+1,
    b = id%5+1 — the color sibling of synth_png_pattern_payload, with
    a per-channel offset so the three channel sums differ and the
    oracle can tell them apart."""
    def gen(i: int) -> bytes:
        a, b = i % 7 + 1, i % 5 + 1
        arr = np.zeros((RGB_H, RGB_W, 3), dtype=np.uint8)
        for y in range(RGB_H):
            for x in range(RGB_W):
                for c in range(3):
                    arr[y, x, c] = (a * x + b * y + 37 * c) % 256
        return png_bytes_rgb(arr)
    return doc_id.map(lambda i: gen(int(i)))


@F.pandas_udf(_CHAN)
def png_channel_sums(payload: pd.Series) -> pd.DataFrame:
    """Per-channel integer pixel sums of a decoded RGB PNG — the
    mergeable partial behind corpus normalization constants (sums and
    counts re-aggregate exactly; means never do)."""
    rows = []
    for buf in payload:
        if buf is None:
            rows.append((None, None, None, None))
            continue
        px = decode_png_pixels(bytes(buf))
        if px.ndim != 3 or px.shape[2] != 3:
            raise ValueError("png_channel_sums expects an RGB image")
        s = px.astype(np.int64).sum(axis=(0, 1))
        rows.append((int(s[0]), int(s[1]), int(s[2]),
                     int(px.shape[0] * px.shape[1])))
    return pd.DataFrame(rows, columns=["sum_r", "sum_g", "sum_b",
                                       "n_pix"])


_TRIM = T.StructType([
    T.StructField("n_samples", T.LongType()),
    T.StructField("lead_trim", T.LongType()),
    T.StructField("tail_trim", T.LongType()),
    T.StructField("trimmed_n", T.LongType()),
])


@F.pandas_udf(_TRIM)
def wav_trim_silence(payload: pd.Series) -> pd.DataFrame:
    """Leading/trailing silence trim over REAL decoded PCM (first
    channel): silence = |sample| <= 0 (exact-zero threshold — PCM
    silence is literal zeros; pass pre-gained audio for a dB gate).
    The standard VAD-lite preprocessing cut before audio featurize;
    per-payload work inside one Arrow batch, zero shuffle."""
    rows = []
    for buf in payload:
        if buf is None:
            rows.append((None, None, None, None))
            continue
        s = decode_wav_samples(bytes(buf))[:, 0].astype(np.int64)
        n = int(s.shape[0])
        nz = np.nonzero(s)[0]
        if nz.size == 0:
            rows.append((n, n, 0, 0))
            continue
        lead, last = int(nz[0]), int(nz[-1])
        rows.append((n, lead, n - last - 1, last - lead + 1))
    return pd.DataFrame(rows, columns=["n_samples", "lead_trim",
                                       "tail_trim", "trimmed_n"])


# ---------------------------------------------------------------------------
# REAL BMP codec (round 5 continuation): Windows DIB, 24-bit
# uncompressed — the header-only cousins (PNG/JPEG/GIF) all carry
# entropy coding; BMP's trap is LAYOUT instead: BGR byte order,
# 4-byte-aligned row stride, and bottom-up row storage (positive
# biHeight) vs top-down (negative). decode_bmp_pixels handles all
# three and always returns a logical top-down RGB array, so a stride
# or orientation bug shifts every pixel the oracle's closed forms pin.
# ---------------------------------------------------------------------------

BMP_W, BMP_H = 17, 11      # odd width: 51-byte rows pad to 52


def bmp_bytes_rgb(arr: np.ndarray, top_down: bool = False) -> bytes:
    """Encode an (H, W, 3) uint8 RGB array as a 24-bit uncompressed
    BMP: BITMAPFILEHEADER + BITMAPINFOHEADER, BGR pixel order, rows
    padded to 4-byte multiples, stored bottom-up unless ``top_down``
    (negative biHeight, the DIB spec's top-first variant)."""
    h, w, _ = arr.shape
    stride = (w * 3 + 3) & ~3
    rows = arr[:, :, ::-1]                      # RGB -> BGR
    if not top_down:
        rows = rows[::-1]                       # bottom-up storage
    pad = b"\x00" * (stride - w * 3)
    data = b"".join(r.tobytes() + pad for r in rows)
    info = struct.pack("<IiiHHIIiiII", 40, w, -h if top_down else h,
                       1, 24, 0, len(data), 2835, 2835, 0, 0)
    file_hdr = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(data),
                           0, 0, 14 + 40)
    return file_hdr + info + data


def decode_bmp_pixels(b: bytes) -> np.ndarray:
    """Decode a 24-bit uncompressed BMP to an (H, W, 3) uint8 RGB
    array in logical top-down order. Walks the real headers (pixel
    offset from BITMAPFILEHEADER, signed height from
    BITMAPINFOHEADER), strips the 4-byte row padding, reverses
    bottom-up storage, and swaps BGR->RGB. Palette, RLE, and 16/32-bit
    variants raise NotImplementedError (same honesty contract as the
    other codecs)."""
    if b[:2] != b"BM":
        raise ValueError("not a BMP stream")
    (data_off,) = struct.unpack("<I", b[10:14])
    hdr_size, w, h = struct.unpack("<Iii", b[14:26])
    planes, bpp, compression = struct.unpack("<HHI", b[26:34])
    if hdr_size < 40 or bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only 24-bit uncompressed DIBs supported "
            f"(header={hdr_size}, bpp={bpp}, compression={compression})")
    top_down, h = h < 0, abs(h)
    stride = (w * 3 + 3) & ~3
    px = (np.frombuffer(b, np.uint8, count=h * stride, offset=data_off)
          .reshape(h, stride)[:, :w * 3].reshape(h, w, 3))
    if not top_down:
        px = px[::-1]
    return px[:, :, ::-1].copy()                # BGR -> RGB


@F.pandas_udf(T.BinaryType())
def synth_bmp_rgb_payload(doc_id: pd.Series) -> pd.Series:
    """Deterministic BMP_W x BMP_H color BMP per doc — the m26 channel
    pattern ((a*x + b*y + 37*c) % 256, a = id%7+1, b = id%5+1) so the
    oracle shares its algebra; ODD doc_ids encode top-down (negative
    height) and even bottom-up, exercising both orientation paths
    against the same logical image."""
    def gen(i: int) -> bytes:
        a, b = i % 7 + 1, i % 5 + 1
        y, x, c = np.ogrid[:BMP_H, :BMP_W, :3]
        arr = ((a * x + b * y + 37 * c) % 256).astype(np.uint8)
        return bmp_bytes_rgb(arr, top_down=bool(i % 2))
    return doc_id.map(lambda i: gen(int(i)))


_BMP_STATS = T.StructType([
    T.StructField("sum_r", T.LongType()),
    T.StructField("sum_g", T.LongType()),
    T.StructField("sum_b", T.LongType()),
    T.StructField("n_pix", T.LongType()),
    T.StructField("tl_g", T.LongType()),
])


# ---------------------------------------------------------------------------
# REAL ZIP container walk (round 5 continuation): training corpora
# ship as archive files, and the scalable ingestion pattern is
# manifest-first — parse the CENTRAL DIRECTORY (one tail read) to
# enumerate members, then range-read only the members you want. The
# walk is hand-rolled like the MP4 box walk (EOCD signature scan,
# central-directory records, local-header cross-check, CRC32
# verification of the stored bytes) — no zipfile import, so every
# offset assumption is explicit and testable.
# ---------------------------------------------------------------------------

def zip_bytes_store(members: list[tuple[str, bytes]]) -> bytes:
    """STORE-method (uncompressed) ZIP encoder: local headers +
    central directory + end-of-central-directory, fixed DOS
    time/date so archives are byte-deterministic."""
    import zlib

    out, central, offsets = [], [], []
    pos = 0
    for name, data in members:
        nb = name.encode()
        crc = zlib.crc32(data) & 0xFFFFFFFF
        lh = (struct.pack("<IHHHHHIIIHH", 0x04034B50, 20, 0, 0, 0,
                          0x21, crc, len(data), len(data), len(nb), 0)
              + nb + data)
        offsets.append(pos)
        out.append(lh)
        pos += len(lh)
    for (name, data), off in zip(members, offsets):
        nb = name.encode()
        crc = zlib.crc32(data) & 0xFFFFFFFF
        central.append(
            struct.pack("<IHHHHHHIIIHHHHHII", 0x02014B50, 20, 20, 0, 0,
                        0, 0x21, crc, len(data), len(data), len(nb),
                        0, 0, 0, 0, 0, off) + nb)
    cd = b"".join(central)
    eocd = struct.pack("<IHHHHIIH", 0x06054B50, 0, 0, len(members),
                       len(members), len(cd), pos, 0)
    return b"".join(out) + cd + eocd


def decode_zip_manifest(b: bytes) -> list[dict]:
    """Walk a ZIP's central directory: locate the EOCD record by
    signature scan from the tail, then read each central entry and
    CROSS-CHECK it against the member's local header (magic, name)
    and stored bytes (CRC32). Returns per-member dicts with name,
    size, crc, offset, crc_ok. Compressed members (method != 0)
    raise NotImplementedError — this is the manifest/ingestion walk,
    not an inflate implementation."""
    import zlib

    eocd = b.rfind(b"PK\x05\x06")
    if eocd < 0:
        raise ValueError("no end-of-central-directory record")
    n_entries, cd_size, cd_off = struct.unpack(
        "<HII", b[eocd + 10:eocd + 20])
    out, i = [], cd_off
    for _ in range(n_entries):
        if b[i:i + 4] != b"PK\x01\x02":
            raise ValueError("bad central-directory signature")
        (crc, csize, usize, nlen, xlen, clen) = struct.unpack(
            "<IIIHHH", b[i + 16:i + 34])
        method, = struct.unpack("<H", b[i + 10:i + 12])
        off, = struct.unpack("<I", b[i + 42:i + 46])
        name = b[i + 46:i + 46 + nlen].decode()
        if method != 0:
            raise NotImplementedError(
                f"only STORE members supported (method={method})")
        if b[off:off + 4] != b"PK\x03\x04":
            raise ValueError("central offset does not hit a local header")
        lnlen, lxlen = struct.unpack("<HH", b[off + 26:off + 30])
        data = b[off + 30 + lnlen + lxlen:
                 off + 30 + lnlen + lxlen + csize]
        out.append({"name": name, "size": usize, "crc": crc,
                    "offset": off,
                    "crc_ok": (zlib.crc32(data) & 0xFFFFFFFF) == crc})
        i += 46 + nlen + xlen + clen
    return out


@F.pandas_udf(T.BinaryType())
def synth_zip_payload(doc_id: pd.Series) -> pd.Series:
    """Deterministic STORE zip per doc: K = id%4+1 members named
    f{j}.txt, member j = 'm{id}:{j}|' repeated j+3 times — member
    count, name lengths, and byte totals all have closed forms the
    oracle restates (including doc_id's decimal width)."""
    def gen(i: int) -> bytes:
        k = i % 4 + 1
        return zip_bytes_store(
            [(f"f{j}.txt", (f"m{i}:{j}|" * (j + 3)).encode())
             for j in range(k)])
    return doc_id.map(lambda i: gen(int(i)))


_ZIP_STATS = T.StructType([
    T.StructField("n_members", T.LongType()),
    T.StructField("total_bytes", T.LongType()),
    T.StructField("total_name_len", T.LongType()),
    T.StructField("crc_ok", T.BooleanType()),
])


@F.pandas_udf(_ZIP_STATS)
def zip_manifest_stats(payload: pd.Series) -> pd.DataFrame:
    """Manifest rollup per archive: member count, uncompressed byte
    total, summed name lengths (catches name-field truncation), and
    whether EVERY member's stored bytes match its central-directory
    CRC32."""
    rows = []
    for buf in payload:
        if buf is None:
            rows.append((None, None, None, None))
            continue
        m = decode_zip_manifest(bytes(buf))
        rows.append((len(m), sum(e["size"] for e in m),
                     sum(len(e["name"]) for e in m),
                     all(e["crc_ok"] for e in m)))
    return pd.DataFrame(rows, columns=["n_members", "total_bytes",
                                       "total_name_len", "crc_ok"])


def wav_bytes_ulaw(channels: int, sample_rate: int,
                   ulaw: bytes) -> bytes:
    """RIFF/WAVE wrapper for already-companded G.711 mu-law bytes
    (fmt code 7, 8 bits/sample — the telephony interchange format)."""
    fmt = struct.pack("<HHIIHH", 7, channels, sample_rate,
                      sample_rate * channels, channels, 8)
    body = (b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(ulaw)) + ulaw)
    return b"RIFF" + struct.pack("<I", len(body)) + body


@F.pandas_udf(T.BinaryType())
def synth_wav_ulaw_payload(doc_id: pd.Series) -> pd.Series:
    """Deterministic mono mu-law WAV per doc: n = id%200+30 companded
    bytes, byte j = (13*j + 7*id) % 256 — sweeps all 256 code points
    across the corpus so every expansion segment (both signs, all 8
    exponents) is exercised; the oracle replays byte synthesis AND
    expansion in SQL."""
    def gen(i: int) -> bytes:
        n = i % 200 + 30
        raw = bytes((13 * j + 7 * i) % 256 for j in range(n))
        return wav_bytes_ulaw(1, 8000, raw)
    return doc_id.map(lambda i: gen(int(i)))


_ULAW_STATS = T.StructType([
    T.StructField("n_samples", T.LongType()),
    T.StructField("sum_val", T.LongType()),
    T.StructField("peak", T.LongType()),
    T.StructField("n_pos", T.LongType()),
])


@F.pandas_udf(_ULAW_STATS)
def wav_ulaw_stats(payload: pd.Series) -> pd.DataFrame:
    """Integer stats over REAL mu-law-expanded samples (first
    channel): count, sum, peak |value|, positive-sample count — all
    exact, so a one-bit expansion error in any segment reddens the
    oracle hash."""
    rows = []
    for buf in payload:
        if buf is None:
            rows.append((None, None, None, None))
            continue
        s = decode_wav_samples(bytes(buf))[:, 0].astype(np.int64)
        rows.append((int(s.shape[0]), int(s.sum()),
                     int(np.abs(s).max()) if s.size else 0,
                     int((s > 0).sum())))
    return pd.DataFrame(rows, columns=["n_samples", "sum_val", "peak",
                                       "n_pos"])


@F.pandas_udf(_BMP_STATS)
def bmp_pixel_stats(payload: pd.Series) -> pd.DataFrame:
    """Channel sums + pixel count + the TOP-LEFT green value over a
    decoded BMP. The sums are orientation-invariant (they'd survive a
    row-flip bug), so tl_g is the orientation sentinel: logical (0,0)
    only lands on the right stored row when bottom-up reversal and
    top-down passthrough are both correct."""
    rows = []
    for buf in payload:
        if buf is None:
            rows.append((None, None, None, None, None))
            continue
        px = decode_bmp_pixels(bytes(buf))
        s = px.astype(np.int64).sum(axis=(0, 1))
        rows.append((int(s[0]), int(s[1]), int(s[2]),
                     int(px.shape[0] * px.shape[1]), int(px[0, 0, 1])))
    return pd.DataFrame(rows, columns=["sum_r", "sum_g", "sum_b",
                                       "n_pix", "tl_g"])


# ---------------------------------------------------------------------------
# REAL QOI codec (round 5 continuation): the Quite OK Image format
# (qoiformat.org — public one-page spec), the "PNG-simple" lossless
# format modern asset pipelines ship when zlib is the bottleneck.
# Hand-rolled encoder + decoder over the FULL op set (RUN / INDEX /
# DIFF / LUMA / RGB / RGBA) with the 64-slot color index and
# wraparound diffs, same discipline as the other stdlib codecs here:
# every state-machine assumption explicit and testable, no external
# libs. Unlike PNG/JPEG the coding is purely sequential-stateful, so
# the oracle pins decoded pixel ALGEBRA (channel sums + a
# position-sensitive last-pixel sentinel), not the byte stream.
# ---------------------------------------------------------------------------

QOI_W, QOI_H = 17, 11
_QOI_END = b"\x00" * 7 + b"\x01"


def qoi_bytes_rgb(arr: np.ndarray) -> bytes:
    """QOI-encode an (h, w, 3) uint8 array (alpha fixed 255).
    Reference-faithful op selection order — RUN, then INDEX, then
    DIFF, then LUMA, else RGB — with the qoi.c index discipline (a
    pixel enters the 64-slot index only when it MISSES it; run
    continuations never touch the index) and the 62-pixel run cap."""
    h, w = int(arr.shape[0]), int(arr.shape[1])
    out = [b"qoif" + struct.pack(">IIBB", w, h, 3, 0)]
    index = [(0, 0, 0, 0)] * 64
    prev = (0, 0, 0, 255)
    run = 0
    for px in arr.reshape(-1, 3):
        cur = (int(px[0]), int(px[1]), int(px[2]), 255)
        if cur == prev:
            run += 1
            if run == 62:
                out.append(bytes([0xC0 | (run - 1)]))
                run = 0
            continue
        if run:
            out.append(bytes([0xC0 | (run - 1)]))
            run = 0
        hsh = (cur[0] * 3 + cur[1] * 5 + cur[2] * 7 + cur[3] * 11) % 64
        if index[hsh] == cur:
            out.append(bytes([hsh]))
        else:
            index[hsh] = cur
            dr = ((cur[0] - prev[0] + 128) & 255) - 128
            dg = ((cur[1] - prev[1] + 128) & 255) - 128
            db = ((cur[2] - prev[2] + 128) & 255) - 128
            if -2 <= dr <= 1 and -2 <= dg <= 1 and -2 <= db <= 1:
                out.append(bytes([0x40 | (dr + 2) << 4 | (dg + 2) << 2
                                  | (db + 2)]))
            elif (-32 <= dg <= 31 and -8 <= dr - dg <= 7
                  and -8 <= db - dg <= 7):
                out.append(bytes([0x80 | (dg + 32),
                                  (dr - dg + 8) << 4 | (db - dg + 8)]))
            else:
                out.append(bytes([0xFE, cur[0], cur[1], cur[2]]))
        prev = cur
    if run:
        out.append(bytes([0xC0 | (run - 1)]))
    out.append(_QOI_END)
    return b"".join(out)


def decode_qoi_pixels(b: bytes) -> np.ndarray:
    """Decode a QOI stream to (h, w, 3) uint8 (alpha dropped; RGBA
    streams decode, their alpha feeds the index hash as the spec
    requires). Raises on bad magic, bad channel count, a header whose
    dimensions exceed what its payload can encode (checked before the
    pixel buffer is allocated), a run overrunning the pixel count, or
    a missing end marker — container mistakes surface loudly instead
    of yielding shifted pixels. Short reads and corrupt op bytes
    surface as diagnostic ValueError, never bare IndexError (round-9
    corruption discipline)."""
    try:
        return _decode_qoi_inner(b)
    except (IndexError, struct.error) as e:
        raise ValueError(f"corrupt QOI: {e}") from e


def _decode_qoi_inner(b: bytes) -> np.ndarray:
    if b[:4] != b"qoif":
        raise ValueError("not a QOI stream")
    w, h, channels, _cs = struct.unpack(">IIBB", b[4:14])
    if channels not in (3, 4):
        raise ValueError(f"unsupported QOI channel count {channels}")
    n = w * h
    # every op is >= 1 byte and yields <= 62 pixels (a RUN of 1..62;
    # 0xFE/0xFF are RGB/RGBA), and the 8-byte end marker is required
    if n > 62 * max(len(b) - 14 - len(_QOI_END), 0):
        raise ValueError(f"QOI header {w}x{h} exceeds what its "
                         f"{len(b)}-byte stream can encode")
    out = np.empty((n, 3), np.uint8)
    index = [(0, 0, 0, 0)] * 64
    px = (0, 0, 0, 255)
    pos, i = 14, 0
    while i < n:
        op = b[pos]
        pos += 1
        if op == 0xFE:                                    # QOI_OP_RGB
            px = (b[pos], b[pos + 1], b[pos + 2], px[3])
            pos += 3
        elif op == 0xFF:                                  # QOI_OP_RGBA
            px = (b[pos], b[pos + 1], b[pos + 2], b[pos + 3])
            pos += 4
        elif op >> 6 == 0:                                # QOI_OP_INDEX
            px = index[op]
        elif op >> 6 == 1:                                # QOI_OP_DIFF
            px = ((px[0] + ((op >> 4) & 3) - 2) & 255,
                  (px[1] + ((op >> 2) & 3) - 2) & 255,
                  (px[2] + (op & 3) - 2) & 255, px[3])
        elif op >> 6 == 2:                                # QOI_OP_LUMA
            dg = (op & 0x3F) - 32
            b2 = b[pos]
            pos += 1
            px = ((px[0] + dg + (b2 >> 4) - 8) & 255,
                  (px[1] + dg) & 255,
                  (px[2] + dg + (b2 & 0x0F) - 8) & 255, px[3])
        else:                                             # QOI_OP_RUN
            run = (op & 0x3F) + 1
            if i + run > n:
                raise ValueError("QOI run overruns pixel count")
            out[i:i + run] = px[:3]
            i += run
            continue
        index[(px[0] * 3 + px[1] * 5 + px[2] * 7 + px[3] * 11) % 64] = px
        out[i] = px[:3]
        i += 1
    if b[pos:pos + 8] != _QOI_END:
        raise ValueError("missing QOI end marker")
    return out.reshape(h, w, 3)


@F.pandas_udf(T.BinaryType())
def synth_qoi_payload(doc_id: pd.Series) -> pd.Series:
    """Deterministic QOI_W x QOI_H image per doc: px(x, y, c) =
    (a*(x div 3) + b*y + 37*c) % 256 with a = id%7+1, b = id%5+1 —
    the m26/m28 channel algebra with x quantized by 3 so every row
    carries runs (RUN ops), inter-group steps of +a land in DIFF
    (a=1) or LUMA (a>=2) range, and the mod-256 wraps + row
    transitions force RGB and INDEX ops: one corpus exercises the
    whole op set."""
    def gen(i: int) -> bytes:
        a, b = i % 7 + 1, i % 5 + 1
        y, x, c = np.ogrid[:QOI_H, :QOI_W, :3]
        arr = ((a * (x // 3) + b * y + 37 * c) % 256).astype(np.uint8)
        return qoi_bytes_rgb(arr)
    return doc_id.map(lambda i: gen(int(i)))


_QOI_STATS = T.StructType([
    T.StructField("sum_r", T.LongType()),
    T.StructField("sum_g", T.LongType()),
    T.StructField("sum_b", T.LongType()),
    T.StructField("n_pix", T.LongType()),
    T.StructField("last_r", T.LongType()),
])


@F.pandas_udf(_QOI_STATS)
def qoi_pixel_stats(payload: pd.Series) -> pd.DataFrame:
    """Channel sums + pixel count + the LAST pixel's red value over a
    decoded QOI stream. Sums alone would survive some op-decode
    misalignments that permute pixels; last_r is position-sensitive
    (a run-length off-by-one or index miss shifts it), so the pair
    pins both content and sequencing."""
    rows = []
    for buf in payload:
        if buf is None:
            rows.append((None, None, None, None, None))
            continue
        px = decode_qoi_pixels(bytes(buf))
        s = px.astype(np.int64).sum(axis=(0, 1))
        rows.append((int(s[0]), int(s[1]), int(s[2]),
                     int(px.shape[0] * px.shape[1]),
                     int(px[-1, -1, 0])))
    return pd.DataFrame(rows, columns=["sum_r", "sum_g", "sum_b",
                                       "n_pix", "last_r"])


# ---------------------------------------------------------------------------
# REAL TIFF walk + baseline decode (round 5 continuation): TIFF is the
# tagged-container pattern — an IFD (offset-linked directory of typed
# tag entries) pointing at strip data — that scanned-document and
# scientific corpora ship. Hand-rolled like the MP4 box / ZIP central
# -directory walks: explicit byte-order handling (II and MM), typed
# entry parsing with the inline-value-when-<=4-bytes rule, multi-strip
# reassembly. Scope: uncompressed 8-bit grayscale, 1 sample/pixel
# (baseline TIFF class G); anything else raises loudly.
# ---------------------------------------------------------------------------

TIFF_W, TIFF_H = 17, 11
_TIFF_ROWS_PER_STRIP = 4


def tiff_bytes_gray(arr: np.ndarray, big_endian: bool = False) -> bytes:
    """Encode an (h, w) uint8 array as baseline uncompressed
    grayscale TIFF, split into multiple strips (RowsPerStrip=4) so
    decoders must really walk StripOffsets/StripByteCounts; ``II``
    little-endian by default, ``MM`` on request."""
    e = ">" if big_endian else "<"
    h, w = int(arr.shape[0]), int(arr.shape[1])
    strips = [arr[y:y + _TIFF_ROWS_PER_STRIP].tobytes()
              for y in range(0, h, _TIFF_ROWS_PER_STRIP)]
    n = len(strips)
    # layout: 8B header | strip data | IFD | offset arrays
    data_off = 8
    offs, pos = [], data_off
    for s in strips:
        offs.append(pos)
        pos += len(s)
    ifd_off = pos
    tags = [(256, 3, 1, w), (257, 3, 1, h), (258, 3, 1, 8),
            (259, 3, 1, 1), (262, 3, 1, 1), (273, 4, n, None),
            (277, 3, 1, 1), (278, 3, 1, _TIFF_ROWS_PER_STRIP),
            (279, 4, n, None)]
    ifd_size = 2 + 12 * len(tags) + 4
    arr_off = ifd_off + ifd_size
    entries, trailer, t_pos = [], [], arr_off
    for tag, typ, cnt, val in tags:
        if tag in (273, 279):
            vals = offs if tag == 273 else [len(s) for s in strips]
            if cnt == 1:
                entries.append(struct.pack(e + "HHII", tag, typ, 1,
                                           vals[0]))
            else:
                entries.append(struct.pack(e + "HHII", tag, typ, cnt,
                                           t_pos))
                trailer.append(struct.pack(e + f"{cnt}I", *vals))
                t_pos += 4 * cnt
        elif typ == 3:                       # SHORT: inline, padded
            entries.append(struct.pack(e + "HHIHH", tag, typ, cnt,
                                       val, 0))
        else:
            entries.append(struct.pack(e + "HHII", tag, typ, cnt, val))
    header = struct.pack(e + "2sHI", b"MM" if big_endian else b"II",
                         42, ifd_off)
    ifd = (struct.pack(e + "H", len(tags)) + b"".join(entries)
           + struct.pack(e + "I", 0))
    return header + b"".join(strips) + ifd + b"".join(trailer)


def decode_tiff_gray(b: bytes) -> tuple[np.ndarray, int]:
    """Decode baseline uncompressed 8-bit grayscale TIFF; returns
    (pixels (h, w) uint8, n_strips). Both byte orders; raises on bad
    magic, compression, bit depth, photometric or sample-count
    variants outside the baseline-gray scope, and on strip bytes
    that don't cover the image. Short reads (a cut mid-IFD or
    mid-entry) surface as diagnostic ValueError, never bare
    struct.error (round-9 truncation discipline)."""
    try:
        return _decode_tiff_gray_inner(b)
    except (struct.error, IndexError) as e:
        raise ValueError(f"truncated TIFF: {e}") from e
    except KeyError as e:
        # a corrupt tag id loses a required entry (width/height/strips)
        raise ValueError(f"corrupt TIFF: missing required tag {e}") from e


def _decode_tiff_gray_inner(b: bytes) -> tuple[np.ndarray, int]:
    order = b[:2]
    if order == b"II":
        e = "<"
    elif order == b"MM":
        e = ">"
    else:
        raise ValueError("not a TIFF stream")
    magic, ifd_off = struct.unpack(e + "HI", b[2:8])
    if magic != 42:
        raise ValueError("bad TIFF magic")
    n_tags = struct.unpack(e + "H", b[ifd_off:ifd_off + 2])[0]
    tags = {}
    for i in range(n_tags):
        off = ifd_off + 2 + 12 * i
        tag, typ, cnt = struct.unpack(e + "HHI", b[off:off + 8])
        if typ == 3:                          # SHORT
            if cnt == 1:
                vals = [struct.unpack(e + "H", b[off + 8:off + 10])[0]]
            else:
                p = struct.unpack(e + "I", b[off + 8:off + 12])[0]
                vals = list(struct.unpack(e + f"{cnt}H",
                                          b[p:p + 2 * cnt]))
        elif typ == 4:                        # LONG
            if cnt == 1:
                vals = [struct.unpack(e + "I", b[off + 8:off + 12])[0]]
            else:
                p = struct.unpack(e + "I", b[off + 8:off + 12])[0]
                vals = list(struct.unpack(e + f"{cnt}I",
                                          b[p:p + 4 * cnt]))
        else:
            continue                          # types out of scope
        tags[tag] = vals
    w, h = tags[256][0], tags[257][0]
    if tags.get(259, [1])[0] != 1:
        raise NotImplementedError("compressed TIFF needs a codec lib")
    if tags.get(258, [8])[0] != 8 or tags.get(277, [1])[0] != 1:
        raise NotImplementedError("only 8-bit single-sample grayscale")
    if tags.get(262, [1])[0] not in (0, 1):
        raise NotImplementedError("only grayscale photometric")
    offs, cnts = tags[273], tags[279]
    raw = b"".join(b[o:o + c] for o, c in zip(offs, cnts))
    if len(raw) != w * h:
        raise ValueError("strip bytes do not cover the image")
    px = np.frombuffer(raw, np.uint8).reshape(h, w)
    if tags.get(262, [1])[0] == 0:            # WhiteIsZero
        px = 255 - px
    return px.copy(), len(offs)


@F.pandas_udf(T.BinaryType())
def synth_tiff_payload(doc_id: pd.Series) -> pd.Series:
    """Deterministic TIFF_W x TIFF_H grayscale TIFF per doc —
    px(x, y) = (a*x + b*y) % 251 (a = id%7+1, b = id%5+1; prime
    modulus so sums aren't byte-aligned), alternating II/MM byte
    order by doc parity so both decode paths stay gate-exercised."""
    def gen(i: int) -> bytes:
        a, b = i % 7 + 1, i % 5 + 1
        y, x = np.ogrid[:TIFF_H, :TIFF_W]
        arr = ((a * x + b * y) % 251).astype(np.uint8)
        return tiff_bytes_gray(arr, big_endian=bool(i % 2))
    return doc_id.map(lambda i: gen(int(i)))


_TIFF_STATS = T.StructType([
    T.StructField("sum_px", T.LongType()),
    T.StructField("n_pix", T.LongType()),
    T.StructField("n_strips", T.LongType()),
    T.StructField("last_px", T.LongType()),
])


@F.pandas_udf(_TIFF_STATS)
def tiff_pixel_stats(payload: pd.Series) -> pd.DataFrame:
    """Pixel sum + count + STRIP count + last-pixel value over a
    decoded TIFF: the strip count pins the IFD/StripOffsets walk
    (ceil(h / RowsPerStrip)), last_px pins strip ORDER (reassembling
    strips out of order preserves the sum)."""
    rows = []
    for buf in payload:
        if buf is None:
            rows.append((None, None, None, None))
            continue
        px, n_strips = decode_tiff_gray(bytes(buf))
        rows.append((int(px.astype(np.int64).sum()),
                     int(px.shape[0] * px.shape[1]), int(n_strips),
                     int(px[-1, -1])))
    return pd.DataFrame(rows, columns=["sum_px", "n_pix", "n_strips",
                                       "last_px"])


_DECIM_STATS = T.StructType([
    T.StructField("n_in", T.LongType()),
    T.StructField("n_out", T.LongType()),
    T.StructField("sum_out", T.LongType()),
    T.StructField("peak_out", T.LongType()),
    T.StructField("last_out", T.LongType()),
])


@F.pandas_udf(_DECIM_STATS)
def wav_decimate2_stats(payload: pd.Series) -> pd.DataFrame:
    """Integer decimate-by-2 over REAL decoded PCM (first channel):
    anti-alias boxcar pair mean y[i] = floor((x[2i] + x[2i+1]) / 2)
    — the sample-rate halving an audio pipeline runs before feature
    extraction; floor (not truncate) so negative pairs round the same
    way in numpy and the SQL oracle. A trailing odd sample is dropped
    (decimator convention). Stats: input/output counts, output sum,
    peak |y|, and the LAST output value (a pair-alignment sentinel —
    an off-by-one phase error preserves sums of smooth signals but
    shifts the final pair)."""
    rows = []
    for buf in payload:
        if buf is None:
            rows.append((None, None, None, None, None))
            continue
        s = decode_wav_samples(bytes(buf))[:, 0].astype(np.int64)
        n = s.shape[0] - (s.shape[0] % 2)
        y = (s[:n:2] + s[1:n:2]) // 2
        rows.append((int(s.shape[0]), int(y.shape[0]), int(y.sum()),
                     int(np.abs(y).max()) if y.size else 0,
                     int(y[-1]) if y.size else 0))
    return pd.DataFrame(rows, columns=["n_in", "n_out", "sum_out",
                                       "peak_out", "last_out"])


@F.pandas_udf(T.BinaryType())
def synth_wav_ramp_payload(doc_id: pd.Series) -> pd.Series:
    """Deterministic mono 16-bit PCM per doc for the decimation
    oracle: n = 2*(id%100+20) samples, s(j) = (11*j + 5*id) % 2001
    - 1000 — signed values both sides of zero so the floor-vs-
    truncate distinction in the pair mean is actually exercised."""
    def gen(i: int) -> bytes:
        n = 2 * (i % 100 + 20)
        return wav_bytes_pcm(1, 8000,
                             [(11 * j + 5 * i) % 2001 - 1000
                              for j in range(n)], 16)
    return doc_id.map(lambda i: gen(int(i)))


def detect_media_type(b: bytes) -> str:
    """Magic-byte container sniffing — the dispatch step of any mixed
    ingest path (a 100 TB media crawl does NOT arrive pre-sorted by
    format). Byte signatures only, no extension trust: PNG, JPEG,
    GIF, BMP, RIFF/WAVE, RIFF/AVI, QOI, TIFF (both byte orders), ZIP,
    MP4 (ftyp box); anything else is 'unknown'."""
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if b[:2] == b"\xff\xd8":
        return "jpeg"
    if b[:4] in (b"GIF8",):
        return "gif"
    if b[:2] == b"BM":
        return "bmp"
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        return "wav"
    if b[:4] == b"RIFF" and b[8:12] == b"AVI ":
        return "avi"
    if b[:4] == b"qoif":
        return "qoi"
    if b[:4] in (b"II*\x00", b"MM\x00*"):
        return "tiff"
    if b[:4] == b"PK\x03\x04":
        return "zip"
    if len(b) >= 12 and b[4:8] == b"ftyp":
        return "mp4"
    return "unknown"


_MIXED_STATS = T.StructType([
    T.StructField("media_type", T.StringType()),
    T.StructField("n_units", T.LongType()),
    T.StructField("sum_val", T.LongType()),
])


def _mixed_media_bytes(i: int) -> bytes:
    """doc_id % 4 routes to QOI (m31's pixel algebra), BMP (m28's),
    16-bit PCM WAV (m33's ramp) or TIFF (m32's, II/MM by parity of
    doc_id div 4) — shared by the bare mixed-media column
    (synth_mixed_payload, m34) and the WARC media capture
    (synth_warc_media_payload, m52) so both corpora carry the same
    generative algebra."""
    a, b = i % 7 + 1, i % 5 + 1
    kind = i % 4
    if kind == 0:
        y, x, c = np.ogrid[:QOI_H, :QOI_W, :3]
        return qoi_bytes_rgb(
            ((a * (x // 3) + b * y + 37 * c) % 256).astype(np.uint8))
    if kind == 1:
        y, x, c = np.ogrid[:BMP_H, :BMP_W, :3]
        return bmp_bytes_rgb(
            ((a * x + b * y + 37 * c) % 256).astype(np.uint8),
            top_down=bool(i % 2))
    if kind == 2:
        n = 2 * (i % 100 + 20)
        return wav_bytes_pcm(1, 8000,
                             [(11 * j + 5 * i) % 2001 - 1000
                              for j in range(n)], 16)
    y, x = np.ogrid[:TIFF_H, :TIFF_W]
    return tiff_bytes_gray(((a * x + b * y) % 251).astype(np.uint8),
                           big_endian=bool((i // 4) % 2))


@F.pandas_udf(T.BinaryType())
def synth_mixed_payload(doc_id: pd.Series) -> pd.Series:
    """Mixed-format corpus: one column, four real encoders
    (_mixed_media_bytes), so the sniff-and-dispatch path is the only
    way to decode it."""
    return doc_id.map(lambda i: _mixed_media_bytes(int(i)))


def _media_stats_row(b: bytes) -> tuple:
    """Sniff + dispatch decode of ONE payload: detect the container
    from magic bytes and route to the right REAL decoder; n_units =
    pixels or samples, sum_val = total of all channel/sample values —
    per-format algebra an oracle can recompute from the generative
    formulas. Shared by the bare dispatch (m34) and the WARC-wrapped
    one (m52)."""
    t = detect_media_type(b)
    if t == "qoi":
        px = decode_qoi_pixels(b)
        return (t, int(px.shape[0] * px.shape[1]),
                int(px.astype(np.int64).sum()))
    if t == "bmp":
        px = decode_bmp_pixels(b)
        return (t, int(px.shape[0] * px.shape[1]),
                int(px.astype(np.int64).sum()))
    if t == "wav":
        s = decode_wav_samples(b)[:, 0].astype(np.int64)
        return (t, int(s.shape[0]), int(s.sum()))
    if t == "tiff":
        px, _ns = decode_tiff_gray(b)
        return (t, int(px.shape[0] * px.shape[1]),
                int(px.astype(np.int64).sum()))
    return (t, 0, 0)


@F.pandas_udf(_MIXED_STATS)
def mixed_media_stats(payload: pd.Series) -> pd.DataFrame:
    """Sniff + dispatch decode over a payload column
    (_media_stats_row per row)."""
    rows = [(None, None, None) if buf is None
            else _media_stats_row(bytes(buf)) for buf in payload]
    return pd.DataFrame(rows, columns=["media_type", "n_units",
                                       "sum_val"])


# ---------------------------------------------------------------------------
# REAL safetensors walk (round 5 continuation): the tensor
# interchange format modern training stacks ship weights and
# preprocessed features in — u64-LE header length, a JSON header
# mapping tensor names to {dtype, shape, data_offsets}, then one
# contiguous byte buffer. Hand-rolled like the ZIP/TIFF walks: the
# header parse, offset bookkeeping and buffer-coverage check are
# explicit and testable; no external library.
# ---------------------------------------------------------------------------

_ST_DTYPES = {"I32": ("<i4", 4), "I64": ("<i8", 8), "U8": ("|u1", 1)}


def safetensors_bytes(tensors: list, metadata: dict | None = None
                      ) -> bytes:
    """Encode [(name, np int array)] as safetensors: canonical JSON
    header (sorted keys, no whitespace) so archives are
    byte-deterministic; buffers laid out in the given order,
    contiguous from offset 0."""
    import json

    header, buf, pos = {}, [], 0
    for name, arr in tensors:
        dt = {np.dtype(np.int32): "I32", np.dtype(np.int64): "I64",
              np.dtype(np.uint8): "U8"}[arr.dtype]
        raw = arr.astype(_ST_DTYPES[dt][0]).tobytes()
        header[name] = {"dtype": dt, "shape": list(arr.shape),
                        "data_offsets": [pos, pos + len(raw)]}
        buf.append(raw)
        pos += len(raw)
    if metadata:
        header["__metadata__"] = {k: str(v)
                                  for k, v in metadata.items()}
    hj = json.dumps(header, sort_keys=True,
                    separators=(",", ":")).encode()
    return struct.pack("<Q", len(hj)) + hj + b"".join(buf)


def decode_safetensors_manifest(b: bytes) -> list[dict]:
    """Parse a safetensors stream into per-tensor records: (name,
    dtype, shape, n_elems, byte span, exact integer sum for integer
    dtypes). Raises on a malformed header, unsupported dtype, a span
    outside the buffer, or offsets that do not tile the buffer
    exactly (gaps/overlaps) — layout mistakes surface loudly."""
    import json

    if len(b) < 8:
        raise ValueError("truncated safetensors: no u64 header length")
    (hlen,) = struct.unpack("<Q", b[:8])
    if 8 + hlen > len(b):
        raise ValueError("truncated safetensors: header runs past EOF")
    header = json.loads(b[8:8 + hlen].decode())
    data = b[8 + hlen:]
    spans, out = [], []
    for name in sorted(k for k in header if k != "__metadata__"):
        ent = header[name]
        dt = ent["dtype"]
        if dt not in _ST_DTYPES:
            raise NotImplementedError(f"dtype {dt} not supported")
        fmt, width = _ST_DTYPES[dt]
        lo, hi = ent["data_offsets"]
        if not (0 <= lo <= hi <= len(data)):
            raise ValueError("tensor span outside buffer")
        n = 1
        for s in ent["shape"]:
            n *= s
        if hi - lo != n * width:
            raise ValueError("span size != shape * itemsize")
        arr = np.frombuffer(data[lo:hi], fmt)
        spans.append((lo, hi))
        out.append({"name": name, "dtype": dt,
                    "shape": tuple(ent["shape"]), "n_elems": n,
                    "lo": lo, "hi": hi,
                    "sum": int(arr.astype(np.int64).sum())})
    spans.sort()
    pos = 0
    for lo, hi in spans:
        if lo != pos:
            raise ValueError("buffer has gaps or overlaps")
        pos = hi
    if pos != len(data):
        raise ValueError("buffer not fully covered by tensors")
    return out


@F.pandas_udf(T.BinaryType())
def synth_safetensors_payload(doc_id: pd.Series) -> pd.Series:
    """Two-tensor safetensors per doc: 'emb' I32 [4, 8] with values
    (3*doc_id + i) % 1000, and 'ids' I64 [6] with values
    7*doc_id + i — closed forms the oracle recomputes."""
    def gen(i: int) -> bytes:
        emb = ((3 * i + np.arange(32)) % 1000).astype(np.int32) \
            .reshape(4, 8)
        ids = (7 * i + np.arange(6)).astype(np.int64)
        return safetensors_bytes([("emb", emb), ("ids", ids)],
                                 {"doc": i})
    return doc_id.map(lambda i: gen(int(i)))


_ST_STATS = T.StructType([
    T.StructField("n_tensors", T.LongType()),
    T.StructField("total_elems", T.LongType()),
    T.StructField("total_sum", T.LongType()),
    T.StructField("layout_ok", T.BooleanType()),
])


@F.pandas_udf(_ST_STATS)
def safetensors_stats(payload: pd.Series) -> pd.DataFrame:
    """Tensor count, element count, exact integer value total and
    the layout-contiguity verdict over a decoded safetensors
    manifest."""
    rows = []
    for buf in payload:
        if buf is None:
            rows.append((None, None, None, None))
            continue
        try:
            m = decode_safetensors_manifest(bytes(buf))
            rows.append((len(m), sum(e["n_elems"] for e in m),
                         sum(e["sum"] for e in m), True))
        except ValueError:
            rows.append((0, 0, 0, False))
    return pd.DataFrame(rows, columns=["n_tensors", "total_elems",
                                       "total_sum", "layout_ok"])


PATCH_W = PATCH_H = 16           # patch grid source: 16x16 gray
PATCH = 4                        # 4x4 patches -> 16 patches


@F.pandas_udf(T.BinaryType())
def synth_patch_png_payload(doc_id: pd.Series) -> pd.Series:
    """Deterministic PATCH_W x PATCH_H grayscale PNG per doc —
    px(x, y) = (a*x + b*y) % 256 (a = id%7+1, b = id%5+1), written
    with the module's own encoder so the REAL decode path runs."""
    def gen(i: int) -> bytes:
        a, b = i % 7 + 1, i % 5 + 1
        rows = [[(a * x + b * y) % 256 for x in range(PATCH_W)]
                for y in range(PATCH_H)]
        ihdr = struct.pack(">IIBBBBB", PATCH_W, PATCH_H, 8, 0, 0, 0, 0)
        return (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
                + _png_chunk(b"IDAT",
                             zlib.compress(_filter_rows(rows)))
                + _png_chunk(b"IEND", b""))
    return doc_id.map(lambda i: gen(int(i)))


@F.pandas_udf(T.ArrayType(T.LongType()))
def gray_patch_means(payload: pd.Series) -> pd.Series:
    """ViT-style patchify over REAL decoded grayscale pixels: split
    the image into non-overlapping PATCH x PATCH tiles (row-major
    patch order) and return each tile's integer mean (sum div
    PATCH^2 — exact floor, no float). The patch embedding precursor
    every vision-training pipeline runs; callers fold the array into
    scalars map-side (the gate keeps arrays out of output pages)."""
    def go(buf):
        if buf is None:
            return None
        px = decode_png_pixels(bytes(buf)).astype(np.int64)
        if px.ndim == 3:
            px = px[:, :, 0]
        h, w = px.shape
        gh, gw = h // PATCH, w // PATCH
        t = (px[:gh * PATCH, :gw * PATCH]
             .reshape(gh, PATCH, gw, PATCH).sum(axis=(1, 3))
             // (PATCH * PATCH))
        return [int(v) for v in t.reshape(-1)]
    return payload.map(go)


# ---------------------------------------------------------------------------
# REAL TGA RLE codec (round 5 continuation): Truevision TARGA type-10
# (run-length-encoded true-color), the fourth fully hand-rolled
# raster codec next to PNG/BMP/QOI — RLE packets (0x80|n-1 + one BGR
# pixel) and RAW packets (n-1 + n BGR pixels) that by spec never
# cross a scan line, bottom-up OR top-down row order via descriptor
# bit 5, BGR byte order. Same discipline as the other codecs: every
# offset/orientation assumption explicit, byte conservation checked,
# no external libs. The synthetic pattern forces BOTH packet kinds on
# every row (runs of 3 across x<15, two unique literals after), so
# the packet counters are closed-form and gate-pinnable.
# ---------------------------------------------------------------------------

TGA_W, TGA_H = 17, 11


def _tga_header(w: int, h: int, top_down: bool) -> bytes:
    return struct.pack("<BBBHHBHHHHBB", 0, 0, 10, 0, 0, 0, 0, 0,
                       w, h, 24, 0x20 if top_down else 0x00)


def tga_bytes_rle(arr: np.ndarray, top_down: bool = False) -> bytes:
    """RLE-encode an (h, w, 3) uint8 RGB array as TGA type 10.
    Greedy per stored row: maximal runs >= 2 become RLE packets,
    literals batch into RAW packets; both capped at 128 pixels and
    neither crosses a row (the spec's scan-line rule)."""
    h, w, _ = arr.shape
    rows = arr if top_down else arr[::-1]
    out = [_tga_header(w, h, top_down)]
    for y in range(h):
        row = rows[y]
        x = 0
        while x < w:
            run = 1
            while (x + run < w and run < 128
                   and (row[x + run] == row[x]).all()):
                run += 1
            if run >= 2:
                p = row[x]
                out.append(bytes([0x80 | (run - 1),
                                  p[2], p[1], p[0]]))
                x += run
            else:
                start = x
                x += 1
                while x < w and (x - start) < 128:
                    if x + 1 < w and (row[x + 1] == row[x]).all():
                        break
                    x += 1
                lit = row[start:x]
                out.append(bytes([x - start - 1])
                           + lit[:, ::-1].tobytes())
    return b"".join(out)


def decode_tga_pixels(buf: bytes):
    """Decode a type-10 24-bit TGA to a logical top-down (h, w, 3)
    RGB uint8 array + (n_rle, n_raw) packet counts. Validates the
    header fields this codec owns, refuses packets that cross a scan
    line, and requires exact byte conservation (no trailing bytes).
    A header whose rows cannot fit the payload is refused before the
    pixel buffer is allocated: packets do not cross scan lines and each
    is >= 4 bytes for <= 128 pixels, so a row of w pixels takes at
    least 4 * ceil(w / 128) bytes."""
    if len(buf) < 18:
        raise ValueError("tga: truncated header")
    (idl, cmt, ityp, _cf, _cl, _ce, _xo, _yo, w, h, bpp,
     desc) = struct.unpack("<BBBHHBHHHHBB", buf[:18])
    if idl != 0 or cmt != 0 or ityp != 10 or bpp != 24:
        raise ValueError("tga: unsupported variant")
    if h * 4 * -(-w // 128) > len(buf) - 18:
        raise ValueError("tga: header dimensions exceed the packet stream")
    px = np.zeros((h, w, 3), np.uint8)
    pos, n_rle, n_raw = 18, 0, 0
    for y in range(h):
        x = 0
        while x < w:
            if pos >= len(buf):
                raise ValueError("tga: truncated packet stream")
            hdr = buf[pos]
            pos += 1
            n = (hdr & 0x7F) + 1
            if x + n > w:
                raise ValueError("tga: packet crosses scan line")
            if hdr & 0x80:
                if pos + 3 > len(buf):
                    raise ValueError("tga: truncated rle pixel")
                b, g, r = buf[pos], buf[pos + 1], buf[pos + 2]
                pos += 3
                px[y, x:x + n] = (r, g, b)
                n_rle += 1
            else:
                if pos + 3 * n > len(buf):
                    raise ValueError("tga: truncated raw packet")
                chunk = np.frombuffer(
                    buf[pos:pos + 3 * n], np.uint8).reshape(n, 3)
                pos += 3 * n
                px[y, x:x + n] = chunk[:, ::-1]
                n_raw += 1
            x += n
    if pos != len(buf):
        raise ValueError("tga: trailing bytes")
    if not (desc & 0x20):
        px = px[::-1]
    return px, n_rle, n_raw


@F.pandas_udf(T.BinaryType())
def synth_tga_rle_payload(doc_id: pd.Series) -> pd.Series:
    """Deterministic TGA_W x TGA_H RLE TGA per doc: channel pattern
    (a*u(x) + b*y + 37*c) % 256 with a = id%7+1, b = id%5+1 and
    u(x) = x div 3 for x < 15 (runs of 3 -> RLE packets) else 100+x
    (unique literals -> one RAW packet of 2 per row); odd ids encode
    top-down, even bottom-up, against the same logical image."""
    def gen(i: int) -> bytes:
        a, b = i % 7 + 1, i % 5 + 1
        x = np.arange(TGA_W)
        u = np.where(x < 15, x // 3, 100 + x)
        y, c = np.ogrid[:TGA_H, :3]
        arr = ((a * u[None, :, None] + b * y[:, None]
                + 37 * c[None, :]) % 256).astype(np.uint8)
        return tga_bytes_rle(arr, top_down=bool(i % 2))
    return doc_id.map(lambda i: gen(int(i)))


_TGA_STATS = T.StructType([
    T.StructField("sum_r", T.LongType()),
    T.StructField("sum_g", T.LongType()),
    T.StructField("sum_b", T.LongType()),
    T.StructField("n_pix", T.LongType()),
    T.StructField("tl_g", T.LongType()),
    T.StructField("n_rle", T.LongType()),
    T.StructField("n_raw", T.LongType()),
])


@F.pandas_udf(_TGA_STATS)
def tga_pixel_stats(payload: pd.Series) -> pd.DataFrame:
    """Channel sums + pixel count + top-left green + packet counts
    over a REAL TGA decode. Sums are orientation-invariant, so tl_g
    is the orientation sentinel (logical (0,0) green == 37 for the
    synthetic pattern on BOTH row orders); the packet counts pin that
    the decoder really walked the RLE structure."""
    rows = []
    for buf in payload:
        if buf is None:
            rows.append((None,) * 7)
            continue
        px, n_rle, n_raw = decode_tga_pixels(bytes(buf))
        s = px.astype(np.int64).sum(axis=(0, 1))
        rows.append((int(s[0]), int(s[1]), int(s[2]),
                     int(px.shape[0] * px.shape[1]),
                     int(px[0, 0, 1]), n_rle, n_raw))
    return pd.DataFrame(rows, columns=["sum_r", "sum_g", "sum_b",
                                       "n_pix", "tl_g", "n_rle",
                                       "n_raw"])


# ---------------------------------------------------------------------------
# REAL protobuf wire-format walk (round 5 continuation): the varint /
# zigzag / length-delimited byte grammar every protobuf log shipper
# emits, hand-rolled like the other codecs (the env has no protobuf
# runtime — which is the realistic constraint for a scan-side format
# sniffer anyway: a generic wire walk needs NO schema). Wire types
# 0 (varint), 1 (fixed64), 2 (length-delimited), 5 (fixed32);
# deprecated group types 3/4 are rejected; unknown field numbers are
# SKIPPED by wire type and counted — the forward-compatibility
# behavior that makes protobuf logs durable across schema versions.
# ---------------------------------------------------------------------------

def pb_varint(n: int) -> bytes:
    """Unsigned LEB128 varint (the protobuf base-128 encoding)."""
    if n < 0:
        n &= (1 << 64) - 1          # two's-complement 64-bit rule
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def pb_zigzag(n: int) -> int:
    """ZigZag-map a signed int for sint32/sint64 fields."""
    return (n << 1) ^ (n >> 63) if n < 0 else n << 1


def pb_tag(field: int, wire: int) -> bytes:
    return pb_varint((field << 3) | wire)


def pb_message_bytes(doc_id: int, lang: str, source: str,
                     n_chars: int) -> bytes:
    """Deterministic 8-field test message: uint varint, zigzag sint,
    string, packed repeated varint, nested message, fixed64, fixed32,
    and an UNKNOWN field (9) the decoder must skip."""
    i = int(doc_id)
    v2 = (i % 1000) * (1 if i % 2 == 0 else -1)
    packed = b"".join(pb_varint(v) for v in
                      (i % 7, i % 11, i % 13))
    nested = (pb_tag(1, 0) + pb_varint(int(n_chars))
              + pb_tag(2, 2) + pb_varint(len(source.encode()))
              + source.encode())
    return (pb_tag(1, 0) + pb_varint(i)
            + pb_tag(2, 0) + pb_varint(pb_zigzag(v2))
            + pb_tag(3, 2) + pb_varint(len(lang.encode()))
            + lang.encode()
            + pb_tag(4, 2) + pb_varint(len(packed)) + packed
            + pb_tag(5, 2) + pb_varint(len(nested)) + nested
            + pb_tag(6, 1) + struct.pack(
                "<Q", (i * 2654435761) & 0xFFFFFFFFFFFFFFFF)
            + pb_tag(7, 5) + struct.pack("<I", i % 65536)
            + pb_tag(9, 0) + pb_varint(5))


def _pb_read_varint(buf: bytes, pos: int):
    out = shift = 0
    for _ in range(10):                 # 64-bit varints cap at 10 bytes
        if pos >= len(buf):
            raise ValueError("pb: truncated varint")
        b = buf[pos]
        pos += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out & (1 << 64) - 1, pos
        shift += 7
    raise ValueError("pb: varint longer than 10 bytes")


def decode_pb_fields(buf: bytes) -> dict:
    """Generic wire walk of the test message: known fields decoded,
    unknown fields skipped by wire type and counted, groups and
    truncation rejected, exact byte conservation required."""
    pos = 0
    out = {"n_fields": 0, "n_unknown": 0, "v1": None, "v2": None,
           "len3": None, "packed_sum": None, "nested_n": None,
           "f64_mod": None, "f32": None}
    while pos < len(buf):
        tag, pos = _pb_read_varint(buf, pos)
        field, wire = tag >> 3, tag & 7
        out["n_fields"] += 1
        if wire == 0:
            v, pos = _pb_read_varint(buf, pos)
            if field == 1:
                out["v1"] = v
            elif field == 2:
                out["v2"] = (v >> 1) ^ -(v & 1)
            else:
                out["n_unknown"] += 1
        elif wire == 1:
            if pos + 8 > len(buf):
                raise ValueError("pb: truncated fixed64")
            v = struct.unpack("<Q", buf[pos:pos + 8])[0]
            pos += 8
            if field == 6:
                out["f64_mod"] = v % 4294967296
            else:
                out["n_unknown"] += 1
        elif wire == 2:
            ln, pos = _pb_read_varint(buf, pos)
            if pos + ln > len(buf):
                raise ValueError("pb: truncated length-delimited")
            body = buf[pos:pos + ln]
            pos += ln
            if field == 3:
                out["len3"] = len(body)
            elif field == 4:
                s, p2 = 0, 0
                while p2 < len(body):
                    v, p2 = _pb_read_varint(body, p2)
                    s += v
                out["packed_sum"] = s
            elif field == 5:
                p2 = 0
                while p2 < len(body):
                    t2, p2 = _pb_read_varint(body, p2)
                    if t2 >> 3 == 1 and t2 & 7 == 0:
                        out["nested_n"], p2 = _pb_read_varint(body, p2)
                    elif t2 & 7 == 2:
                        l2, p2 = _pb_read_varint(body, p2)
                        p2 += l2
                    else:
                        raise ValueError("pb: bad nested wire type")
            else:
                out["n_unknown"] += 1
        elif wire == 5:
            if pos + 4 > len(buf):
                raise ValueError("pb: truncated fixed32")
            v = struct.unpack("<I", buf[pos:pos + 4])[0]
            pos += 4
            if field == 7:
                out["f32"] = v
            else:
                out["n_unknown"] += 1
        else:
            raise ValueError(f"pb: unsupported wire type {wire}")
    return out


_PB_STATS = T.StructType([
    T.StructField("n_fields", T.LongType()),
    T.StructField("n_unknown", T.LongType()),
    T.StructField("v1", T.LongType()),
    T.StructField("v2", T.LongType()),
    T.StructField("len3", T.LongType()),
    T.StructField("packed_sum", T.LongType()),
    T.StructField("nested_n", T.LongType()),
    T.StructField("f64_mod", T.LongType()),
    T.StructField("f32", T.LongType()),
])


@F.pandas_udf(T.BinaryType())
def synth_pb_payload(doc_id: pd.Series, lang: pd.Series,
                     source: pd.Series, n_chars: pd.Series) -> pd.Series:
    return pd.Series([pb_message_bytes(i, l, s, n)
                      for i, l, s, n in zip(doc_id, lang, source,
                                            n_chars)])


@F.pandas_udf(_PB_STATS)
def pb_field_stats(payload: pd.Series) -> pd.DataFrame:
    rows = []
    for buf in payload:
        if buf is None:
            rows.append((None,) * 9)
            continue
        d = decode_pb_fields(bytes(buf))
        rows.append((d["n_fields"], d["n_unknown"], d["v1"], d["v2"],
                     d["len3"], d["packed_sum"], d["nested_n"],
                     d["f64_mod"], d["f32"]))
    return pd.DataFrame(rows, columns=["n_fields", "n_unknown", "v1",
                                       "v2", "len3", "packed_sum",
                                       "nested_n", "f64_mod", "f32"])


# ---------------------------------------------------------------------------
# REAL LZ4 block-format codec (round 5 continuation): the
# token / literals / offset / overlapping-match byte grammar
# (lz4.org block spec) that fast storage layers and shuffle
# compressors speak, hand-rolled with a greedy 4-byte hash-chain
# encoder and a spec-faithful decoder (byte-serial match copy so
# offset < matchlen RLE-style overlaps replay exactly; end rules:
# final sequence is literals-only, matches stop 5 bytes short of the
# block end). Same discipline as the other codecs — explicit
# offsets, byte conservation, malformed-input guards, no libs.
# ---------------------------------------------------------------------------

def _lz4_length(out: bytearray, n: int) -> None:
    while n >= 255:
        out.append(255)
        n -= 255
    out.append(n)


def lz4_compress_block(data: bytes) -> bytes:
    """Greedy LZ4 block encoder: last-occurrence hash of 4-byte
    prefixes, matches >= 4 within the 65535 window, trimmed to spare
    the final 5 bytes (kept literal per the spec's end rule)."""
    n = len(data)
    out = bytearray()
    table: dict = {}
    i = anchor = 0
    while i + 4 <= n - 5:
        key = bytes(data[i:i + 4])
        j = table.get(key, -1)
        table[key] = i
        if 0 <= j and i - j <= 65535:
            m = 4
            while i + m < n - 5 and data[j + m] == data[i + m]:
                m += 1
            lits = data[anchor:i]
            ll, ml = len(lits), m - 4
            token = (min(ll, 15) << 4) | min(ml, 15)
            out.append(token)
            if ll >= 15:
                _lz4_length(out, ll - 15)
            out += lits
            out += struct.pack("<H", i - j)
            if ml >= 15:
                _lz4_length(out, ml - 15)
            i += m
            anchor = i
        else:
            i += 1
    lits = data[anchor:]
    token = min(len(lits), 15) << 4
    out.append(token)
    if len(lits) >= 15:
        _lz4_length(out, len(lits) - 15)
    out += lits
    return bytes(out)


def lz4_decompress_block(buf: bytes) -> bytes:
    """Spec-faithful LZ4 block decoder: token walk with extended
    lengths, 16-bit little-endian offsets, byte-serial match copy
    (correct for overlapping matches). Rejects zero or out-of-range
    offsets and any truncation; requires exact byte conservation."""
    out = bytearray()
    pos, n = 0, len(buf)
    while pos < n:
        token = buf[pos]
        pos += 1
        ll = token >> 4
        if ll == 15:
            while True:
                if pos >= n:
                    raise ValueError("lz4: truncated literal length")
                b = buf[pos]
                pos += 1
                ll += b
                if b != 255:
                    break
        if pos + ll > n:
            raise ValueError("lz4: truncated literals")
        out += buf[pos:pos + ll]
        pos += ll
        if pos == n:
            break                     # final literals-only sequence
        if pos + 2 > n:
            raise ValueError("lz4: truncated offset")
        offset = buf[pos] | (buf[pos + 1] << 8)
        pos += 2
        if offset == 0 or offset > len(out):
            raise ValueError("lz4: bad match offset")
        ml = token & 0xF
        if ml == 15:
            while True:
                if pos >= n:
                    raise ValueError("lz4: truncated match length")
                b = buf[pos]
                pos += 1
                ml += b
                if b != 255:
                    break
        ml += 4
        for _ in range(ml):
            out.append(out[-offset])
    return bytes(out)


_LZ4_STATS = T.StructType([
    T.StructField("n_bytes", T.LongType()),
    T.StructField("fp", T.LongType()),
    T.StructField("saved", T.LongType()),
])


@F.pandas_udf(T.BinaryType())
def synth_lz4_payload(text: pd.Series) -> pd.Series:
    return text.map(lambda t: lz4_compress_block(t.encode()))


@F.pandas_udf(_LZ4_STATS)
def lz4_roundtrip_stats(payload: pd.Series) -> pd.DataFrame:
    """Decompress and fingerprint: n_bytes + the 60-bit md5 prefix of
    the DECODED bytes pin an exact roundtrip against the closed-form
    SQL oracle on the original text; saved = n_bytes - compressed
    (how much the match grammar actually bought on this doc)."""
    import hashlib
    rows = []
    for buf in payload:
        if buf is None:
            rows.append((None, None, None))
            continue
        dec = lz4_decompress_block(bytes(buf))
        fp = int(hashlib.md5(dec).hexdigest()[:15], 16)
        rows.append((len(dec), fp, len(dec) - len(buf)))
    return pd.DataFrame(rows, columns=["n_bytes", "fp", "saved"])


# ---------------------------------------------------------------------------
# REAL Parquet RLE/bit-packing hybrid codec (round 5 continuation):
# the integer encoding under every parquet column (definition levels,
# dictionary indices) — varint group headers whose LSB selects RLE
# (run_len << 1 | 0, then the value in ceil(w/8) fixed bytes) or
# bit-packed (n_groups << 1 | 1, then n_groups * 8 values LSB-first
# at w bits each). Greedy encoder: runs >= 8 become RLE, everything
# else flushes as bit-packed groups of 8 (zero-padded only at stream
# end). Same discipline as the other codecs: explicit offsets, byte
# conservation, malformed-input guards, stdlib only.
# ---------------------------------------------------------------------------

def rle_bp_encode(values, width: int) -> bytes:
    """Encode nonnegative ints < 2**width with the parquet hybrid.
    Pending literals are flushed in full groups of 8 and stay < 8
    between steps, so ZERO-padding happens only at stream end (a
    mid-stream pad would corrupt the value sequence); a run reached
    while literals are pending first completes their group, then the
    REMAINDER of the run is re-considered for RLE."""
    if not 1 <= width <= 32:
        raise ValueError("width must be in [1, 32]")
    vbytes = (width + 7) // 8
    out = bytearray()
    pending: list = []

    def flush_group():
        out.extend(pb_varint((1 << 1) | 1))
        acc = bits = 0
        for v in pending[:8]:
            acc |= v << bits
            bits += width
            while bits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                bits -= 8
        if bits:
            out.append(acc & 0xFF)
        del pending[:8]

    i, n = 0, len(values)
    while i < n:
        v = values[i]
        if v < 0 or v >> width:
            raise ValueError("value out of range for width")
        run = 1
        while i + run < n and values[i + run] == v:
            run += 1
        if pending:
            take = min(run, 8 - len(pending))
            pending.extend([v] * take)
            i += take
            if len(pending) == 8:
                flush_group()
            continue
        if run >= 8:
            out.extend(pb_varint(run << 1))
            out.extend(int(v).to_bytes(vbytes, "little"))
            i += run
        else:
            pending.extend([v] * run)
            i += run
            if len(pending) >= 8:
                flush_group()
    if pending:
        while len(pending) < 8:
            pending.append(0)
        flush_group()
    return bytes(out)


def rle_bp_decode(buf: bytes, count: int, width: int):
    """Decode exactly ``count`` values; returns (values, n_rle_groups,
    n_bp_groups). Trailing pad values beyond ``count`` must be zero;
    trailing bytes or truncation raise."""
    vbytes = (width + 7) // 8
    vals: list = []
    pos, n_rle, n_bp = 0, 0, 0
    while pos < len(buf):
        header, pos = _pb_read_varint(buf, pos)
        if header & 1:
            groups = header >> 1
            nbytes = groups * width
            if pos + nbytes > len(buf):
                raise ValueError("rle_bp: truncated bit-packed group")
            acc = int.from_bytes(buf[pos:pos + nbytes], "little")
            pos += nbytes
            mask = (1 << width) - 1
            for g in range(groups * 8):
                vals.append((acc >> (g * width)) & mask)
            n_bp += 1
        else:
            run = header >> 1
            if pos + vbytes > len(buf):
                raise ValueError("rle_bp: truncated rle value")
            v = int.from_bytes(buf[pos:pos + vbytes], "little")
            pos += vbytes
            vals.extend([v] * run)
            n_rle += 1
    if pos != len(buf):
        raise ValueError("rle_bp: trailing bytes")
    if len(vals) < count or any(vals[count:]):
        raise ValueError("rle_bp: wrong value count or nonzero pad")
    return vals[:count], n_rle, n_bp


RLE_BP_COUNT, RLE_BP_WIDTH = 64, 4

_RLEBP_STATS = T.StructType([
    T.StructField("n_vals", T.LongType()),
    T.StructField("vsum", T.LongType()),
    T.StructField("n_rle", T.LongType()),
    T.StructField("n_bp", T.LongType()),
    T.StructField("last_val", T.LongType()),
])


@F.pandas_udf(T.BinaryType())
def synth_rle_bp_payload(doc_id: pd.Series) -> pd.Series:
    """64 4-bit values per doc: 4 runs of 10 ((a*k) % 16 — RLE
    groups), then 24 stride-3 values ((a + 3i) % 16, no runs — three
    bit-packed groups of 8); a = id % 7 + 1."""
    def gen(i: int) -> bytes:
        a = i % 7 + 1
        vals = []
        for k in range(4):
            vals.extend([(a * k) % 16] * 10)
        vals.extend((a + 3 * j) % 16 for j in range(40, 64))
        return rle_bp_encode(vals, RLE_BP_WIDTH)
    return doc_id.map(lambda i: gen(int(i)))


@F.pandas_udf(_RLEBP_STATS)
def rle_bp_stats(payload: pd.Series) -> pd.DataFrame:
    rows = []
    for buf in payload:
        if buf is None:
            rows.append((None,) * 5)
            continue
        vals, n_rle, n_bp = rle_bp_decode(bytes(buf), RLE_BP_COUNT,
                                          RLE_BP_WIDTH)
        rows.append((len(vals), sum(vals), n_rle, n_bp, vals[-1]))
    return pd.DataFrame(rows, columns=["n_vals", "vsum", "n_rle",
                                       "n_bp", "last_val"])


# ---------------------------------------------------------------------------
# REAL DEFLATE decoder (round 5 continuation): the RFC 1951 bit
# grammar under gzip / zlib / PNG / zip — stored blocks, fixed
# Huffman, and fully dynamic Huffman (the 16/17/18 run-length coded
# code-length code included), with the LZ77 length/distance copy
# loop byte-serial so overlapping matches replay exactly. The zlib
# (RFC 1950) wrapper parse checks CMF/FLG and verifies the trailer
# against a hand-rolled Adler-32. Encoding stays with stdlib zlib
# (a canonical producer); the decoder is what the pipeline owns —
# same discipline as the other codecs: explicit bit offsets,
# malformed-input guards, no codec libs.
# ---------------------------------------------------------------------------

_DEFLATE_LEN_BASE = (3, 4, 5, 6, 7, 8, 9, 10, 11, 13, 15, 17, 19, 23,
                     27, 31, 35, 43, 51, 59, 67, 83, 99, 115, 131,
                     163, 195, 227, 258)
_DEFLATE_LEN_EXTRA = (0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2, 2,
                      3, 3, 3, 3, 4, 4, 4, 4, 5, 5, 5, 5, 0)
_DEFLATE_DIST_BASE = (1, 2, 3, 4, 5, 7, 9, 13, 17, 25, 33, 49, 65,
                      97, 129, 193, 257, 385, 513, 769, 1025, 1537,
                      2049, 3073, 4097, 6145, 8193, 12289, 16385,
                      24577)
_DEFLATE_DIST_EXTRA = (0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6,
                       6, 7, 7, 8, 8, 9, 9, 10, 10, 11, 11, 12, 12,
                       13, 13)
_DEFLATE_CLC_ORDER = (16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4, 12, 3,
                      13, 2, 14, 1, 15)
_FIXED_LIT_LENGTHS = ([8] * 144 + [9] * 112 + [7] * 24 + [8] * 8)
_FIXED_DIST_LENGTHS = [5] * 32


def _huff_table(lengths) -> dict:
    """Canonical Huffman decode table per RFC 1951 §3.2.2: codes of
    each length are consecutive integers, shorter lengths first.
    Keyed by (n_bits, code-so-far) -> symbol."""
    max_len = max(lengths) if lengths else 0
    bl_count = [0] * (max_len + 1)
    for ln in lengths:
        if ln:
            bl_count[ln] += 1
    next_code = [0] * (max_len + 1)
    code = 0
    for bits in range(1, max_len + 1):
        code = (code + bl_count[bits - 1]) << 1
        next_code[bits] = code
    table = {}
    for sym, ln in enumerate(lengths):
        if ln:
            table[(ln, next_code[ln])] = sym
            next_code[ln] += 1
    return table


class _DeflateBitReader:
    """LSB-first bit cursor over a byte string (the DEFLATE bit
    order); Huffman codes are read MSB-of-code-first, one stream bit
    at a time."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0  # bit offset

    def bits(self, n: int) -> int:
        if self.pos + n > len(self.data) * 8:
            raise ValueError("deflate: truncated stream")
        v = 0
        d, p = self.data, self.pos
        for i in range(n):
            v |= ((d[(p + i) >> 3] >> ((p + i) & 7)) & 1) << i
        self.pos = p + n
        return v

    def symbol(self, table: dict) -> int:
        code = 0
        length = 0
        for _ in range(15):
            code = (code << 1) | self.bits(1)
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("deflate: invalid Huffman code")

    def align_byte(self) -> None:
        self.pos = (self.pos + 7) & ~7


def _read_dynamic_tables(br: _DeflateBitReader):
    hlit = br.bits(5) + 257
    hdist = br.bits(5) + 1
    hclen = br.bits(4) + 4
    cl_lengths = [0] * 19
    for i in range(hclen):
        cl_lengths[_DEFLATE_CLC_ORDER[i]] = br.bits(3)
    cl_table = _huff_table(cl_lengths)
    lengths = []
    while len(lengths) < hlit + hdist:
        sym = br.symbol(cl_table)
        if sym < 16:
            lengths.append(sym)
        elif sym == 16:
            if not lengths:
                raise ValueError("deflate: repeat before first code")
            lengths.extend([lengths[-1]] * (3 + br.bits(2)))
        elif sym == 17:
            lengths.extend([0] * (3 + br.bits(3)))
        else:
            lengths.extend([0] * (11 + br.bits(7)))
    if len(lengths) != hlit + hdist:
        raise ValueError("deflate: code-length overrun")
    return (_huff_table(lengths[:hlit]),
            _huff_table(lengths[hlit:]))


_FIXED_TABLES = (_huff_table(_FIXED_LIT_LENGTHS),
                 _huff_table(_FIXED_DIST_LENGTHS))


def inflate(data: bytes) -> bytes:
    """Decode a raw DEFLATE stream (RFC 1951): all three block
    types, byte-serial match copy (offset < length overlaps replay
    exactly, the RLE idiom)."""
    return inflate_consumed(data)[0]


def inflate_consumed(data: bytes) -> tuple[bytes, int]:
    """``inflate`` plus the byte length of the deflate stream
    actually consumed (final bit position rounded up to a byte) —
    the member walker for concatenated-gzip containers (m51) needs
    the end offset to find the next member's header."""
    br = _DeflateBitReader(data)
    out = bytearray()
    while True:
        bfinal = br.bits(1)
        btype = br.bits(2)
        if btype == 3:
            raise ValueError("deflate: reserved block type 3")
        if btype == 0:
            br.align_byte()
            start = br.pos >> 3
            if start + 4 > len(data):
                raise ValueError("deflate: truncated stored header")
            ln = data[start] | (data[start + 1] << 8)
            nlen = data[start + 2] | (data[start + 3] << 8)
            if ln ^ nlen != 0xFFFF:
                raise ValueError("deflate: stored LEN/NLEN mismatch")
            if start + 4 + ln > len(data):
                raise ValueError("deflate: truncated stored block")
            out += data[start + 4:start + 4 + ln]
            br.pos = (start + 4 + ln) << 3
        else:
            lit_t, dist_t = (_FIXED_TABLES if btype == 1
                             else _read_dynamic_tables(br))
            while True:
                sym = br.symbol(lit_t)
                if sym < 256:
                    out.append(sym)
                elif sym == 256:
                    break
                else:
                    if sym > 285:
                        raise ValueError("deflate: bad length code")
                    idx = sym - 257
                    length = (_DEFLATE_LEN_BASE[idx]
                              + br.bits(_DEFLATE_LEN_EXTRA[idx]))
                    dsym = br.symbol(dist_t)
                    if dsym > 29:
                        raise ValueError("deflate: bad distance code")
                    dist = (_DEFLATE_DIST_BASE[dsym]
                            + br.bits(_DEFLATE_DIST_EXTRA[dsym]))
                    if dist > len(out):
                        raise ValueError("deflate: distance too far")
                    for _ in range(length):
                        out.append(out[-dist])
        if bfinal:
            return bytes(out), (br.pos + 7) >> 3


def adler32_manual(data: bytes) -> int:
    """RFC 1950 Adler-32, hand-rolled (sums mod 65521, deferred with
    the standard 5552-byte batch bound so the Python loop stays
    cheap)."""
    a, b = 1, 0
    for i in range(0, len(data), 5552):
        for byte in data[i:i + 5552]:
            a += byte
            b += a
        a %= 65521
        b %= 65521
    return (b << 16) | a


def zlib_decompress_manual(buf: bytes) -> bytes:
    """Parse the RFC 1950 zlib wrapper around a DEFLATE body: CM
    must be 8 (deflate), FCHECK must make CMF*256+FLG divisible by
    31, preset dictionaries (FDICT) are unsupported, and the
    big-endian Adler-32 trailer must match the hand-rolled checksum
    of the decoded output."""
    if len(buf) < 6:
        raise ValueError("zlib: too short")
    cmf, flg = buf[0], buf[1]
    if cmf & 0x0F != 8:
        raise ValueError("zlib: CM is not deflate")
    if (cmf * 256 + flg) % 31 != 0:
        raise ValueError("zlib: FCHECK failed")
    if flg & 0x20:
        raise ValueError("zlib: FDICT unsupported")
    out = inflate(buf[2:-4])
    trailer = int.from_bytes(buf[-4:], "big")
    if adler32_manual(out) != trailer:
        raise ValueError("zlib: Adler-32 mismatch")
    return out


_INFLATE_STATS = T.StructType([
    T.StructField("n_bytes", T.LongType()),
    T.StructField("fp", T.LongType()),
    T.StructField("saved", T.LongType()),
])


@F.pandas_udf(T.BinaryType())
def synth_zlib_payload(text: pd.Series) -> pd.Series:
    import zlib
    return text.map(lambda t: zlib.compress(t.encode(), 6))


@F.pandas_udf(_INFLATE_STATS)
def inflate_roundtrip_stats(payload: pd.Series) -> pd.DataFrame:
    """Hand-inflate + Adler-verify each zlib payload and fingerprint
    the DECODED bytes (strlen + 60-bit md5 prefix) so the SQL oracle
    on the original text pins an exact roundtrip through the whole
    Huffman/LZ77 grammar; saved = decoded - compressed."""
    import hashlib
    rows = []
    for buf in payload:
        if buf is None:
            rows.append((None, None, None))
            continue
        dec = zlib_decompress_manual(bytes(buf))
        fp = int(hashlib.md5(dec).hexdigest()[:15], 16)
        rows.append((len(dec), fp, len(dec) - len(buf)))
    return pd.DataFrame(rows, columns=["n_bytes", "fp", "saved"])


# ---------------------------------------------------------------------------
# REAL gzip member walk (RFC 1952) on top of the DEFLATE decoder:
# magic/CM/FLG validation (reserved bits rejected), MTIME, optional
# FEXTRA / FNAME / FCOMMENT / FHCRC fields, then the body through
# ``inflate`` and the little-endian CRC-32 + ISIZE trailer verified
# against a hand-rolled table-driven CRC-32 (poly 0xEDB88320). The
# checksum the storage world actually runs — same discipline as the
# other codecs: explicit offsets, malformed-input guards, no libs.
# ---------------------------------------------------------------------------

def _make_crc32_table():
    tbl = []
    for n in range(256):
        c = n
        for _ in range(8):
            c = (c >> 1) ^ 0xEDB88320 if c & 1 else c >> 1
        tbl.append(c)
    return tuple(tbl)


_CRC32_TABLE = _make_crc32_table()


def crc32_manual(data: bytes) -> int:
    """Table-driven CRC-32 (reflected, poly 0xEDB88320 — the
    gzip/zip/PNG checksum)."""
    c = 0xFFFFFFFF
    tbl = _CRC32_TABLE
    for b in data:
        c = tbl[(c ^ b) & 0xFF] ^ (c >> 8)
    return c ^ 0xFFFFFFFF


def _gzip_member_at(buf: bytes, base: int):
    """Parse ONE RFC 1952 gzip member starting at ``base``: returns
    (decoded_bytes, mtime, fname, end_offset). Validates magic, CM,
    reserved FLG bits, the optional header CRC16 (low 16 bits of the
    header's CRC-32), the CRC-32 trailer and ISIZE (mod 2^32). The
    trailer is located from the deflate stream's actual consumed
    length (``inflate_consumed``), never from the buffer end — the
    concatenated-member walk depends on it."""
    if len(buf) - base < 18:
        raise ValueError("gzip: too short")
    if buf[base] != 0x1F or buf[base + 1] != 0x8B:
        raise ValueError("gzip: bad magic")
    if buf[base + 2] != 8:
        raise ValueError("gzip: CM is not deflate")
    flg = buf[base + 3]
    if flg & 0xE0:
        raise ValueError("gzip: reserved FLG bits set")
    mtime = int.from_bytes(buf[base + 4:base + 8], "little")
    pos = base + 10
    if flg & 4:  # FEXTRA
        xlen = int.from_bytes(buf[pos:pos + 2], "little")
        pos += 2 + xlen
    fname = None
    if flg & 8:  # FNAME (zero-terminated latin-1)
        end = buf.index(0, pos)
        fname = buf[pos:end].decode("latin-1")
        pos = end + 1
    if flg & 16:  # FCOMMENT
        pos = buf.index(0, pos) + 1
    if flg & 2:  # FHCRC
        want = int.from_bytes(buf[pos:pos + 2], "little")
        if crc32_manual(buf[base:pos]) & 0xFFFF != want:
            raise ValueError("gzip: header CRC mismatch")
        pos += 2
    if pos + 8 > len(buf):
        raise ValueError("gzip: truncated member")
    out, used = inflate_consumed(buf[pos:])
    tr = pos + used
    if tr + 8 > len(buf):
        raise ValueError("gzip: truncated member")
    if crc32_manual(out) != int.from_bytes(buf[tr:tr + 4], "little"):
        raise ValueError("gzip: CRC-32 mismatch")
    if len(out) % (1 << 32) != int.from_bytes(buf[tr + 4:tr + 8],
                                              "little"):
        raise ValueError("gzip: ISIZE mismatch")
    return out, mtime, fname, tr + 8


def gzip_decompress_manual(buf: bytes):
    """Parse one single-member gzip file: returns (decoded_bytes,
    mtime, fname); trailing bytes after the member are an error."""
    out, mtime, fname, end = _gzip_member_at(buf, 0)
    if end != len(buf):
        raise ValueError("gzip: trailing bytes after member")
    return out, mtime, fname


def decode_gzip_members(buf: bytes) -> list[tuple[bytes, int]]:
    """Walk a CONCATENATED-member gzip file (RFC 1952 §2.2 multiple
    members back-to-back — the .warc.gz convention: Common Crawl
    stores one member per WARC record so readers can split archives
    on member boundaries without inflating the whole file). Returns
    [(decoded_bytes, member_byte_length), ...]; every member's CRC
    and ISIZE are validated."""
    out, i = [], 0
    while i < len(buf):
        dec, _, _, end = _gzip_member_at(buf, i)
        out.append((dec, end - i))
        i = end
    return out


_GZIP_STATS = T.StructType([
    T.StructField("n_bytes", T.LongType()),
    T.StructField("fp", T.LongType()),
    T.StructField("mtime", T.LongType()),
    T.StructField("saved", T.LongType()),
])


@F.pandas_udf(T.BinaryType())
def synth_gzip_payload(text: pd.Series, doc_id: pd.Series) -> pd.Series:
    """gzip members produced by the stdlib encoder with MTIME pinned
    to the doc_id — a header field the decoder must walk past the
    optional-field maze to recover."""
    import gzip
    return pd.Series([
        gzip.compress(t.encode(), 6, mtime=int(i))
        for t, i in zip(text, doc_id)])


@F.pandas_udf(_GZIP_STATS)
def gzip_roundtrip_stats(payload: pd.Series) -> pd.DataFrame:
    import hashlib
    rows = []
    for buf in payload:
        if buf is None:
            rows.append((None,) * 4)
            continue
        dec, mtime, _ = gzip_decompress_manual(bytes(buf))
        fp = int(hashlib.md5(dec).hexdigest()[:15], 16)
        rows.append((len(dec), fp, mtime, len(dec) - len(buf)))
    return pd.DataFrame(rows, columns=["n_bytes", "fp", "mtime",
                                       "saved"])


# ---------------------------------------------------------------------------
# REAL adaptive PNG encoder (round 5 continuation): per-row filter
# selection across ALL FIVE spec filters (None/Sub/Up/Average/
# Paeth) by the libpng minimum-sum-of-absolute-differences
# heuristic — the encode-side twin that finally exercises the
# decoder's full filter grammar (png_bytes_* producers are
# filter-0-only). Vectorized numpy per row; ties break to the
# lowest filter id, so the byte stream is deterministic.
# ---------------------------------------------------------------------------

def _paeth_predict(left: np.ndarray, up: np.ndarray,
                   upleft: np.ndarray) -> np.ndarray:
    a = left.astype(np.int16)
    b = up.astype(np.int16)
    c = upleft.astype(np.int16)
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    out = np.where((pa <= pb) & (pa <= pc), a,
                   np.where(pb <= pc, b, c))
    return out.astype(np.uint8)


def png_encode_adaptive(arr: np.ndarray) -> bytes:
    """Encode (H, W) or (H, W, C in {1, 3}) uint8 as a
    non-interlaced 8-bit gray/RGB PNG with per-row adaptive
    filtering: each row is encoded with the spec filter (0-4) whose
    filtered bytes minimize the sum of absolute signed differences
    (the libpng heuristic). Round-trips through decode_png_pixels."""
    if arr.ndim == 2:
        arr = arr[:, :, None]
    if arr.ndim != 3 or arr.dtype != np.uint8 \
            or arr.shape[2] not in (1, 3):
        raise ValueError("png_encode_adaptive expects (H, W, 1|3) "
                         "uint8")
    h, w, ch = arr.shape
    bpp = ch
    raw = bytearray()
    prior = np.zeros(w * ch, dtype=np.uint8)
    for y in range(h):
        row = arr[y].reshape(-1)
        left = np.concatenate([np.zeros(bpp, np.uint8), row[:-bpp]])
        upleft = np.concatenate([np.zeros(bpp, np.uint8),
                                 prior[:-bpp]])
        cands = [
            row,
            (row.astype(np.int16) - left) % 256,
            (row.astype(np.int16) - prior) % 256,
            (row.astype(np.int16)
             - (left.astype(np.int16) + prior) // 2) % 256,
            (row.astype(np.int16)
             - _paeth_predict(left, prior, upleft)) % 256,
        ]
        cands = [c.astype(np.uint8) for c in cands]
        costs = [int(np.minimum(c, 256 - c.astype(np.int16))
                     .sum()) for c in cands]
        fid = costs.index(min(costs))
        raw.append(fid)
        raw += cands[fid].tobytes()
        prior = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2 if ch == 3 else 0,
                       0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _png_chunk(b"IEND", b""))


_ADPNG_STATS = T.StructType([
    T.StructField("n_pixels", T.LongType()),
    T.StructField("pix_sum", T.LongType()),
    T.StructField("xw_sum", T.LongType()),
])


@F.pandas_udf(T.BinaryType())
def synth_adaptive_png_payload(doc_id: pd.Series) -> pd.Series:
    """16x16 RGB pattern v(y,x,c) = ((id%9+1)*(x+2y) + 11c + (x*y)%7)
    % 256 — gradients plus a nonlinear term so different rows pick
    different filters — through the adaptive encoder."""
    def gen(i: int) -> bytes:
        a = i % 9 + 1
        y, x = np.mgrid[0:16, 0:16]
        c = np.arange(3)
        v = ((a * (x + 2 * y))[:, :, None] + 11 * c[None, None, :]
             + ((x * y) % 7)[:, :, None]) % 256
        return png_encode_adaptive(v.astype(np.uint8))
    return doc_id.map(lambda i: gen(int(i)))


@F.pandas_udf(_ADPNG_STATS)
def adaptive_png_stats(payload: pd.Series) -> pd.DataFrame:
    """Decode back through the full-filter-grammar decoder and pin
    pixel count, value sum, and an x-weighted checksum (catches any
    transposition the plain sum would miss)."""
    rows = []
    for buf in payload:
        if buf is None:
            rows.append((None, None, None))
            continue
        px = decode_png_pixels(bytes(buf)).astype(np.int64)
        xw = (px * (np.arange(px.shape[1]) + 1)[None, :, None]).sum()
        rows.append((int(px.size), int(px.sum()),
                     int(xw % 1000000000)))
    return pd.DataFrame(rows, columns=["n_pixels", "pix_sum",
                                       "xw_sum"])


# ---------------------------------------------------------------------------
# REAL G.711 mu-law ENCODER (round 5 continuation) — the compress
# side of m29's _ulaw_expand, closing the telephony codec pair:
# bias the clipped magnitude by 132, segment = position of the top
# bit above bit 7, keep 4 mantissa bits, invert everything (the
# CCITT transmission convention). Bit-exact inverse of the
# expansion on all byte values except 0x7F (negative zero, which
# canonically re-encodes as 0xFF). All-integer, so the whole
# encode->decode chain is SQL-expressible.
# ---------------------------------------------------------------------------

def ulaw_compress(pcm: np.ndarray) -> np.ndarray:
    """Linear 16-bit PCM -> G.711 mu-law bytes (vectorized)."""
    x = pcm.astype(np.int32)
    sign = np.where(x < 0, 0x80, 0).astype(np.int32)
    mag = np.minimum(np.abs(x), 32635) + 0x84
    exp = (np.floor(np.log2(mag)).astype(np.int32) - 7)
    mant = (mag >> (exp + 3)) & 0x0F
    return ((~(sign | (exp << 4) | mant)) & 0xFF).astype(np.uint8)


_ULAWRT_STATS = T.StructType([
    T.StructField("n_samples", T.LongType()),
    T.StructField("s_sum", T.LongType()),
    T.StructField("s_min", T.LongType()),
    T.StructField("s_max", T.LongType()),
])


@F.pandas_udf(T.BinaryType())
def synth_ulaw_wav_payload(doc_id: pd.Series) -> pd.Series:
    """128-sample integer sawtooth x(t) = ((a*(t+1)*37) % 60001)
    - 30000 (a = id%7+1) — full signed range, no clipping — through
    the REAL mu-law compressor into a fmt-7 WAV container."""
    def gen(i: int) -> bytes:
        a = i % 7 + 1
        t = np.arange(128)
        x = ((a * (t + 1) * 37) % 60001) - 30000
        return wav_bytes_ulaw(1, 8000, ulaw_compress(x).tobytes())
    return doc_id.map(lambda i: gen(int(i)))


@F.pandas_udf(_ULAWRT_STATS)
def ulaw_roundtrip_stats(payload: pd.Series) -> pd.DataFrame:
    rows = []
    for buf in payload:
        if buf is None:
            rows.append((None,) * 4)
            continue
        s = decode_wav_samples(bytes(buf)).astype(np.int64)
        rows.append((int(s.size), int(s.sum()), int(s.min()),
                     int(s.max())))
    return pd.DataFrame(rows, columns=["n_samples", "s_sum",
                                       "s_min", "s_max"])


# ---------------------------------------------------------------------------
# ZIP with DEFLATE members (round 5 continuation): the general-
# method writer/reader pair completing m30's STORE-only manifest
# walk — method-8 member bytes are raw RFC 1951 streams, so the
# reader routes them through THIS repo's hand-rolled ``inflate``
# and cross-checks the central directory's CRC-32 with the
# table-driven ``crc32_manual``. Same deterministic layout contract
# as zip_bytes_store (fixed DOS time/date).
# ---------------------------------------------------------------------------

def zip_bytes_mixed(members) -> bytes:
    """ZIP encoder taking (name, data, method) with method 0 (STORE)
    or 8 (DEFLATE, raw stream via stdlib zlib at level 6)."""
    import zlib

    out, central, offsets = [], [], []
    pos = 0
    payloads = []
    for name, data, method in members:
        if method == 8:
            co = zlib.compressobj(6, zlib.DEFLATED, -15)
            payload = co.compress(data) + co.flush()
        elif method == 0:
            payload = data
        else:
            raise ValueError(f"unsupported method {method}")
        payloads.append(payload)
    for (name, data, method), payload in zip(members, payloads):
        nb = name.encode()
        crc = zlib.crc32(data) & 0xFFFFFFFF
        lh = (struct.pack("<IHHHHHIIIHH", 0x04034B50, 20, 0, method,
                          0, 0x21, crc, len(payload), len(data),
                          len(nb), 0) + nb + payload)
        offsets.append(pos)
        out.append(lh)
        pos += len(lh)
    for (name, data, method), payload, off in zip(members, payloads,
                                                  offsets):
        nb = name.encode()
        crc = zlib.crc32(data) & 0xFFFFFFFF
        central.append(
            struct.pack("<IHHHHHHIIIHHHHHII", 0x02014B50, 20, 20, 0,
                        method, 0, 0x21, crc, len(payload),
                        len(data), len(nb), 0, 0, 0, 0, 0, off) + nb)
    cd = b"".join(central)
    eocd = struct.pack("<IHHHHIIH", 0x06054B50, 0, 0, len(members),
                       len(members), len(cd), pos, 0)
    return b"".join(out) + cd + eocd


def decode_zip_members(b: bytes):
    """Walk the central directory and return (name, decoded_bytes)
    per member — STORE passed through, DEFLATE through the
    hand-rolled ``inflate`` — verifying each member's CRC-32 with
    ``crc32_manual`` and its uncompressed size. Unknown methods
    raise."""
    eocd = b.rfind(b"PK\x05\x06")
    if eocd < 0:
        raise ValueError("no end-of-central-directory record")
    n_entries, cd_size, cd_off = struct.unpack(
        "<HII", b[eocd + 10:eocd + 20])
    out, i = [], cd_off
    for _ in range(n_entries):
        if b[i:i + 4] != b"PK\x01\x02":
            raise ValueError("bad central-directory signature")
        (crc, csize, usize, nlen, xlen, clen) = struct.unpack(
            "<IIIHHH", b[i + 16:i + 34])
        method, = struct.unpack("<H", b[i + 10:i + 12])
        off, = struct.unpack("<I", b[i + 42:i + 46])
        name = b[i + 46:i + 46 + nlen].decode()
        if b[off:off + 4] != b"PK\x03\x04":
            raise ValueError("central offset does not hit a local "
                             "header")
        lnlen, lxlen = struct.unpack("<HH", b[off + 26:off + 30])
        payload = b[off + 30 + lnlen + lxlen:
                    off + 30 + lnlen + lxlen + csize]
        if method == 0:
            data = payload
        elif method == 8:
            data = inflate(payload)
        else:
            raise NotImplementedError(f"zip method {method}")
        if len(data) != usize:
            raise ValueError("zip: uncompressed size mismatch")
        if crc32_manual(data) != crc:
            raise ValueError("zip: member CRC-32 mismatch")
        out.append((name, data))
        i += 46 + nlen + xlen + clen
    return out


_ZIPD_STATS = T.StructType([
    T.StructField("n_members", T.LongType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("fp", T.LongType()),
    T.StructField("meta_val", T.LongType()),
])


@F.pandas_udf(T.BinaryType())
def synth_zip_deflate_payload(text: pd.Series,
                              doc_id: pd.Series) -> pd.Series:
    """Two members per doc: the text DEFLATEd plus a STOREd metadata
    member carrying the doc_id digits — both methods in one
    archive."""
    return pd.Series([
        zip_bytes_mixed([("t.txt", t.encode(), 8),
                         ("m.txt", str(int(i)).encode(), 0)])
        for t, i in zip(text, doc_id)])


@F.pandas_udf(_ZIPD_STATS)
def zip_deflate_stats(payload: pd.Series) -> pd.DataFrame:
    import hashlib
    rows = []
    for buf in payload:
        if buf is None:
            rows.append((None,) * 4)
            continue
        members = dict(decode_zip_members(bytes(buf)))
        t = members["t.txt"]
        rows.append((len(members), len(t),
                     int(hashlib.md5(t).hexdigest()[:15], 16),
                     int(members["m.txt"].decode())))
    return pd.DataFrame(rows, columns=["n_members", "n_bytes", "fp",
                                       "meta_val"])


# ---------------------------------------------------------------------------
# REAL netpbm codec (round 5 continuation): P5 (binary graymap) and
# P6 (binary pixmap) — the zero-dependency interchange format image
# pipelines exchange raw rasters in. The header grammar is the part
# worth owning: whitespace-separated tokens with '#' comments legal
# between (not inside) tokens, exactly one whitespace byte after
# maxval, then raw samples. Encoder emits the canonical single-space
# form; decoder accepts the full grammar.
# ---------------------------------------------------------------------------

def pnm_encode(arr: np.ndarray) -> bytes:
    """(H, W) uint8 -> P5, (H, W, 3) uint8 -> P6, maxval 255."""
    if arr.dtype != np.uint8 or arr.ndim not in (2, 3):
        raise ValueError("pnm_encode expects (H, W[, 3]) uint8")
    if arr.ndim == 3 and arr.shape[2] != 3:
        raise ValueError("pnm_encode expects 3 channels for P6")
    magic = b"P6" if arr.ndim == 3 else b"P5"
    h, w = arr.shape[:2]
    return magic + f"\n{w} {h}\n255\n".encode() + arr.tobytes()


def pnm_decode(b: bytes) -> np.ndarray:
    """Decode P5/P6 (maxval <= 255) honoring comments and arbitrary
    token whitespace. Returns (H, W) or (H, W, 3) uint8."""
    if b[:2] not in (b"P5", b"P6"):
        raise ValueError("not a binary PGM/PPM stream")
    ch = 3 if b[:2] == b"P6" else 1
    pos = 2
    vals = []
    while len(vals) < 3:
        while pos < len(b) and b[pos:pos + 1].isspace():
            pos += 1
        if pos < len(b) and b[pos:pos + 1] == b"#":
            nl = b.index(b"\n", pos)
            pos = nl + 1
            continue
        start = pos
        while pos < len(b) and not b[pos:pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("pnm: truncated header")
        vals.append(int(b[start:pos]))
    w, h, maxval = vals
    if maxval > 255:
        raise NotImplementedError("pnm: 16-bit maxval unsupported")
    pos += 1  # exactly one whitespace byte after maxval
    n = w * h * ch
    data = b[pos:pos + n]
    if len(data) != n:
        raise ValueError("pnm: truncated raster")
    arr = np.frombuffer(data, dtype=np.uint8)
    return arr.reshape(h, w) if ch == 1 else arr.reshape(h, w, 3)


_PNM_STATS = T.StructType([
    T.StructField("n_pixels", T.LongType()),
    T.StructField("pix_sum", T.LongType()),
    T.StructField("yw_sum", T.LongType()),
])


@F.pandas_udf(T.BinaryType())
def synth_pnm_payload(doc_id: pd.Series) -> pd.Series:
    """12x17 P6 for even ids, P5 for odd; pixels follow
    v(y,x,c) = ((id%11+1)*(3x+y) + 7c) % 256 (c = 0 for P5)."""
    def gen(i: int) -> bytes:
        a = i % 11 + 1
        y, x = np.mgrid[0:12, 0:17]
        if i % 2 == 0:
            c = np.arange(3)
            v = ((a * (3 * x + y))[:, :, None] + 7 * c) % 256
        else:
            v = (a * (3 * x + y)) % 256
        return pnm_encode(v.astype(np.uint8))
    return doc_id.map(lambda i: gen(int(i)))


@F.pandas_udf(_PNM_STATS)
def pnm_pixel_stats(payload: pd.Series) -> pd.DataFrame:
    rows = []
    for buf in payload:
        if buf is None:
            rows.append((None, None, None))
            continue
        px = pnm_decode(bytes(buf)).astype(np.int64)
        if px.ndim == 2:
            yw = (px * (np.arange(px.shape[0]) + 1)[:, None]).sum()
        else:
            yw = (px * (np.arange(px.shape[0]) + 1)[:, None, None]) \
                .sum()
        rows.append((int(px.size), int(px.sum()),
                     int(yw % 1000000000)))
    return pd.DataFrame(rows, columns=["n_pixels", "pix_sum",
                                       "yw_sum"])


# ---------------------------------------------------------------------------
# REAL MPEG-1 Layer III frame-header walk (round 5 continuation):
# the 4-byte sync/version/layer/bitrate/samplerate/padding header
# grammar and the frame-size hop (144 * bitrate / samplerate +
# padding) that lets an ingest pipeline measure an MP3 — frame
# count, bitrate mix, duration — WITHOUT audio decode (the m08
# box-walk discipline for the other ubiquitous container). Frames
# are synthesized by this module's own writer (we own both sides;
# no codec libs exist here), with real filler payloads.
# ---------------------------------------------------------------------------

_MP3_BITRATES = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
                 224, 256, 320)  # kbps, MPEG-1 Layer III; 0 = free
_MP3_RATES = (44100, 48000, 32000)


def mp3_frame_bytes(bitrate_idx: int, rate_idx: int,
                    padding: int) -> bytes:
    """One MPEG-1 Layer III frame: header + deterministic filler."""
    if not 1 <= bitrate_idx <= 14 or not 0 <= rate_idx <= 2:
        raise ValueError("mp3: bad bitrate/samplerate index")
    h = (0xFFF << 20) | (0b11 << 19) | (0b01 << 17) | (1 << 16) \
        | (bitrate_idx << 12) | (rate_idx << 10) | (padding << 9) \
        | (0b01 << 6)
    flen = (144 * _MP3_BITRATES[bitrate_idx] * 1000
            // _MP3_RATES[rate_idx]) + padding
    body = bytes((7 * i + bitrate_idx) % 256 for i in range(flen - 4))
    return h.to_bytes(4, "big") + body


def mp3_walk(b: bytes):
    """Walk a headerless MP3 frame stream: validate each sync /
    version / layer, hop by the computed frame size, and return
    (n_frames, bitrate_kbps_sum, sample_rate, total_ms) — total_ms
    floor-summed per frame (1152 samples each). Raises on lost
    sync, free-format bitrate, or a reserved samplerate."""
    pos, n, br_sum, ms = 0, 0, 0, 0
    rate = None
    while pos < len(b):
        if pos + 4 > len(b):
            raise ValueError("mp3: truncated header")
        h = int.from_bytes(b[pos:pos + 4], "big")
        if h >> 21 != 0x7FF:
            raise ValueError("mp3: lost sync")
        if (h >> 19) & 3 != 0b11 or (h >> 17) & 3 != 0b01:
            raise NotImplementedError("mp3: only MPEG-1 Layer III")
        bidx = (h >> 12) & 0xF
        ridx = (h >> 10) & 3
        pad = (h >> 9) & 1
        if bidx in (0, 15):
            raise ValueError("mp3: free/bad bitrate")
        if ridx == 3:
            raise ValueError("mp3: reserved samplerate")
        rate = _MP3_RATES[ridx]
        flen = 144 * _MP3_BITRATES[bidx] * 1000 // rate + pad
        if pos + flen > len(b):
            raise ValueError("mp3: truncated frame")
        n += 1
        br_sum += _MP3_BITRATES[bidx]
        ms += 1152000 // rate
        pos += flen
    return n, br_sum, rate, ms


_MP3_STATS = T.StructType([
    T.StructField("n_frames", T.LongType()),
    T.StructField("br_sum", T.LongType()),
    T.StructField("sample_rate", T.LongType()),
    T.StructField("total_ms", T.LongType()),
])


@F.pandas_udf(T.BinaryType())
def synth_mp3_payload(doc_id: pd.Series) -> pd.Series:
    """6 + id%5 frames; frame i uses bitrate index 1 + (id+i) % 14,
    samplerate index id % 3, padding i % 2 — the whole table
    exercised across the corpus."""
    def gen(i: int) -> bytes:
        return b"".join(
            mp3_frame_bytes(1 + (i + f) % 14, i % 3, f % 2)
            for f in range(6 + i % 5))
    return doc_id.map(lambda i: gen(int(i)))


@F.pandas_udf(_MP3_STATS)
def mp3_stream_stats(payload: pd.Series) -> pd.DataFrame:
    rows = []
    for buf in payload:
        if buf is None:
            rows.append((None,) * 4)
            continue
        rows.append(mp3_walk(bytes(buf)))
    return pd.DataFrame(rows, columns=["n_frames", "br_sum",
                                       "sample_rate", "total_ms"])


_TRANSCODE_STATS = T.StructType([
    T.StructField("n_pix", T.LongType()),
    T.StructField("sum_rgb", T.LongType()),
    T.StructField("xw_sum", T.LongType()),
])


@F.pandas_udf(_TRANSCODE_STATS)
def tga_png_transcode_stats(payload: pd.Series) -> pd.DataFrame:
    """Cross-format transcode chain: decode a type-10 RLE TGA,
    re-encode the pixels through the adaptive-filter PNG encoder,
    decode THAT, refuse to emit unless the two rasters are
    byte-identical, and fingerprint the result — three codecs
    composing losslessly in one pass, the shape an image-ingest
    normalization stage actually runs."""
    rows = []
    for buf in payload:
        if buf is None:
            rows.append((None, None, None))
            continue
        px, _, _ = decode_tga_pixels(bytes(buf))
        rt = decode_png_pixels(png_encode_adaptive(px))
        if not np.array_equal(rt, px):
            raise ValueError("transcode: raster mismatch")
        a = rt.astype(np.int64)
        xw = (a * (np.arange(a.shape[1]) + 1)[None, :, None]).sum()
        rows.append((int(a.size), int(a.sum()),
                     int(xw % 1000000000)))
    return pd.DataFrame(rows, columns=["n_pix", "sum_rgb",
                                       "xw_sum"])


# ---------------------------------------------------------------------------
# REAL WARC reader/writer (ISO 28500 / WARC 1.0 — the Common Crawl
# container, THE source format of web-scale training corpora): a
# version line, CRLF-terminated named header fields in arbitrary
# order and case, a Content-Length-framed payload, and a CRLF CRLF
# record separator. The writer below exists only to build fixtures;
# the reader is the real operator — it walks records by header
# framing alone (never scanning payload bytes for separators, which
# is the classic WARC-parsing bug when payloads embed "WARC/1.0").
# ---------------------------------------------------------------------------
def warc_bytes(records: list[tuple[str, str, bytes]],
               shuffle_headers: bool = True) -> bytes:
    """Serialize (warc_type, target_uri, payload) triples as a WARC
    file. Odd records emit lower-cased header names and a permuted
    header order so reader case/order-insensitivity stays
    fixture-exercised (the TIFF II/MM alternation discipline)."""
    out = bytearray()
    for j, (rtype, uri, payload) in enumerate(records):
        hdrs = [("WARC-Type", rtype),
                ("WARC-Record-ID",
                 f"<urn:uuid:00000000-0000-0000-0000-{j:012d}>"),
                ("WARC-Target-URI", uri),
                ("Content-Length", str(len(payload)))]
        if j % 2 == 1:
            hdrs = [(k.lower(), v) for k, v in reversed(hdrs)]
        out += b"WARC/1.0\r\n"
        for k, v in hdrs:
            out += f"{k}: {v}\r\n".encode()
        out += b"\r\n" + payload + b"\r\n\r\n"
    return bytes(out)


def decode_warc_records(buf: bytes) -> list[dict]:
    """Walk a WARC file record by record. Returns one dict per record
    with warc_type, target_uri, content_length, payload (bytes) and
    host (parsed from the target URI authority). Raises ValueError on
    a missing version line, an unframed header block, a missing or
    non-integer Content-Length, or a truncated payload — malformed
    records must fail loudly, not resync silently."""
    recs = []
    i, nbytes = 0, len(buf)
    while i < nbytes:
        if buf[i:i + 5] != b"WARC/":
            raise ValueError(f"expected WARC version line at {i}")
        hdr_end = buf.find(b"\r\n\r\n", i)
        if hdr_end < 0:
            raise ValueError("unterminated WARC header block")
        lines = buf[i:hdr_end].split(b"\r\n")
        fields = {}
        for ln in lines[1:]:
            k, _, v = ln.partition(b":")
            key = k.strip().lower().decode()
            val = v.strip().decode()
            if key == "content-length" and fields.get(key, val) != val:
                # two disagreeing Content-Length headers make the
                # record's framing ambiguous — whichever value a
                # reader picks, half the readers out there pick the
                # other one and desync. Reject loudly (round-10
                # structural-damage discipline); last-wins used to
                # resolve this silently.
                raise ValueError(
                    "conflicting WARC Content-Length headers "
                    f"({fields[key]} vs {val})")
            fields[key] = val
        if "content-length" not in fields:
            raise ValueError("WARC record without Content-Length")
        clen = int(fields["content-length"])
        body = buf[hdr_end + 4:hdr_end + 4 + clen]
        if len(body) != clen:
            raise ValueError("truncated WARC payload")
        sep = buf[hdr_end + 4 + clen:hdr_end + 4 + clen + 4]
        if sep != b"\r\n\r\n":
            # the spec's two-CRLF record terminator is mandatory even
            # for the final record; a wrong separator means the
            # Content-Length framing drifted into the payload
            raise ValueError("missing WARC record separator")
        uri = fields.get("warc-target-uri", "")
        host = ""
        if "://" in uri:
            host = uri.split("://", 1)[1].split("/", 1)[0]
        recs.append({"warc_type": fields.get("warc-type", ""),
                     "target_uri": uri, "host": host,
                     "content_length": clen, "payload": body})
        i = hdr_end + 4 + clen + 4
    return recs


@F.pandas_udf(T.BinaryType())
def synth_warc_payload(doc_id: pd.Series) -> pd.Series:
    """Deterministic WARC per doc: K = id%3+1 records; record j is a
    response (even j) or request (odd j) for
    http://host{(id//7)%5}.example/p{j} (floor-div so the host VARIES
    within a source — doc_id % anything coprime-free is constant
    under the corpus's stride-20 source assignment) whose payload is
    the single byte
    chr(97 + (id+j)%26) repeated (id%17) + 3j + 5 times — record
    count, response count, content bytes, and payload byte-sum all
    have closed forms the oracle restates."""
    def gen(i: int) -> bytes:
        k = i % 3 + 1
        return warc_bytes(
            [("response" if j % 2 == 0 else "request",
              f"http://host{(i // 7) % 5}.example/p{j}",
              bytes([97 + (i + j) % 26]) * ((i % 17) + 3 * j + 5))
             for j in range(k)])
    return doc_id.map(lambda i: gen(int(i)))


_WARC_STATS = T.StructType([
    T.StructField("n_records", T.LongType()),
    T.StructField("n_responses", T.LongType()),
    T.StructField("total_content", T.LongType()),
    T.StructField("payload_sum", T.LongType()),
    T.StructField("first_host", T.StringType()),
])


@F.pandas_udf(_WARC_STATS)
def warc_record_stats(payload: pd.Series) -> pd.DataFrame:
    """Per-archive rollup from the real WARC walk: record count,
    response-record count, summed Content-Length (proves framing),
    summed payload bytes (proves the slicing took exactly the framed
    bytes), and the first record's URI host (proves authority
    parsing)."""
    rows = []
    for buf in payload:
        if buf is None:
            rows.append((None, None, None, None, None))
            continue
        rs = decode_warc_records(bytes(buf))
        rows.append((len(rs),
                     sum(1 for r in rs if r["warc_type"] == "response"),
                     sum(r["content_length"] for r in rs),
                     sum(sum(r["payload"]) for r in rs),
                     rs[0]["host"] if rs else ""))
    return pd.DataFrame(rows, columns=["n_records", "n_responses",
                                       "total_content", "payload_sum",
                                       "first_host"])


@F.pandas_udf(T.BinaryType())
def synth_warc_gz_payload(doc_id: pd.Series) -> pd.Series:
    """Concatenated-member .warc.gz per doc (the Common Crawl layout:
    one gzip member per WARC record): the K = id%3+1 records of
    synth_warc_payload, each compressed as its OWN stdlib-gzip member
    and concatenated."""
    import gzip

    def gen(i: int) -> bytes:
        k = i % 3 + 1
        return b"".join(
            gzip.compress(
                warc_bytes([("response" if j % 2 == 0 else "request",
                             f"http://host{(i // 7) % 5}.example/p{j}",
                             bytes([97 + (i + j) % 26])
                             * ((i % 17) + 3 * j + 5))]),
                6, mtime=0)
            for j in range(k))
    return doc_id.map(lambda i: gen(int(i)))


_WARC_GZ_STATS = T.StructType([
    T.StructField("n_members", T.LongType()),
    T.StructField("total_raw", T.LongType()),
    T.StructField("n_records", T.LongType()),
    T.StructField("payload_sum", T.LongType()),
])


@F.pandas_udf(_WARC_GZ_STATS)
def warc_gz_member_stats(payload: pd.Series) -> pd.DataFrame:
    """The full production-read chain: walk concatenated gzip members
    (hand-rolled RFC 1952 + RFC 1951 decode, CRC/ISIZE validated per
    member), then parse each member's bytes as WARC records. Emits
    member count, summed decompressed bytes (the closed-form record
    lengths), record count across members, and the summed payload
    bytes (proves gzip -> WARC -> payload slicing end to end)."""
    rows = []
    for buf in payload:
        if buf is None:
            rows.append((None, None, None, None))
            continue
        members = decode_gzip_members(bytes(buf))
        nrec, psum = 0, 0
        for dec, _ in members:
            for r in decode_warc_records(dec):
                nrec += 1
                psum += sum(r["payload"])
        rows.append((len(members), sum(len(d) for d, _ in members),
                     nrec, psum))
    return pd.DataFrame(rows, columns=["n_members", "total_raw",
                                       "n_records", "payload_sum"])


@F.pandas_udf(T.BinaryType())
def synth_warc_html_payload(doc_id: pd.Series, text: pd.Series) -> pd.Series:
    """Deterministic crawl capture per doc: a 2-record WARC archive —
    one request record (decoy payload ``GET /p{id}``; a correct reader
    must skip it) and one response record whose payload is the
    document's synthetic HTML page (``text.synth_html``), both for
    ``http://h{id % 13}.example/p{id}``. Feeds the end-to-end crawl
    macro (q133): because ``html_to_text(synth_html(id, t)) == t`` is
    a proven identity (tests/test_round6_ops.py), the downstream
    corpus has the closed form "the original documents table", which
    is what lets one DuckDB oracle replay the entire
    WARC -> HTML -> filter -> dedup -> mix chain.

    Simplification vs production captures (documented, deliberate):
    the response payload is raw HTML, not an HTTP/1.1 message — header
    stripping is a text concern the synthetic corpus has no bytes for;
    the WARC framing, which is what this exercises, is real
    (ISO 28500 via warc_bytes/decode_warc_records)."""
    from ecmm428_pycart_spark.datapipe.text import synth_html

    def gen(i: int, t: str) -> bytes:
        uri = f"http://h{i % 13}.example/p{i}"
        return warc_bytes([
            ("request", uri, f"GET /p{i}".encode()),
            ("response", uri, synth_html(i, t).encode()),
        ])
    return pd.Series([gen(int(i), t) for i, t in zip(doc_id, text)])


_WARC_HTML = T.StructType([
    T.StructField("ext_text", T.StringType()),
    T.StructField("n_links", T.LongType()),
    T.StructField("link_tokens", T.LongType()),
    T.StructField("n_records", T.LongType()),
    T.StructField("n_responses", T.LongType()),
])


@F.pandas_udf(_WARC_HTML)
def warc_html_extract(payload: pd.Series) -> pd.DataFrame:
    """The crawl ingestion read path in one zero-shuffle Arrow batch:
    walk the WARC archive (real ISO 28500 framing), take RESPONSE
    records only (request decoys must not leak), decode their payloads
    as UTF-8 HTML and run the REAL visible-text extractor
    (``text.html_to_text`` — stdlib html.parser, boilerplate-blind).
    Multiple responses per archive concatenate with a single space.
    CPU-linear per byte; the only shuffles in a caller are whatever it
    aggregates afterwards."""
    from ecmm428_pycart_spark.datapipe.text import html_to_text

    rows = []
    for buf in payload:
        if buf is None:
            rows.append((None, None, None, None, None))
            continue
        recs = decode_warc_records(bytes(buf))
        texts, nl, lt, nresp = [], 0, 0, 0
        for r in recs:
            if r["warc_type"] != "response":
                continue
            nresp += 1
            ext, links, ltok = html_to_text(r["payload"].decode("utf-8"))
            texts.append(ext)
            nl += links
            lt += ltok
        rows.append((" ".join(texts), nl, lt, len(recs), nresp))
    return pd.DataFrame(rows, columns=["ext_text", "n_links",
                                       "link_tokens", "n_records",
                                       "n_responses"])


@F.pandas_udf(T.BinaryType())
def synth_warc_media_payload(doc_id: pd.Series) -> pd.Series:
    """Deterministic MIXED-CONTENT crawl capture per doc: a 2-record
    WARC archive — one request record (decoy payload ``GET /m{id}``;
    a correct reader must skip it) and one response record whose
    payload is the doc's mixed-media bytes (_mixed_media_bytes — the
    m34 QOI/BMP/WAV/TIFF algebra), both for
    ``http://h{id % 13}.example/m{id}``. The binary twin of
    synth_warc_html_payload: real crawls carry images and audio next
    to HTML, and the response payload here is raw bytes that any
    text-assuming reader would corrupt."""
    def gen(i: int) -> bytes:
        uri = f"http://h{i % 13}.example/m{i}"
        return warc_bytes([
            ("request", uri, f"GET /m{i}".encode()),
            ("response", uri, _mixed_media_bytes(i)),
        ])
    return doc_id.map(lambda i: gen(int(i)))


_WARC_MEDIA = T.StructType([
    T.StructField("media_type", T.StringType()),
    T.StructField("n_units", T.LongType()),
    T.StructField("sum_val", T.LongType()),
    T.StructField("n_records", T.LongType()),
    T.StructField("n_responses", T.LongType()),
])


@F.pandas_udf(_WARC_MEDIA)
def warc_media_extract(payload: pd.Series) -> pd.DataFrame:
    """The binary branch of the crawl ingestion read path in one
    zero-shuffle Arrow batch: walk the WARC archive (real ISO 28500
    framing via decode_warc_records), take RESPONSE records only
    (request decoys must not leak into media stats), magic-byte sniff
    each response payload and route it to the right REAL decoder
    (_media_stats_row — the m34 dispatch). Multiple responses sum
    their unit/value totals; media_type is the first response's.
    CPU-linear per byte; callers only shuffle whatever they aggregate
    afterwards."""
    rows = []
    for buf in payload:
        if buf is None:
            rows.append((None, None, None, None, None))
            continue
        recs = decode_warc_records(bytes(buf))
        mt, nu, sv, nresp = None, 0, 0, 0
        for r in recs:
            if r["warc_type"] != "response":
                continue
            t, u, s = _media_stats_row(r["payload"])
            if mt is None:
                mt = t
            nresp += 1
            nu += u
            sv += s
        rows.append((mt, nu, sv, len(recs), nresp))
    return pd.DataFrame(rows, columns=["media_type", "n_units",
                                       "sum_val", "n_records",
                                       "n_responses"])
