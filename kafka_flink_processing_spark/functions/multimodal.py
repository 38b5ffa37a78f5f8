"""Media payload stages: opaque binary payloads next to typed metadata.

Images and audio travel as `binary` columns. Every stage in this module
is one Arrow-batched `mapInPandas` pass (`_row_stage`) that reads the
`doc_id` column and one input column and returns typed rows, so the
bytes never leave the executor.

Containers that decode for real, with stdlib struct/zlib and numpy only:

- BMP: 24-bit uncompressed (BI_RGB).
- WAV: 16-bit PCM, any channel count.
- PNG: 8-bit grayscale, RGB or RGBA, non-interlaced, all five row
  filters, every chunk CRC-checked.
- GIF: single-frame, non-interlaced GIF87a/89a, variable-width LZW.

Each has a matching encoder. The payload stages (`with_png_payload`,
`with_gif_payload`, `with_wav_payload`) build media from text, so the
DuckDB oracles recompute the decoded values from the text alone and a
hash match covers the whole encode/decode round trip.

The audit bucket: a payload that is NULL, unrecognized, malformed or
outside the formats above (`_UNDECODABLE`) never fails the job.
`decode_media` emits container='unknown' with null features for it, and
`audio_zcr_features` emits -1 counts.

Out of scope: JPEG, MP3 and video. Their decoders need entropy coding
and signal processing that the stdlib lacks, the environment ships no
codec library, and no query needs them; such payloads land in the audit
bucket. `decode_features`, `resize_features` and `sample_frames` are
stand-ins for codec stages: byte statistics, every-k-th-byte resampling
and fixed-size chunking, which the oracles reproduce in SQL.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Callable, Iterator
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DataType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def _schema(*fields: tuple[str, DataType]) -> StructType:
    """A stage's output schema: `doc_id long`, then `fields`."""
    return StructType([StructField(name, dtype) for name, dtype
                       in (("doc_id", LongType()), *fields)])


def _row_stage(df: DataFrame, schema: StructType, col: str,
               row_fn: Callable[[Any], list[tuple]]) -> DataFrame:
    """The module's one Arrow stage. `row_fn` maps one value of `col`
    (None for NULL) to the rows that follow `doc_id` in `schema`: one
    row for a 1 -> 1 stage, any number for a fan-out."""
    names = schema.fieldNames()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame([(doc_id, *row) for doc_id, value
                                in zip(pdf["doc_id"], pdf[col])
                                for row in row_fn(value)], columns=names)

    from kafka_flink_processing_spark.shipping import ensure_shipped
    ensure_shipped(df.sparkSession)
    return df.mapInPandas(batches, schema)


# --- Codec stand-ins over raw bytes ----------------------------------------

DECODE_SCHEMA = _schema(("mime", StringType()), ("n_bytes", LongType()),
                        ("width", IntegerType()), ("height", IntegerType()),
                        ("mean_byte", DoubleType()),
                        ("entropy_bucket", IntegerType()))


def _fake_features(payload: bytes) -> tuple[int, int, float, int]:
    """Deterministic pseudo-decode: byte-statistics standing in for
    width/height/pixel stats so the pipeline shape is exercised end-to-end."""
    n = len(payload)
    width = 16 + (n % 64)
    height = 16 + ((n // 64) % 64)
    mean_byte = (sum(payload) / n) if n else 0.0
    entropy_bucket = len(set(payload)) // 32
    return width, height, mean_byte, entropy_bucket


def decode_features(df: DataFrame) -> DataFrame:
    """Decode stand-in: `payload` -> the _fake_features byte statistics.
    A NULL payload gives NULL features."""
    def row(p: bytes | None) -> list[tuple]:
        if p is None:
            return [("application/octet-stream", None, None, None, None,
                     None)]
        b = bytes(p)
        return [("application/octet-stream", len(b), *_fake_features(b))]

    return _row_stage(df, DECODE_SCHEMA, "payload", row)


def with_payload(docs: DataFrame) -> DataFrame:
    """Derive an opaque binary payload column from text (the testdata has no
    real media; utf-8 bytes stand in as the payload)."""
    return docs.withColumn("payload", F.encode(F.col("text"), "UTF-8"))


TARGET_W = TARGET_H = 64     # resize_features' thumbnail size

RESIZE_SCHEMA = _schema(("target_w", IntegerType()),
                        ("target_h", IntegerType()),
                        ("src_w", IntegerType()), ("src_h", IntegerType()),
                        ("scale", DoubleType()), ("thumb_hash", StringType()))


def resize_features(df: DataFrame) -> DataFrame:
    """Resize stand-in (1 row -> 1 row): the source dims come from
    _fake_features, the resample keeps every k-th byte for the scale to
    (TARGET_W, TARGET_H), and the thumbnail is its md5. A NULL payload
    keeps the target dims and nulls the rest."""
    def row(p: bytes | None) -> list[tuple]:
        if p is None:
            return [(TARGET_W, TARGET_H, None, None, None, None)]
        b = bytes(p)
        src_w, src_h, _, _ = _fake_features(b)
        scale = min(TARGET_W / src_w, TARGET_H / src_h)
        k = max(1, int(1 / scale)) if scale < 1 else 1
        return [(TARGET_W, TARGET_H, src_w, src_h, scale,
                 hashlib.md5(b[::k]).hexdigest())]

    return _row_stage(df, RESIZE_SCHEMA, "payload", row)


FRAME_SCHEMA = _schema(("frame_idx", IntegerType()),
                       ("frame_offset", LongType()),
                       ("frame_bytes", LongType()),
                       ("frame_hash", StringType()))

FRAME_SIZE = 256        # stub "video": fixed-size byte chunks as frames
FRAME_STRIDE = 4        # sample every 4th frame


def sample_frames(df: DataFrame) -> DataFrame:
    """Frame-sampling stand-in (1 row -> N rows): the payload is cut into
    FRAME_SIZE-byte "frames" and every FRAME_STRIDE-th one yields a row
    with its offset, length and md5. A NULL payload yields one row,
    frame 0 at offset 0 with null length and hash."""
    def row(p: bytes | None) -> list[tuple]:
        if p is None:
            return [(0, 0, None, None)]
        b = bytes(p)
        n_frames = max(1, (len(b) + FRAME_SIZE - 1) // FRAME_SIZE)
        rows = []
        for i in range(0, n_frames, FRAME_STRIDE):
            chunk = b[i * FRAME_SIZE:(i + 1) * FRAME_SIZE]
            rows.append((i, i * FRAME_SIZE, len(chunk),
                         hashlib.md5(chunk).hexdigest()))
        return rows

    return _row_stage(df, FRAME_SCHEMA, "payload", row)


# --- Real decoders ---------------------------------------------------------
#
# Each decoder parses one container and returns a MEDIA_SCHEMA row as a
# dict. ValueError means a malformed payload and NotImplementedError a
# valid one outside the supported formats; struct.error can escape a
# header read on a short payload. decode_media and audio_zcr_features
# send all three to the audit bucket.

MEDIA_SCHEMA = _schema(("container", StringType()), ("width", IntegerType()),
                       ("height", IntegerType()), ("channels", IntegerType()),
                       ("sample_rate", IntegerType()),
                       ("n_samples", LongType()), ("mean_level", DoubleType()),
                       ("peak_level", DoubleType()))

_UNDECODABLE = (ValueError, NotImplementedError, struct.error)


def _image_row(container: str, w: int, h: int, ch: int,
               levels: np.ndarray) -> dict:
    """The row for a decoded image: mean and peak over all channel bytes
    in `levels`, normalized to [0, 1]. An image without pixels (or with a
    negative width from a crafted header) is malformed."""
    if w <= 0 or h <= 0:
        raise ValueError(f"{container} has no pixels ({w}x{h})")
    return {"container": container, "width": int(w), "height": int(h),
            "channels": ch, "sample_rate": None,
            "n_samples": int(w) * int(h),
            "mean_level": float(levels.mean()) / 255.0,
            "peak_level": float(levels.max()) / 255.0}


def encode_bmp(pixels) -> bytes:
    """Minimal 24-bit uncompressed BMP writer (BI_RGB, bottom-up rows,
    4-byte row padding). pixels: numpy uint8 array (h, w, 3) in RGB."""
    arr = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = arr.shape
    row_raw = w * 3
    pad = (-row_raw) % 4
    body = bytearray()
    for y in range(h - 1, -1, -1):          # bottom-up
        body += arr[y, :, ::-1].tobytes()   # RGB -> BGR
        body += b"\x00" * pad
    pixel_off = 14 + 40
    size = pixel_off + len(body)
    header = struct.pack("<2sIHHI", b"BM", size, 0, 0, pixel_off)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                      2835, 2835, 0, 0)
    return bytes(header + dib + body)


def decode_bmp(b: bytes) -> dict:
    """Parse a 24-bit BI_RGB BMP: dimensions + bulk pixel stats. Row order
    (bottom-up or top-down) and channel order do not change the stats."""
    if len(b) < 54 or b[:2] != b"BM":
        raise ValueError("not a BMP payload")
    pixel_off = struct.unpack_from("<I", b, 10)[0]
    (hdr_sz, w, h, _planes, bpp, compression) = struct.unpack_from(
        "<IiiHHI", b, 14)
    if bpp != 24 or compression != 0:
        raise NotImplementedError(f"BMP bpp={bpp} compression={compression} "
                                  "needs a real codec library")
    h = abs(h)                              # negative height: top-down rows
    row_raw = max(w, 0) * 3                 # _image_row rejects w <= 0
    stride = row_raw + ((-row_raw) % 4)
    if pixel_off + stride * h > len(b):
        raise ValueError("BMP pixel data truncated")
    rows = np.frombuffer(b, dtype=np.uint8, count=stride * h,
                         offset=pixel_off).reshape(h, stride)[:, :row_raw]
    return _image_row("bmp", w, h, 3, rows)


def encode_wav(samples, sample_rate: int = 8000) -> bytes:
    """Minimal 16-bit PCM mono/stereo WAV writer. samples: numpy array of
    int16, shape (n,) or (n, channels)."""
    arr = np.asarray(samples, dtype=np.int16)
    if arr.ndim == 1:
        arr = arr[:, None]
    n, ch = arr.shape
    data = arr.tobytes()   # interleaved little-endian
    byte_rate = sample_rate * ch * 2
    fmt = struct.pack("<HHIIHH", 1, ch, sample_rate, byte_rate, ch * 2, 16)
    out = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
           + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
           + b"data" + struct.pack("<I", len(data)) + data)
    return out


def _pcm16(b: bytes) -> tuple[np.ndarray, int, int]:
    """The one WAV reader: walk the RIFF chunks to fmt/data, validate a
    16-bit PCM stream and return (interleaved int16 samples, channels,
    sample rate)."""
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos, fmt, data, data_sz = 12, None, None, 0
    while pos + 8 <= len(b):
        cid, sz = b[pos:pos + 4], struct.unpack_from("<I", b, pos + 4)[0]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", b, pos + 8)
        elif cid == b"data":
            data, data_sz = b[pos + 8:pos + 8 + sz], sz
        pos += 8 + sz + (sz % 2)
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_fmt, ch, rate, _br, _ba, bits = fmt
    if audio_fmt != 1 or bits != 16:
        raise NotImplementedError(f"WAV fmt={audio_fmt} bits={bits} needs a "
                                  "real codec library (only 16-bit PCM here)")
    # channels=0 would divide by zero in the callers, and a data chunk
    # shorter than its declared size (truncated payload) would silently
    # under-count samples in a "valid" row.
    if ch < 1:
        raise ValueError("WAV channels must be >= 1")
    if len(data) != data_sz or len(data) % (ch * 2) != 0:
        raise ValueError("WAV data chunk truncated or misaligned")
    return np.frombuffer(data, dtype="<i2"), ch, rate


def decode_wav(b: bytes) -> dict:
    """Parse a 16-bit PCM WAV: bulk numpy sample stats (RMS mean_level,
    |peak| — both in [0, 1])."""
    s, ch, rate = _pcm16(b)
    x = s.astype(np.float64) / 32768.0
    n = len(x) // ch
    return {"container": "wav", "width": None, "height": None,
            "channels": ch, "sample_rate": rate, "n_samples": n,
            "mean_level": float(np.sqrt((x * x).mean())) if n else 0.0,
            "peak_level": float(np.abs(x).max()) if n else 0.0}


def _paeth(left, up, upleft):
    """PNG Paeth predictor, vectorized over a row (spec: PNG 1.2 §6.6)."""
    a = left.astype(np.int16)
    b = up.astype(np.int16)
    c = upleft.astype(np.int16)
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), left,
                    np.where(pb <= pc, up, upleft)).astype(np.uint8)


def encode_png(pixels, filter_mode: int | str = "cycle") -> bytes:
    """Minimal PNG writer (zlib is stdlib): 8-bit grayscale (h, w), RGB
    (h, w, 3) or RGBA (h, w, 4).
    filter_mode='cycle' filters row r with type r % 5, so a multi-row
    round-trip exercises every PNG filter (None/Sub/Up/Average/Paeth);
    an int 0-4 forces one type. Filter arithmetic is mod-256 (uint8
    wraparound IS the spec's arithmetic)."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    color = {1: 0, 3: 2, 4: 6}[ch]

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (struct.pack(">I", len(payload)) + tag + payload
                + struct.pack(">I", zlib.crc32(tag + payload)))

    raw = bytearray()
    zero = np.zeros(ch, dtype=np.uint8)
    prev = np.zeros(w * ch, dtype=np.uint8)
    for r in range(h):
        line = arr[r].reshape(-1)
        left = np.concatenate([zero, line[:-ch]]) if w > 1 else \
            np.zeros_like(line)
        upleft = np.concatenate([zero, prev[:-ch]]) if w > 1 else \
            np.zeros_like(prev)
        ft = (r % 5) if filter_mode == "cycle" else int(filter_mode)
        if ft == 0:
            filt = line
        elif ft == 1:
            filt = line - left
        elif ft == 2:
            filt = line - prev
        elif ft == 3:
            filt = line - ((left.astype(np.uint16) + prev) // 2).astype(
                np.uint8)
        else:
            filt = line - _paeth(left, prev, upleft)
        raw.append(ft)
        raw.extend(filt.tobytes())
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))


def decode_png(b: bytes) -> dict:
    """Parse + fully decode an 8-bit non-interlaced PNG (grayscale / RGB /
    RGBA): chunk walk with CRC validation, zlib inflate, per-row
    unfiltering (all five filter types), then bulk numpy pixel stats.
    Truncated chunks, CRC mismatches, and size-inconsistent pixel data
    raise ValueError; 16-bit / palette / interlaced PNGs raise
    NotImplementedError."""
    if len(b) < 8 or b[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = 8, None, bytearray()
    while pos + 8 <= len(b):
        ln = struct.unpack_from(">I", b, pos)[0]
        tag = b[pos + 4:pos + 8]
        payload = b[pos + 8:pos + 8 + ln]
        if len(payload) != ln or pos + 12 + ln > len(b):
            raise ValueError("PNG chunk truncated")
        crc = struct.unpack_from(">I", b, pos + 8 + ln)[0]
        if zlib.crc32(tag + payload) != crc:
            raise ValueError("PNG chunk CRC mismatch")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", payload)
        elif tag == b"IDAT":
            idat.extend(payload)
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT chunk")
    w, h, depth, color, comp, _filter_method, interlace = ihdr
    if depth != 8 or color not in (0, 2, 6) or comp != 0 or interlace != 0:
        raise NotImplementedError(
            f"PNG depth={depth} color={color} interlace={interlace} needs "
            "a real codec library (8-bit gray/RGB/RGBA only here)")
    ch = {0: 1, 2: 3, 6: 4}[color]
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise ValueError(f"PNG IDAT inflate failed: {e}") from e
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG pixel data size mismatch")
    scan = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for r in range(h):
        ft, line = scan[r, 0], scan[r, 1:]
        if ft == 0:
            rec = line.copy()
        elif ft == 1:       # Sub: per-lane cumsum mod 256 (vectorized)
            rec = line.copy()
            for lane in range(ch):
                rec[lane::ch] = np.cumsum(
                    rec[lane::ch], dtype=np.uint64) & 0xFF
        elif ft == 2:       # Up
            rec = line + prev
        elif ft in (3, 4):
            # Average / Paeth: filters are bytewise and the left neighbour
            # is the same channel one pixel back, so each channel lane is
            # its own sequential recurrence. It runs on plain Python ints
            # over lists (~10x less per-step overhead than one numpy
            # slice per pixel; same mod-256 arithmetic and Paeth
            # tie-breaking as _paeth).
            rec = np.empty(stride, dtype=np.uint8)
            for lane in range(ch):
                ln, pv = line[lane::ch].tolist(), prev[lane::ch].tolist()
                rl: list[int] = [0] * w
                left = 0
                if ft == 3:
                    for j in range(w):
                        left = (ln[j] + ((left + pv[j]) >> 1)) & 0xFF
                        rl[j] = left
                else:
                    upleft = 0
                    for j in range(w):
                        up = pv[j]
                        p = left + up - upleft
                        pa = p - left if p >= left else left - p
                        pb = p - up if p >= up else up - p
                        pc = p - upleft if p >= upleft else upleft - p
                        pred = left if pa <= pb and pa <= pc else \
                            (up if pb <= pc else upleft)
                        left = (ln[j] + pred) & 0xFF
                        rl[j] = left
                        upleft = up
                rec[lane::ch] = rl
        else:
            raise ValueError(f"PNG unknown filter type {ft}")
        out[r] = rec
        prev = rec
    return _image_row("png", w, h, ch, out)


def _lzw_encode_gif(data: bytes, min_code: int = 8) -> bytes:
    """GIF-variant LZW encoder (GIF89a spec appendix F), variable code
    width min_code+1..12 bits, LSB-first bit packing. Spec-exact "late"
    width change: a code needs width+1 bits only once a table entry with
    value 2^width exists (mirrored by the decoder one code later). At
    4096 entries the table is flushed with an explicit CLEAR."""
    clear = 1 << min_code
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    width = min_code + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    emit(clear, width)
    buf = b""
    for byte in data:
        cand = buf + bytes([byte])
        if cand in table:
            buf = cand
            continue
        emit(table[buf], width)
        table[cand] = next_code
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        elif next_code == 4096:   # table full: flush and restart
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code + 1
        buf = bytes([byte])
    if buf:
        emit(table[buf], width)
        # Mirror the decoder's post-final-code width bump: the decoder
        # appends one table entry per data code read and widens once its
        # table hits 2^width, so after the FINAL data code it reads EOI at
        # width+1 bits whenever the encoder's table size (next_code) just
        # reached 2^width. The in-loop bump above only fires when an entry
        # is CREATED; the out-of-loop emit creates none, so without this
        # the EOI width diverges exactly when the final-segment code count
        # lands on 255/767/1791 with byte-aligned EOI (decoder then raises
        # "GIF LZW stream truncated" on valid encoder output).
        if next_code == (1 << width) and width < 12:
            width += 1
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode_gif(stream: bytes, min_code: int = 8) -> bytes:
    """Inverse of _lzw_encode_gif; also accepts deferred-clear streams
    (entries just stop being added at 4095). Raises ValueError on codes
    beyond the table (corrupt stream) or a stream ending without EOI.
    decode_gif runs _lzw_decode_gif_np; this scalar form is the
    executable spec that
    test_gif_lzw_numpy_decoder_matches_scalar_bit_for_bit compares it
    against, output and error messages alike."""
    clear = 1 << min_code
    eoi = clear + 1
    pos = 0        # bit position
    total_bits = 8 * len(stream)

    def read(width: int) -> int:
        nonlocal pos
        if pos + width > total_bits:
            raise ValueError("GIF LZW stream truncated (no EOI)")
        byte0 = pos >> 3
        nbytes = (pos % 8 + width + 7) // 8
        chunk = int.from_bytes(stream[byte0:byte0 + nbytes], "little")
        code = (chunk >> (pos % 8)) & ((1 << width) - 1)
        pos += width
        return code

    out = bytearray()
    width = min_code + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    prev: bytes | None = None
    while True:
        code = read(width)
        if code == eoi:
            return bytes(out)
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code + 1
            prev = None
            continue
        if prev is None:                    # first code after clear
            if code >= len(table):
                raise ValueError("GIF LZW first code out of range")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):            # KwKwK
            entry = prev + prev[:1]
        else:
            raise ValueError("GIF LZW code beyond table (corrupt stream)")
        out.extend(entry)
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
        # decoder mirrors the encoder's width change one code later:
        # the encoder widened after CREATING entry 2^w; we widen once
        # OUR next entry slot is 2^w (we lag the encoder by one entry)
        if len(table) == (1 << width) and width < 12:
            width += 1
        prev = entry


def _lzw_decode_gif_np(stream: bytes, min_code: int = 8) -> bytes:
    """Vectorized `_lzw_decode_gif` (the scalar form pays ~6 interpreter
    ops per code plus a bytes concat per table entry). Bit-identical
    output and the same error surface as the
    scalar decoder (pinned by a differential test over round-trip,
    deferred-clear and corrupt streams):

    - codes are batch-extracted with numpy gathers in CONSTANT-WIDTH runs
      (the width schedule is deterministic in the count of data codes
      since the last CLEAR, so each run's length is known up front and a
      run never overshoots a width bump);
    - the table is never materialized as strings: entries live as
      (parent code, appended byte, first byte, length) arrays; first
      bytes and lengths resolve by chain-walking over shrinking masks
      (depth = max entry length, each pass one vector gather);
    - the output is written by a backward parent-walk vectorized across
      ALL emitted codes at once (each pass writes one byte of every
      still-active string), so total work is O(output bytes) of numpy
      element ops instead of per-byte Python.
    """
    clear = 1 << min_code
    eoi = clear + 1
    data = np.frombuffer(stream, dtype=np.uint8)
    total_bits = 8 * len(data)
    # pad so every (up to 12-bit, up to 7-bit-offset) gather can read 3
    # bytes without bounds checks
    padded = np.zeros(len(data) + 4, dtype=np.uint8)
    padded[:len(data)] = data
    p32 = padded.astype(np.uint32)

    def extract(pos: int, width: int, n: int) -> np.ndarray:
        """n codes of `width` bits starting at bit `pos` (LSB-first)."""
        starts = pos + width * np.arange(n, dtype=np.int64)
        byte0 = starts >> 3
        chunk = (p32[byte0] | (p32[byte0 + 1] << 8) | (p32[byte0 + 2] << 16))
        return (chunk >> (starts & 7).astype(np.uint32)) & ((1 << width) - 1)

    def decode_segment(codes: list[np.ndarray], out_parts: list) -> None:
        """Expand one CLEAR-to-CLEAR segment's data codes."""
        if not codes:
            return
        c = np.concatenate(codes).astype(np.int64)
        m = len(c)
        # (codes were validated block-by-block in the extraction loop, so
        # every reference below is in range)
        # entry j (j>=1, while the table is below 4096 entries) is
        # string(c[j-1]) + firstbyte(string(c[j])); represent it as
        # (parent=c[j-1], append=firstb(c[j])) with firstb/length resolved
        # by chain walks (an entry code v maps to entry index v-clear-1,
        # whose defining step is that index, strictly below the current j)
        prev_c = np.empty(m, dtype=np.int64)
        prev_c[0] = 0  # entry 0 never exists; slot unused
        prev_c[1:] = c[:-1]
        # firstb(entry j) = F(c[j-1]); F(v) = v if root else F(c[k-1]),
        # k = v - clear - 1  =>  hop: v <- c[v - clear - 2]
        ptr = prev_c.copy()
        hops = np.zeros(m, dtype=np.int64)
        live = np.nonzero(ptr >= clear)[0]
        while live.size:
            ptr[live] = c[ptr[live] - clear - 2]
            hops[live] += 1
            live = live[ptr[live] >= clear]
        firstb_entry = ptr            # first byte of entry j's string
        len_entry = hops + 2          # L(entry j) = L(c[j-1]) + 1 = hops+1+1
        # append byte of entry j = F(c[j]) (KwKwK c[j]==clear+1+j lands on
        # firstb_entry[j] itself, which is exactly F(c[j-1]) — the spec)
        k_emit = c - clear - 1        # entry index referenced by c[j]
        is_root = c < clear
        safe_k = np.where(is_root, 0, k_emit)
        append_entry = np.where(is_root, c, firstb_entry[safe_k])
        # emitted string length per code
        l_emit = np.where(is_root, 1, len_entry[safe_k])
        ends = np.cumsum(l_emit)
        out = np.empty(int(ends[-1]), dtype=np.uint8)
        pos_w = ends - 1
        cur = c.copy()
        active = np.arange(m, dtype=np.int64)
        while active.size:
            cu = cur[active]
            root = cu < clear
            kk = np.where(root, 0, cu - clear - 1)
            out[pos_w[active]] = np.where(root, cu, append_entry[kk])
            pos_w[active] -= 1
            nxt = active[~root]
            cur[nxt] = prev_c[kk[~root]]
            active = nxt
        out_parts.append(out)

    out_parts: list = []
    pos = 0
    width = min_code + 1
    seg: list[np.ndarray] = []   # this segment's data-code blocks
    n_seg = 0                    # data codes so far in the segment
    CHUNK = 8192
    while True:
        if width < 12:
            table_len = min(clear + 2 + max(0, n_seg - 1), 4096)
            until_bump = (1 << width) - table_len + (1 if n_seg == 0 else 0)
        else:
            until_bump = CHUNK
        n_fit = (total_bits - pos) // width
        n = min(until_bump, n_fit, CHUNK)
        if n <= 0:
            raise ValueError("GIF LZW stream truncated (no EOI)")
        block = extract(pos, width, n)
        ctrl = np.nonzero((block == clear) | (block == eoi))[0]
        prefix = block[:int(ctrl[0])] if ctrl.size else block
        if prefix.size:
            # same per-code validity (and error surface) as the scalar
            # decoder, applied on the prefix BEFORE the control code:
            # code_j <= clear+1+j (== is KwKwK; the segment's first code
            # must be a root — clear/eoi never reach here)
            if n_seg == 0 and int(prefix[0]) >= clear:
                raise ValueError("GIF LZW first code out of range")
            jj = n_seg + np.arange(prefix.size, dtype=np.int64)
            if bool((prefix > clear + 1 + jj).any()):
                raise ValueError(
                    "GIF LZW code beyond table (corrupt stream)")
        if ctrl.size:
            i = int(ctrl[0])
            if i:
                seg.append(prefix)
                n_seg += i
            pos += (i + 1) * width
            if int(block[i]) == eoi:
                decode_segment(seg, out_parts)
                return b"" if not out_parts else \
                    np.concatenate(out_parts).tobytes()
            decode_segment(seg, out_parts)   # CLEAR: flush + reset
            seg, n_seg, width = [], 0, min_code + 1
            continue
        seg.append(block)
        n_seg += n
        pos += n * width
        if width < 12:
            table_len = min(clear + 2 + max(0, n_seg - 1), 4096)
            if table_len == (1 << width):
                width += 1


def encode_gif(pixels) -> bytes:
    """Minimal GIF87a writer for 8-bit single-frame grayscale (h, w)
    arrays: 256-entry grayscale global color table (index i ->
    (i,i,i)), LZW-compressed pixel data in <=255-byte sub-blocks."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim != 2:
        raise ValueError("encode_gif expects a 2-D grayscale array")
    h, w = arr.shape
    out = bytearray(b"GIF87a")
    # logical screen: global color table, 8-bit color res, 256 entries
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
    for i in range(256):                    # grayscale identity palette
        out += bytes((i, i, i))
    out += b"\x2C" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    out.append(8)                           # LZW minimum code size
    lzw = _lzw_encode_gif(arr.reshape(-1).tobytes())
    for i in range(0, len(lzw), 255):
        block = lzw[i:i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3B"                      # block terminator + trailer
    return bytes(out)


def decode_gif(b: bytes) -> dict:
    """Parse + fully decode a single-frame non-interlaced GIF87a/89a:
    header walk, global/local color table, 89a extension-block skip,
    LZW decompression (variable 9-12 bit codes, KwKwK, deferred clear),
    then bulk numpy stats over the palette-mapped levels (level =
    palette red channel; grayscale palettes make that the luminance).
    Truncated structures and corrupt LZW raise ValueError; interlaced
    images raise NotImplementedError."""
    if len(b) < 13 or b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    _sw, _sh, packed, _bg, _aspect = struct.unpack_from("<HHBBB", b, 6)
    pos = 13
    palette = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        if pos + 3 * n > len(b):
            raise ValueError("GIF global color table truncated")
        palette = np.frombuffer(b[pos:pos + 3 * n],
                                dtype=np.uint8).reshape(n, 3)
        pos += 3 * n
    while True:
        if pos >= len(b):
            raise ValueError("GIF truncated before image data")
        block = b[pos]
        pos += 1
        if block == 0x21:                   # 89a extension: label + subblocks
            if pos >= len(b):
                raise ValueError("GIF extension truncated")
            pos += 1
            while True:
                if pos >= len(b):
                    raise ValueError("GIF extension sub-block truncated")
                ln = b[pos]
                pos += 1 + ln
                if ln == 0:
                    break
        elif block == 0x2C:                 # image descriptor
            break
        elif block == 0x3B:
            raise ValueError("GIF trailer before any image")
        else:
            raise ValueError(f"GIF unknown block 0x{block:02x}")
    if pos + 9 > len(b):
        raise ValueError("GIF image descriptor truncated")
    _left, _top, w, h, ipacked = struct.unpack_from("<HHHHB", b, pos)
    pos += 9
    if ipacked & 0x40:
        raise NotImplementedError("interlaced GIF needs a real codec lib")
    if ipacked & 0x80:                      # local color table wins
        n = 2 << (ipacked & 0x07)
        if pos + 3 * n > len(b):
            raise ValueError("GIF local color table truncated")
        palette = np.frombuffer(b[pos:pos + 3 * n],
                                dtype=np.uint8).reshape(n, 3)
        pos += 3 * n
    if palette is None:
        raise ValueError("GIF image has no color table")
    if pos >= len(b):
        raise ValueError("GIF LZW header truncated")
    min_code = b[pos]
    pos += 1
    if not 2 <= min_code <= 8:
        raise ValueError(f"GIF bad LZW minimum code size {min_code}")
    lzw = bytearray()
    while True:
        if pos >= len(b):
            raise ValueError("GIF data sub-block truncated")
        ln = b[pos]
        pos += 1
        if ln == 0:
            break
        if pos + ln > len(b):
            raise ValueError("GIF data sub-block truncated")
        lzw += b[pos:pos + ln]
        pos += ln
    idx = np.frombuffer(_lzw_decode_gif_np(bytes(lzw), min_code),
                        dtype=np.uint8)
    if idx.size != w * h:
        raise ValueError("GIF pixel count mismatch")
    if int(idx.max(initial=0)) >= len(palette):
        raise ValueError("GIF pixel index beyond palette")
    return _image_row("gif", w, h, 1, palette[idx, 0])


# --- Media synthesized from text -------------------------------------------
#
# The testdata holds no media, so the payload stages build it from each
# document's text: one pixel or sample per character, from its codepoint.
# The content is a pure function of the text, which lets the oracles in
# plans/extensions.py recompute the decoded values with no codec at all.

PNG_PAD = 32            # pad byte after the text's pixels
PNG_LAYOUT = (16, 32)   # (base, span): a text image is base + n % span wide
GIF_LAYOUT = (8, 24)
WAV_DC = 80             # sample = (codepoint % 128 - WAV_DC) * 256

PAYLOAD_SCHEMA = _schema(("payload", BinaryType()))


def _codepoints(text: str | None) -> np.ndarray:
    """One uint32 codepoint per character; NULL text reads as ''.
    Codepoints, not UTF-8 bytes: the oracles use ascii(c) per character,
    so a multibyte character must give one pixel or sample. surrogatepass
    keeps a lone surrogate encodable, as ord(c) would."""
    s = "" if text is None else text
    return np.frombuffer(s.encode("utf-32-le", "surrogatepass"), dtype="<u4")


def _text_image(text: str | None, layout: tuple[int, int]) -> np.ndarray:
    """The grayscale image for `text`: codepoint % 256 per character in
    rows of w = base + n % span pixels, h = n // w + 1 rows, padded with
    PNG_PAD so the last row always exists."""
    codes = _codepoints(text)
    n = len(codes)
    base, span = layout
    w = base + n % span
    h = n // w + 1
    px = np.full(w * h, PNG_PAD, dtype=np.uint8)
    px[:n] = codes.astype(np.uint8)
    return px.reshape(h, w)


def with_png_payload(docs: DataFrame) -> DataFrame:
    """`text` -> a PNG `payload` (PNG_LAYOUT image, row filters cycling
    through all five types)."""
    return _row_stage(docs, PAYLOAD_SCHEMA, "text", lambda t: [
        (encode_png(_text_image(t, PNG_LAYOUT)),)])


def with_gif_payload(docs: DataFrame) -> DataFrame:
    """`text` -> a GIF `payload` (GIF_LAYOUT image, palette indices =
    pixel values)."""
    return _row_stage(docs, PAYLOAD_SCHEMA, "text", lambda t: [
        (encode_gif(_text_image(t, GIF_LAYOUT)),)])


def with_wav_payload(docs: DataFrame) -> DataFrame:
    """`text` -> a mono 16-bit PCM WAV `payload`, one sample per
    character. Spaces (32) swing negative and letters (97+) positive, so
    the waveform's zero crossings follow the text; the % 128 fold keeps
    any codepoint int16-safe."""
    def row(t: str | None) -> list[tuple]:
        codes = _codepoints(t).astype(np.int32) & 0x7F
        return [(encode_wav(((codes - WAV_DC) * 256).astype(np.int16)),)]

    return _row_stage(docs, PAYLOAD_SCHEMA, "text", row)


# --- Decode stages -----------------------------------------------------------

ZCR_SCHEMA = _schema(("n_samples", LongType()),
                     ("zero_crossings", LongType()),
                     ("abs_peak", LongType()), ("sumsq", LongType()))


def audio_zcr_features(df: DataFrame) -> DataFrame:
    """Mono 16-bit PCM WAV `payload` -> sample count, zero-crossing count
    (strict sign change: a zero sample breaks no crossing), absolute peak
    and integer energy sum. All-integer outputs, so the oracle is exact;
    an undecodable or multi-channel payload gives -1 counts."""
    def row(p: bytes | None) -> list[tuple]:
        try:
            s, ch, _rate = _pcm16(b"" if p is None else bytes(p))
            if ch != 1:
                raise ValueError("mono WAV only here")
        except _UNDECODABLE:
            return [(-1, -1, -1, -1)]
        s = s.astype(np.int64)
        n = len(s)
        zc = int(np.sum(s[:-1] * s[1:] < 0)) if n > 1 else 0
        peak = int(np.abs(s).max()) if n else 0
        return [(n, zc, peak, int((s * s).sum()))]

    return _row_stage(df, ZCR_SCHEMA, "payload", row)


_DECODERS = ((b"BM", decode_bmp), (b"RIFF", decode_wav),
             (b"\x89PNG\r\n\x1a\n", decode_png), (b"GIF87a", decode_gif),
             (b"GIF89a", decode_gif))
_MEDIA_FIELDS = MEDIA_SCHEMA.fieldNames()[1:]
_AUDIT_ROW = ("unknown",) + (None,) * (len(_MEDIA_FIELDS) - 1)


def decode_media(df: DataFrame) -> DataFrame:
    """Real decode stage: sniff each `payload`'s magic bytes and decode it
    in-executor. A NULL, unrecognized or undecodable payload lands in the
    audit bucket: container='unknown' with null features."""
    def row(p: bytes | None) -> list[tuple]:
        b = b"" if p is None else bytes(p)
        for magic, decode in _DECODERS:
            if b.startswith(magic):
                try:
                    d = decode(b)
                except _UNDECODABLE:
                    break
                return [tuple(d[k] for k in _MEDIA_FIELDS)]
        return [_AUDIT_ROW]

    return _row_stage(df, MEDIA_SCHEMA, "payload", row)
