"""Real-codec tests for the uncompressed-container decoders (late-r6).

BMP (24-bit BI_RGB) and WAV (16-bit PCM) are decodable with stdlib
struct + numpy alone, so for those two the multimodal decode stage is
real, not stubbed: these tests round-trip hand-built media through the
matching encoders and check the decoded stats against independently
computed values, then run the Spark mapInPandas stage over a mixed
frame (image + audio + junk) and assert per-row parity with the plain
Python decoders plus the null-feature audit contract for unknowns.
"""

from __future__ import annotations

import numpy as np
import pytest

from kafka_flink_processing_spark.functions.multimodal import (
    decode_bmp,
    decode_media,
    decode_png,
    decode_wav,
    encode_bmp,
    encode_png,
    encode_wav,
)


def test_bmp_roundtrip_known_pixels():
    # 2x3 image with known bytes; mean/peak computed independently
    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(2, 3, 3), dtype=np.uint8)
    d = decode_bmp(encode_bmp(px))
    assert (d["container"], d["width"], d["height"]) == ("bmp", 3, 2)
    assert d["n_samples"] == 6 and d["channels"] == 3
    assert d["mean_level"] == pytest.approx(px.mean() / 255.0, abs=1e-12)
    assert d["peak_level"] == pytest.approx(px.max() / 255.0, abs=1e-12)


def test_bmp_row_padding_exact():
    # width=3 -> 9-byte raw rows padded to 12; padding must not leak into
    # the stats (a naive full-buffer mean would be dragged toward 0)
    px = np.full((4, 3, 3), 200, dtype=np.uint8)
    d = decode_bmp(encode_bmp(px))
    assert d["mean_level"] == pytest.approx(200 / 255.0, abs=1e-12)
    assert d["peak_level"] == pytest.approx(200 / 255.0, abs=1e-12)


def test_wav_sine_rms():
    # full-scale 1 kHz sine at 8 kHz: RMS -> 1/sqrt(2), peak -> 1
    t = np.arange(8000) / 8000.0
    x = np.round(32767 * np.sin(2 * np.pi * 1000 * t)).astype(np.int16)
    d = decode_wav(encode_wav(x, 8000))
    assert (d["container"], d["sample_rate"], d["channels"]) == ("wav", 8000, 1)
    assert d["n_samples"] == 8000
    assert d["mean_level"] == pytest.approx(1 / np.sqrt(2), rel=1e-3)
    assert d["peak_level"] == pytest.approx(32767 / 32768.0, abs=1e-9)


def test_wav_stereo_interleave():
    # silent left channel, full-scale right: per-sample stats see both
    left = np.zeros(100, dtype=np.int16)
    right = np.full(100, 16384, dtype=np.int16)
    d = decode_wav(encode_wav(np.stack([left, right], axis=1), 44100))
    assert d["channels"] == 2 and d["n_samples"] == 100
    assert d["sample_rate"] == 44100
    # RMS over interleaved samples: sqrt(mean of [0, 0.5^2]) = 0.5/sqrt(2)
    assert d["mean_level"] == pytest.approx(0.5 / np.sqrt(2), abs=1e-12)
    assert d["peak_level"] == pytest.approx(0.5, abs=1e-12)


def test_wav_zero_channels_routes_to_audit_bucket():
    # crafted fmt chunk with channels=0: must raise ValueError (caught by
    # decode_media's audit bucket), never ZeroDivisionError (r7 advice)
    ok = encode_wav(np.full(16, 100, dtype=np.int16), 8000)
    bad = bytearray(ok)
    # fmt chunk payload starts at offset 20; channels is its 2nd uint16
    assert bad[12:16] == b"fmt "
    bad[22:24] = (0).to_bytes(2, "little")
    with pytest.raises(ValueError):
        decode_wav(bytes(bad))


def test_wav_truncated_data_routes_to_audit_bucket():
    # data chunk shorter than its declared size: flag as corrupt rather
    # than silently report fewer samples as a valid row (r7 advice)
    ok = encode_wav(np.full(64, 100, dtype=np.int16), 8000)
    with pytest.raises(ValueError):
        decode_wav(ok[:-10])


def test_wav_misaligned_data_routes_to_audit_bucket():
    # stereo data whose byte length is not a multiple of ch*2
    ok = bytearray(encode_wav(
        np.full((32, 2), 100, dtype=np.int16), 8000))
    # shrink the declared data size by 2 bytes (one int16, half a frame)
    # and drop those bytes, keeping RIFF size consistent
    import struct
    data_sz_off = ok.index(b"data") + 4
    sz = struct.unpack_from("<I", ok, data_sz_off)[0]
    struct.pack_into("<I", ok, data_sz_off, sz - 2)
    struct.pack_into("<I", ok, 4, struct.unpack_from("<I", ok, 4)[0] - 2)
    with pytest.raises(ValueError):
        decode_wav(bytes(ok[:-2]))


def test_png_roundtrip_every_filter_type():
    # forcing each of the five PNG filters must reproduce identical stats
    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, size=(6, 9, 3), dtype=np.uint8)
    for ft in range(5):
        d = decode_png(encode_png(px, filter_mode=ft))
        assert (d["container"], d["width"], d["height"],
                d["channels"]) == ("png", 9, 6, 3)
        assert d["mean_level"] == pytest.approx(px.mean() / 255.0,
                                                abs=1e-12)
        assert d["peak_level"] == pytest.approx(px.max() / 255.0,
                                                abs=1e-12)


def test_png_grayscale_and_rgba():
    rng = np.random.default_rng(12)
    gray = rng.integers(0, 256, size=(5, 7), dtype=np.uint8)
    d = decode_png(encode_png(gray))
    assert d["channels"] == 1 and d["n_samples"] == 35
    assert d["mean_level"] == pytest.approx(gray.mean() / 255.0, abs=1e-12)
    rgba = rng.integers(0, 256, size=(4, 4, 4), dtype=np.uint8)
    d = decode_png(encode_png(rgba))
    assert d["channels"] == 4
    assert d["mean_level"] == pytest.approx(rgba.mean() / 255.0, abs=1e-12)


def test_png_crc_mismatch_routes_to_audit_bucket():
    ok = bytearray(encode_png(np.full((3, 3), 100, dtype=np.uint8)))
    idat = ok.index(b"IDAT")
    ok[idat + 6] ^= 0xFF  # flip a compressed byte, CRC now stale
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(ok))


@pytest.mark.filterwarnings("error::RuntimeWarning")
def test_png_truncated_routes_to_audit_bucket():
    # cut mid-IDAT: either the chunk reads short or IDAT never completes —
    # both must raise ValueError (losing only IEND's tail is harmless by
    # design: the full pixel data is still present and CRC-valid)
    ok = encode_png(np.full((9, 9), 100, dtype=np.uint8))
    with pytest.raises(ValueError):
        decode_png(ok[:len(ok) // 2])
    # a zero-width or zero-height image has no pixels to take stats over:
    # ValueError before numpy's empty-mean warning
    for shape in [(0, 5), (4, 0)]:
        with pytest.raises(ValueError, match="no pixels"):
            decode_png(encode_png(np.zeros(shape, dtype=np.uint8)))


def test_png_exotic_formats_still_gated():
    import struct
    import zlib
    # 16-bit-depth IHDR: honest NotImplementedError, not silent garbage
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
    chunk = (struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
             + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr)))
    idat_payload = zlib.compress(b"\x00" * 18)
    idat = (struct.pack(">I", len(idat_payload)) + b"IDAT" + idat_payload
            + struct.pack(">I", zlib.crc32(b"IDAT" + idat_payload)))
    with pytest.raises(NotImplementedError):
        decode_png(b"\x89PNG\r\n\x1a\n" + chunk + idat)


@pytest.mark.filterwarnings("error::RuntimeWarning")
def test_bmp_crafted_dims_route_to_audit_bucket():
    import struct
    ok = encode_bmp(np.arange(18, dtype=np.uint8).reshape(2, 3, 3))
    for w, h in [(-3, 2), (0, 2), (3, 0)]:   # no pixels: not a valid row
        bad = bytearray(ok)
        struct.pack_into("<ii", bad, 18, w, h)
        with pytest.raises(ValueError, match="no pixels"):
            decode_bmp(bytes(bad))
    # dims whose pixel array outgrows the payload (and a C ssize_t)
    bad = bytearray(ok)
    struct.pack_into("<ii", bad, 18, 2**31 - 1, 2**31 - 1)
    with pytest.raises(ValueError, match="truncated"):
        decode_bmp(bytes(bad))


def test_compressed_formats_still_gated():
    with pytest.raises(NotImplementedError):
        # 8-bit palette BMP header: honest boundary, not silent garbage
        import struct
        hdr = (struct.pack("<2sIHHI", b"BM", 100, 0, 0, 54)
               + struct.pack("<IiiHHIIiiII", 40, 4, 4, 1, 8, 0, 16,
                             2835, 2835, 0, 0))
        decode_bmp(hdr + b"\x00" * 64)


def non_pcm_wav() -> bytes:
    """A well-formed WAV whose fmt chunk says IEEE float (audio_fmt=3):
    valid RIFF, unsupported sample format."""
    bad = bytearray(encode_wav(np.full(8, 100, dtype=np.int16)))
    assert bad[12:16] == b"fmt "
    bad[20:22] = (3).to_bytes(2, "little")
    return bytes(bad)


def test_decode_media_mixed_frame(spark):
    import struct
    px = np.arange(27, dtype=np.uint8).reshape(3, 3, 3)
    wav = encode_wav(np.full(64, 8192, dtype=np.int16), 16000)
    png_px = np.arange(64, dtype=np.uint8).reshape(8, 8)
    huge_bmp = bytearray(encode_bmp(px))
    struct.pack_into("<ii", huge_bmp, 18, 2**31 - 1, 2**31 - 1)
    rows = [(1, bytearray(encode_bmp(px))),
            (2, bytearray(wav)),
            (3, bytearray(b"\xff\xd8\xff\xe0 not decodable here")),
            (4, None),  # NULL payload must audit-bucket, not crash (r6 rev)
            (5, bytearray(encode_png(png_px))),
            (6, bytearray(non_pcm_wav())),
            (7, huge_bmp)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r.asDict()
           for r in decode_media(df.repartition(3)).collect()}
    assert out[5]["container"] == "png"
    assert (out[5]["width"], out[5]["height"], out[5]["channels"]) == (8, 8, 1)
    assert out[5]["mean_level"] == pytest.approx(
        png_px.mean() / 255.0, abs=1e-12)
    assert out[1]["container"] == "bmp"
    assert (out[1]["width"], out[1]["height"]) == (3, 3)
    assert out[1]["mean_level"] == pytest.approx(13.0 / 255.0, abs=1e-12)
    assert out[2]["container"] == "wav"
    assert out[2]["sample_rate"] == 16000
    assert out[2]["mean_level"] == pytest.approx(8192 / 32768.0, abs=1e-12)
    # junk and NULL payloads land in the audit bucket with null features,
    # the job survives
    for bad in (3, 4, 6, 7):
        assert out[bad]["container"] == "unknown"
        assert out[bad]["mean_level"] is None and out[bad]["width"] is None


# --- property tests: the encoders/decoders are exact inverses on stats ----

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st
    HAVE_HYP = True
except ImportError:  # pragma: no cover
    HAVE_HYP = False

if HAVE_HYP:
    @settings(max_examples=40, deadline=None)
    @given(w=st.integers(1, 17), h=st.integers(1, 9),
           seed=st.integers(0, 2**31 - 1))
    def test_bmp_stats_exact_any_dims(w, h, seed):
        # every width exercises a different row-padding residue (w*3 mod 4)
        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        d = decode_bmp(encode_bmp(px))
        assert (d["width"], d["height"], d["n_samples"]) == (w, h, w * h)
        assert d["mean_level"] == pytest.approx(px.mean() / 255.0, abs=1e-12)
        assert d["peak_level"] == pytest.approx(px.max() / 255.0, abs=1e-12)

    @settings(max_examples=40, deadline=None)
    @given(n=st.integers(1, 500), ch=st.integers(1, 2),
           rate=st.sampled_from([8000, 16000, 44100]),
           seed=st.integers(0, 2**31 - 1))
    def test_wav_stats_exact_any_shape(n, ch, rate, seed):
        rng = np.random.default_rng(seed)
        x = rng.integers(-32768, 32768, size=(n, ch), dtype=np.int16)
        d = decode_wav(encode_wav(x, rate))
        assert (d["channels"], d["sample_rate"], d["n_samples"]) == (ch, rate, n)
        xf = x.astype(np.float64) / 32768.0
        assert d["mean_level"] == pytest.approx(
            float(np.sqrt((xf * xf).mean())), abs=1e-12)
        assert d["peak_level"] == pytest.approx(
            float(np.abs(xf).max()), abs=1e-12)

    @settings(max_examples=40, deadline=None)
    @given(w=st.integers(1, 17), h=st.integers(1, 11),
           ch=st.sampled_from([1, 3, 4]), seed=st.integers(0, 2**31 - 1))
    def test_png_stats_exact_any_dims(w, h, ch, seed):
        # h up to 11 guarantees the cycling filter hits all 5 types when
        # h >= 5; every (w, ch) pair exercises a different left-pixel
        # offset in the Sub/Average/Paeth reconstructions
        rng = np.random.default_rng(seed)
        shape = (h, w) if ch == 1 else (h, w, ch)
        px = rng.integers(0, 256, size=shape, dtype=np.uint8)
        d = decode_png(encode_png(px))
        assert (d["width"], d["height"], d["channels"]) == (w, h, ch)
        assert d["n_samples"] == w * h
        assert d["mean_level"] == pytest.approx(px.mean() / 255.0,
                                                abs=1e-12)
        assert d["peak_level"] == pytest.approx(px.max() / 255.0,
                                                abs=1e-12)


# ---------------------------------------------------------------------------
# GIF (LZW) — second compressed codec un-gated (r8)
# ---------------------------------------------------------------------------

def _gif_imports():
    from kafka_flink_processing_spark.functions.multimodal import (
        _lzw_decode_gif,
        _lzw_encode_gif,
        decode_gif,
        encode_gif,
    )
    return _lzw_encode_gif, _lzw_decode_gif, encode_gif, decode_gif


def test_gif_lzw_roundtrip_across_width_boundaries():
    enc, dec, _, _ = _gif_imports()
    rng = np.random.default_rng(11)
    # random data at sizes that cross the 9->10->11->12-bit width
    # changes and (at 100k) multiple 4096-entry table resets
    for n in [0, 1, 7, 300, 1000, 5000, 100_000]:
        data = rng.integers(0, 256, n, dtype=np.uint8).tobytes()
        assert dec(enc(data)) == data
    # compressible patterns force deep dictionary chains and the KwKwK
    # (code == next_code) special case
    for pat in [b"a" * 10_000, b"ab" * 5_000, bytes(range(256)) * 64,
                b"aaabbbaaabbb" * 500]:
        assert dec(enc(pat)) == pat


def gif_width_bump_witness() -> bytes:
    """A payload that FAILS decode on the pre-fix encoder (verified) and
    round-trips on the fixed one: random.Random(0)'s first 4215 bytes.
    Found by exhaustive per-length scan with an instrumented encoder —
    the failing condition is final-segment table size EXACTLY 2^w AND
    (bitpos + width) % 8 == 0 (byte-aligned EOI), a ~1-in-8000
    conjunction on random multi-segment payloads, so plain random
    sweeps do NOT pin it. Shared with tools/oracle_fuzz.py's
    media_binary corpus."""
    import random as _random

    return bytes(_random.Random(0).randrange(256) for _ in range(4215))


def test_gif_lzw_final_code_width_bump_regression():
    """r9 advisor fix: when the FINAL data code is the one whose table
    entry count reaches 2^width, the decoder (which appends an entry per
    code read) bumps to width+1 before reading EOI — the encoder's
    out-of-loop emit creates no entry, so it must mirror the bump
    explicitly or the EOI width diverges and the decoder raises
    'GIF LZW stream truncated' on the encoder's own valid output."""
    enc, dec, _, _ = _gif_imports()
    witness = gif_width_bump_witness()
    assert dec(enc(witness)) == witness
    # broad multi-segment sweep (blanket coverage; these lengths alone
    # do NOT hit the boundary conjunction — the witness above does)
    rng = np.random.default_rng(0)
    for n in [4206, 8664, 13664]:
        data = rng.integers(0, 256, n, dtype=np.uint8).tobytes()
        assert dec(enc(data)) == data


def test_gif_lzw_corrupt_stream_raises():
    enc, dec, _, _ = _gif_imports()
    good = enc(b"hello world, hello world")
    with pytest.raises(ValueError):   # chopped mid-stream: no EOI
        dec(good[: len(good) // 2])
    # a code far beyond the table: 12 bits of 1s right after the clear
    import struct
    bad = struct.pack("<I", (0x100) | (0xFFF << 9))[:3]
    with pytest.raises(ValueError):
        dec(bad)


def test_gif_lzw_numpy_decoder_matches_scalar_bit_for_bit():
    """r13 (guide §4.2): decode_gif now runs the VECTORIZED LZW decoder
    (_lzw_decode_gif_np — batch code extraction, array-form table,
    backward-walk output fill). The scalar decoder stays as the
    executable spec; this differential pins output equality AND error
    surface across the regimes that exercise every code path: width
    bumps, multi-segment clears, deferred-clear streams, KwKwK chains,
    the width-bump witness, truncations and corrupt codes."""
    from kafka_flink_processing_spark.functions.multimodal import (
        _lzw_decode_gif,
        _lzw_decode_gif_np,
        _lzw_encode_gif,
    )
    rng = np.random.default_rng(13)
    payloads = [
        b"", b"x", b"ab" * 5_000, b"a" * 10_000, bytes(range(256)) * 64,
        b"aaabbbaaabbb" * 500, gif_width_bump_witness(),
        rng.integers(0, 256, 100_000, dtype=np.uint8).tobytes(),
    ]
    for data in payloads:
        stream = _lzw_encode_gif(data)
        assert _lzw_decode_gif_np(stream) == _lzw_decode_gif(stream) == data
    # min_code variants (GIF allows 2..8)
    for mc in (2, 5, 8):
        data = rng.integers(0, 1 << mc, 5_000, dtype=np.uint8).tobytes()
        stream = _lzw_encode_gif(data, mc)
        assert (_lzw_decode_gif_np(stream, mc)
                == _lzw_decode_gif(stream, mc) == data)
    # error surface: truncations and random corruption must raise the
    # SAME ValueError message (or produce the same bytes) as the scalar
    import random as _random
    prng = _random.Random(99)
    for data in payloads[2:6]:
        stream = bytearray(_lzw_encode_gif(data))
        variants = [bytes(stream[:1]), bytes(stream[:len(stream) // 2]),
                    bytes(stream[:-1])]
        for _ in range(10):
            s = bytearray(stream)
            for _ in range(4):
                s[prng.randrange(len(s))] = prng.randrange(256)
            variants.append(bytes(s))
        for s in variants:
            try:
                want: object = ("ok", _lzw_decode_gif(s))
            except ValueError as e:
                want = str(e)
            try:
                got: object = ("ok", _lzw_decode_gif_np(s))
            except ValueError as e:
                got = str(e)
            assert got == want


def test_gif_roundtrip_stats_exact():
    _, _, enc, dec = _gif_imports()
    rng = np.random.default_rng(3)
    for h, w in [(1, 1), (3, 5), (17, 23), (64, 64)]:
        px = rng.integers(0, 256, (h, w), dtype=np.uint8)
        d = dec(enc(px))
        assert (d["container"], d["width"], d["height"],
                d["channels"]) == ("gif", w, h, 1)
        assert d["n_samples"] == w * h
        assert d["mean_level"] == pytest.approx(px.mean() / 255.0,
                                                abs=1e-12)
        assert d["peak_level"] == px.max() / 255.0


@pytest.mark.filterwarnings("error::RuntimeWarning")
def test_gif_crafted_payloads_route_to_audit_bucket():
    _, _, enc, dec = _gif_imports()
    good = enc(np.arange(64, dtype=np.uint8).reshape(8, 8))
    for bad in [
        good[:10],                       # truncated screen descriptor
        good[:20],                       # truncated color table
        good[:-3],                       # truncated data sub-block chain
        b"GIF87a" + b"\x00" * 7,         # no color table, no image
        good[:10] + b"\x00" + good[11:],  # clear GCT flag: palette bytes
                                          # then misparse as blocks
        enc(np.zeros((0, 5), dtype=np.uint8)),   # no pixels
        enc(np.zeros((4, 0), dtype=np.uint8)),
    ]:
        with pytest.raises(ValueError):
            dec(bad)
    # interlace flag: honest NotImplementedError gate
    import struct
    pos = 13 + 768                       # header + GCT -> image descriptor
    desc = bytearray(good)
    assert desc[pos] == 0x2C
    desc[pos + 9] |= 0x40                # set interlace bit
    with pytest.raises(NotImplementedError):
        dec(bytes(desc))


def test_gif_89a_extension_blocks_skipped():
    _, _, enc, dec = _gif_imports()
    good = enc(np.full((4, 4), 100, dtype=np.uint8))
    # splice a graphic-control extension between GCT and image descriptor
    pos = 13 + 768
    ext = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    spliced = b"GIF89a" + good[6:pos] + ext + good[pos:]
    d = dec(spliced)
    assert d["mean_level"] == pytest.approx(100 / 255.0, abs=1e-12)


if HAVE_HYP:
    @settings(max_examples=40, deadline=None)
    @given(w=st.integers(1, 40), h=st.integers(1, 20),
           seed=st.integers(0, 2**31 - 1))
    def test_gif_stats_exact_any_dims(w, h, seed):
        _, _, enc, dec = _gif_imports()
        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, (h, w), dtype=np.uint8)
        d = dec(enc(px))
        assert (d["width"], d["height"]) == (w, h)
        assert d["mean_level"] == pytest.approx(px.mean() / 255.0,
                                                abs=1e-12)
        assert d["peak_level"] == px.max() / 255.0


# ---------------------------------------------------------------------------
# WAV zero-crossing feature path (r8)
# ---------------------------------------------------------------------------

def test_audio_zcr_features_match_numpy_reference(spark):
    from kafka_flink_processing_spark.functions.multimodal import (
        audio_zcr_features,
        encode_wav,
    )
    rng = np.random.default_rng(5)
    payloads = []
    want = []
    for i, n in enumerate([0, 1, 2, 64, 500]):
        s = rng.integers(-12288, 12288, n).astype(np.int16)
        payloads.append((i, bytearray(encode_wav(s))))
        s64 = s.astype(np.int64)
        want.append((i, n,
                     int(np.sum(s64[:-1] * s64[1:] < 0)) if n > 1 else 0,
                     int(np.abs(s64).max()) if n else 0,
                     int((s64 * s64).sum())))
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    got = sorted(tuple(r) for r in audio_zcr_features(df).collect())
    assert got == sorted(want)


def test_audio_zcr_corrupt_payloads_route_to_audit_bucket(spark):
    from kafka_flink_processing_spark.functions.multimodal import (
        audio_zcr_features,
        encode_wav,
    )
    good = encode_wav(np.array([100, -100, 50], dtype=np.int16))
    stereo = encode_wav(np.array([[1, 2], [3, 4]], dtype=np.int16))
    rows = [(0, bytearray(good[:10])),       # truncated header
            (1, bytearray(good[:-1])),       # truncated data chunk
            (2, bytearray(b"junk")),         # not RIFF
            (3, None),                       # NULL payload
            (4, bytearray(stereo)),          # stereo: mono-only path
            (5, bytearray(non_pcm_wav()))]   # NotImplementedError path
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r.n_samples for r in audio_zcr_features(df).collect()}
    assert got == {0: -1, 1: -1, 2: -1, 3: -1, 4: -1, 5: -1}


@pytest.mark.parametrize("stage, want", [
    ("decode_features",
     (7, "application/octet-stream", None, None, None, None, None)),
    ("resize_features", (7, 64, 64, None, None, None, None)),
    ("sample_frames", (7, 0, 0, None, None)),
])
def test_stand_in_stages_null_payload_row(spark, stage, want):
    from kafka_flink_processing_spark.functions import multimodal
    df = spark.createDataFrame([(7, None)], "doc_id long, payload binary")
    assert [tuple(r) for r in getattr(multimodal, stage)(df).collect()] \
        == [want]


def test_audio_zcr_zero_sample_breaks_no_crossing(spark):
    from kafka_flink_processing_spark.functions.multimodal import (
        audio_zcr_features,
        encode_wav,
    )
    # +,0,- is NOT a strict sign change at either product; +,- is one
    s = np.array([500, 0, -500, 500], dtype=np.int16)
    df = spark.createDataFrame([(0, bytearray(encode_wav(s)))],
                               "doc_id long, payload binary")
    row = audio_zcr_features(df).collect()[0]
    assert row.zero_crossings == 1  # only the -500 -> 500 flip


def test_audio_zcr_empty_and_null_text_parity(spark, tmp_path):
    """The r8 review's latent-divergence finding: '' and NULL text must
    produce the same (0, 0, 0, 0) feature row through the REAL WAV
    round-trip (Spark) and the text-derived oracle (DuckDB)."""
    import duckdb

    from kafka_flink_processing_spark.functions.multimodal import (
        audio_zcr_features,
        with_wav_payload,
    )
    from kafka_flink_processing_spark.plans.registry import (
        QUERIES,
        _ensure_loaded,
    )

    docs = spark.createDataFrame(
        [(0, ""), (1, None), (2, "ab"), (3, "z a")],
        "doc_id long, text string")
    got = sorted(tuple(r) for r in
                 audio_zcr_features(with_wav_payload(docs)).collect())
    docs.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    _ensure_loaded()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{tmp_path}/documents.parquet/*.parquet'")
    want = sorted(tuple(r) for r in con.execute(
        QUERIES["audio_zcr_features"].oracle).fetchall())
    assert got == want
    assert got[0] == (0, 0, 0, 0, 0) and got[1] == (1, 0, 0, 0, 0)


def test_png_gif_nonascii_and_empty_text_parity(spark, tmp_path):
    """PNG/GIF payload stages must agree with their oracles on ANY text,
    not just the ASCII corpus: per-CHAR codepoints folded % 256 (utf-8
    BYTES would change the pixel count on multibyte chars — the same
    latent class as the r8 WAV finding)."""
    import duckdb

    from kafka_flink_processing_spark.functions.multimodal import (
        decode_media,
        with_gif_payload,
        with_png_payload,
    )
    from kafka_flink_processing_spark.plans.registry import (
        QUERIES,
        _ensure_loaded,
    )

    docs = spark.createDataFrame(
        [(0, ""), (1, None), (2, "héllo wörld"), (3, "日本語テキスト"),
         (4, "plain ascii"), (5, "mixed ascii + ünïcode")],
        "doc_id long, text string")
    docs.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    _ensure_loaded()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{tmp_path}/documents.parquet/*.parquet'")
    for name, stage in (("multimodal_png_decode", with_png_payload),
                        ("multimodal_gif_decode", with_gif_payload)):
        got = sorted(tuple(r) for r in decode_media(stage(docs)).collect())
        want = sorted(tuple(r) for r in
                      con.execute(QUERIES[name].oracle).fetchall())
        assert got == want, name
        assert all(r[1] in ("png", "gif") for r in got), name  # all decode
