"""PNG and WAV codecs (functions/png.py, functions/audio.py):
encoder/decoder round trips — exact, since both formats are lossless —
plus envelope errors and the multimodal dispatch."""

from __future__ import annotations

import numpy as np
import pytest

from parallel_inverted_index_map_reduce_spark.functions import audio as A
from parallel_inverted_index_map_reduce_spark.functions import png as P

RNG = np.random.RandomState(11)


@pytest.mark.parametrize("ch", [1, 2, 3, 4])
@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_png_roundtrip_exact_all_filters(ch, ftype):
    img = RNG.randint(0, 256, (13, 9, ch), dtype=np.uint8)
    dec = P.decode_png(P.encode_png(img, filter_type=ftype))
    assert (dec["width"], dec["height"], dec["channels"]) == (9, 13, ch)
    np.testing.assert_array_equal(dec["pixels"], img)
    assert dec["pixel_sum"] == int(img.astype(np.int64).sum())


def test_png_grayscale_2d_input():
    img = RNG.randint(0, 256, (8, 8), dtype=np.uint8)
    dec = P.decode_png(P.encode_png(img))
    np.testing.assert_array_equal(dec["pixels"][:, :, 0], img)


def test_png_envelope_errors():
    with pytest.raises(ValueError, match="signature"):
        P.decode_png(b"\xff\xd8 not a png")
    # color type 3 without a PLTE chunk is malformed, not unsupported
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    chunk = (
        struct.pack(">I", len(ihdr))
        + b"IHDR"
        + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    )
    with pytest.raises(ValueError, match="PLTE"):
        P.decode_png(b"\x89PNG\r\n\x1a\n" + chunk)


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_palette_png_roundtrip_exact(ftype):
    """PLTE-indexed color (the most common real-corpus PNG variant):
    indices survive every unfilter and expand through the palette to
    the exact RGB plane."""
    palette = RNG.randint(0, 256, (37, 3), dtype=np.uint8)
    idx = RNG.randint(0, 37, (11, 7)).astype(np.uint8)
    dec = P.decode_png(P.encode_palette_png(idx, palette, filter_type=ftype))
    assert (dec["width"], dec["height"], dec["channels"]) == (7, 11, 3)
    np.testing.assert_array_equal(dec["pixels"], palette[idx])
    assert dec["pixel_sum"] == int(palette[idx].astype(np.int64).sum())


def test_palette_png_errors():
    palette = np.zeros((4, 3), dtype=np.uint8)
    idx = np.full((3, 3), 9, dtype=np.uint8)  # index beyond the palette
    with pytest.raises(ValueError, match="out of range"):
        P.encode_palette_png(idx, palette)
    # a hand-corrupted stream with an out-of-range index must fail
    # loudly at decode too, never wrap around
    ok = P.encode_palette_png(np.zeros((2, 2), dtype=np.uint8), palette)
    import struct
    import zlib as zl

    raw = b"\x00\x09\x09" + b"\x00\x09\x09"  # filter 0, indices 9
    idat = zl.compress(raw)
    sig, rest = ok[:8], ok[8:]
    out, pos = sig, 0
    while pos < len(rest):
        (length,) = struct.unpack(">I", rest[pos : pos + 4])
        ctype = rest[pos + 4 : pos + 8]
        body = rest[pos + 8 : pos + 8 + length]
        if ctype == b"IDAT":
            body = idat
        out += (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zl.crc32(ctype + body) & 0xFFFFFFFF)
        )
        pos += 12 + length
    with pytest.raises(ValueError, match="out of range"):
        P.decode_png(out)
    # a hand-inserted tRNS alpha table turns the decode RGBA: every
    # pixel indexes entry 0, whose alpha the 1-byte table sets to 0
    dec = P.decode_png(
        ok[:8]
        + ok[8:33]  # IHDR chunk (25 bytes)
        + struct.pack(">I", 1)
        + b"tRNS\x00"
        + struct.pack(">I", zl.crc32(b"tRNS\x00") & 0xFFFFFFFF)
        + ok[33:]
    )
    assert dec["channels"] == 4
    np.testing.assert_array_equal(
        dec["pixels"][:, :, 3], np.zeros((2, 2), dtype=np.uint8)
    )


def test_interlaced_png_roundtrip_all_filters():
    """Adam7: every pass is its own filtered sub-image; shapes below
    exercise empty passes (dims < the pass origins) and ragged pass
    widths. Round trip must be exact for every fixed filter type."""
    for h, w, ch in [(1, 1, 3), (3, 2, 2), (7, 5, 3), (8, 8, 1), (9, 10, 4)]:
        px = (
            (np.arange(h * w * ch) * 31 + 7) % 256
        ).astype(np.uint8).reshape(h, w, ch)
        for ft in range(5):
            d = P.decode_png(P.encode_png(px, filter_type=ft, interlace=True))
            assert (d["width"], d["height"], d["channels"]) == (w, h, ch)
            np.testing.assert_array_equal(d["pixels"], px), (h, w, ch, ft)


def test_interlaced_palette_png_roundtrip():
    palette = ((np.arange(18) * 41 + 3) % 256).astype(np.uint8).reshape(6, 3)
    idx = ((np.arange(11 * 9) * 5) % 6).astype(np.uint8).reshape(11, 9)
    d = P.decode_png(
        P.encode_palette_png(idx, palette, filter_type=4, interlace=True)
    )
    assert (d["width"], d["height"], d["channels"]) == (9, 11, 3)
    np.testing.assert_array_equal(d["pixels"], palette[idx])


def test_trns_palette_alpha_table_pads_opaque():
    palette = ((np.arange(12) * 17) % 256).astype(np.uint8).reshape(4, 3)
    idx = (np.arange(6 * 5) % 4).astype(np.uint8).reshape(6, 5)
    # table shorter than the palette: entries 2/3 default to opaque
    d = P.decode_png(P.encode_palette_png(idx, palette, trns=[10, 200]))
    assert d["channels"] == 4
    np.testing.assert_array_equal(d["pixels"][:, :, :3], palette[idx])
    want_alpha = np.array([10, 200, 255, 255], dtype=np.uint8)[idx]
    np.testing.assert_array_equal(d["pixels"][:, :, 3], want_alpha)
    with pytest.raises(ValueError, match="palette-length"):
        P.encode_palette_png(idx, palette, trns=[0] * 5)


def test_trns_color_key_gray_and_rgb():
    gray = (np.arange(4 * 4) % 7 * 30).astype(np.uint8).reshape(4, 4)
    d = P.decode_png(P.encode_png(gray, trns_color=60))
    assert d["channels"] == 2
    np.testing.assert_array_equal(
        d["pixels"][:, :, 1], np.where(gray == 60, 0, 255).astype(np.uint8)
    )
    rgb = ((np.arange(3 * 5 * 3) * 11) % 256).astype(np.uint8).reshape(3, 5, 3)
    rgb[1, 2] = (9, 8, 7)
    rgb[2, 4] = (9, 8, 7)
    d = P.decode_png(P.encode_png(rgb, filter_type=2, trns_color=(9, 8, 7)))
    assert d["channels"] == 4
    keyed = np.all(rgb == np.array([9, 8, 7]), axis=2)
    assert keyed.sum() == 2
    np.testing.assert_array_equal(
        d["pixels"][:, :, 3], np.where(keyed, 0, 255).astype(np.uint8)
    )
    # color-key on an image WITH an alpha channel is a spec violation
    with pytest.raises(ValueError, match="invalid"):
        P.encode_png(np.zeros((2, 2, 4), dtype=np.uint8), trns_color=(1, 2, 3))


def test_wav_8bit_mono_roundtrip():
    s = (np.arange(256) * 37 % 256).astype(np.uint8)
    d = A.decode_wav(A.encode_wav(s, 8000, bits=8))
    assert d["n_samples"] == 256
    assert d["n_channels"] == 1
    assert d["sample_rate"] == 8000
    assert d["bits_per_sample"] == 8
    assert d["sample_sum"] == int(s.astype(np.int64).sum())
    assert d["duration_ms"] == 256 * 1000 // 8000
    np.testing.assert_array_equal(d["samples"][:, 0], s)


def test_wav_16bit_stereo_roundtrip():
    s = RNG.randint(-32768, 32768, (100, 2)).astype(np.int64)
    d = A.decode_wav(A.encode_wav(s, 44100, bits=16))
    assert (d["n_samples"], d["n_channels"], d["bits_per_sample"]) == (100, 2, 16)
    np.testing.assert_array_equal(d["samples"], s)


def test_wav_envelope_errors():
    with pytest.raises(ValueError, match="RIFF"):
        A.decode_wav(b"OggS compressed audio")
    # compressed format id in a hand-built fmt chunk
    import struct

    fmt = struct.pack("<HHIIHH", 85, 1, 8000, 8000, 1, 8)  # 85 = MP3
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    with pytest.raises(NotImplementedError, match="compressed"):
        A.decode_wav(payload)


def _wav_with_fmt(fmt: bytes, data: bytes = b"\x00" * 8) -> bytes:
    import struct

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


def test_wav_malformed_fmt_raises_value_error():
    """A hostile fmt chunk must hit the codec's ValueError contract,
    never a ZeroDivisionError / struct.error from the sample math."""
    import struct

    # block-align 0
    zero_block = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 0, 8)
    with pytest.raises(ValueError, match="block align"):
        A.decode_wav(_wav_with_fmt(zero_block))
    # block-align inconsistent with channels*bits
    bad_block = struct.pack("<HHIIHH", 1, 2, 8000, 8000, 1, 16)
    with pytest.raises(ValueError, match="block align"):
        A.decode_wav(_wav_with_fmt(bad_block))
    # short fmt body
    with pytest.raises(ValueError, match="too short"):
        A.decode_wav(_wav_with_fmt(b"\x01\x00\x01\x00"))


def test_g711_tables_involution():
    # decode -> encode is the identity on codes, modulo the standard
    # +/-0 degeneracy: mu-law negative zero (127) re-encodes as 255
    codes = np.arange(256)
    back_u = A.linear_to_ulaw(A.ULAW_TABLE[codes])
    exp_u = codes.copy()
    exp_u[127] = 255
    np.testing.assert_array_equal(back_u, exp_u.astype(np.uint8))
    back_a = A.linear_to_alaw(A.ALAW_TABLE[codes])
    np.testing.assert_array_equal(back_a, codes.astype(np.uint8))


@pytest.mark.parametrize("law", ["ulaw", "alaw"])
def test_g711_wav_roundtrip_codes_exact(law):
    codes = ((np.arange(300) * 11 + 5) % 256).astype(np.uint8)
    d = A.decode_wav(A.encode_g711_wav(codes, 8000, law=law))
    assert d["codec"] == law
    assert (d["n_samples"], d["n_channels"], d["bits_per_sample"]) == (300, 1, 8)
    table = A.ULAW_TABLE if law == "ulaw" else A.ALAW_TABLE
    np.testing.assert_array_equal(d["samples"][:, 0], table[codes.astype(np.int64)])


@pytest.mark.parametrize("law,to_codes", [("ulaw", "linear_to_ulaw"), ("alaw", "linear_to_alaw")])
def test_g711_compress_expand_roundtrip_within_quantization(law, to_codes):
    # linear -> codes -> linear must land within one quantization step
    lin = RNG.randint(-30000, 30000, 500).astype(np.int64)
    codes = getattr(A, to_codes)(lin)
    d = A.decode_wav(A.encode_g711_wav(codes, 8000, law=law))
    back = d["samples"][:, 0]
    # G.711 segments are logarithmic: error bound is half the segment step
    err = np.abs(back - lin)
    seg_step = np.maximum(np.abs(lin) // 16, 16) * 2
    assert (err <= seg_step).all()


@pytest.mark.parametrize("n_frames", [505, 3000, 1, 17, 504, 506])
def test_ima_adpcm_roundtrip_frame_exact(n_frames):
    # fact chunk: decode returns EXACTLY the encoded frame count even
    # when the tail block is padded (3000 = 5*505 + 475 tail)
    t = np.arange(n_frames, dtype=np.float64)
    s = (3000 * np.sin(t / 9.0)).astype(np.int64)
    d = A.decode_wav(A.encode_ima_adpcm_wav(s, 8000))
    assert d["codec"] == "ima_adpcm"
    assert d["n_samples"] == n_frames
    # ADPCM is lossy but tracks a smooth signal closely; block headers
    # carry exact first samples so error stays bounded by the step size
    err = np.abs(d["samples"][:, 0] - s)
    assert err.max() <= 2048
    # first sample of every block is stored verbatim in the header
    assert d["samples"][0, 0] == s[0]


def test_ima_adpcm_stereo_roundtrip_frame_exact():
    n = 777
    t = np.arange(n, dtype=np.float64)
    s = np.stack(
        [(2000 * np.sin(t / 7.0)).astype(np.int64),
         (1500 * np.cos(t / 11.0)).astype(np.int64)], axis=1
    )
    d = A.decode_wav(A.encode_ima_adpcm_wav(s, 16000))
    assert (d["n_samples"], d["n_channels"]) == (n, 2)
    assert np.abs(d["samples"] - s).max() <= 2048
    np.testing.assert_array_equal(d["samples"][0], s[0])
