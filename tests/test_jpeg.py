"""Baseline JPEG codec (functions/jpeg.py): encoder/decoder round
trips prove the decoder correct without external codecs or fixture
files, plus the Spark-side Arrow decode path over a JPEG payload
column.

Round-trip error model: with all-ones quantization tables the only
loss is the float DCT/IDCT round trip plus per-coefficient rounding —
bounded within a couple of gray levels; with the spec's example tables
the output is lossy but must stay a plausible image (bounded mean
error on smooth content).
"""

from __future__ import annotations

import numpy as np
import pytest

from parallel_inverted_index_map_reduce_spark.functions import jpeg as J

ONES = np.ones(64, dtype=np.int64)
RNG = np.random.RandomState(42)


def _roundtrip(img, **kw):
    dec = J.decode_baseline_jpeg(J.encode_baseline_jpeg(img, **kw))
    got = dec["pixels"]
    if img.ndim == 2:
        got = got[:, :, 0]
    return dec, got


def test_flat_gray_is_exact():
    img = np.full((16, 24), 100, dtype=np.uint8)
    dec, got = _roundtrip(img, quant_luma=ONES)
    assert (dec["width"], dec["height"], dec["channels"]) == (24, 16, 1)
    assert dec["maxval"] == 255
    np.testing.assert_array_equal(got, img)
    assert dec["pixel_sum"] == 100 * 16 * 24
    assert dec["n_pixel_bytes"] == 16 * 24


def test_random_gray_roundtrip_tight():
    img = RNG.randint(0, 256, (24, 17), dtype=np.uint8)
    _, got = _roundtrip(img, quant_luma=ONES)
    assert np.abs(got.astype(int) - img.astype(int)).max() <= 2


def test_random_rgb_444_roundtrip_tight():
    img = RNG.randint(0, 256, (19, 21, 3), dtype=np.uint8)
    dec, got = _roundtrip(img, quant_luma=ONES, quant_chroma=ONES)
    assert dec["channels"] == 3
    # color conversion adds one more float round trip on top of the DCT
    assert np.abs(got.astype(int) - img.astype(int)).max() <= 3


def test_rgb_420_subsampling_on_smooth_content():
    xx, yy = np.meshgrid(np.arange(32), np.arange(24))
    img = np.stack(
        [(xx * 3) % 256, (yy * 5) % 256, ((xx + yy) * 2) % 256], axis=2
    ).astype(np.uint8)
    dec, got = _roundtrip(
        img, subsampling="420", quant_luma=ONES, quant_chroma=ONES
    )
    assert got.shape == img.shape
    # chroma is 2x2-averaged: smooth gradients survive within a few levels
    assert np.abs(got.astype(int) - img.astype(int)).mean() < 3.0


def test_non_multiple_of_mcu_dimensions():
    """Edge-padding blocks must crop back to the exact frame size."""
    img = RNG.randint(0, 256, (13, 11, 3), dtype=np.uint8)
    dec, got = _roundtrip(
        img, subsampling="420", quant_luma=ONES, quant_chroma=ONES
    )
    assert (dec["height"], dec["width"]) == (13, 11)
    assert got.shape == (13, 11, 3)


def test_restart_markers_roundtrip():
    """DRI + RSTn: predictors reset per interval; decode must resync."""
    img = RNG.randint(0, 256, (24, 40), dtype=np.uint8)
    dec = J.decode_baseline_jpeg(
        J.encode_baseline_jpeg(img, quant_luma=ONES, restart_interval=2)
    )
    assert np.abs(
        dec["pixels"][:, :, 0].astype(int) - img.astype(int)
    ).max() <= 2


def test_default_tables_are_lossy_but_sane():
    xx, yy = np.meshgrid(np.arange(16), np.arange(16))
    img = ((xx * 8 + yy * 8) % 256).astype(np.uint8)
    _, got = _roundtrip(img)
    assert np.abs(got.astype(int) - img.astype(int)).mean() < 16.0


def test_default_quant_tables_are_zigzag_order():
    """The shipped K.1 tables must be in ZIGZAG order (the codec's one
    quant-table convention: DQT bytes, encoder divide, decoder multiply
    all index in zigzag) — un-permuting through ZIGZAG must recover the
    spec's natural row-major layout."""
    natural = np.zeros(64, dtype=np.int64)
    natural[J.ZIGZAG] = J.QUANT_LUMA
    np.testing.assert_array_equal(
        natural[:8], [16, 11, 10, 16, 24, 40, 51, 61]
    )
    np.testing.assert_array_equal(
        natural[8:16], [12, 12, 14, 19, 26, 58, 60, 55]
    )
    # zigzag walk: natural indices 0, 1, 8, 16 -> steps 16, 11, 12, 14
    np.testing.assert_array_equal(J.QUANT_LUMA[:4], [16, 11, 12, 14])
    nat_c = np.zeros(64, dtype=np.int64)
    nat_c[J.ZIGZAG] = J.QUANT_CHROMA
    np.testing.assert_array_equal(nat_c[:8], [17, 18, 24, 47, 99, 99, 99, 99])
    # the DC step (zigzag position 0 == natural [0,0]) is unchanged
    assert J.QUANT_LUMA[0] == 16 and J.QUANT_CHROMA[0] == 17


def _prog_parity(img, **kw):
    """The progressive correctness argument: both encoders quantize
    through the same code, so decode(progressive) must be BIT-IDENTICAL
    to decode(baseline) — any divergence anywhere in the four scan
    kinds, EOB-run bookkeeping, or refinement bit plumbing breaks it."""
    base = J.decode_baseline_jpeg(J.encode_baseline_jpeg(img, **kw))
    prog = J.decode_baseline_jpeg(J.encode_progressive_jpeg(img, **kw))
    np.testing.assert_array_equal(base["pixels"], prog["pixels"])
    return prog


def test_progressive_matches_baseline_gray_and_color():
    for shape in [(8, 8), (17, 13), (16, 24), (24, 24, 3), (17, 19, 3)]:
        img = RNG.randint(0, 256, shape).astype(np.uint8)
        _prog_parity(img, quant_luma=ONES, quant_chroma=ONES)


def test_progressive_matches_baseline_420():
    for shape in [(32, 20, 3), (21, 15, 3)]:
        img = RNG.randint(0, 256, shape).astype(np.uint8)
        _prog_parity(img, subsampling="420", quant_luma=ONES, quant_chroma=ONES)


def test_progressive_long_eob_runs():
    """Flat and smooth images produce EOB runs spanning many blocks
    (EOBn with n > 1), exercising the run accounting on both sides."""
    flat = np.full((64, 64), 77, dtype=np.uint8)
    dec = _prog_parity(flat, quant_luma=ONES)
    np.testing.assert_array_equal(dec["pixels"][:, :, 0], flat)
    xx, yy = np.meshgrid(np.arange(48), np.arange(40))
    smooth = ((xx + yy) // 2 % 256).astype(np.uint8)
    _prog_parity(smooth, quant_luma=ONES)
    # default (lossy) tables zero most high-frequency coefficients ->
    # very long runs through the high spectral band
    _prog_parity(RNG.randint(0, 256, (40, 40, 3)).astype(np.uint8))


def test_progressive_scan_script_parameters():
    img = RNG.randint(0, 256, (24, 16)).astype(np.uint8)
    for dc_al, ac_al, split in [(0, 1, 1), (2, 3, 20), (1, 2, 62), (3, 0, 5)]:
        base = J.decode_baseline_jpeg(
            J.encode_baseline_jpeg(img, quant_luma=ONES)
        )
        prog = J.decode_baseline_jpeg(
            J.encode_progressive_jpeg(
                img, quant_luma=ONES, dc_al=dc_al, ac_al=ac_al,
                band_split=split,
            )
        )
        np.testing.assert_array_equal(base["pixels"], prog["pixels"])


def test_progressive_stream_structure():
    img = RNG.randint(0, 256, (16, 16, 3)).astype(np.uint8)
    enc = J.encode_progressive_jpeg(img, quant_luma=ONES, quant_chroma=ONES)
    assert b"\xff\xc2" in enc and b"\xff\xc0" not in enc
    # classic script for color: 1 interleaved DC first + 3 comps x
    # (2 first bands + 2 refinements) + 1 DC refinement = 14 scans
    assert enc.count(b"\xff\xda") == 14


def test_invalid_scan_headers_and_garbage_rejected():
    img = np.full((8, 8), 7, dtype=np.uint8)
    enc = bytearray(J.encode_baseline_jpeg(img, quant_luma=ONES))
    sof = enc.find(b"\xff\xc0")
    enc[sof + 1] = 0xC2  # relabeled progressive: its one scan now claims
    # DC band [0,63], which a progressive DC scan must not
    with pytest.raises(ValueError, match="Se=0"):
        J.decode_baseline_jpeg(bytes(enc))
    with pytest.raises(ValueError, match="SOI"):
        J.decode_baseline_jpeg(b"\x89PNG\r\n")
    # lossless / arithmetic frames stay honestly unsupported
    enc[sof + 1] = 0xC3
    with pytest.raises(NotImplementedError, match="SOF3"):
        J.decode_baseline_jpeg(bytes(enc))


def test_spark_decodes_jpeg_payload_column(spark):
    """The real multimodal path end-to-end: JPEG bytes in a binary
    column, Arrow-batched decode, exact per-image statistics out."""
    import pandas as pd

    decode = J.decode_baseline_jpeg

    rows = []
    for doc_id in range(6):
        shade = 20 * (doc_id + 1)
        img = np.full((8 + doc_id, 8), shade, dtype=np.uint8)
        rows.append((doc_id, bytearray(J.encode_baseline_jpeg(img, quant_luma=ONES))))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")

    def decode_batches(batches):
        for pdf in batches:
            out = [decode(bytes(p)) for p in pdf["payload"]]
            res = pd.DataFrame(out).drop(columns="pixels")
            res.insert(0, "doc_id", pdf["doc_id"].values)
            yield res.astype("int64")

    got = {
        r["doc_id"]: (r["height"], r["pixel_sum"])
        for r in df.mapInPandas(
            decode_batches,
            "doc_id long, width long, height long, channels long, "
            "maxval long, pixel_sum long, n_pixel_bytes long",
        ).collect()
    }
    assert got == {
        i: (8 + i, 20 * (i + 1) * (8 + i) * 8) for i in range(6)
    }
