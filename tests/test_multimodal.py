"""Multimodal plumbing: the Arrow-batched paths must agree with plain
column-expression recomputation and with driver-side decodes."""

from __future__ import annotations

from pyspark.sql import functions as F

from parallel_inverted_index_map_reduce_spark.operators import multimodal as mm


DOCS = [
    (1, "alpha beta gamma delta epsilon zeta"),  # 35 bytes
    (2, "x"),
    (3, ""),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_binary_features_match_column_exprs(spark):
    got = {r.doc_id: r for r in mm.binary_features(_docs(spark)).collect()}
    want = {
        r.doc_id: r
        for r in _docs(spark)
        .select(
            "doc_id",
            F.length(F.encode("text", "UTF-8")).cast("long").alias("n_bytes"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for doc_id, w in want.items():
        g = got[doc_id]
        assert g.n_bytes == w.n_bytes, doc_id
    assert got[2].first_byte == ord("x") == got[2].last_byte
    assert got[3].first_byte == -1 and got[3].byte_sum == 0


def test_decode_image_netpbm_real():
    import pytest

    from parallel_inverted_index_map_reduce_spark.functions.jpeg import (
        decode_baseline_jpeg,
    )

    # P6 with a header comment: 2x2 RGB, known plane
    plane = bytes(range(12))
    ppm = b"P6\n# a comment\n2 2\n255\n" + plane
    got = mm._parse_netpbm(ppm)
    assert got == {
        "width": 2,
        "height": 2,
        "channels": 3,
        "maxval": 255,
        "pixel_sum": sum(range(12)),
        "n_pixel_bytes": 12,
    }
    # P5 grayscale
    pgm = b"P5\n3 1\n255\n" + bytes([10, 20, 30])
    got = mm._parse_netpbm(pgm)
    assert (got["channels"], got["pixel_sum"], got["n_pixel_bytes"]) == (1, 60, 3)
    # truncated plane is an error, not silence
    with pytest.raises(ValueError, match="truncated"):
        mm._parse_netpbm(b"P6\n2 2\n255\n" + bytes(5))
    # so is a truncated jpeg
    with pytest.raises(ValueError, match="missing SOS"):
        decode_baseline_jpeg(b"\xff\xd8\xff\xe0\x00\x09JFIF...\xff\xd9")


def test_decoded_image_features_end_to_end(spark):
    """The full Spark decode path: column-built PPM payloads decoded for
    real through mapInPandas; pixel_sum equals padded-text byte math."""
    got = {r.doc_id: r for r in mm.decoded_image_features(_docs(spark)).collect()}
    assert set(got) == {1, 2, 3}
    for doc_id, text in DOCS:
        r = got[doc_id]
        assert (r.width, r.height, r.channels, r.maxval) == (8, 6, 3, 255)
        padded = (text[:144] + "x" * 144)[:144]
        assert r.pixel_sum == sum(padded.encode())
        assert r.n_pixel_bytes == 144
