"""Multimodal column plumbing: opaque binary payloads + typed metadata,
processed by Arrow-batched pandas functions (``mapInPandas``).

The decode paths REALLY decode netpbm (P6 PPM / P5 PGM, the parser
below), baseline JPEG (functions/jpeg.py), 8-bit PNG — including
PLTE-indexed palette color, Adam7 interlacing, and tRNS transparency
(functions/png.py) — and PCM WAV (functions/audio.py), all pure Python,
no codec library. Formats needing codec machinery this codebase does
not carry (progressive JPEG, GIF, compressed audio, video) have no
decoder.
Everything Spark-side is real either way: binary column schema, Arrow
batch transfer, per-batch vectorized feature extraction, and the
partitioning story (binary payloads stay with their row; feature
extraction is a narrow map, no shuffle).

At 100 TB: payloads live in parquet binary columns (or references into
object storage); ``mapInPandas`` keeps the Python cost to one
Arrow-serialized pass per batch with zero per-row overhead.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "doc_id long, n_bytes long, first_byte long, last_byte long, byte_sum long"
)


def _make_netpbm_parser():
    """Build the netpbm parse function as a NESTED def: its qualname is
    not importable, so cloudpickle serializes it by value and executor
    Python workers never need this package on their sys.path (the same
    closure rule :func:`binary_features` documents)."""

    def parse(payload: bytes) -> dict:
        # raw netpbm (P6 = RGB, P5 = grayscale): magic, then three
        # whitespace/#-comment-tolerant header ints (width, height,
        # maxval), then the raw pixel plane, length-checked
        channels = 3 if payload[:2] == b"P6" else 1
        pos, tokens = 2, []
        while len(tokens) < 3:
            while pos < len(payload) and payload[pos : pos + 1].isspace():
                pos += 1
            if payload[pos : pos + 1] == b"#":  # comment runs to end of line
                while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                    pos += 1
                continue
            start = pos
            while pos < len(payload) and not payload[pos : pos + 1].isspace():
                pos += 1
            tokens.append(int(payload[start:pos]))
        width, height, maxval = tokens
        if not 0 < maxval < 256:
            raise ValueError(f"unsupported maxval {maxval} (8-bit planes only)")
        pos += 1  # single whitespace byte separates header from the plane
        pixels = payload[pos : pos + width * height * channels]
        if len(pixels) != width * height * channels:
            raise ValueError(
                f"truncated pixel plane: {len(pixels)} bytes for "
                f"{width}x{height}x{channels}"
            )
        import numpy as np

        plane = np.frombuffer(pixels, dtype=np.uint8)
        return {
            "width": width,
            "height": height,
            "channels": channels,
            "maxval": maxval,
            "pixel_sum": int(plane.sum()),
            "n_pixel_bytes": len(pixels),
        }

    return parse


_parse_netpbm = _make_netpbm_parser()


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """Attach an opaque binary column (UTF-8 bytes of the text — the
    deterministic stand-in for an image/audio payload) plus metadata.
    Input spread to cluster parallelism so the Arrow-batched Python
    stage downstream gets one worker per core, not one total."""
    from ..sources.tables import spread

    docs = spread(docs)
    # NULL text is defined as an EMPTY payload (coalesce) — without it a
    # NULL propagates through encode/concat into the Arrow batches and
    # the decode path sees None instead of bytes
    txt = F.coalesce(F.col("text"), F.lit(""))
    return docs.select(
        "doc_id",
        F.encode(txt, "UTF-8").alias("payload"),
        F.struct(
            F.lit("fake/bytes").alias("mime"),
            F.length(txt).cast("long").alias("n_chars"),
        ).alias("meta"),
    )


def binary_features(docs: DataFrame) -> DataFrame:
    """Arrow-batched byte-level features over the binary payload column.

    This is the real multimodal execution path (schema, batching, UDF
    signature); swap the batch function's internals for an image decode
    + embed once codecs exist.

    The batch function is a *closure* on purpose: cloudpickle then
    serializes it by value, so executor Python workers never need this
    package importable on their own sys.path (a module-level function
    would be pickled by reference and break when the driver runs from
    outside the repo).
    """

    def feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        import pandas as _pd

        for pdf in batches:
            payloads = pdf["payload"]
            n = payloads.str.len().astype("int64")
            firsts = payloads.map(lambda b: b[0] if len(b) else -1).astype("int64")
            lasts = payloads.map(lambda b: b[-1] if len(b) else -1).astype("int64")
            sums = payloads.map(
                lambda b: int(np.frombuffer(b, dtype=np.uint8).sum())
            ).astype("int64")
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n,
                    "first_byte": firsts,
                    "last_byte": lasts,
                    "byte_sum": sums,
                }
            )

    payloads = with_binary_payload(docs)
    return payloads.select("doc_id", "payload").mapInPandas(
        feature_batches, schema=FEATURE_SCHEMA
    )


PPM_W, PPM_H = 8, 6
DECODED_SCHEMA = (
    "doc_id long, width long, height long, channels long, maxval long, "
    "pixel_sum long, n_pixel_bytes long"
)


def with_ppm_payload(docs: DataFrame) -> DataFrame:
    """(doc_id, payload): a VALID raw P6 PPM per document, built with
    pure column expressions — header literal + an 8x6 RGB plane whose
    144 bytes are the document's first 144 characters right-padded with
    'x'. Deterministic, decodable, and mirrorable by the SQL oracle
    (documents are ASCII, so char math == byte math)."""
    from ..sources.tables import spread

    header = f"P6\n{PPM_W} {PPM_H}\n255\n".encode()
    n = PPM_W * PPM_H * 3
    txt = F.coalesce(F.col("text"), F.lit(""))  # NULL text = empty image text
    return spread(docs).select(
        "doc_id",
        F.concat(
            F.lit(header),
            F.encode(F.rpad(F.substring(txt, 1, n), n, "x"), "UTF-8"),
        ).alias("payload"),
    )


def decoded_image_features(docs: DataFrame) -> DataFrame:
    """The decode path run END-TO-END: build PPM payloads, ship them
    through Arrow batches, and run the netpbm parser for real on
    every row — header parse, plane validation, exact pixel statistics.
    Same closure-serialization note as :func:`binary_features`."""

    parse = _parse_netpbm  # closure cell -> pickled by value

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        for pdf in batches:
            decoded = [parse(bytes(p)) for p in pdf["payload"]]
            out = _pd.DataFrame(decoded)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out.astype("int64")

    return with_ppm_payload(docs).mapInPandas(
        decode_batches, schema=DECODED_SCHEMA
    )


CODEC_SCHEMA = (
    "doc_id long, jpeg_width long, jpeg_height long, jpeg_channels long, "
    "jpeg_pixel_sum long, png_pixel_sum long, wav_sample_sum long, "
    "wav_duration_ms long"
)

# PNG gradient / WAV ramp geometry shared by the operator and the SQL
# oracle (queries_text.py) — the closed forms both sides compute.
# The WAV ramp length is doc-dependent and never a multiple of 256:
# stride 37 is coprime with 256, so a length-256 ramp would visit every
# byte code exactly once and sample_sum would collapse to a constant per
# parity class (0 for mu-law, 32640 for PCM) — a broken decoder could
# not change the hash. 199 + d % 57 keeps the sum doc-discriminative.
PNG_W, PNG_H = 16, 12
WAV_N_BASE, WAV_N_MOD = 199, 57


def codec_roundtrip_features(docs: DataFrame) -> DataFrame:
    """All three pure-Python codecs ENCODE + DECODE for real inside one
    Arrow pass — the driver-checked proof that the codec layer works,
    verified by a SQL oracle that computes the statistics in CLOSED
    FORM without decoding anything itself:

    - JPEG (functions/jpeg.py — markers, Huffman, DCT): a flat
      grayscale image (shade = doc_id % 256, width 8/16, height
      8/16/24 by doc_id) with all-ones quantization. Flat blocks are
      DC-only and ones-quant makes the DC path exact, so pixel_sum =
      shade * w * h exactly; the lossy AC paths are round-trip-tested
      in tests/test_jpeg.py.
    - PNG (functions/png.py — zlib inflate + scanline unfilters): a
      NON-trivial gradient, pixel(x, y) = (x*7 + y*13 + doc_id) % 256
      over 16x12 gray. PNG is lossless, so the decoded sum must equal
      the oracle's double-range sum exactly — any wrong pixel anywhere
      flips the hash.
    - WAV (functions/audio.py — RIFF PCM): a ramp signal, sample(i) =
      (i*37 + doc_id) % 256, 199 + doc_id % 57 samples (doc-dependent
      and never a multiple of 256, so the sum discriminates — see the
      WAV_N_BASE comment) at 8000 + doc_id % 100 Hz; sample_sum and
      duration_ms are closed-form.

    The codec functions come from factories (nested defs), so
    cloudpickle ships them BY VALUE — executor Python workers never
    import this package (same closure rule as the netpbm parser).
    """
    from ..functions.audio import decode_wav, encode_g711_wav, encode_wav
    from ..functions.jpeg import (
        decode_baseline_jpeg,
        encode_baseline_jpeg,
        encode_progressive_jpeg,
    )
    from ..functions.png import decode_png, encode_png
    from ..sources.tables import spread

    jenc, jdec = encode_baseline_jpeg, decode_baseline_jpeg  # closure cells
    jenc_prog = encode_progressive_jpeg
    penc, pdec = encode_png, decode_png
    wenc, wdec = encode_wav, decode_wav
    genc = encode_g711_wav
    png_w, png_h = PNG_W, PNG_H
    wav_base, wav_mod = WAV_N_BASE, WAV_N_MOD

    def codec_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        import pandas as _pd

        ones = np.ones(64, dtype=np.int64)
        xx, yy = np.meshgrid(np.arange(png_w), np.arange(png_h))
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                shade = d % 256
                w = 8 * (1 + d % 2)
                h = 8 * (1 + d % 3)
                # odd docs write progressive (SOF2) streams: both
                # encoders quantize identically, so the SAME closed-form
                # oracle verifies the multi-scan decode path
                enc = jenc_prog if d % 2 else jenc
                jpg = jdec(
                    enc(np.full((h, w), shade, dtype=np.uint8), quant_luma=ones)
                )
                grad = ((xx * 7 + yy * 13 + d) % 256).astype(np.uint8)
                # odd docs write Adam7-interlaced streams: the decode is
                # lossless either way, so the SAME closed-form oracle
                # verifies both the raster and the 7-pass reassembly
                png = pdec(penc(grad, filter_type=d % 5, interlace=bool(d % 2)))
                ii = np.arange(wav_base + d % wav_mod)
                ramp = ((ii * 37 + d) % 256).astype(np.uint8)
                # odd docs carry the SAME ramp bytes as G.711 mu-law
                # CODES (format 7): the decode is one table expansion,
                # whose arithmetic the oracle reproduces in closed form
                wav = wdec(
                    genc(ramp, 8000 + d % 100, law="ulaw")
                    if d % 2
                    else wenc(ramp, 8000 + d % 100, bits=8)
                )
                rows.append(
                    (
                        d,
                        jpg["width"],
                        jpg["height"],
                        jpg["channels"],
                        jpg["pixel_sum"],
                        png["pixel_sum"],
                        wav["sample_sum"],
                        wav["duration_ms"],
                    )
                )
            yield _pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "jpeg_width",
                    "jpeg_height",
                    "jpeg_channels",
                    "jpeg_pixel_sum",
                    "png_pixel_sum",
                    "wav_sample_sum",
                    "wav_duration_ms",
                ],
            )

    return spread(docs).select("doc_id").mapInPandas(
        codec_batches, schema=CODEC_SCHEMA
    )
