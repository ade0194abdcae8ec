"""Manifest + text-file corpus sources (reference O1-O3).

The reference reads a manifest whose first token is a file count followed
by one relative path per line (/root/reference/src/main.cpp:49-83), then
assigns each file a deterministic 0-based id in manifest order via a
FIFO queue + guarded counter (/root/reference/src/main.cpp:96-105) and
prints ids 1-based (/root/reference/src/main.cpp:312).

Spark re-expression: ids derive from the manifest itself (driver-side
enumerate), NOT ``monotonically_increasing_id()`` — that function is not
stable across partitionings, which is exactly the trap SURVEY.md §7
calls out. The manifest is tiny metadata (one row per file); at 100 TB
the file *contents* are the big side and are read by executors via
``spark.read.text``, while the manifest stays a broadcast dimension.

Nothing before the scan runs a Spark job:
- the path list handed to ``spark.read.text`` is the parse's own list,
  never a round trip through a DataFrame;
- the manifest table is a local relation (``LocalTableScan``) built
  from a pandas frame over Arrow, so broadcasting it needs no Python
  workers;
- Spark lists the files on the driver for path lists up to the
  session's ``parallelPartitionDiscovery.threshold`` (see session.py)
  and with a distributed listing job above it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

MANIFEST_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),  # 1-based, manifest order
        StructField("path", StringType(), False),
    ]
)


def _manifest_paths(manifest_path: str, base_dir: str | None) -> list[str]:
    """The manifest's file paths in manifest order, resolved against
    ``base_dir`` (defaults to the manifest's directory, mirroring the
    reference's ``../checker/`` convention without hardcoding it)."""
    if base_dir is None:
        base_dir = os.path.dirname(os.path.abspath(manifest_path))
    with open(manifest_path, encoding="utf-8", errors="replace") as fh:
        tokens = fh.read().split()
    count = int(tokens[0])
    return [os.path.join(base_dir, p) for p in tokens[1 : 1 + count]]


def _manifest_table(spark: SparkSession, paths: list[str]) -> DataFrame:
    """(doc_id, path) as a local relation. A pandas frame converts over
    Arrow (on in ``get_spark`` sessions) into a ``LocalTableScan``; a
    list of tuples, or a pandas frame with Arrow off, plans ``Scan
    ExistingRDD`` over a Python RDD, and every broadcast of that runs a
    job through Python workers."""
    import pandas as pd

    ids = range(1, len(paths) + 1)  # 1-based, manifest order
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": ids, "path": paths}), MANIFEST_SCHEMA
    )


def read_manifest(spark: SparkSession, manifest_path: str, base_dir: str | None = None) -> DataFrame:
    """Parse the reference manifest format: ``<count>\n<path>\n...``.

    Returns (doc_id, path) with doc_id 1-based in manifest order — the
    id the reference prints (main.cpp:312 does ``file_id + 1``).
    Paths resolve relative to ``base_dir`` (defaults to the manifest's
    directory).
    """
    return _manifest_table(spark, _manifest_paths(manifest_path, base_dir))


def read_manifest_corpus(
    spark: SparkSession, manifest_path: str, base_dir: str | None = None
) -> DataFrame:
    """Load a manifest's files as a ``(doc_id, text)`` documents DataFrame.

    Executors read the text files in parallel (``spark.read.text`` with
    the path list straight from the parse); the doc_id comes from
    joining ``input_file_name`` back to the manifest, a local relation
    that is broadcast. Construction runs no Spark job: up to the
    session's listing threshold the files are listed on the driver.
    One row per line is fine — tokenization explodes on whitespace anyway,
    and keeping lines (not whole files) as rows bounds row size at scale.
    """
    paths = _manifest_paths(manifest_path, base_dir)
    lines = spark.read.text(paths).select(
        F.input_file_name().alias("file_uri"), F.col("value").alias("text")
    )
    return _join_manifest(lines, _manifest_table(spark, paths)).select(
        "doc_id", "text"
    )


def _join_manifest(files: DataFrame, manifest: DataFrame) -> DataFrame:
    """Attach manifest doc_ids to rows carrying a ``file_uri`` column.

    ``input_file_name()`` returns a percent-encoded ``file:`` URI; a
    path with a space (or any non-URI byte) would never string-match the
    manifest's raw path and the row would silently drop out of the inner
    join. Decode before stripping the scheme — ``url_decode`` after
    escaping literal ``+`` (URLDecoder treats bare ``+`` as space, which
    file URIs never use for encoding)."""
    decoded = F.expr("url_decode(replace(file_uri, '+', '%2B'))")
    norm = files.withColumn(
        "norm_path", F.regexp_replace(decoded, "^file:(//)?", "")
    )
    manifest_n = manifest.withColumn("norm_path", F.col("path"))
    return norm.join(F.broadcast(manifest_n), "norm_path", "inner")
