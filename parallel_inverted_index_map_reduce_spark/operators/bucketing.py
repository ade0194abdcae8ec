"""Bucketed-table helpers: the shuffle-elimination story at 100 TB.

Writing a table bucketed by its lookup key co-locates rows once at
write time: an equality filter on that key reads one bucket file, and
a join or groupBy on it reads bucket-aligned scans with no exchange.
The serving stores (operators/serving.py) are written through these
helpers.

At cluster scale the same calls target a metastore-backed table format;
bucket counts should be sized so bucket × file-size ≈ 128-256 MB.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort_col: str | None = None,
    partition_cols: tuple[str, ...] = (),
) -> None:
    """Persist a DataFrame as a bucketed (+optionally sorted) managed
    parquet table, replacing any previous version.

    ``partition_cols`` adds hive partitioning ABOVE the buckets: a
    filter on a partition column prunes whole directories
    (PartitionFilters) while an equality filter on the bucket column
    still prunes to one bucket file within each surviving directory —
    the two-level layout a serving-side index store wants.

    Tables are written EXTERNAL (explicit location under the warehouse
    dir): the in-memory catalog forgets metadata between sessions, but
    external files survive a DROP TABLE, so a later session can
    re-attach the same data with a CREATE TABLE ... LOCATION DDL (see
    operators/serving.py attach_search_index) — the local stand-in for
    a metastore-backed lake."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    loc = table_location(spark, table)
    if os.path.isdir(loc):
        shutil.rmtree(loc)
    _bucketed_writer(
        df, "overwrite", loc, bucket_col, n_buckets, sort_col, partition_cols
    ).saveAsTable(table)


def append_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort_col: str | None = None,
    partition_cols: tuple[str, ...] = (),
) -> None:
    """Append rows to a table :func:`write_bucketed` wrote, with the
    same spec: Spark's bucketed writer routes the appended files into
    the same bucket ids (filename bucket suffixes match across writes),
    so bucket and partition pruning keep working over the union. No
    stored file is rewritten."""
    loc = table_location(df.sparkSession, table)
    _bucketed_writer(
        df, "append", loc, bucket_col, n_buckets, sort_col, partition_cols
    ).saveAsTable(table)


def _bucketed_writer(df, mode, loc, bucket_col, n_buckets, sort_col, partition_cols):
    writer = df.write.format("parquet").mode(mode).option("path", loc)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer = writer.bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    return writer


def write_partitioned_table(
    df: DataFrame, table: str, partition_cols: tuple[str, ...]
) -> None:
    """Persist an external hive-partitioned (unbucketed) parquet table —
    directory-level pruning without a bucket spec, for layouts whose
    read pattern filters on the partition column only (e.g. IVF
    inverted lists probed by list_id). Same external/replacement
    hygiene as :func:`write_bucketed`."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    loc = table_location(spark, table)
    if os.path.isdir(loc):
        shutil.rmtree(loc)
    (
        df.write.format("parquet")
        .mode("overwrite")
        .option("path", loc)
        .partitionBy(*partition_cols)
        .saveAsTable(table)
    )


def table_location(spark: SparkSession, table: str) -> str:
    """The on-disk directory backing ``table`` under the session's
    warehouse dir — one naming rule shared by writers and re-attachers.

    An EXISTING warehouse root is always used as-is — serving from a
    read-only store (build-once in an indexing job, read-many from
    less-privileged sessions) must keep working, and a write into a
    genuinely read-only root should fail loudly, not silently divert.
    Only a root that does not exist AND cannot be created (a driver
    session with the default RELATIVE ``spark-warehouse`` in a
    read-only cwd) falls back — to a tempdir path keyed on the
    intended root's absolute path, so writers and later re-attachers
    derive the SAME fallback deterministically while unrelated
    warehouse configs cannot collide on one shared directory."""
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    if not os.path.isdir(warehouse):
        try:
            os.makedirs(warehouse, exist_ok=True)
        except OSError:
            import hashlib
            import tempfile

            tag = hashlib.md5(
                os.path.abspath(warehouse).encode()
            ).hexdigest()[:8]
            warehouse = os.path.join(
                tempfile.gettempdir(), f"spark_graft_warehouse_{tag}"
            )
            os.makedirs(warehouse, exist_ok=True)
    return os.path.join(warehouse, table)


def write_table(df: DataFrame, table: str) -> None:
    """Persist a small unbucketed parquet table (stats rows, scalar
    companions), replacing any previous version — same external-table
    and replacement hygiene as :func:`write_bucketed`."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    loc = table_location(spark, table)
    if os.path.isdir(loc):
        shutil.rmtree(loc)
    df.write.format("parquet").mode("overwrite").option("path", loc).saveAsTable(
        table
    )
