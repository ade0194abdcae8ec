"""Parquet table sources for the driver-generated TPC-H-ish schema.

Tables (see /root/repo/TESTDATA.md): region nation customer supplier part
orders lineitem events documents embeddings — one parquet file per table
under an ``sf_dir``.

Scale notes: these are plain ``spark.read.parquet`` scans so Catalyst's
predicate pushdown / column pruning / partition pruning apply untouched.
At 100 TB the same call reads a partitioned parquet lake; nothing here
assumes single-file layout.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table, memoizing the DataFrame per (session, file state).

    ``spark.read.parquet`` costs 65-110 ms of driver work per call
    (footer/schema read + source resolution) — measured as the single
    largest query-construction cost at bench scale (a 6-table join
    spends ~0.5 s per build just re-resolving unchanged files). The
    returned DataFrame is an immutable plan, so reuse is safe; the
    cache key carries the file's (mtime_ns, size) so any rewrite —
    test fixtures, compaction — misses and re-resolves. Only
    single-file tables memoize: a directory's mtime does not see
    nested rewrites, so directory layouts (the 100 TB lake case) take
    the fresh-read path every call, exactly as before.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    state = None
    cache = getattr(spark, "_graft_table_cache", None)
    if os.path.isfile(path):
        st = os.stat(path)
        state = (st.st_mtime_ns, st.st_size)
        if cache is None:
            cache = {}
            spark._graft_table_cache = cache  # type: ignore[attr-defined]
        # keyed by path with the file state in the VALUE: a rewrite
        # REPLACES the entry instead of accumulating stale plans (long
        # sessions that rewrite fixtures repeatedly would otherwise
        # grow the cache — and pin superseded JVM plans — unboundedly)
        hit = cache.get(path)
        if hit is not None and hit[0] == state:
            return hit[1]
    df = _read_table(spark, path, name)
    if state is not None:
        cache[path] = (state, df)  # type: ignore[index]
    return df


def _read_table(spark: SparkSession, path: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), which Spark's reader
        # rejects outright ([PARQUET_TYPE_ILLEGAL]). Read it as raw
        # int64 nanos and truncate to microseconds — the same floor
        # DuckDB applies when reading the file (verified:
        # ...165275999 ns -> ...165275 us). Set here, not only in
        # session.py, so it also holds under a driver-owned session.
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(path)


def spread(
    df: DataFrame, key: str = "doc_id", n_partitions: int | None = None
) -> DataFrame:
    """Ensure CPU-heavy narrow work downstream runs cluster-wide.

    A small corpus often arrives as ONE splittable unit (single parquet
    row group), so the whole tokenize/explode/hash chain would execute
    on a single core no matter how many sit idle — measured 6x wall
    clock on the MinHash pipeline at sf0.1. Hash-repartitioning on the
    id key costs one tiny shuffle of the raw rows and is a no-op when
    the scan already carries enough partitions (the 100 TB case, where
    thousands of input splits exist and this must NOT shrink them).

    ``n_partitions``: callers that already know the frame's partition
    count (they just repartitioned, or hold it from their own planning)
    pass it here and skip the probe entirely — the zero-cost path.

    Otherwise the partition-count probe physically plans the frame
    driver-side on every call. That cost is deliberate; both cheaper
    inferences give wrong answers:
    - memoizing the count (by semantic hash or path) serves STALE
      counts whenever the files are rewritten (compaction, a
      pipeline's next stage) or a split-size conf changes at runtime —
      silently skipping the repartition this function exists for
      (attempted and reverted in round 3);
    - counting ``df.inputFiles()`` breaks in BOTH directions: Spark
      splits one large file into many partitions (few files, plenty of
      parallelism — the heuristic would shuffle pointlessly) and packs
      many small files into few partitions via openCostInBytes (many
      files, little parallelism — the heuristic would skip the
      repartition that is the whole point).
    ~milliseconds per query construction is the honest price of a
    correct answer when the caller cannot supply the hint.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    current = (
        n_partitions if n_partitions is not None else df.rdd.getNumPartitions()
    )
    if current >= target:
        return df
    return df.repartition(target, key)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view so ``spark.sql`` plans work."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
