"""Partitioned parquet sink: lossless roundtrip, pruned reads, bounded
file counts."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from parallel_inverted_index_map_reduce_spark.sinks import partitioned as ps
from parallel_inverted_index_map_reduce_spark.sources.tables import load_table

from .conftest import SF_ORACLE


def _events_with_day(spark):
    return load_table(spark, SF_ORACLE, "events").withColumn(
        "event_date", F.to_date("ts")
    )


def test_partitioned_roundtrip_and_pruning(spark, tmp_path):
    df = _events_with_day(spark)
    path = str(tmp_path / "events_by_day")
    ps.write_partitioned(df, path, ["event_date"])

    back = spark.read.parquet(path)
    assert back.count() == df.count()

    # A predicate on the partition key must prune at planning time:
    # it appears under PartitionFilters (directory pruning), not
    # PushedFilters (row-group pruning inside files already opened).
    day = df.select(F.min("event_date")).first()[0]
    pruned = back.where(F.col("event_date") == F.lit(day))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "event_date" in plan.split("PartitionFilters")[1].split("]")[0]
    expected = df.where(F.col("event_date") == F.lit(day)).count()
    assert pruned.count() == expected


def test_partitioned_write_bounds_file_count(spark, tmp_path):
    df = _events_with_day(spark)
    path = str(tmp_path / "events_compact")
    ps.write_partitioned(df, path, ["event_date"])
    n_days = df.select("event_date").distinct().count()
    files = glob.glob(f"{path}/event_date=*/*.parquet")
    # one task per partition key -> at most one file per day here
    # (maxRecordsPerFile far above the per-day row count)
    assert len(files) == n_days
