"""Hive-partitioned parquet sink — the lake layout the engine expects
at scale.

The reference's only sink is 26 per-letter text files
(/root/reference/src/main.cpp:298-320 — itself a partitioned sink, one
file per letter bucket). This is the general form: partition columns
become directory keys, so a reader's predicate on them prunes whole
directories before any file I/O ("partition pruning" — visible as
PartitionFilters in the scan node, verified in
tests/test_partitioned_sink.py).

Scale notes:
- Partition keys must be low-cardinality (a date, not a user id): each
  distinct value is a directory, and each task writing N live keys holds
  N open files — high-cardinality keys melt both the metastore listing
  and the writer's memory.
- ``maxRecordsPerFile`` bounds file size from above; pre-repartitioning
  by the partition columns bounds file COUNT from below (without it,
  every input task writes a file into every output partition:
  tasks x partitions small files at cluster scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Bounds file size from above; far above a periodic landing's rows per key,
# so each key still writes one file.
MAX_RECORDS_PER_FILE = 1_000_000


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Write a partitioned parquet dataset.

    Each output partition's rows go to one task first (a hash
    repartition on the keys), trading one shuffle for a bounded file
    count — the right choice for periodic batch landing.
    """
    (
        df.repartition(*partition_cols)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
        .partitionBy(*partition_cols)
        .parquet(path)
    )
