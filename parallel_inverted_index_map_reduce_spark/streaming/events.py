"""Structured Streaming over the events table (SURVEY.md §7 Phase 5).

The reference is strictly batch (barrier-separated phases,
/root/reference/src/main.cpp:143,155,207); this module holds the events
file-stream source and the drain into an in-memory table that the
tests of the streamed operators (the exactly-once sink, the stream-stream
joins) run on.

At scale the source would be Kafka/object-store file streams; the state
store bounds memory via the watermark.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

def _events_raw_schema(ts_type) -> StructType:
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-based streaming source over the events parquet, normalized
    to the same schema as the batch loader (ts -> timestamp micros).

    ``readStream`` needs an explicit schema, but the file's physical ts
    type varies by generator version (TIMESTAMP(NANOS) vs micros). Peek
    at the batch-inferred schema once — with nanosAsLong on, NANOS files
    surface ts as int64 — and stream with whichever ts type the file
    actually has, converting nanos -> micros only when needed (the same
    truncation DuckDB applies, see sources/tables.py).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    ts_type = spark.read.parquet(path).schema["ts"].dataType
    raw = (
        spark.readStream.schema(_events_raw_schema(ts_type))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if isinstance(ts_type, LongType):
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        # Watermarks demand TIMESTAMP (LTZ): EVENT_TIME_IS_NOT_ON_
        # TIMESTAMP_TYPE for NTZ event-time columns. The session runs in
        # UTC, so the NTZ -> LTZ cast keeps the wall-clock instant; a
        # consumer compared with a batch twin casts back to NTZ.
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "complete"):
    """Drain a (bounded) file stream into an in-memory table and return
    the query handle; caller awaits termination of available data."""
    return (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
