"""Streaming tests of the custom stateful operator: its exact running
totals survive a query restart, keep SQL's NULL and decimal rendering,
and rely on an events fixture without NaN values."""

from __future__ import annotations

from parallel_inverted_index_map_reduce_spark.sources.tables import load_table

from .conftest import SF_ORACLE


def test_stateful_exact_totals_survive_query_restart(spark, tmp_path):
    """running_totals_exact's state must RESTORE FROM THE CHECKPOINT
    across query restarts, not just carry across micro-batches of one
    run: drain two file-slices, stop, land a third slice, start a NEW
    query on the same checkpoint — the final per-key totals must equal
    the whole-table aggregate, rendered through the same decimal
    discipline the driver part uses."""
    from pyspark.sql import functions as F

    from parallel_inverted_index_map_reduce_spark.streaming import (
        sinks as eo,
        stateful,
    )

    events = load_table(spark, SF_ORACLE, "events").select(
        "event_type", F.round(F.col("value"), 6).alias("value6")
    )
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    third = events.where(F.col("event_type").isNotNull())  # stable split
    first_two = third.where(F.crc32(F.col("event_type").cast("binary")) % 3 < 2)
    last_one = third.where(F.crc32(F.col("event_type").cast("binary")) % 3 == 2)

    def run_once():
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = eo.start_exactly_once_parquet(
            stateful.running_totals_exact(stream), out, ckpt,
            output_mode="update",
        )
        assert q.awaitTermination(420), "stream did not finish within 420s"

    first_two.repartition(2).write.mode("append").parquet(src)
    run_once()
    last_one.coalesce(1).write.mode("append").parquet(src)
    run_once()  # NEW query, same checkpoint: state must restore

    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(F.col("batch_id").desc())
    got = {
        (r.event_type): (r.n_events, r.sum_value)
        for r in eo.read_exactly_once_parquet(spark, out)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .collect()
    }
    batch = {
        r.event_type: (r.n, r.s)
        for r in events.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value6").cast("decimal(38,8)"))
            .cast("decimal(38,8)")
            .cast("string")
            .alias("s"),
        )
        .collect()
    }
    assert got == batch


def test_stateful_exact_totals_all_null_key_sums_to_null(spark, tmp_path):
    """SQL SUM over a key whose every value is NULL is NULL, not 0 —
    the exact-totals operator must render it the same way (the driver
    oracle holds it to DECIMAL-sum semantics), while still counting the
    rows."""
    from pyspark.sql import functions as F

    from parallel_inverted_index_map_reduce_spark.streaming import (
        sinks as eo,
        stateful,
    )

    rows = [("a", 1.5), ("a", None), ("nulls", None), ("nulls", None)]
    df = spark.createDataFrame(rows, "event_type string, value6 double")
    src = str(tmp_path / "src")
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = eo.start_exactly_once_parquet(
        stateful.running_totals_exact(stream),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        output_mode="update",
    )
    assert q.awaitTermination(420)
    got = {
        r.event_type: (r.n_events, r.sum_value)
        for r in eo.read_exactly_once_parquet(spark, str(tmp_path / "out"))
        .collect()
    }
    assert got == {"a": (2, "1.50000000"), "nulls": (2, None)}


def test_stateful_exact_totals_rendering_adversarial_values(spark, tmp_path):
    """The Python decimal accumulation must render byte-identically to
    Spark's DECIMAL(38,8) sum cast to string on the awkward cases: a
    group summing to exactly zero, negatives, values whose double repr
    uses exponent notation (1e-07), and large magnitudes."""
    from pyspark.sql import functions as F

    from parallel_inverted_index_map_reduce_spark.streaming import (
        sinks as eo,
        stateful,
    )

    rows = [
        ("zero", 1.5), ("zero", -1.5),
        ("tiny", 1e-06), ("tiny", 2e-06),
        ("neg", -0.000001), ("neg", -123456.789012),
        ("big", 987654321.123456), ("big", 0.000004),
    ]
    df = spark.createDataFrame(rows, "event_type string, v double").select(
        "event_type", F.round(F.col("v"), 6).alias("value6")
    )
    src = str(tmp_path / "src")
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = eo.start_exactly_once_parquet(
        stateful.running_totals_exact(stream),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        output_mode="update",
    )
    assert q.awaitTermination(420)
    got = {
        r.event_type: r.sum_value
        for r in eo.read_exactly_once_parquet(spark, str(tmp_path / "out"))
        .collect()
    }
    want = {
        r.event_type: r.s
        for r in df.groupBy("event_type")
        .agg(
            F.sum(F.col("value6").cast("decimal(38,8)"))
            .cast("decimal(38,8)")
            .cast("string")
            .alias("s")
        )
        .collect()
    }
    assert got == want, (got, want)


def test_events_fixture_value_envelope(spark):
    """Two invariants the stateful_totals driver row leans on, pinned
    here so a future data-generator change fails THIS test loudly
    instead of the row going confusingly red:

    - NO NaN values: Arrow hands running_totals_exact a float64 column
      where SQL NULL and a NaN VALUE are indistinguishable, so the
      operator's dropna treats both as NULL — but SQL SUM propagates a
      non-null NaN (streaming/stateful.py docstring).
    - MAGNITUDE BOUND |value| < 3.3e7: the oracle's
      CAST(round(value,6) AS DECIMAL(38,8)) rounds the binary double
      while Spark/Python go through the shortest decimal repr; above
      ~3.3e7 the double's ulp exceeds 5e-9 and the 8th decimal can
      disagree (plans/queries_streaming.py oracle note).
    """
    from pyspark.sql import functions as F

    bad = (
        load_table(spark, SF_ORACLE, "events")
        .agg(
            F.sum(F.when(F.isnan("value"), 1).otherwise(0)).alias("n_nan"),
            F.max(F.abs("value")).alias("max_abs"),
        )
        .first()
    )
    assert bad.n_nan == 0, f"events.value holds {bad.n_nan} NaN cells"
    assert bad.max_abs is None or bad.max_abs < 3.3e7, (
        f"events.value magnitude {bad.max_abs} exceeds the stateful "
        "oracle's 8th-decimal agreement envelope"
    )
