"""Batch twins of the streaming window operators (oracle-checked).

``F.window`` / ``F.session_window`` evaluate identically over batch
DataFrames, so these specs exercise the exact expressions the streaming
plans use while remaining SQL-oracle-checkable; the true streaming
variants (file source, watermark, availableNow trigger) are asserted
equal to these in tests/test_streaming.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import register


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def _stateful_totals_store(
    spark: SparkSession, sf_dir: str, events: DataFrame
) -> str:
    """Drain the CUSTOM STATEFUL operator (streaming/stateful.py
    running_totals_exact, applyInPandasWithState) over the events table
    split into three micro-batches and return the committed sink dir
    (session-memoized — plans/stores.py). The measure is pre-rounded IN
    SPARK (round(value, 6)) so the Python state only ever sums exact
    decimals; cumulative totals are order- and split-independent, so
    maxFilesPerTrigger batching needs no deterministic file order here
    (unlike the prep pipeline)."""
    from ..streaming import sinks as eo
    from ..streaming import stateful
    from .stores import drain, input_key, session_store, tuned_shuffle

    def build(tmp: str) -> str:
        src = os.path.join(tmp, "events_in")
        out = os.path.join(tmp, "totals")
        ckpt = os.path.join(tmp, "ckpt")
        staged = events.select(
            "event_type", F.round(F.col("value"), 6).alias("value6")
        )
        with tuned_shuffle(spark):
            staged.repartition(3).write.parquet(src)
            stream = (
                spark.readStream.schema(staged.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            drain(
                eo.start_exactly_once_parquet(
                    stateful.running_totals_exact(stream),
                    out,
                    ckpt,
                    output_mode="update",
                ),
                "stateful totals stream",
            )
        return out

    return session_store("stateful_totals", input_key(sf_dir, events), build)


# stateful_totals oracle envelope: DuckDB's CAST(round(value,6) AS
# DECIMAL(38,8)) rounds the binary double directly, while Spark/Python
# go through the double's shortest decimal repr; the two agree in the
# 8th decimal only while |value| stays below ~3.3e7 (there the double's
# ulp crosses 5e-9). tests/test_streaming.py::
# test_events_fixture_value_envelope pins the fixture inside that bound
# (and NaN-free — see streaming/stateful.py), so a generator change
# fails the test loudly instead of turning this row confusingly red.
@register(
    "time_window_stats",
    oracle="""
SELECT 'tumbling' AS win_kind,
       CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win_start,
       event_type,
       count(*) AS n_events,
       CAST(SUM(CAST(round(value, 6) AS DECIMAL(38,8))) AS VARCHAR) AS sum_value
FROM events
GROUP BY 2, 3
UNION ALL
SELECT 'sliding',
       CAST(date_trunc('hour', ts) - to_hours(o) AS TIMESTAMP),
       NULL,
       count(*),
       NULL
FROM events, unnest([0, 1]) AS t(o)
GROUP BY 2
UNION ALL
SELECT 'stateful_totals',
       CAST(NULL AS TIMESTAMP),
       event_type,
       count(*),
       CAST(SUM(CAST(round(value, 6) AS DECIMAL(38,8))) AS VARCHAR)
FROM events
GROUP BY event_type
""",
    tags=("streaming", "window"),
    doc="Time-window aggregates in one labeled result: hourly tumbling "
    "per event_type and a 2h window sliding by 1h (every "
    "event lands in two windows). 'stateful_totals' rows driver-verify "
    "the CUSTOM STATEFUL operator (streaming/stateful.py "
    "running_totals_exact — applyInPandasWithState, the extension "
    "point for semantics Spark's built-in windows/dedup cannot "
    "express): the events stream drains as three availableNow "
    "micro-batches through the exactly-once sink, per-key state "
    "carries (count, exact decimal sum) ACROSS batches, and the final "
    "emission per event_type must equal the whole-table aggregate — "
    "if state were lost between batches the counts would be per-batch "
    "and the row would go red. The measure is pre-rounded in Spark "
    "(round(value, 6)) and the Python state sums decimal.Decimal over "
    "the rounded doubles' exact decimal values, so the cumulative sum "
    "is order- and batch-split-independent and renders identically to "
    "the oracle's DECIMAL(38,8) sum at scale 8.",
)
def q_time_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    tumbling = (
        _events(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value"), 6).cast("decimal(38,8)"))
            .cast("string")
            .alias("sum_value"),
        )
        .select(
            F.lit("tumbling").alias("win_kind"),
            F.col("win.start").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    sliding = (
        _events(spark, sf_dir)
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("win"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.lit("sliding").alias("win_kind"),
            F.col("win.start").alias("win_start"),
            F.lit(None).cast("string").alias("event_type"),
            "n_events",
            F.lit(None).cast("string").alias("sum_value"),
        )
    )
    # custom stateful operator, drained through the exactly-once sink:
    # update mode emits one row per key per batch, each carrying the
    # cumulative state, so the LAST emission per key (max batch_id) is
    # the final total — compared against the whole-table aggregate
    from pyspark.sql import Window

    from ..streaming.sinks import read_exactly_once_parquet

    store = _stateful_totals_store(spark, sf_dir, _events(spark, sf_dir))
    w_last = Window.partitionBy("event_type").orderBy(F.col("batch_id").desc())
    stateful_rows = (
        read_exactly_once_parquet(spark, store)
        .withColumn("_rn", F.row_number().over(w_last))
        .where(F.col("_rn") == 1)
        .select(
            F.lit("stateful_totals").alias("win_kind"),
            F.lit(None).cast("timestamp").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return tumbling.unionByName(sliding).unionByName(stateful_rows)


# ---- streaming-join parts ('sjoin' / 'enrich') -------------------------
# Micro-batch schedule for the stream-stream interval join at sf0.01
# (events span 2024-01-01..2024-01-30): three time-ordered ts-range
# batches, EXCEPT that every day-1 row (ts < _SJ_LATE_CUT) is RELOCATED
# into batch 2. When batch 2 runs, the watermark is maxTs(batch 1) - 1h
# (~Jan 23 22:00), so the relocated rows arrive far below it and the
# join MUST drop them on input — both the two day-1 view->purchase
# pairs, and on BOTH input sides (day 1 holds late views AND late
# purchases). The tercile cuts are chosen to SPLIT real pairs across
# batches (view 05:05:00 -> purchase 05:16:16 across _SJ_T1; view
# 22:54:11 -> its two purchases across _SJ_T2), so the green hash also
# proves join state carries across micro-batches. Non-relocated rows
# can never be late: a batch-k row's ts >= the cut > maxTs(batch k-1)
# - 1h, and any purchase whose matching view was state-EVICTED is
# itself below the watermark by the interval bound — which is exactly
# why "batch join minus late rows" is the complete semantics.
# Verified empirically before wiring (round 8): streamed output ==
# batch join with both sides ts >= _SJ_LATE_CUT, 38 vs 40 unfiltered.
# At other SFs the slices degrade gracefully (a regenerated span just
# shifts what lands where; the entry still runs).
_SJ_LATE_CUT = "2024-01-02 00:00:00"
_SJ_T1 = "2024-01-11 05:10:00"
_SJ_T2 = "2024-01-23 23:00:00"
# event_type -> category dim rows for the stream-static enrichment;
# keep in lockstep with streaming/joins.py default_type_dim
_SJ_DIM = (
    ("view", "browse"),
    ("click", "browse"),
    ("signup", "convert"),
    ("purchase", "convert"),
    ("error", "ops"),
)


def _stream_joins_store(
    spark: SparkSession, sf_dir: str, events: DataFrame
) -> str:
    """Drain the two STREAMING JOIN operators (streaming/joins.py) over
    the events table staged as the three deterministic micro-batches
    above, returning the store root (session-memoized) with committed
    'attr' (stream-stream interval join, append mode — one slice
    landed then drained per batch so batch membership is exact) and
    'enrich' (stream-static broadcast-dim enrichment counts, complete
    mode — one run, maxFilesPerTrigger=1, so the aggregation state
    provably carries across its three batches) sinks."""
    from ..streaming import joins as sjn
    from ..streaming import sinks as eo
    from .stores import drain, input_key, session_store, tuned_shuffle

    def build(tmp: str) -> str:
        src = os.path.join(tmp, "events_in")
        ts_t = events.schema["ts"].dataType
        lit = lambda s: F.lit(s).cast(ts_t)
        late = F.col("ts") < lit(_SJ_LATE_CUT)
        slices = [
            (~late) & (F.col("ts") < lit(_SJ_T1)),
            (F.col("ts") >= lit(_SJ_T1)) & (F.col("ts") < lit(_SJ_T2)),
            (F.col("ts") >= lit(_SJ_T2)) | late,
        ]
        attr_ckpt = os.path.join(tmp, "ckpt_attr")
        with tuned_shuffle(spark):
            for b, pred in enumerate(slices):
                events.where(pred).coalesce(1).write.mode("append").parquet(
                    src
                )
                stream = (
                    spark.readStream.schema(events.schema)
                    .parquet(src)
                    # watermarks demand TIMESTAMP (LTZ); session is UTC
                    # so the NTZ->LTZ cast keeps the instant
                    # (streaming/events.py)
                    .withColumn("ts", F.col("ts").cast("timestamp"))
                )
                drain(
                    eo.start_exactly_once_parquet(
                        sjn.attribution_stream(stream),
                        os.path.join(tmp, "attr"),
                        attr_ckpt,
                    ),
                    f"attribution stream batch {b}",
                )
            enrich_stream = (
                spark.readStream.schema(events.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            drain(
                eo.start_exactly_once_parquet(
                    sjn.enriched_type_counts(
                        enrich_stream, sjn.default_type_dim(spark)
                    ),
                    os.path.join(tmp, "enrich"),
                    os.path.join(tmp, "ckpt_enrich"),
                    output_mode="complete",
                ),
                "enrichment stream",
            )
        return tmp

    return session_store("stream_joins", input_key(sf_dir, events), build)


@register(
    "session_window_stats",
    oracle=f"""
WITH flags AS (
    SELECT user_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_s
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
    SELECT user_id, ts,
           sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
    FROM flags
)
SELECT 'session' AS part, user_id,
       min(ts) AS t_start,
       max(ts) AS t_end,
       count(*) AS n_events,
       CAST(NULL AS VARCHAR) AS detail
FROM sess GROUP BY user_id, sid
UNION ALL
SELECT 'sjoin', v.user_id, v.ts, p.ts, CAST(NULL AS BIGINT),
       CAST(v.event_id AS VARCHAR) || ':' || CAST(p.event_id AS VARCHAR)
FROM events v JOIN events p
  ON p.user_id = v.user_id
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
WHERE v.event_type = 'view' AND p.event_type = 'purchase'
  AND v.ts >= TIMESTAMP '{_SJ_LATE_CUT}'
  AND p.ts >= TIMESTAMP '{_SJ_LATE_CUT}'
UNION ALL
SELECT 'enrich', CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP),
       CAST(NULL AS TIMESTAMP), count(*), d.category
FROM events e
JOIN (VALUES {", ".join(f"('{t}', '{c}')" for t, c in _SJ_DIM)})
     AS d(event_type, category)
  ON d.event_type = e.event_type
GROUP BY d.category
""",
    tags=("streaming", "window", "join"),
    doc="Gap-based (30 min) session windows per user — native "
    "session_window vs a gaps-and-islands oracle — plus the STREAMING "
    "JOIN surface (streaming/joins.py) as driver-verified parts. "
    "'sjoin' rows are the watermarked STREAM-STREAM INTERVAL JOIN "
    "(view -> purchase attribution within 1h, both sides watermarked "
    "1h so the state store can evict): the events table drains as "
    "three availableNow micro-batches in-session with every day-1 row "
    "deliberately relocated into the LAST batch, so those rows arrive "
    "below the watermark and the join must DROP them — the oracle is "
    "the batch interval join with both sides filtered to "
    "ts >= the late cut, so the hash match proves BOTH that stream "
    "join == batch join (including pairs the tercile cuts split "
    "across batches, which only match if join state survives between "
    "micro-batches) AND that the watermark dropped the late rows on "
    "both input sides (the unfiltered join has 2 more pairs at "
    "sf0.01). 'enrich' rows are the STREAM-STATIC broadcast-dim "
    "enrichment (event_type -> category counts, complete mode): the "
    "final emission must count EVERY event across all three batches — "
    "per-batch-only state would go red.",
)
def q_session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..streaming.sinks import read_exactly_once_parquet

    sess = (
        _events(spark, sf_dir)
        .groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select(
            F.lit("session").alias("part"),
            "user_id",
            F.col("session_start").cast("timestamp_ntz").alias("t_start"),
            F.col("session_end").cast("timestamp_ntz").alias("t_end"),
            "n_events",
            F.lit(None).cast("string").alias("detail"),
        )
    )
    root = _stream_joins_store(spark, sf_dir, _events(spark, sf_dir))
    sjoin = read_exactly_once_parquet(
        spark, os.path.join(root, "attr")
    ).select(
        F.lit("sjoin").alias("part"),
        "user_id",
        F.col("view_ts").alias("t_start"),
        F.col("purchase_ts").alias("t_end"),
        F.lit(None).cast("long").alias("n_events"),
        F.concat_ws(
            ":",
            F.col("view_event").cast("string"),
            F.col("purchase_event").cast("string"),
        ).alias("detail"),
    )
    # complete mode rewrites every key each batch; the LAST committed
    # batch is the final cumulative count over all three
    er = read_exactly_once_parquet(spark, os.path.join(root, "enrich"))
    w_all = Window.partitionBy(F.lit(1))
    enrich = (
        er.withColumn("_mx", F.max("batch_id").over(w_all))
        .where(F.col("batch_id") == F.col("_mx"))
        .select(
            F.lit("enrich").alias("part"),
            F.lit(None).cast("long").alias("user_id"),
            F.lit(None).cast("timestamp_ntz").alias("t_start"),
            F.lit(None).cast("timestamp_ntz").alias("t_end"),
            "n_events",
            F.col("category").alias("detail"),
        )
    )
    return sess.unionByName(sjoin).unionByName(enrich)
