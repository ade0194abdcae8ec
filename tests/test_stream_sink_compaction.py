"""Exactly-once foreachBatch sink."""

from __future__ import annotations

from parallel_inverted_index_map_reduce_spark.sources.tables import load_table
from parallel_inverted_index_map_reduce_spark.streaming import events as sev
from parallel_inverted_index_map_reduce_spark.streaming import sinks as ssk

from .conftest import SF_ORACLE


def test_exactly_once_sink_no_duplicates_across_restart(spark, tmp_path):
    out = str(tmp_path / "landed")
    ckpt = str(tmp_path / "ckpt")

    q = ssk.start_exactly_once_parquet(
        sev.read_events_stream(spark, SF_ORACLE), out, ckpt
    )
    assert q.awaitTermination(420)

    batch = load_table(spark, SF_ORACLE, "events")
    landed = ssk.read_exactly_once_parquet(spark, out)
    assert landed.count() == batch.count()
    assert landed.select("event_id").distinct().count() == batch.count()

    # Restart with the same checkpoint: availableNow finds no new files;
    # committed batches must not be re-landed.
    q2 = ssk.start_exactly_once_parquet(
        sev.read_events_stream(spark, SF_ORACLE), out, ckpt
    )
    assert q2.awaitTermination(420)
    assert ssk.read_exactly_once_parquet(spark, out).count() == batch.count()


def test_read_tolerates_empty_committed_batches(spark, tmp_path):
    """A committed batch whose DataFrame was empty leaves a directory
    with no part files; the reader must skip it — and when ALL committed
    batches are empty, return an empty frame under an explicit schema
    instead of failing schema inference."""
    import os

    import pytest

    out = str(tmp_path / "landed")
    os.makedirs(ssk.batch_dir(out, 0))  # committed but empty
    ssk.commit(out, 0)

    with pytest.raises(FileNotFoundError, match="explicit schema"):
        ssk.read_exactly_once_parquet(spark, out)
    empty = ssk.read_exactly_once_parquet(spark, out, schema="event_id long")
    # schema matches the data-bearing path, which appends batch_id
    assert empty.count() == 0 and empty.columns == ["event_id", "batch_id"]

    # mixed: an empty committed batch alongside a data-bearing one
    spark.createDataFrame([(1,), (2,)], ["event_id"]).write.parquet(
        ssk.batch_dir(out, 1)
    )
    ssk.commit(out, 1)
    got = ssk.read_exactly_once_parquet(spark, out)
    assert sorted(r.event_id for r in got.collect()) == [1, 2]

