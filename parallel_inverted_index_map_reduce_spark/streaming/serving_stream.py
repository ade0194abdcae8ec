"""Streamed maintenance of the SERVING layout — delta versions.

This module maintains everything a QUERY needs over a document stream —
positional postings, doclen, docterms, and the BM25 stats row — so the
streamed artifact serves bm25/phrase/more-like-this and the formatted
index lines directly, with no batch job in between. It is the only
streamed text store: posting lists are the positions artifact's
(word, doc_id) rows, exactly as in the batch store
(operators/serving.py), and every positions/doclen/docterms row is
the batch store's row — built by the same ``serving._positions_frame``
/ ``_appendable_frames`` and read under the same ``_TEXT_LAYOUT``
column schemas, ``tf`` included.

Versions are LOGICAL (streaming/deltas.py): each micro-batch writes
ONLY its own contribution —

- ``positions`` / ``doclen`` / ``docterms``: append-mode deltas (every
  row belongs to exactly one batch forever, so composition is a plain
  union of the live deltas),
- ``stats``: a full (O(1)) per-version row, maintained INCREMENTALLY —
  (n_docs, n_dl, sum_dl) fold the batch's own doclen delta into the
  previous version's counters, and avgdl = sum_dl / n_dl reproduces
  AVG over the composed doclen exactly (integer sums are exact in
  double far past any corpus size, so the division is the same IEEE
  operation either way)

— and a ``_MANIFEST.json`` naming the live deltas per artifact and the
text layout version its rows follow. A store written under an older
row format (positions without ``tf``) is refused, never read with a
null column. The per-batch write cost is O(batch), the same shape as
operators/serving.py's batch extend path. Commit-marker crash safety:
deltas + manifest land before the marker, a version is
complete-or-invisible, and a replayed batch rebuilds from the latest
COMMITTED manifest — proven by the crash-injection test. Doc ids must
be unique across the stream (append-only corpus), the same contract as
extend_search_index.

Every positions delta is letter-partitioned parquet, so the
query-side pruning (PartitionFilters + pushed word IN) holds per delta
scan, matching the stored-table path; queries run through the SAME
frame-parameterized bodies as the stored path
(:func:`bm25_search_version` calls serving.bm25_from_frames;
phrase_from_frames / mlt_from_frames take the frames of
:func:`read_serving_version`), so streamed answers are the stored
path's answers by construction. :func:`compact_serving_store` +
``deltas.prune_versions`` are the offline maintenance pair that bounds
the live-delta count.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.serving import (
    _LAYOUT_VERSION,
    _TEXT_LAYOUT,
    _appendable_frames,
    _positions_frame,
    bm25_from_frames,
)
from . import deltas as dv
from . import sinks as eo

# the text-store tables a stream appends (batch-layout ``_<name>``)
_APPENDED = ("positions", "doclen", "docterms")

# artifact -> explicit read schema: a committed delta of a zero-row
# batch has a directory with no part files, where schema inference
# raises — explicit schemas keep every committed version readable (the
# same empty-directory lesson as sinks.py's reader). The appended
# tables read under the batch store's own column DDL; only stats keeps
# its own row, for the incremental (n_dl, sum_dl) fold.
ARTIFACTS = {
    **{a: _TEXT_LAYOUT[f"_{a}"].cols for a in _APPENDED},
    "stats": "n_docs long, avgdl double, n_dl long, sum_dl long",
}

# which deltas compose by union; stats is the O(1) per-version row
MODES = {**{a: "append" for a in _APPENDED}, "stats": "full"}


def _read_one(spark: SparkSession, artifact: str):
    schema = ARTIFACTS[artifact]

    def read(path: str) -> DataFrame:
        return spark.read.schema(schema).parquet(path)

    return read


def _write_appended(df: DataFrame, artifact: str, out_dir: str) -> None:
    """Overwrite ``out_dir/<artifact>`` with ``df``, partitioned as the
    batch layout partitions that table (positions by letter)."""
    writer = df.write.mode("overwrite")
    part = _TEXT_LAYOUT[f"_{artifact}"].part
    if part:
        writer = writer.partitionBy(part)
    writer.parquet(os.path.join(out_dir, artifact))


def _layout_manifest(version_dir: str) -> dict:
    """The version's manifest, refused unless its rows follow the
    current text layout: a store written before positions carried
    ``tf`` would read that column back null, and BM25/MLT would score
    nothing without a word of warning."""
    man = dv.read_manifest(version_dir)
    if man.get("layout") != _LAYOUT_VERSION:
        raise ValueError(
            f"streamed serving store {os.path.dirname(version_dir)} "
            f"records text layout {man.get('layout')!r}, not "
            f"{_LAYOUT_VERSION}: its rows predate the batch store's row "
            "format — replay the stream into a fresh store directory"
        )
    return man


def read_serving_version(
    spark: SparkSession, store_dir: str
) -> dict[str, DataFrame] | None:
    """The latest COMMITTED serving snapshot as {artifact: DataFrame}
    (manifest-composed), or None before the first commit."""
    latest = dv.latest_committed_dir(store_dir)
    if latest is None:
        return None
    man = _layout_manifest(latest)
    return {
        a: dv.read_artifact(store_dir, man, a, _read_one(spark, a))
        for a in ARTIFACTS
    }


def _committed_version(
    spark: SparkSession, store_dir: str
) -> dict[str, DataFrame]:
    """:func:`read_serving_version` for a query: no committed version
    is a loud FileNotFoundError."""
    v = read_serving_version(spark, store_dir)
    if v is None:
        raise FileNotFoundError(f"no committed serving version in {store_dir}")
    return v


def start_incremental_serving(
    docs_stream: DataFrame,
    store_dir: str,
    checkpoint: str,
):
    """Maintain the serving layout over a document stream; returns the
    StreamingQuery (callers await it)."""

    def process_batch(batch_docs: DataFrame, batch_id: int) -> None:
        if eo.is_committed(store_dir, batch_id):
            return  # replay of a committed batch: drop it
        spark = batch_docs.sparkSession
        # a regenerated corpus can carry int32 doc ids (the schema-drift
        # contract); normalize to the layout's bigint so every delta
        # composes under the one schema
        batch = batch_docs.withColumn(
            "doc_id", F.col("doc_id").cast("long")
        ).localCheckpoint()
        prev_dir = dv.latest_committed_dir(store_dir)
        prev_man = _layout_manifest(prev_dir) if prev_dir else None

        # ONE tokenization of the batch: the pinned positions frame
        # feeds positions, doclen and docterms — the batch store's rows.
        # EAGER: the three artifact writes below run concurrently, and
        # a lazy checkpoint materialized by racing jobs would tokenize
        # once per racer — materialize first, fan out after.
        frames = _appendable_frames(_positions_frame(batch).localCheckpoint())
        n_batch = batch.count()
        if prev_man is None:
            prev_stats = {"n_docs": 0, "n_dl": 0, "sum_dl": 0}
        else:
            prev_stats = dv.read_artifact(
                store_dir, prev_man, "stats", _read_one(spark, "stats")
            ).first().asDict()

        out = eo.batch_dir(store_dir, batch_id)
        rel = os.path.basename(out)

        # The three artifact writes are independent once the positions
        # frame is materialized: submit them from a small thread pool so
        # their jobs overlap instead of serializing (the per-batch fixed
        # cost at small batch sizes is mostly these write jobs'
        # scheduling + commit latency). Any failure propagates out of
        # result(), the batch aborts, and no commit marker lands —
        # partially written artifact dirs stay invisible, exactly the
        # crash-injection contract. Norms are NOT maintained: they bake
        # idf, which every batch moves, so the streamed MLT recomputes
        # them at query time (the batch store's stale-norms path).
        with ThreadPoolExecutor(max_workers=len(_APPENDED)) as pool:
            for fut in [
                pool.submit(_write_appended, frames[f"_{a}"], a, out)
                for a in _APPENDED
            ]:
                fut.result()
        # fold the WRITTEN doclen delta into the previous counters
        # (reading it back avoids re-executing the tokenize plan; the
        # explicit schema keeps a zero-row batch's empty directory
        # readable). Integer sums stay exact in double, so
        # sum_dl / n_dl IS AVG(dl) over the composed doclen.
        d = (
            _read_one(spark, "doclen")(os.path.join(out, "doclen"))
            .agg(
                F.count("*").cast("long").alias("n"),
                F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("s"),
            )
            .first()
        )
        n_docs = int(prev_stats["n_docs"]) + n_batch
        n_dl = int(prev_stats["n_dl"]) + int(d["n"])
        sum_dl = int(prev_stats["sum_dl"]) + int(d["s"])
        avgdl = (sum_dl / n_dl) if n_dl else 1.0
        spark.createDataFrame(
            [(n_docs, avgdl, n_dl, sum_dl)], ARTIFACTS["stats"]
        ).write.mode("overwrite").parquet(os.path.join(out, "stats"))

        dv.write_manifest(
            out,
            {
                "version": batch_id,
                "layout": _LAYOUT_VERSION,
                "artifacts": {
                    a: dv.extend_deltas(prev_man, a, f"{rel}/{a}", MODES[a])
                    for a in ARTIFACTS
                },
            },
        )
        eo.commit(store_dir, batch_id)

    return (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def compact_serving_store(spark: SparkSession, store_dir: str) -> int:
    """Offline maintenance: materialize the latest committed version's
    composition of every delta-chained artifact into one ``compact=V``
    directory (same letter partitioning for positions), commit
    the compact marker, and atomically repoint version V's manifest —
    content-equal by construction. Returns V; follow with
    ``deltas.prune_versions`` to free superseded per-batch deltas."""
    latest = dv.latest_committed_dir(store_dir)
    if latest is None:
        raise FileNotFoundError(f"no committed serving version in {store_dir}")
    version = int(latest.rsplit("=", 1)[1])
    man = _layout_manifest(latest)
    cdir = dv.compact_dir(store_dir, version)
    rewrites = {}
    for a in _APPENDED:
        composed = dv.read_artifact(store_dir, man, a, _read_one(spark, a))
        _write_appended(composed, a, cdir)
        rewrites[a] = f"{os.path.basename(cdir)}/{a}"
    dv.finish_compaction(store_dir, version, rewrites)
    return version


def bm25_search_version(
    spark: SparkSession,
    store_dir: str,
    query: str,
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
) -> DataFrame:
    """BM25 top-k served from the latest committed streamed snapshot —
    the same frame-parameterized body as the stored-table path."""
    v = _committed_version(spark, store_dir)
    st = v["stats"].first()
    return bm25_from_frames(
        v["positions"],
        v["doclen"],
        int(st["n_docs"]),
        float(st["avgdl"]),
        query,
        k1=k1,
        b=b,
        k=k,
    )
