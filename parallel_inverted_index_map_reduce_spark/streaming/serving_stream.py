"""Streamed maintenance of the full SERVING layout — delta versions.

streaming/index_stream.py maintains the chunked index incrementally;
this module maintains everything a QUERY needs — positional postings,
doclen, docterms, and the BM25 stats row — so the streamed artifact
can serve bm25/phrase/more-like-this directly, with no batch job in
between. Posting lists are the positions artifact's (word, doc_id)
rows, exactly as in the batch store (operators/serving.py).

Since round 11 versions are LOGICAL (streaming/deltas.py): each
micro-batch writes ONLY its own contribution —

- ``positions`` / ``doclen`` / ``docterms``: append-mode deltas (every
  row belongs to exactly one batch forever, so composition is a plain
  union of the live deltas),
- ``stats``: a full (O(1)) per-version row, maintained INCREMENTALLY —
  (n_docs, n_dl, sum_dl) fold the batch's own doclen delta into the
  previous version's counters, and avgdl = sum_dl / n_dl reproduces
  AVG over the composed doclen exactly (integer sums are exact in
  double far past any corpus size, so the division is the same IEEE
  operation either way)

— and a ``_MANIFEST.json`` naming the live deltas per artifact. The
per-batch write cost is O(batch), the same shape as
operators/serving.py's batch extend path, where the pre-round-11
protocol rewrote the complete layout every micro-batch (O(store) per
increment). Commit-marker crash safety is unchanged: deltas + manifest
land before the marker, a version is complete-or-invisible, and a
replayed batch rebuilds from the latest COMMITTED manifest — proven by
the crash-injection test. Doc ids must be unique across the stream
(append-only corpus), the same contract as extend_search_index.

Every positions delta is letter-partitioned parquet, so the
query-side pruning (PartitionFilters + pushed word IN) holds per delta
scan, matching the stored-table path; queries run through the SAME
frame-parameterized bodies (serving.bm25_from_frames /
phrase_from_frames), so streamed answers are the stored path's answers
by construction. :func:`compact_serving_store` +
``deltas.prune_versions`` are the offline maintenance pair that bounds
the live-delta count.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.index import positional_postings
from . import deltas as dv
from . import sinks as eo

# artifact -> explicit read schema: a committed delta of a zero-row
# batch has a directory with no part files, where schema inference
# raises — explicit schemas keep every committed version readable (the
# same empty-directory lesson as sinks.py's reader)
ARTIFACTS = {
    "positions": "word string, doc_id bigint, positions array<int>, letter string",
    "doclen": "doc_id long, dl bigint",
    "docterms": "doc_id long, word string, tf bigint",
    "stats": "n_docs long, avgdl double, n_dl long, sum_dl long",
}

# which deltas compose by union; stats is the O(1) per-version row
MODES = {
    "positions": ("append", None),
    "doclen": ("append", None),
    "docterms": ("append", None),
    "stats": ("full", None),
}


def _read_one(spark: SparkSession, artifact: str):
    schema = ARTIFACTS[artifact]

    def read(path: str) -> DataFrame:
        return spark.read.schema(schema).parquet(path)

    return read


def read_serving_version(
    spark: SparkSession, store_dir: str
) -> dict[str, DataFrame] | None:
    """The latest COMMITTED serving snapshot as {artifact: DataFrame}
    (manifest-composed), or None before the first commit."""
    latest = dv.latest_committed_dir(store_dir)
    if latest is None:
        return None
    man = dv.read_manifest(latest)
    return {
        a: dv.read_artifact(store_dir, man, a, _read_one(spark, a))
        for a in ARTIFACTS
    }


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
        batch = batch_docs.localCheckpoint()
        prev_dir = dv.latest_committed_dir(store_dir)
        prev_man = dv.read_manifest(prev_dir) if prev_dir else None

        # ONE tokenization of the batch: the pinned positional frame
        # feeds positions, doclen and docterms.
        # EAGER: the three artifact writes below run concurrently, and
        # a lazy checkpoint materialized by racing jobs would tokenize
        # once per racer — materialize first, fan out after.
        new_pos = (
            positional_postings(batch)
            # a regenerated corpus can carry int32 doc ids (the
            # schema-drift contract); normalize to the delta's declared
            # bigint so every delta composes under the one schema
            .withColumn("doc_id", F.col("doc_id").cast("long"))
            .withColumn("letter", F.substring("word", 1, 1))
            .localCheckpoint()
        )
        new_dl = new_pos.groupBy("doc_id").agg(
            F.sum(F.size("positions")).cast("long").alias("dl")
        )
        new_dt = new_pos.select(
            "doc_id", "word", F.size("positions").cast("long").alias("tf")
        )
        n_batch = batch.count()
        if prev_man is None:
            prev_stats = {"n_docs": 0, "n_dl": 0, "sum_dl": 0}
        else:
            prev_stats = dv.read_artifact(
                store_dir, prev_man, "stats", _read_one(spark, "stats")
            ).first().asDict()

        out = eo.batch_dir(store_dir, batch_id)
        rel = os.path.basename(out)

        # The three artifact writes are independent once new_pos is
        # materialized: submit them from a small thread pool so their
        # jobs overlap instead of serializing (guide-style concurrent
        # independent jobs — the per-batch fixed cost at small batch
        # sizes is mostly these write jobs' scheduling + commit
        # latency). Any failure propagates out of
        # result(), the batch aborts, and no commit marker lands —
        # partially written artifact dirs stay invisible, exactly the
        # crash-injection contract.
        def _w_positions() -> None:
            new_pos.write.mode("overwrite").partitionBy("letter").parquet(
                os.path.join(out, "positions")
            )

        def _w_doclen() -> None:
            new_dl.write.mode("overwrite").parquet(os.path.join(out, "doclen"))

        # doc-major transpose, an append delta like doclen — norms are
        # NOT maintained: they bake idf, which every batch moves, so
        # the streamed MLT recomputes them at query time (the same
        # stale-norms fallback the batch store uses between compactions)
        def _w_docterms() -> None:
            new_dt.write.mode("overwrite").parquet(os.path.join(out, "docterms"))

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=3) as pool:
            for fut in [
                pool.submit(w) for w in (_w_positions, _w_doclen, _w_docterms)
            ]:
                fut.result()
        # fold the WRITTEN doclen delta into the previous counters
        # (reading it back avoids re-executing the tokenize plan; the
        # explicit schema keeps a zero-row batch's empty directory
        # readable). Integer sums stay exact in double, so
        # sum_dl / n_dl IS AVG(dl) over the composed doclen.
        d = (
            spark.read.schema(ARTIFACTS["doclen"])
            .parquet(os.path.join(out, "doclen"))
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
            batch_id,
            {
                a: dv.extend_deltas(
                    prev_man, a, f"{rel}/{a}", MODES[a][0], key=MODES[a][1]
                )
                for a in ARTIFACTS
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
    man = dv.read_manifest(latest)
    cdir = dv.compact_dir(store_dir, version)
    rewrites = {}
    for a in ("positions", "doclen", "docterms"):
        composed = dv.read_artifact(store_dir, man, a, _read_one(spark, a))
        writer = composed.write.mode("overwrite")
        if a == "positions":
            writer = writer.partitionBy("letter")
        writer.parquet(os.path.join(cdir, a))
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
    from ..operators.serving import bm25_from_frames

    v = read_serving_version(spark, store_dir)
    if v is None:
        raise FileNotFoundError(f"no committed serving version in {store_dir}")
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


def phrase_search_version(
    spark: SparkSession, store_dir: str, phrase: str
) -> DataFrame:
    """Exact-phrase match served from the latest committed snapshot."""
    from ..operators.serving import phrase_from_frames

    v = read_serving_version(spark, store_dir)
    if v is None:
        raise FileNotFoundError(f"no committed serving version in {store_dir}")
    return phrase_from_frames(v["positions"], phrase)


def mlt_search_version(
    spark: SparkSession, store_dir: str, doc_id: int, k: int = 10
) -> DataFrame:
    """More-like-this served from the latest committed streamed
    snapshot — the same frame-parameterized body as the stored-table
    path (serving.mlt_from_frames); norms recompute from the docterms
    composition at query time (idf moves every batch, so a norms
    artifact would be stale the moment the next batch lands)."""
    from ..operators.serving import mlt_from_frames

    v = read_serving_version(spark, store_dir)
    if v is None:
        raise FileNotFoundError(f"no committed serving version in {store_dir}")
    return mlt_from_frames(
        v["docterms"],
        v["positions"],
        int(v["stats"].first()["n_docs"]),
        doc_id,
        k=k,
    )
