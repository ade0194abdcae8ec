"""The delta-versioned streaming store protocol (streaming/deltas.py):
per-batch deltas, compaction's content-equal atomic repoint, pruning's
reference rule, and — the property the round-11 rewrite exists for —
that a stream CONTINUED after compaction inherits the compacted
composition instead of the superseded per-batch deltas."""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import functions as F

from parallel_inverted_index_map_reduce_spark.operators.serving import phrase_from_frames
from parallel_inverted_index_map_reduce_spark.sources.tables import load_table
from parallel_inverted_index_map_reduce_spark.streaming import ann_stream as avs
from parallel_inverted_index_map_reduce_spark.streaming import deltas as dv
from parallel_inverted_index_map_reduce_spark.streaming import serving_stream as svs

from .conftest import SF_ORACLE


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_ann_delta_writes_are_per_batch_and_compaction_is_content_equal(
    spark, tmp_path
):
    emb = load_table(spark, SF_ORACLE, "embeddings")
    src = str(tmp_path / "emb_in")
    emb.repartition(3).write.parquet(src)
    store = str(tmp_path / "ann")
    ckpt = str(tmp_path / "ckpt")
    q = avs.start_incremental_ann(
        (
            spark.readStream.schema("vec_id bigint, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        ),
        store,
        ckpt,
        n_list=4,
        n_iters=1,
    )
    assert q.awaitTermination(420)

    # DELTA property: per-batch vector rows sum to the corpus — no
    # batch rewrote the store (the O(store)-per-increment shape this
    # protocol replaces)
    per_batch = [
        spark.read.parquet(os.path.join(d, "vectors")).count()
        for d in sorted(glob.glob(os.path.join(store, "batch_id=*")))
    ]
    assert sum(per_batch) == emb.count()
    assert all(n < emb.count() for n in per_batch)

    v = avs.read_ann_version(spark, store)
    before = _rows(v["vectors"].select("vec_id", "list_id"))
    queries = emb.where(F.col("vec_id") < 5)
    ans_before = _rows(avs.ann_search_version(spark, store, queries, k=3))

    version = avs.compact_ann_store(spark, store)
    man = dv.read_manifest(os.path.join(store, f"batch_id={version}"))
    assert man["artifacts"]["vectors"]["deltas"] == [
        f"compact={version}/vectors"
    ]
    v2 = avs.read_ann_version(spark, store)
    assert _rows(v2["vectors"].select("vec_id", "list_id")) == before
    assert _rows(avs.ann_search_version(spark, store, queries, k=3)) == (
        ans_before
    )

    # pruning frees every superseded per-batch delta; the version dir
    # itself survives (manifest + version-local centroids)
    removed = dv.prune_versions(store, keep=1)
    assert removed == version  # batches 0..version-1
    assert _rows(avs.read_ann_version(spark, store)["vectors"].select(
        "vec_id", "list_id"
    )) == before


def test_stream_continued_after_compaction_inherits_compact(spark, tmp_path):
    emb = load_table(spark, SF_ORACLE, "embeddings")
    first, second = (
        emb.where(F.col("vec_id") % 2 == 0),
        emb.where(F.col("vec_id") % 2 == 1),
    )
    src = str(tmp_path / "emb_in")
    store = str(tmp_path / "ann")
    ckpt = str(tmp_path / "ckpt")

    def _run():
        q = avs.start_incremental_ann(
            (
                spark.readStream.schema(
                    "vec_id bigint, embedding array<float>"
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            ),
            store,
            ckpt,
            n_list=4,
            n_iters=1,
        )
        assert q.awaitTermination(420)

    first.repartition(2).write.mode("append").parquet(src)
    _run()
    cv = avs.compact_ann_store(spark, store)
    dv.prune_versions(store, keep=1)
    second.repartition(1).write.mode("append").parquet(src)
    _run()

    latest = dv.latest_committed_dir(store)
    man = dv.read_manifest(latest)
    deltas = man["artifacts"]["vectors"]["deltas"]
    # the new version references the compact plus ONLY its own delta(s)
    assert deltas[0] == f"compact={cv}/vectors"
    assert all(d.startswith("batch_id=") for d in deltas[1:])
    v = avs.read_ann_version(spark, store)
    assert v["vectors"].count() == emb.count()
    # and still answers under the stream's own fixed centroids
    queries = emb.where(F.col("vec_id") < 5)
    assert _rows(
        avs.ann_search_version(spark, store, queries, k=3, nprobe=4)
    )


def test_serving_compaction_preserves_queries_and_stats(spark, tmp_path):
    docs = load_table(spark, SF_ORACLE, "documents").where(
        F.col("doc_id") < 120
    )
    src = str(tmp_path / "docs_in")
    docs.repartition(3).write.parquet(src)
    store = str(tmp_path / "serv")
    ckpt = str(tmp_path / "ckpt")

    def _run():
        q = svs.start_incremental_serving(
            (
                spark.readStream.schema(docs.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            ),
            store,
            ckpt,
        )
        assert q.awaitTermination(420)

    _run()
    assert len(svs.eo.committed_batch_dirs(store)) == 3
    # restart with the same checkpoint: no new files -> no new version
    _run()
    assert len(svs.eo.committed_batch_dirs(store)) == 3
    # every delta the latest manifest lists is LIVE: pruning before
    # compaction must remove nothing
    assert dv.prune_versions(store, keep=1) == 0
    assert len(svs.eo.committed_batch_dirs(store)) == 3

    v = svs.read_serving_version(spark, store)
    st = v["stats"].first()
    # the incremental counters reproduce AVG over the composed doclen
    # and the corpus count exactly
    assert st["n_docs"] == docs.count()
    want_avg = v["doclen"].agg(F.avg("dl")).first()[0]
    assert st["avgdl"] == want_avg
    bm25_before = _rows(svs.bm25_search_version(spark, store, "the world"))
    phrase_before = _rows(phrase_from_frames(v["positions"], "of the"))

    version = svs.compact_serving_store(spark, store)
    man = dv.read_manifest(os.path.join(store, f"batch_id={version}"))
    for a in ("positions", "doclen", "docterms"):
        assert man["artifacts"][a]["deltas"] == [f"compact={version}/{a}"]
    # stats stays version-local (O(1), never chained)
    assert man["artifacts"]["stats"]["deltas"] == [
        f"batch_id={version}/stats"
    ]
    assert dv.prune_versions(store, keep=1) == version
    # no marker without its data directory after pruning (a marker-only
    # state would make is_committed lie to the replay guard and
    # silently drop a redelivered batch)
    markers = {
        m.rsplit("_", 1)[1]
        for m in glob.glob(os.path.join(store, "_committed_*"))
    }
    data = {
        d.rsplit("=", 1)[1]
        for d in glob.glob(os.path.join(store, "batch_id=*"))
    }
    assert markers and markers <= data, (markers, data)
    assert _rows(
        svs.bm25_search_version(spark, store, "the world")
    ) == bm25_before
    after = svs.read_serving_version(spark, store)
    assert _rows(phrase_from_frames(after["positions"], "of the")) == phrase_before


def test_manifest_is_json_and_invisible_to_parquet_reads(spark, tmp_path):
    """The manifest lands atomically as an underscore file, so Spark's
    parquet listing ignores it inside a delta directory."""
    d = str(tmp_path / "v")
    dv.write_manifest(
        d, {"version": 7, "artifacts": {"x": {"mode": "append", "deltas": ["a"]}}}
    )
    with open(os.path.join(d, "_MANIFEST.json")) as f:
        man = json.load(f)
    assert man["version"] == 7 and man["artifacts"]["x"]["deltas"] == ["a"]
    spark.createDataFrame([(1,)], "i int").write.mode("overwrite").parquet(d)
    # overwrite dropped the manifest with the dir (the replay contract);
    # rewrite and confirm the parquet read still sees only data rows
    dv.write_manifest(
        d, {"version": 7, "artifacts": {"x": {"mode": "append", "deltas": ["a"]}}}
    )
    assert spark.read.parquet(d).count() == 1
