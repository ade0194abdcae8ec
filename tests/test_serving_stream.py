"""Streamed serving-layout maintenance: the stream of document batches
must converge to a snapshot whose queries — and whose positions-derived
postings — answer exactly what the corpus-scan operators and the batch
index build answer on the full corpus, survive a crash injected before
the commit marker, and refuse a store written under an older row
format."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from parallel_inverted_index_map_reduce_spark.operators.index import (
    bm25_search,
    build_index,
    index_from_pairs,
    phrase_search,
)
from parallel_inverted_index_map_reduce_spark.operators.serving import (
    mlt_from_frames,
    phrase_from_frames,
)
from parallel_inverted_index_map_reduce_spark.sources.tables import load_table
from parallel_inverted_index_map_reduce_spark.streaming import serving_stream as svs

from .conftest import SF_ORACLE


def _rows(df):
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in df.collect()
    )


def test_streamed_serving_converges_and_serves(spark, tmp_path):
    docs = load_table(spark, SF_ORACLE, "documents")
    src = str(tmp_path / "docs_in")
    docs.repartition(3).write.parquet(src)
    assert len(glob.glob(f"{src}/part-*.parquet")) == 3

    store = str(tmp_path / "serving_versions")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = svs.start_incremental_serving(stream, store, ckpt)
    assert q.awaitTermination(420), "stream did not finish"
    assert len(svs.eo.committed_batch_dirs(store)) == 3

    query = "spark query hash"
    got = svs.bm25_search_version(spark, store, query)
    want = bm25_search(docs, query)
    assert _rows(got) == _rows(want) and _rows(got)

    # the postings derived from the streamed positions are the batch
    # build's index (the index_lines 'streamed' derivation)
    snapshot = svs.read_serving_version(spark, store)
    positions = snapshot["positions"]
    assert _rows(index_from_pairs(positions.select("word", "doc_id"))) == (
        _rows(build_index(docs))
    )

    got_ph = phrase_from_frames(positions, "spark query")
    want_ph = phrase_search(docs, "spark query")
    assert _rows(got_ph) == _rows(want_ph)

    # streamed MLT answers exactly what the corpus-scan operator answers
    # on the full corpus (norms recomputed from the docterms snapshot:
    # idf moves every batch, so a stored norms artifact would be stale)
    from parallel_inverted_index_map_reduce_spark.operators.index import (
        more_like_this,
    )

    got_mlt = mlt_from_frames(
        snapshot["docterms"],
        positions,
        int(snapshot["stats"].first()["n_docs"]),
        7,
        k=10,
    )
    want_mlt = more_like_this(docs, 7, k=10)
    assert _rows(got_mlt) == _rows(want_mlt) and _rows(got_mlt)

    # snapshot positions keep the letter partitioning -> pruned reads
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got_ph.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "letter" in plan.split("PartitionFilters")[1][:200]


def test_streamed_serving_crash_before_marker_recovers(
    spark, tmp_path, monkeypatch
):
    from parallel_inverted_index_map_reduce_spark.streaming import sinks as eo_mod

    docs = load_table(spark, SF_ORACLE, "documents")
    src = str(tmp_path / "docs_in")
    docs.repartition(2).write.parquet(src)
    store = str(tmp_path / "serving_versions")
    ckpt = str(tmp_path / "ckpt")

    real_commit = eo_mod.commit
    state = {"crashed": False}

    def commit_once_crashing(path, batch_id):
        if batch_id == 1 and not state["crashed"]:
            state["crashed"] = True
            raise RuntimeError("injected crash before commit marker")
        real_commit(path, batch_id)

    monkeypatch.setattr(eo_mod, "commit", commit_once_crashing)

    def _stream():
        return (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    q = svs.start_incremental_serving(_stream(), store, ckpt)
    try:
        q.awaitTermination(420)
    except Exception:
        pass
    assert state["crashed"]
    # only batch 0 committed; it still serves (complete-or-invisible)
    assert [
        d.rsplit("=", 1)[1] for d in svs.eo.committed_batch_dirs(store)
    ] == ["0"]
    assert svs.read_serving_version(spark, store) is not None

    # same-checkpoint restart redelivers the failed batch and converges
    q2 = svs.start_incremental_serving(_stream(), store, ckpt)
    assert q2.awaitTermination(420)
    got = svs.bm25_search_version(spark, store, "spark query hash")
    want = bm25_search(docs, "spark query hash")
    assert _rows(got) == _rows(want) and _rows(got)


def _tiny_docs(spark, path, rows):
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def test_store_without_layout_version_is_refused(spark, tmp_path):
    """A manifest that records no text layout predates positions' tf
    column: read under the current schema its tf would come back null
    and BM25/MLT would silently score nothing. Readers and the next
    micro-batch must refuse it, naming the fix."""
    src = str(tmp_path / "docs_in")
    store = str(tmp_path / "serving_versions")
    ckpt = str(tmp_path / "ckpt")
    _tiny_docs(spark, src, [(0, "spark query engine", "en", "t", 18)])

    def _run():
        return svs.start_incremental_serving(
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            store,
            ckpt,
        )

    assert _run().awaitTermination(120)
    assert _rows(svs.bm25_search_version(spark, store, "spark"))
    man_path = os.path.join(store, "batch_id=0", "_MANIFEST.json")
    with open(man_path) as f:
        man = json.load(f)
    man.pop("layout", None)
    with open(man_path, "w") as f:
        json.dump(man, f)

    with pytest.raises(ValueError, match="replay the stream into a fresh"):
        svs.read_serving_version(spark, store)
    with pytest.raises(ValueError, match="replay the stream into a fresh"):
        svs.bm25_search_version(spark, store, "spark")

    # the next batch refuses to chain onto the old manifest: the stream
    # fails and commits nothing
    _tiny_docs(spark, src, [(1, "hash join probe", "en", "t", 15)])
    with pytest.raises(Exception, match="replay the stream into a fresh"):
        _run().awaitTermination(120)
    assert [
        d.rsplit("=", 1)[1] for d in svs.eo.committed_batch_dirs(store)
    ] == ["0"]


def test_session_store_key_tracks_input_content(spark, tmp_path):
    """The session-memoized stream stores key on (path, CONTENT
    fingerprint) — regenerating the input table at the SAME path within
    one session must trigger a rebuild, never serve the stale snapshot;
    unchanged content must still hit the memo."""
    from parallel_inverted_index_map_reduce_spark.plans.queries_index import (
        _streamed_serving_store,
    )

    path = str(tmp_path / "docs.parquet")
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    rows = [
        (0, "spark query engine", "en", "t", 18),
        (1, "hash join probe side", "en", "t", 20),
        (2, "sort merge join build", "en", "t", 21),
    ]
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(path)
    s1 = _streamed_serving_store(spark, path, spark.read.parquet(path))
    # unchanged content -> memo hit (no second stream build)
    assert _streamed_serving_store(spark, path, spark.read.parquet(path)) == s1
    # regenerated AT THE SAME PATH with different content -> rebuild
    rows2 = rows + [(3, "bloom filter pushdown", "en", "t", 21)]
    spark.createDataFrame(rows2, schema).write.mode("overwrite").parquet(path)
    s2 = _streamed_serving_store(spark, path, spark.read.parquet(path))
    assert s2 != s1
