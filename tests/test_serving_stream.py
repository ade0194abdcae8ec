"""Streamed serving-layout maintenance: the stream of document batches
must converge to a snapshot whose queries answer exactly what the
corpus-scan operators answer on the full corpus, and survive a crash
injected before the commit marker."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from parallel_inverted_index_map_reduce_spark.operators.index import (
    bm25_search,
    phrase_search,
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

    got_ph = svs.phrase_search_version(spark, store, "spark query")
    want_ph = phrase_search(docs, "spark query")
    assert _rows(got_ph) == _rows(want_ph)

    # streamed MLT answers exactly what the corpus-scan operator answers
    # on the full corpus (norms recomputed from the docterms snapshot)
    from parallel_inverted_index_map_reduce_spark.operators.index import (
        more_like_this,
    )

    got_mlt = svs.mlt_search_version(spark, store, 7, k=10)
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
