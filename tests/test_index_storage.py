"""Stored-index serving path: bucket-pruned, filter-pushed lookups
against the word-bucketed layout — the read side of the 100 TB index
story (build once, serve point lookups, boolean, phrase, proximity,
and BM25 at pruned-lookup cost, each proven row-identical to its
corpus-scan twin)."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from parallel_inverted_index_map_reduce_spark.operators import serving as srv
from parallel_inverted_index_map_reduce_spark.operators.index import (
    bm25_search,
    boolean_search,
    phrase_search,
    proximity_search,
)
from parallel_inverted_index_map_reduce_spark.sources.tables import load_table

from .conftest import SF_ORACLE


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# ---------------------------------------------------------------------------
# Full serving layout: every search operator against stored tables,
# row-identical to its corpus-scan twin, with the pruning in the plan.
# ---------------------------------------------------------------------------

BASE = "srvidx"


@pytest.fixture(scope="module")
def served(spark):
    docs = load_table(spark, SF_ORACLE, "documents")
    srv.store_search_index(docs, BASE, n_buckets=8)
    return docs


def _rows(df):
    cols = sorted(df.columns)
    return sorted(
        tuple(
            tuple(v) if isinstance(v, list) else v
            for v in (r[c] for c in cols)
        )
        for r in df.collect()
    )


def test_bm25_stored_matches_corpus_scan(spark, served):
    q = "spark query hash"
    got = srv.bm25_search_stored(spark, BASE, q, k=10)
    want = bm25_search(served, q, k=10)
    assert _rows(got) == _rows(want) and _rows(got)

    plan = _plan(got)
    assert "SelectedBucketsCount" in plan, plan
    # the positions read prunes to at most one bucket per query term
    n_sel = int(plan.split("SelectedBucketsCount: ")[1].split(" out of")[0])
    assert n_sel <= 3, plan
    assert "In(word" in plan, plan


def test_phrase_stored_matches_corpus_scan(spark, served):
    # a phrase guaranteed present: the first three normalized tokens of
    # some document with at least three tokens
    from parallel_inverted_index_map_reduce_spark.functions.text import tokens_df

    first3 = (
        tokens_df(served)
        .groupBy("doc_id")
        .agg(F.slice(F.collect_list("word"), 1, 3).alias("w3"))
        .where(F.size("w3") == 3)
        .orderBy("doc_id")
        .first()["w3"]
    )
    phrase = " ".join(first3)
    got = srv.phrase_search_stored(spark, BASE, phrase)
    want = phrase_search(served, phrase)
    assert _rows(got) == _rows(want) and _rows(got)

    # the phrase path aggregates on doc_id, so the planner may drop the
    # bucketed scan — the pruning that must ALWAYS hold is the derived
    # letter partition filter (whole directories) plus the pushed word
    # IN filter (row-group skipping over word-sorted files)
    plan = _plan(got)
    assert "PartitionFilters" in plan and "letter" in plan.split("PartitionFilters")[1][:200], plan
    assert "In(word" in plan, plan


def test_proximity_stored_matches_corpus_scan(spark, served):
    got = srv.proximity_search_stored(spark, BASE, "spark", "query", max_dist=5)
    want = proximity_search(served, "spark", "query", max_dist=5)
    assert _rows(got) == _rows(want) and _rows(got)


def test_boolean_stored_matches_corpus_scan(spark, served):
    got = srv.boolean_search_stored(spark, BASE, "spark", "query")
    want = boolean_search(served, "spark", "query").select(
        "op", "term1", "term2", "doc_ids"
    )
    assert _rows(got) == _rows(want) and len(_rows(got)) == 3

    plan = _plan(got)
    assert "SelectedBucketsCount" in plan, plan


def test_boolean_stored_absent_term_yields_nothing(spark, served):
    got = srv.boolean_search_stored(spark, BASE, "spark", "nosuchwordxyz")
    assert got.count() == 0


def test_stored_search_rejects_empty_queries(spark, served):
    with pytest.raises(ValueError, match="normalizes to nothing"):
        srv.bm25_search_stored(spark, BASE, "12345 !!!")
    with pytest.raises(ValueError, match="normalizes to nothing"):
        srv.phrase_search_stored(spark, BASE, "???")


def test_attach_reregisters_stored_tables_after_catalog_loss(spark, served):
    """Sessions forget the in-memory catalog; the external files and
    the sidecar survive, and attach_search_index re-creates the tables
    with the SAME bucket/sort/partition spec — results and pruning
    both intact after re-attachment."""
    q = "spark query hash"
    want = _rows(srv.bm25_search_stored(spark, BASE, q, k=10))
    want_ph = _rows(srv.phrase_search_stored(spark, BASE, "spark query"))

    # simulate a fresh session: drop every catalog entry (external
    # tables -> data files stay on disk)
    for suffix in ("_positions", "_doclen", "_stats"):
        spark.sql(f"DROP TABLE {BASE}{suffix}")
    assert not spark.catalog.tableExists(f"{BASE}_positions")

    srv.attach_search_index(spark, BASE)
    got = srv.bm25_search_stored(spark, BASE, q, k=10)
    assert _rows(got) == want
    assert _rows(srv.phrase_search_stored(spark, BASE, "spark query")) == want_ph

    # pruning survives re-attachment: bucket spec carried by the DDL
    plan = _plan(got)
    assert "SelectedBucketsCount" in plan, plan
    # second attach is a no-op
    srv.attach_search_index(spark, BASE)


def test_extend_search_index_equals_full_rebuild(spark):
    """The incremental ingest path: store on a prefix of the corpus,
    extend with the rest, and every stored query must answer exactly
    what a from-scratch store over the full corpus answers."""
    docs = load_table(spark, SF_ORACLE, "documents")
    first = docs.where(F.col("doc_id") < 30)
    rest = docs.where(F.col("doc_id") >= 30)

    srv.store_search_index(first, "incidx", n_buckets=4)
    srv.extend_search_index(spark, "incidx", rest)
    srv.store_search_index(docs, "fullidx", n_buckets=4)

    q = "spark query hash"
    assert _rows(srv.bm25_search_stored(spark, "incidx", q)) == _rows(
        srv.bm25_search_stored(spark, "fullidx", q)
    )
    assert _rows(
        srv.phrase_search_stored(spark, "incidx", "spark query")
    ) == _rows(srv.phrase_search_stored(spark, "fullidx", "spark query"))
    assert _rows(
        srv.boolean_search_stored(spark, "incidx", "spark", "query")
    ) == _rows(srv.boolean_search_stored(spark, "fullidx", "spark", "query"))
    assert _rows(
        srv.proximity_search_stored(spark, "incidx", "spark", "query")
    ) == _rows(srv.proximity_search_stored(spark, "fullidx", "spark", "query"))
    assert _rows(
        srv.stored_term_postings(spark, "incidx", ["spark", "query"])
    ) == _rows(srv.stored_term_postings(spark, "fullidx", ["spark", "query"]))

    # the appended positions table still bucket-prunes
    plan = _plan(srv.bm25_search_stored(spark, "incidx", q))
    assert "SelectedBucketsCount" in plan, plan

    # stats absorbed the extension exactly
    got = spark.table("incidx_stats").first()
    want = spark.table("fullidx_stats").first()
    assert got["n_docs"] == want["n_docs"]
    assert abs(got["avgdl"] - want["avgdl"]) < 1e-9


def test_extend_rejects_duplicate_doc_ids(spark):
    docs = load_table(spark, SF_ORACLE, "documents")
    srv.store_search_index(
        docs.where(F.col("doc_id") < 20), "dupidx", n_buckets=4
    )
    with pytest.raises(ValueError, match="append-only"):
        srv.extend_search_index(
            spark, "dupidx", docs.where(F.col("doc_id") < 10)
        )


def test_attach_errors_on_missing_store(spark):
    with pytest.raises(FileNotFoundError):
        srv.attach_search_index(spark, "nosuchstore")
