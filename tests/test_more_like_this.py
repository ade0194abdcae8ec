"""more_like_this: TF-IDF cosine document retrieval (term-at-a-time
sparse scoring over the inverted posting lists — the cross-engine value
proof lives in the driver's 'mlt' part of ranked_retrieval; these tests
pin semantics and determinism)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parallel_inverted_index_map_reduce_spark.operators.index import more_like_this
from parallel_inverted_index_map_reduce_spark.sources.tables import load_table

from .conftest import SF_ORACLE


def _rows(df):
    return [(r["doc_id"], r["score"], r["rank"]) for r in df.collect()]


def test_near_duplicate_ranks_first(spark):
    docs = spark.createDataFrame(
        [
            (0, "spark shuffles data across the cluster nodes"),
            (1, "spark shuffles data across the cluster machines"),
            (2, "pandas eats bamboo in the forest"),
            (3, "the forest has bamboo and pandas"),
            (4, "completely unrelated words entirely"),
        ],
        "doc_id long, text string",
    )
    got = _rows(more_like_this(docs, 0, k=3))
    assert got[0][0] == 1 and got[0][2] == 1  # near-dup of doc 0 first
    # and the bamboo docs find each other, not the spark docs
    got3 = _rows(more_like_this(docs, 3, k=1))
    assert got3[0][0] == 2


def test_query_doc_excluded_and_scores_bounded(spark):
    docs = load_table(spark, SF_ORACLE, "documents").where(F.col("doc_id") < 80)
    got = _rows(more_like_this(docs, 7, k=10))
    assert got, "doc 7 should have neighbors on the oracle corpus"
    assert all(d != 7 for d, _, _ in got)
    assert [rk for _, _, rk in got] == list(range(1, len(got) + 1))
    assert all(-1.0 <= float(s) <= 1.0 + 1e-9 for _, s, _ in got)
    # scores non-increasing in rank
    scores = [float(s) for _, s, _ in got]
    assert scores == sorted(scores, reverse=True)


def test_partition_invariance(spark):
    docs = load_table(spark, SF_ORACLE, "documents").where(F.col("doc_id") < 80)
    a = _rows(more_like_this(docs, 7, k=10))
    b = _rows(more_like_this(docs.repartition(13, "doc_id"), 7, k=10))
    assert a == b


def test_missing_or_stopword_only_doc_is_loud(spark):
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "alpha beta delta")],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="no weighted terms"):
        more_like_this(docs, 99, k=3)
    # 'alpha beta' appear in ALL docs -> idf 0; a doc holding only such
    # terms has an all-zero vector and must be refused, not scored NaN
    docs2 = spark.createDataFrame(
        [(0, "alpha beta"), (1, "alpha beta delta"), (2, "alpha beta echo")],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="no weighted terms"):
        more_like_this(docs2, 0, k=3)


# --------------------------------------------------------------------------
# stored form: fresh store, stale-norms store, compacted store
# --------------------------------------------------------------------------


def test_mlt_stored_lifecycle_matches_scan(spark):
    """The stored MLT path through its whole lifecycle: fresh build
    (precomputed norms), post-extend (norms stale -> on-the-fly
    fallback, correct over the FULL corpus including the new docs),
    post-compact (norms table again), and a query BY a newly ingested
    document."""
    from parallel_inverted_index_map_reduce_spark.operators import serving as srv

    base = "mltstore"
    docs = load_table(spark, SF_ORACLE, "documents").where(F.col("doc_id") < 80)
    srv.store_search_index(docs, base, n_buckets=4)
    assert srv.norms_current(spark, base)
    assert _rows(srv.mlt_search_stored(spark, base, 7, k=10)) == _rows(
        more_like_this(docs, 7, k=10)
    )

    new = load_table(spark, SF_ORACLE, "documents").where(
        (F.col("doc_id") >= 80) & (F.col("doc_id") < 120)
    )
    srv.extend_search_index(spark, base, new)  # every extend stales norms
    assert not srv.norms_current(spark, base)
    combined = docs.unionByName(new)
    stale = _rows(srv.mlt_search_stored(spark, base, 7, k=10))
    assert stale == _rows(more_like_this(combined, 7, k=10))
    # query BY an ingested doc (its docterms rows came from the append)
    assert _rows(srv.mlt_search_stored(spark, base, 85, k=5)) == _rows(
        more_like_this(combined, 85, k=5)
    )

    srv.compact_search_index(spark, base)
    assert srv.norms_current(spark, base)
    assert _rows(srv.mlt_search_stored(spark, base, 7, k=10)) == stale


def test_mlt_stored_missing_doc_is_loud(spark):
    from parallel_inverted_index_map_reduce_spark.operators import serving as srv

    base = "mltmiss"
    docs = load_table(spark, SF_ORACLE, "documents").where(F.col("doc_id") < 40)
    srv.store_search_index(docs, base, n_buckets=4)
    with pytest.raises(ValueError, match="no weighted terms"):
        srv.mlt_search_stored(spark, base, 99999, k=3)


def test_mlt_stored_norms_rebuild_is_bit_identical(spark):
    """compact's norms rebuild from docterms must reproduce the build's
    norms exactly (the decimal-sum discipline's whole point) — compare
    the stored tables of an extended+compacted store and a from-scratch
    store over the same corpus."""
    from parallel_inverted_index_map_reduce_spark.operators import serving as srv

    a = load_table(spark, SF_ORACLE, "documents").where(F.col("doc_id") < 50)
    b = load_table(spark, SF_ORACLE, "documents").where(
        (F.col("doc_id") >= 50) & (F.col("doc_id") < 90)
    )
    srv.store_search_index(a, "mltinc", n_buckets=4)
    srv.extend_search_index(spark, "mltinc", b)
    srv.compact_search_index(spark, "mltinc")
    srv.store_search_index(a.unionByName(b), "mltref", n_buckets=4)
    got = sorted(tuple(r) for r in spark.table("mltinc_norms").collect())
    want = sorted(tuple(r) for r in spark.table("mltref_norms").collect())
    assert got == want
