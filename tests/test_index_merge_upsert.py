"""Incremental index merge and keyed upsert: incremental results must
equal their from-scratch twins."""

from __future__ import annotations

from pyspark.sql import functions as F

import pytest

from parallel_inverted_index_map_reduce_spark.operators.index import (
    assemble_chunked_index,
    build_index,
    build_index_chunked,
    build_index_scalable,
    merge_index,
)
from parallel_inverted_index_map_reduce_spark.operators.maintenance import (
    merge_upsert,
    upsert_stats,
)
from parallel_inverted_index_map_reduce_spark.sources.tables import load_table

from .conftest import SF_ORACLE


def test_merge_index_equals_full_rebuild(spark):
    docs = load_table(spark, SF_ORACLE, "documents")
    old = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    merged = merge_index(build_index(old), new)
    full = build_index(docs)
    mrows = sorted(
        (r.letter, r.word, r.df, tuple(r.postings), r.rank)
        for r in merged.collect()
    )
    frows = sorted(
        (r.letter, r.word, r.df, tuple(r.postings), r.rank)
        for r in full.collect()
    )
    assert mrows == frows


def test_merge_index_one_based_matches_rebuild(spark):
    """Merging into a one-based index must shift the NEW side's doc_ids
    into the same id space (regression: new docs tokenized 0-based were
    silently mixed into 1-based postings)."""
    docs = load_table(spark, SF_ORACLE, "documents")
    old = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    merged = merge_index(build_index(old, one_based=True), new, one_based=True)
    full = build_index(docs, one_based=True)
    mrows = sorted(
        (r.letter, r.word, r.df, tuple(r.postings), r.rank)
        for r in merged.collect()
    )
    frows = sorted(
        (r.letter, r.word, r.df, tuple(r.postings), r.rank)
        for r in full.collect()
    )
    assert mrows == frows


def test_scalable_rank_decomposition_equals_window(spark):
    docs = load_table(spark, SF_ORACLE, "documents")
    a = sorted(
        (r.letter, r.word, r.df, tuple(r.postings), r.rank)
        for r in build_index(docs).collect()
    )
    b = sorted(
        (r.letter, r.word, r.df, tuple(r.postings), r.rank)
        for r in build_index_scalable(docs).collect()
    )
    assert a == b


@pytest.mark.parametrize("chunk_size", [1, 16, 1_000_000])
def test_chunked_index_reassembles_to_plain_build(spark, chunk_size):
    """Posting-list chunking is lossless at every granularity: single-id
    chunks, mid-size, and one-chunk-per-word all reassemble to the exact
    plain build — and no chunk exceeds its budget."""
    docs = load_table(spark, SF_ORACLE, "documents")
    chunked = build_index_chunked(docs, chunk_size=chunk_size).cache()

    assert chunked.where(F.size("postings") > chunk_size).count() == 0
    # df spans the whole word and agrees across its chunks
    bad_df = (
        chunked.groupBy("word")
        .agg(
            F.sum(F.size("postings")).alias("total"),
            F.min("df").alias("df_min"),
            F.max("df").alias("df_max"),
        )
        .where((F.col("total") != F.col("df_min")) | (F.col("total") != F.col("df_max")))
    )
    assert bad_df.count() == 0

    a = sorted(
        (r.letter, r.word, r.df, tuple(r.postings), r.rank)
        for r in assemble_chunked_index(chunked).collect()
    )
    b = sorted(
        (r.letter, r.word, r.df, tuple(r.postings), r.rank)
        for r in build_index(docs).collect()
    )
    assert a == b


def test_merge_upsert_snapshot_semantics(spark):
    cur = load_table(spark, SF_ORACLE, "customer")
    # updates: change acctbal for 10 existing keys, add 5 new keys
    changed = (
        cur.orderBy("c_custkey")
        .limit(10)
        .withColumn("c_acctbal", F.col("c_acctbal") + 1000.0)
    )
    top = cur.agg(F.max("c_custkey")).first()[0]
    new = (
        cur.orderBy("c_custkey")
        .limit(5)
        .withColumn("c_custkey", F.col("c_custkey") + F.lit(top) + 1)
    )
    updates = changed.unionByName(new)

    out = merge_upsert(cur, updates, "c_custkey").cache()
    assert out.count() == cur.count() + 5
    # updated rows carry the new values
    got = {
        r.c_custkey: r.c_acctbal
        for r in out.join(changed.select("c_custkey"), "c_custkey", "left_semi").collect()
    }
    want = {r.c_custkey: r.c_acctbal for r in changed.collect()}
    assert got == want

    stats = upsert_stats(cur, updates, "c_custkey").first()
    assert (stats.n_updated, stats.n_inserted) == (10, 5)
    assert stats.n_unchanged == cur.count() - 10
