"""Scale-pattern proofs: hot-bucket caps account for every pair they
drop, and salted aggregation reproduces the unsalted result."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from parallel_inverted_index_map_reduce_spark.operators import skew
from parallel_inverted_index_map_reduce_spark.sources.tables import load_table

from .conftest import SF_ORACLE


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucket_cap_bounds_hot_buckets_with_accounting(spark):
    """A degenerate bucket (many ids sharing one key) is excluded from
    pair expansion when max_bucket is set — and surfaces, with its
    member count, in the overflow report. Cold buckets are untouched."""
    from parallel_inverted_index_map_reduce_spark.operators.dedup import (
        _bucket_pairs,
        bucket_overflow,
    )

    hot = [("hot", i) for i in range(50)]
    cold = [("cold", i) for i in range(100, 103)]
    keyed = spark.createDataFrame(hot + cold, ["bucket", "doc_id"])

    uncapped = _bucket_pairs(keyed, ["bucket"], "doc_id")
    assert uncapped.count() == 50 * 49 // 2 + 3

    capped = _bucket_pairs(keyed, ["bucket"], "doc_id", max_bucket=10)
    got = sorted((r.doc_a, r.doc_b) for r in capped.collect())
    assert got == [(100, 101), (100, 102), (101, 102)]  # hot bucket gone

    over = bucket_overflow(keyed, ["bucket"], 10).collect()
    assert [(r.bucket, r.n_members) for r in over] == [("hot", 50)]

    # the cap filters BEFORE the membership array is aggregated: the
    # plan's collect_list sits above the windowed count filter
    plan = _plan(_bucket_pairs(keyed, ["bucket"], "doc_id", max_bucket=10))
    assert "window" in plan.lower(), plan


def test_overflow_twins_measure_what_was_actually_capped(spark):
    """The accounting twins must reflect the corpora their operators
    actually cap: near_dup_keep_list caps AFTER exact dedup, so a
    thousand byte-identical docs collapse to one and never overflow —
    its twin must agree (raw-corpus accounting would misreport); the
    simhash twin reports the same pigeonhole blocks the search keys on."""
    from parallel_inverted_index_map_reduce_spark.operators.dedup import (
        lsh_bucket_overflow,
        near_dup_bucket_overflow,
        simhash_block_overflow,
        simhash_blocks,
    )

    dup = [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(30)]
    tail = [(100 + i, f"unique document number {i} with words") for i in range(3)]
    docs = spark.createDataFrame(dup + tail, ["doc_id", "text"])

    # raw-corpus LSH accounting sees a 30-member bucket...
    assert lsh_bucket_overflow(docs, 10).count() > 0
    # ...but the keep-list's actual corpus collapsed it: nothing capped
    assert near_dup_bucket_overflow(docs, 10).count() == 0

    over = simhash_block_overflow(docs, 10).collect()
    # all identical docs share a fingerprint: every pigeonhole block has
    # one bucket of at least those 30 (blocks are only 4-5 bits wide, so
    # tail docs may legitimately collide into it too)
    assert len(over) == len(simhash_blocks())
    assert all(r.n_members >= 30 for r in over)


def test_simhash_and_embedding_caps_account_drops(spark):
    """The capped simhash / sign-LSH paths drop only oversized buckets
    and report them; uncapped results are supersets of capped ones."""
    from parallel_inverted_index_map_reduce_spark.operators import similarity as sim
    from parallel_inverted_index_map_reduce_spark.operators.dedup import (
        simhash_near_dups,
    )

    # 30 identical docs -> identical simhash -> every block is a hot
    # bucket; 2 distinct docs form a cold near-dup-free tail
    rows = [(i, "alpha beta gamma delta epsilon zeta") for i in range(30)]
    rows += [(100, "one unrelated document here"), (101, "another text entirely")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    assert simhash_near_dups(docs).count() == 30 * 29 // 2
    assert simhash_near_dups(docs, max_bucket=10).count() == 0

    # embeddings: 20 identical vectors share a bucket; cap excludes them
    vecs = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(20)]
    vecs += [(100, [-1.0, -2.0, -3.0, -4.0])]
    emb = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    assert sim.bucketed_near_dups(emb, n_planes=4, threshold=0.9).count() == 20 * 19 // 2
    assert (
        sim.bucketed_near_dups(emb, n_planes=4, threshold=0.9, max_bucket=5).count()
        == 0
    )
    over = sim.bucketed_overflow(emb, n_planes=4, max_bucket=5).collect()
    assert len(over) == 1 and over[0].n_members == 20


def test_salted_sum_matches_plain(spark):
    l = load_table(spark, SF_ORACLE, "lineitem")
    plain = {
        r["l_returnflag"]: r["s"]
        for r in l.groupBy("l_returnflag")
        .agg(F.sum(F.round("l_quantity", 6).cast("decimal(38,8)")).alias("s"))
        .collect()
    }
    salted = {
        r["l_returnflag"]: r["s"]
        for r in skew.salted_sum(
            l, "l_returnflag", F.round("l_quantity", 6).cast("decimal(38,8)"), "s"
        ).collect()
    }
    assert plain == salted
