"""The keyed upsert keeps snapshot semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from parallel_inverted_index_map_reduce_spark.operators.maintenance import (
    merge_upsert,
    upsert_stats,
)
from parallel_inverted_index_map_reduce_spark.sources.tables import load_table

from .conftest import SF_ORACLE


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
