"""Spark-native sketch aggregates (HLL distinct counts, KLL-style
percentile sketches) asserted against their rated accuracy vs exact
answers — these live here rather than behind the DuckDB oracle because
sketch internals legitimately differ per engine. The deterministic
threshold-sketch variants that ARE cross-engine-reproducible power the
``approx_aggregates`` registry entry."""

from __future__ import annotations

from pyspark.sql import functions as F

from parallel_inverted_index_map_reduce_spark.plans.registry import all_specs
from parallel_inverted_index_map_reduce_spark.sources.tables import load_table

from .conftest import SF_ORACLE


def test_native_hll_within_rated_error(spark):
    l = load_table(spark, SF_ORACLE, "lineitem")
    row = l.agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("a"),
        F.countDistinct("l_partkey").alias("x"),
    ).first()
    # rated rsd 2%; allow 5x headroom for small-corpus variance
    assert abs(row.a - row.x) / row.x < 0.10


def test_native_percentile_sketch_brackets_exact(spark):
    l = load_table(spark, SF_ORACLE, "lineitem")
    row = l.agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("a"),
        F.percentile("l_extendedprice", 0.5).alias("x"),
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
    ).first()
    # with accuracy 10000 on a small corpus the sketch is near-exact
    assert abs(row.a - row.x) <= (row.hi - row.lo) * 0.01


def test_threshold_sketch_estimates_near_exact(spark):
    """The registry entry's deterministic estimators stay within sane
    relative error of the exact answers.

    Runs at sf0.01 (not the suite's sf0.001): a 1/64 value-sampling
    sketch needs a few hundred distinct values to estimate from — at
    sf0.001 lineitem has only 200 distinct parts (~3 sampled), where ANY
    sketch is noise. The driver checks this entry at sf0.01 too.
    """
    sf = "/root/testdata/sf0.01"
    l = load_table(spark, sf, "lineitem")
    rows = all_specs()["approx_aggregates"].fn(spark, sf).collect()
    est = {(r["part"], r["metric"]): r["value"] for r in rows}
    exact = l.agg(
        F.countDistinct("l_partkey").alias("parts"),
        F.countDistinct("l_orderkey").alias("orders"),
        F.percentile("l_extendedprice", 0.5).alias("median"),
    ).first()
    # 1/64 value sampling at ~1-2e3 distinct values: generous bounds
    est_parts = int(est[("kmv", "est_parts")])
    est_orders = int(est[("kmv", "est_orders")])
    median = float(est[("sample", "median_price")])
    assert abs(est_parts - exact.parts) / exact.parts < 0.6
    assert abs(est_orders - exact.orders) / exact.orders < 0.6
    assert abs(median - exact.median) / exact.median < 0.25
    # the cms part carries estimates for every probe, and the heavy part
    # only words that actually clear the N/k threshold (exact counts)
    assert {m for p, m in est if p == "cms"} == {
        "join", "hash", "customer", "nosuchwordxyz"
    }
    heavy = {m: int(v) for (p, m), v in est.items() if p == "heavy"}
    assert heavy and all(n > 0 for n in heavy.values())


def test_deterministic_hll_accuracy_and_stability(spark):
    """The engine's OWN md5-based HLL (sketches.py): estimate within
    the rated ~1.04/sqrt(64) = 13% rse (3x headroom), register table
    invariant under repartition AND duplication (max is idempotent)."""
    from parallel_inverted_index_map_reduce_spark.operators import sketches as sk

    l = load_table(spark, SF_ORACLE, "lineitem")
    key = F.col("l_partkey").cast("string")
    regs = sk.hll_register_table(l, key)
    est = sk.hll_estimate(regs).first().estimate
    exact = l.agg(F.countDistinct("l_partkey")).first()[0]
    assert abs(est - exact) / exact < 0.40

    base = sorted(map(tuple, regs.collect()))
    rep = sk.hll_register_table(l.repartition(17), key)
    assert sorted(map(tuple, rep.collect())) == base
    dup = sk.hll_register_table(l.unionByName(l), key)
    assert sorted(map(tuple, dup.collect())) == base


def test_deterministic_hll_large_cardinality_envelope(spark):
    """Round-8 envelope fix: the 48-bit hash must hold the rated
    accuracy at cardinalities where the old 32-bit hash's collisions
    (and its missing large-range branch) would start to bite. 10^7
    DISTINCT synthetic keys -> estimate within 3x the published
    1.04/sqrt(64) ~= 13% rse. Also pins the widened rho domain: with
    42 w-bits the register table must stay physically mergeable and
    every max_rho in [1, 43]."""
    from parallel_inverted_index_map_reduce_spark.operators import sketches as sk

    n = 10_000_000
    keys = spark.range(n).select(F.col("id").cast("string").alias("k"))
    regs = sk.hll_register_table(keys, F.col("k"))
    rows = regs.collect()
    assert all(1 <= r.max_rho <= 43 for r in rows), rows
    est = sk.hll_estimate(regs).first().estimate
    assert abs(est - n) / n < 0.39, est
