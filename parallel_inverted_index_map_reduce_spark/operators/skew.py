"""Skew mitigation: key salting for hot-key aggregations.

AQE's skew-join handling covers sort-merge joins at runtime — proven
live in tests/test_aqe_skew.py (a synthetically hot orderkey makes the
final adaptive plan split the oversized partition, ``skew=true`` on the
join). Salting is the plan-level fallback for what AQE cannot rewrite:
hot-key AGGREGATIONS. The pattern is two-phase — group on (key, salt)
first (spreads the hot key over N reducers), then merge partials on key
alone. The result is identical to the unsalted plan (asserted in
tests/test_bucketing_skew.py); only the shuffle distribution changes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted(df: DataFrame, n_salts: int, salt_col: str = "_salt") -> DataFrame:
    """Add a uniform pseudo-random salt in [0, n_salts) derived from a
    stable hash of the whole row id-space (no rand(): deterministic
    re-execution matters for task retries)."""
    return df.withColumn(
        salt_col,
        F.pmod(F.hash(*df.columns), F.lit(n_salts)),
    )


def salted_sum(
    df: DataFrame, key: str, value: Column, alias: str, n_salts: int = 16
) -> DataFrame:
    """Two-phase aggregation: partial sums per (key, salt), final merge
    per key. The hot key's rows fan out over ``n_salts`` reducers in
    phase one instead of serializing on a single task."""
    partial = (
        salted(df, n_salts)
        .groupBy(key, "_salt")
        .agg(F.sum(value).alias("_partial"))
    )
    return partial.groupBy(key).agg(F.sum("_partial").alias(alias))
