"""Dataset maintenance: keyed upserts and corpus diffs.

A refreshed snapshot lands as an SCD1 merge (updates win, new keys
append) with an audit row of what it changed, and a diff between two
corpus versions says which documents must re-enter the pipeline. Each
result is a full snapshot or frame the caller writes out-of-place.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_upsert(current: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """SCD1 merge: updates win on key collisions, new keys append.

    Without a table format's MERGE INTO, the batch-native form is an
    anti-join + union: current rows whose key has an update are dropped,
    then all updates land. One shuffle on the key for the anti-join
    (broadcast when updates are small — the common case of a day's
    changes against a full snapshot, which AQE picks automatically);
    the result is a full snapshot the caller writes out-of-place and
    swaps, so a failed rewrite never destroys the only copy.

    Deterministic requirement: ``updates`` must carry one row per key
    (enforce upstream with dedup ops); duplicate update keys would make
    the snapshot depend on arrival order.
    """
    survivors = current.join(updates, key, "left_anti")
    return survivors.unionByName(updates)


def upsert_stats(current: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """(n_updated, n_inserted, n_unchanged) — the audit row a pipeline
    logs with every merge. ONE key-only full-outer join + one
    aggregation classifies every key (both sides -> updated, updates
    only -> inserted, current only -> unchanged); the previous form —
    three separate key joins glued by 1-row crossJoins — read both
    sides three times and carried nested-loop joins the registry-wide
    plan sweep rightly rejects. Assumes ``updates`` carries one row per
    key (the merge_upsert contract)."""
    cur = current.select(key).withColumn("_in_cur", F.lit(True))
    upd = updates.select(key).withColumn("_in_upd", F.lit(True))
    both = cur.join(upd, key, "full_outer")
    return both.agg(
        F.count(
            F.when(F.col("_in_cur").isNotNull() & F.col("_in_upd").isNotNull(), 1)
        ).alias("n_updated"),
        F.count(F.when(F.col("_in_cur").isNull(), 1)).alias("n_inserted"),
        F.count(F.when(F.col("_in_upd").isNull(), 1)).alias("n_unchanged"),
    )


def corpus_diff(
    old_docs: DataFrame,
    new_docs: DataFrame,
    key: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """(key, status, old_hash, new_hash): what changed between two
    corpus versions — the audit a training-data pipeline runs before
    re-processing a refreshed snapshot (changed/added docs re-enter the
    pipeline; removed ones trigger downstream tombstones).

    status: 'added' (key only in new), 'removed' (only in old),
    'changed' (both, different content hash), 'unchanged'. Content
    identity is md5 of the content column's bytes — the same identity
    exact dedup uses, so a diff of byte-identical snapshots is provably
    all-unchanged. Presence comes from explicit join-side markers, NOT
    from hash nullness — md5(NULL) is NULL, so a null-content doc must
    still read as PRESENT (its hash column stays null in the output;
    null-vs-null compares as unchanged via null-safe equality). One
    full-outer join on the key; only 16-byte hashes shuffle, never the
    texts.
    """
    oh = old_docs.select(
        key,
        F.md5(F.col(content_col).cast("binary")).alias("old_hash"),
        F.lit(True).alias("_in_old"),
    )
    nh = new_docs.select(
        key,
        F.md5(F.col(content_col).cast("binary")).alias("new_hash"),
        F.lit(True).alias("_in_new"),
    )
    status = (
        F.when(F.col("_in_old").isNull(), "added")
        .when(F.col("_in_new").isNull(), "removed")
        .when(F.col("old_hash").eqNullSafe(F.col("new_hash")), "unchanged")
        .otherwise("changed")
    )
    return oh.join(nh, key, "full_outer").select(
        key, status.alias("status"), "old_hash", "new_hash"
    )
