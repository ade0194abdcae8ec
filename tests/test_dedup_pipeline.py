"""End-to-end near-dup keep-list: invariants of the one-pass policy."""

from __future__ import annotations

from pyspark.sql import functions as F

from parallel_inverted_index_map_reduce_spark.operators import dedup as dd
from parallel_inverted_index_map_reduce_spark.sources.tables import load_table

from .conftest import SF_ORACLE

THRESHOLD = 0.5  # low enough that the fixture actually has near-dups


def test_keep_list_invariants(spark):
    docs = load_table(spark, SF_ORACLE, "documents")
    kl = dd.near_dup_keep_list(docs, threshold=THRESHOLD).cache()

    # total partition: every doc appears exactly once
    assert kl.count() == docs.count()
    assert kl.select("doc_id").distinct().count() == docs.count()

    kept = kl.where("keep").select("doc_id")
    n_kept, n_total = kept.count(), docs.count()
    assert 0 < n_kept <= n_total

    # no two KEPT docs share identical text
    kept_docs = docs.join(kept, "doc_id", "left_semi")
    n_texts = kept_docs.select("text").distinct().count()
    assert n_texts == n_kept

    # no verified near-dup pair survives with both sides kept
    pairs = dd.jaccard_verify(
        dd.lsh_candidate_pairs(kept_docs),
        dd.shingles(kept_docs, distinct=True),
    ).where(F.col("jaccard").cast("double") >= THRESHOLD)
    assert pairs.count() == 0

    # the fixture must actually exercise the drop path
    assert kl.where(~F.col("keep")).count() > 0


def test_cross_batch_oracle_cte_matches_engine_on_multiband_subthreshold(spark):
    """Regression lock for the round-7 oracle fix: a (new, landed) pair
    colliding in SEVERAL LSH bands with MinHash agreement BELOW the
    threshold must not be suppressed — the engine dedups candidate
    pairs before estimating, and the oracle CTE must too (the broken
    formulation summed agreement once per colliding band, reading
    B*A/16). Uses a real such pair from the sf0.1 corpus (docs 1103 and
    1568: 4 colliding bands, 12/16 agreement = est 0.75 < 0.8) and runs
    BOTH the engine path and the actual generated oracle CTE text."""
    import duckdb

    from parallel_inverted_index_map_reduce_spark.plans.queries_dedup import (
        SHINGLES_CTE,
        _PIPE_BASE_CTE,
        _pipe_cross_cte,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        .where(F.col("doc_id").isin(1103, 1568))
        .select("doc_id", "text")
    )
    landed = docs.where(F.col("doc_id") == 1103)
    new = docs.where(F.col("doc_id") == 1568)

    # preconditions: the pair really is multi-band-colliding + sub-threshold
    cand = dd.lsh_cross_candidates(dd.minhash_table(new), dd.minhash_table(landed))
    assert [tuple(r) for r in cand.collect()] == [(1568, 1103)]
    est = dd.minhash_estimate(
        dd.minhash_table(new), dd.minhash_table(landed), cand
    ).first()
    assert 0.5 <= est.est_jaccard < 0.8  # sub-threshold, far from ties

    # engine: nothing suppressed
    drops = (
        dd.minhash_estimate(dd.minhash_table(new), dd.minhash_table(landed), cand)
        .where(F.col("est_jaccard") >= 0.8)
        .select("doc_id")
    )
    assert drops.count() == 0

    # oracle: the generated CTE text over the same two docs
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT doc_id, text FROM "
        "read_parquet('/root/testdata/sf0.1/documents.parquet') "
        "WHERE doc_id IN (1103, 1568)"
    )
    sql = (
        "WITH "
        + SHINGLES_CTE
        + ","
        + _PIPE_BASE_CTE
        + ",\nlz AS (SELECT 1103 AS doc_id)"
        + ","
        + _pipe_cross_cte("px", 1568, None, "lz")
        + "\nSELECT doc_id FROM px_cc"
    )
    assert con.execute(sql).fetchall() == []

    # ...and the broken pre-fix formulation DOES differ on this pair,
    # proving the test has teeth (band multiplicity 4 x agreement 12
    # reads as 48/16 = 3.0 >= 0.8)
    broken = (
        "WITH "
        + SHINGLES_CTE
        + ","
        + _PIPE_BASE_CTE
        + """,
lz AS (SELECT 1103 AS doc_id),
bx AS (
    SELECT DISTINCT a.doc_id
    FROM pp_bands a JOIN pp_bands l
      ON a.band_id = l.band_id AND a.band_sig = l.band_sig
    JOIN lz lp ON lp.doc_id = l.doc_id
    JOIN pp_sigs sa ON sa.doc_id = a.doc_id
    JOIN pp_sigs sl ON sl.doc_id = l.doc_id AND sl.perm_id = sa.perm_id
    WHERE a.doc_id >= 1568
    GROUP BY a.doc_id, l.doc_id
    HAVING sum(CASE WHEN sa.minhash = sl.minhash THEN 1 ELSE 0 END) * 1.0
           / 16 >= 0.8
)
SELECT doc_id FROM bx"""
    )
    assert con.execute(broken).fetchall() == [(1568,)]
    con.close()


def test_expand_pairs_adaptive_branches_and_completeness(spark):
    """_expand_pairs_adaptive must emit exactly the unordered pair set
    of every bucket at any bucket size, and the physical plan must
    carry exactly one width-pinned round-robin exchange (the pin that
    keeps a bucket's expansion out of AQE's byte-coalesced tasks)."""
    from itertools import combinations

    from parallel_inverted_index_map_reduce_spark.operators.dedup import (
        _expand_pairs_adaptive,
    )

    # bucket sizes spanning tiny through expansion-heavy
    sizes = [2, 16, 17, 40]
    rows, want = [], set()
    base = 0
    for b, n in enumerate(sizes):
        members = list(range(base, base + n))
        rows.append((b, sorted(members)))
        want |= {(a, c) for a, c in combinations(sorted(members), 2)}
        base += n
    aggd = spark.createDataFrame(
        rows, "bucket int, ids array<int>"
    ).select("ids")

    got = {
        (r["x"], r["y"])
        for r in _expand_pairs_adaptive(aggd, "ids").collect()
    }
    assert got == want

    plan = _expand_pairs_adaptive(aggd, "ids")._jdf.queryExecution().toString()
    # exactly one user repartition exchange: the width pin
    assert plan.count("REPARTITION_BY_NUM") == 1


def test_simhash_uncapped_saturation_guard(spark):
    """Uncapped simhash_near_dups must fail FAST with an instructive
    message when a pigeonhole block exceeds _UNCAPPED_BLOCK_LIMIT
    (fingerprint saturation — the shape that killed the uncapped sf10
    sweep with >70 GB of spill), and must be completely inert below
    it (same rows as a run with the guard disabled)."""
    import pytest as _pytest

    from parallel_inverted_index_map_reduce_spark.operators import dedup as dd

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    baseline = sorted(
        map(tuple, dd.simhash_near_dups(docs).collect())
    )
    assert len(baseline) > 0  # the guard did not fire on honest blocks

    saved = dd._UNCAPPED_BLOCK_LIMIT
    dd._UNCAPPED_BLOCK_LIMIT = 2
    try:
        with _pytest.raises(Exception, match="simhash_near_dups uncapped"):
            dd.simhash_near_dups(docs).count()
        # the capped form remains the documented escape hatch
        capped = dd.simhash_near_dups(docs, max_bucket=2)
        assert capped.count() >= 0
    finally:
        dd._UNCAPPED_BLOCK_LIMIT = saved


def test_expr_string_builders_same_semantics(spark):
    """The one-parse F.expr builders (minhash aggregates, band structs,
    simhash bit sums/fingerprint) produce trees sameSemantics-equal to
    the Column-API constructions they replaced."""
    from parallel_inverted_index_map_reduce_spark.functions.hashing import (
        LSH_BANDS,
        LSH_ROWS,
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
        NUM_PERM,
        stable_hash32,
    )
    from parallel_inverted_index_map_reduce_spark.operators.dedup import (
        SIMHASH_BITS,
        _band_signatures,
        _BAND_SIG_COLS,
        minhash_table,
        shingles,
        simhash_fingerprints,
        token_positions,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    # --- minhash_table vs the Column-API form --------------------------------
    sh = shingles(docs, distinct=False)
    p = F.lit(MINHASH_P)
    old_aggs = [
        F.min(
            (F.lit(MINHASH_A[i]) * F.col("shingle_hash") + F.lit(MINHASH_B[i])) % p
        ).alias(f"mh{i}")
        for i in range(NUM_PERM)
    ]
    old_mh = sh.groupBy("doc_id").agg(*old_aggs)
    assert minhash_table(docs).sameSemantics(old_mh)

    # --- band signatures vs the struct-per-band Column form ------------------
    old_bands = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band_id"),
                    *[
                        F.col(f"mh{b * LSH_ROWS + r}").alias(f"sig_{r}")
                        for r in range(LSH_ROWS)
                    ],
                )
                for b in range(LSH_BANDS)
            ]
        )
    ).alias("bs")
    old_sig = old_mh.select("doc_id", old_bands).select(
        "doc_id", *[f"bs.{c}" for c in _BAND_SIG_COLS]
    )
    assert _band_signatures(docs).sameSemantics(old_sig)

    # --- simhash fingerprints vs the Column-API form -------------------------
    toks = token_positions(docs).select(
        "doc_id", stable_hash32(F.col("tok")).alias("h")
    )
    old_bits = [
        F.sum(
            F.when(F.expr(f"shiftright(h, {j}) & 1") == 1, F.lit(1)).otherwise(
                F.lit(-1)
            )
        ).alias(f"s{j}")
        for j in range(SIMHASH_BITS)
    ]
    per_doc = toks.groupBy("doc_id").agg(*old_bits)
    fingerprint = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{j}") >= 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fingerprint = term if fingerprint is None else fingerprint + term
    old_fp = per_doc.select("doc_id", fingerprint.alias("simhash"))
    assert simhash_fingerprints(docs).sameSemantics(old_fp)
