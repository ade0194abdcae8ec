"""Deterministic sampling: split disjointness, stratum fractions,
weighted and per-stratum top-k samples, partition-invariance."""

from __future__ import annotations

from pyspark.sql import functions as F

from parallel_inverted_index_map_reduce_spark.operators import sampling as sp
from parallel_inverted_index_map_reduce_spark.sources.tables import load_table

from .conftest import SF_ORACLE


def _events(spark):
    return load_table(spark, SF_ORACLE, "events")


def test_train_test_split_disjoint_exhaustive_no_leak(spark):
    ev = _events(spark)
    train, test = sp.train_test_split(ev, "user_id", 0.25)
    n_train, n_test, n_all = train.count(), test.count(), ev.count()
    assert n_train + n_test == n_all
    assert n_test > 0 and n_train > 0
    overlap = train.select("user_id").intersect(test.select("user_id"))
    assert overlap.count() == 0  # no entity on both sides


def test_stratified_fractions_and_determinism(spark):
    ev = _events(spark)
    fr = {"view": 1.0, "click": 0.5, "error": 0.0}
    s = sp.stratified_sample(ev, "event_type", fr, key="event_id")
    counts = {
        r.event_type: r.n
        for r in s.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    base = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert counts.get("view") == base["view"]  # fraction 1.0 keeps all
    assert "error" not in counts  # fraction 0.0 drops all
    assert set(counts) <= {"view", "click"}  # absent strata default to 0
    assert 0 < counts["click"] < base["click"]
    # deterministic: same call, same rows
    s2 = sp.stratified_sample(ev, "event_type", fr, key="event_id")
    assert sorted(map(tuple, s.collect())) == sorted(map(tuple, s2.collect()))


def test_priority_sample_matches_sequential_reference(spark):
    # A-Res equivalence: the k smallest -ln(u)/w priorities computed by
    # the engine equal a plain-Python recomputation over the same hashes
    import hashlib
    import math

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "n_chars")
    got = sp.priority_sample(docs, "doc_id", "n_chars", k=25).collect()
    rows = docs.collect()
    ref = []
    for r in rows:
        h = int(
            hashlib.md5(f"priority\x1f{r.doc_id}".encode()).hexdigest()[:8], 16
        )
        u = (h + 1) / 2**32
        w = max(float(r.n_chars), 1.0)
        ref.append((round(-math.log(u) / w, 9), r.doc_id, r.n_chars))
    ref.sort()
    ref = ref[:25]
    assert [(g.doc_id, g.rank) for g in sorted(got, key=lambda g: g.rank)] == [
        (d, i + 1) for i, (_, d, _) in enumerate(ref)
    ]
    for g in got:
        p, d, _ = ref[g.rank - 1]
        assert abs(g.priority - p) < 1e-12


def test_priority_sample_invariant_under_repartition(spark):
    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "n_chars")
    a = sp.priority_sample(docs, "doc_id", "n_chars", k=25)
    b = sp.priority_sample(docs.repartition(17), "doc_id", "n_chars", k=25)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_quota_sample_exact_quotas_and_stability(spark):
    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "lang")
    q = sp.quota_sample(docs, "lang", "doc_id", k=10)
    per = {r.lang: r.n for r in q.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    sizes = {
        r.lang: r.n
        for r in docs.where(F.col("lang").isNotNull())
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for lang, n in per.items():
        assert n == min(10, sizes[lang])
    # stable under repartition
    b = sp.quota_sample(docs.repartition(7), "lang", "doc_id", k=10)
    assert sorted(map(tuple, q.collect())) == sorted(map(tuple, b.collect()))


def test_quota_sample_scalable_identical_to_plain(spark):
    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "lang")
    plain = sorted(map(tuple, sp.quota_sample(docs, "lang", "doc_id", k=10).collect()))
    for nb in (1, 3, 64):
        dec = sorted(
            map(
                tuple,
                sp.quota_sample_scalable(
                    docs, "lang", "doc_id", k=10, n_buckets=nb
                ).collect(),
            )
        )
        assert dec == plain, f"n_buckets={nb} diverges from the plain window"
    # partition invariance of the decomposed form
    b = sorted(
        map(
            tuple,
            sp.quota_sample_scalable(
                docs.repartition(11), "lang", "doc_id", k=10, n_buckets=7
            ).collect(),
        )
    )
    assert b == plain


def test_priority_sample_scalable_identical_to_plain(spark):
    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "n_chars")
    plain = sorted(map(tuple, sp.priority_sample(docs, "doc_id", "n_chars", k=25).collect()))
    for nb in (1, 5, 64):
        dec = sorted(
            map(
                tuple,
                sp.priority_sample_scalable(
                    docs, "doc_id", "n_chars", k=25, n_buckets=nb
                ).collect(),
            )
        )
        assert dec == plain, f"n_buckets={nb} diverges"
    # large k: every row ranked, rank is a dense permutation of 1..n
    n = docs.count()
    allr = sp.priority_sample_scalable(docs, "doc_id", "n_chars", k=n, n_buckets=8)
    ranks = sorted(r.rank for r in allr.collect())
    assert ranks == list(range(1, n + 1))
    # partition invariance
    b = sorted(
        map(
            tuple,
            sp.priority_sample_scalable(
                docs.repartition(13), "doc_id", "n_chars", k=25, n_buckets=5
            ).collect(),
        )
    )
    assert b == plain


def test_quota_sample_scalable_adversarial_buckets(spark):
    """The survivor-merge tie-break invariant (rank ties break on
    (_h, key), valid because bucketing is h % n_buckets of the SAME
    hash) holds at the adversarial corners: one bucket, n_buckets == k,
    n_buckets exceeding every stratum's size, and a non-power-of-2."""
    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "lang")
    k = 10
    plain = sorted(
        map(tuple, sp.quota_sample(docs, "lang", "doc_id", k=k).collect())
    )
    max_stratum = max(
        r.n
        for r in docs.where(F.col("lang").isNotNull())
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    for nb in (1, k, max_stratum + 1, 13):
        dec = sorted(
            map(
                tuple,
                sp.quota_sample_scalable(
                    docs, "lang", "doc_id", k=k, n_buckets=nb
                ).collect(),
            )
        )
        assert dec == plain, f"n_buckets={nb} diverges from the plain window"


def test_priority_sample_scalable_all_tied_priorities(spark):
    """Astronomically heavy weights collapse every round-9 priority to
    exactly 0.0: ALL rows tie, the value-range bucketing degenerates to
    one bucket, and both membership and rank must fall back to the key
    tie-break alone — identically in the plain and decomposed forms."""
    docs = load_table(spark, SF_ORACLE, "documents").select(
        "doc_id", F.lit(1e15).alias("w")
    )
    plain = sorted(
        map(tuple, sp.priority_sample(docs, "doc_id", "w", k=25).collect())
    )
    assert all(t[2] == 0.0 for t in plain)  # the tie really happened
    for nb in (1, 25, 1000, 13):
        dec = sorted(
            map(
                tuple,
                sp.priority_sample_scalable(
                    docs, "doc_id", "w", k=25, n_buckets=nb
                ).collect(),
            )
        )
        assert dec == plain, f"n_buckets={nb} diverges under total ties"
    # with every priority equal, rank order IS key order
    got = sp.priority_sample_scalable(
        docs, "doc_id", "w", k=25, n_buckets=7
    ).collect()
    by_rank = [r.doc_id for r in sorted(got, key=lambda r: r.rank)]
    assert by_rank == sorted(by_rank)


def test_priority_sample_scalable_tied_group_at_cutoff(spark):
    """A tied block of priorities straddling the k cutoff: even rows
    get weight 1e15 (priority exactly 0.0), odd rows weight 1. At
    k < n_heavy the cutoff falls INSIDE the tied block (membership
    decided purely by tie-break); at k > n_heavy it falls in the
    untied tail. Both must match the plain form for every bucketing."""
    docs = load_table(spark, SF_ORACLE, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, 1e15).otherwise(1.0).alias("w"),
    )
    n_heavy = docs.where(F.col("w") > 1.0).count()
    for k in (max(2, n_heavy - 5), n_heavy + 5):
        plain = sorted(
            map(tuple, sp.priority_sample(docs, "doc_id", "w", k=k).collect())
        )
        for nb in (1, 2, k, 997):
            dec = sorted(
                map(
                    tuple,
                    sp.priority_sample_scalable(
                        docs, "doc_id", "w", k=k, n_buckets=nb
                    ).collect(),
                )
            )
            assert dec == plain, f"k={k} n_buckets={nb} diverges"
