"""Cross-validation for the non-oracle similarity paths."""

from __future__ import annotations

import contextlib
import math
from collections import Counter
from decimal import Decimal

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from parallel_inverted_index_map_reduce_spark.operators import similarity as sim
from parallel_inverted_index_map_reduce_spark.sources.tables import load_table

from .conftest import SF_ORACLE


def test_fast_topk_matches_exact(spark):
    """The JVM array-fold path must rank the same neighbors as the
    decimal oracle path (cosines agree to ~1e-6, ranks exactly)."""
    emb = load_table(spark, SF_ORACLE, "embeddings")
    exact = {
        (r.vec_a, r.rank): (r.vec_b, r.cosine)
        for r in sim.ann_topk(emb, k=3, n_queries=5).collect()
    }
    fast = {
        (r.vec_a, r.rank): (r.vec_b, r.cosine)
        for r in sim.ann_topk_fast(emb, k=3, n_queries=5).collect()
    }
    assert set(exact) == set(fast)
    for key, (vb, cos) in exact.items():
        fvb, fcos = fast[key]
        assert fvb == vb, f"{key}: neighbor {fvb} != {vb}"
        assert abs(fcos - cos) < 1e-5, f"{key}: cosine {fcos} vs {cos}"


def test_embedding_pairs_symmetric_bound(spark):
    emb = load_table(spark, SF_ORACLE, "embeddings")
    cos = sim.pairwise_cosine(emb, max_query_id=3)
    rows = cos.collect()
    assert all(-1.000001 <= r.cosine <= 1.000001 for r in rows)


def test_ivf_full_probe_equals_exact(spark):
    """Probing every inverted list must degenerate to exact brute force
    — the strongest correctness anchor for the IVF machinery (centroid
    fit, assignment, and candidate join change results not at all when
    nothing is pruned)."""
    emb = load_table(spark, SF_ORACLE, "embeddings")
    cents = sim.ivf_fit(emb, n_list=8, n_iters=2)
    assigned = sim.ivf_assign(emb, cents)
    assert assigned.count() == emb.count()
    assert assigned.where(
        (F.col("list_id") < 0) | (F.col("list_id") >= 8)
    ).count() == 0
    exact = {
        (r.vec_a, r.rank): (r.vec_b, r.cosine)
        for r in sim.ann_topk_fast(emb, k=3, n_queries=5).collect()
    }
    full = {
        (r.vec_a, r.rank): (r.vec_b, r.cosine)
        for r in sim.ivf_topk(
            emb, k=3, n_queries=5, n_list=8, nprobe=8, centroids=cents
        ).collect()
    }
    assert exact == full


def test_ivf_recall_grows_with_nprobe(spark):
    """Pruned probes trade recall for scanned fraction; recall@3 must be
    monotonically non-decreasing in nprobe and usable (>= 0.4) at
    nprobe=half the lists on the near-random test embeddings
    (measured 0.13 / 0.27 / 0.60 for nprobe 1 / 2 / 4 of 8)."""
    emb = load_table(spark, SF_ORACLE, "embeddings")
    cents = sim.ivf_fit(emb, n_list=8, n_iters=2)
    want = {
        (r.vec_a, r.vec_b)
        for r in sim.ann_topk_fast(emb, k=3, n_queries=5).collect()
    }
    recalls = []
    for nprobe in (1, 2, 4):
        got = {
            (r.vec_a, r.vec_b)
            for r in sim.ivf_topk(
                emb, k=3, n_queries=5, n_list=8, nprobe=nprobe, centroids=cents
            ).collect()
        }
        recalls.append(len(got & want) / len(want))
    assert recalls == sorted(recalls), recalls
    assert recalls[-1] >= 0.4, recalls


def test_knn_classify_majority_and_tiebreak(spark):
    """Majority label wins; a split vote breaks to the SMALLEST label
    (total, deterministic); the label column may be int (cast to long)."""
    # query 0 at the origin-ish; neighbors engineered so its 3-NN are
    # vecs 1,2,3 with labels 7,7,2 -> predict 7; then a 2/2 tie case.
    def vec(x, y):
        return [float(x), float(y)] + [0.0] * 6

    rows = [
        (0, vec(1.00, 0.00), 99),   # query
        (1, vec(0.99, 0.10), 7),
        (2, vec(0.98, 0.15), 7),
        (3, vec(0.97, 0.20), 2),
        (4, vec(-1.0, 0.00), 5),    # far away
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    from parallel_inverted_index_map_reduce_spark.operators.similarity import (
        knn_classify,
    )

    got = knn_classify(emb, k=3, n_queries=1).collect()
    assert len(got) == 1
    assert got[0]["predicted_label"] == 7 and got[0]["votes"] == 2

    # 4-NN over labels {7,7,2,5}: 7 still wins with 2 votes
    got4 = knn_classify(emb, k=4, n_queries=1).collect()
    assert got4[0]["predicted_label"] == 7 and got4[0]["votes"] == 2

    # tie: labels {7,7,2,2} -> smallest label (2) wins
    rows_tie = [
        (0, vec(1.00, 0.00), 99),
        (1, vec(0.99, 0.10), 7),
        (2, vec(0.98, 0.15), 7),
        (3, vec(0.97, 0.20), 2),
        (4, vec(0.96, 0.25), 2),
    ]
    emb_tie = spark.createDataFrame(rows_tie, ["vec_id", "embedding", "label"])
    tie = knn_classify(emb_tie, k=4, n_queries=1).collect()
    assert tie[0]["predicted_label"] == 2 and tie[0]["votes"] == 2


# --------------------------------------------------------------------------
# SemDedup: cluster-local semantic near-dup pruning
# --------------------------------------------------------------------------


def _brute_drops(spark, emb, threshold):
    """The formulation semantic_dedup avoids at scale: global all-pairs
    cosine, drop every vector with an earlier near-dup — the n_list=1
    anchor's ground truth."""
    pairs = (
        sim._grouped_pairs_cosine(
            emb.where(F.size("embedding") > 0).select(
                "vec_id",
                "embedding",
                F.lit(0).alias("g"),
                sim.norm_sq_expr(F.col("embedding")).alias("norm_sq"),
            ),
            "g",
        )
        .where(F.col("cosine") >= threshold)
    )
    return {
        r["vec_id"]: (r["kept_by"], r["n_witnesses"])
        for r in pairs.groupBy(F.col("vec_b").alias("vec_id"))
        .agg(
            F.min("vec_a").alias("kept_by"),
            F.count("*").cast("long").alias("n_witnesses"),
        )
        .collect()
    }


def test_semantic_dedup_single_cluster_is_exact_global(spark):
    emb = load_table(spark, SF_ORACLE, "embeddings").where(F.col("vec_id") < 300)
    want = _brute_drops(spark, emb, 0.35)
    got = {
        r["vec_id"]: (r["kept_by"], r["n_witnesses"])
        for r in sim.semantic_dedup(emb, n_list=1, threshold=0.35).collect()
    }
    assert got == want and len(got) > 10


def test_semantic_dedup_multicluster_sound_and_complete(spark):
    """Pruned (multi-cluster) run: every drop is witnessed by an
    earlier SAME-CLUSTER near-dup (soundness), and every same-cluster
    pair above threshold produces a drop (completeness w.r.t. the
    clustering — cross-cluster misses are the paper's accepted
    approximation)."""
    emb = load_table(spark, SF_ORACLE, "embeddings")
    cents = sim.ivf_fit(emb, n_list=8, n_iters=2)
    assigned = {
        r["vec_id"]: r["list_id"]
        for r in sim.ivf_assign(emb, cents).select("vec_id", "list_id").collect()
    }
    drops = {
        r["vec_id"]: (r["kept_by"], r["n_witnesses"])
        for r in sim.semantic_dedup(
            emb, n_list=8, threshold=0.35, centroids=cents
        ).collect()
    }
    all_pairs = _brute_drops(spark, emb, 0.35)  # global reference
    cos = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in sim.pairwise_cosine(emb).where(F.col("cosine") >= 0.35).collect()
    }
    same_cluster = {
        (a, b)
        for (a, b) in cos
        if a < b and assigned.get(a) == assigned.get(b)
    }
    want = {}
    for a, b in same_cluster:
        prev = want.get(b)
        want[b] = (min(prev[0], a), prev[1] + 1) if prev else (a, 1)
    assert drops == want
    # drops are a subset of the global-threshold drop set
    assert set(drops) <= set(all_pairs)


def test_semantic_dedup_partition_invariant(spark):
    emb = load_table(spark, SF_ORACLE, "embeddings").where(F.col("vec_id") < 200)
    a = sorted(map(tuple, sim.semantic_dedup(emb, n_list=4, threshold=0.35).collect()))
    b = sorted(
        map(
            tuple,
            sim.semantic_dedup(
                emb.repartition(13), n_list=4, threshold=0.35
            ).collect(),
        )
    )
    assert a == b and len(a) > 0


def test_ivf_fit_sampled_deterministic_and_full_probe_exact(spark):
    """fit_fraction fits the quantizer on a deterministic hash sample:
    (a) two calls agree exactly (no RNG, no partitioning dependence),
    (b) the sampled fit still yields n_list usable centroids, and
    (c) full-probe ivf_topk under SAMPLED-fit centroids still equals
    brute force — the full-probe anchor is invariant to WHERE the
    centroids came from, which is precisely what makes sampling a safe
    scale knob for fit cost (assignment always covers the full
    corpus)."""
    emb = load_table(spark, SF_ORACLE, "embeddings")
    c1 = sim.ivf_fit(emb, n_list=4, n_iters=1, fit_fraction=0.5)
    c2 = sim.ivf_fit(
        emb.repartition(7), n_list=4, n_iters=1, fit_fraction=0.5
    )
    assert c1 == c2
    assert len(c1) == 4
    full_corpus = sim.ivf_fit(emb, n_list=4, n_iters=1)
    assert c1 != full_corpus  # the sample genuinely moved the fit
    exact = {
        (r.vec_a, r.rank): r.vec_b
        for r in sim.ann_topk_fast(emb, k=3, n_queries=5).collect()
    }
    sampled_full_probe = {
        (r.vec_a, r.rank): r.vec_b
        for r in sim.ivf_topk(
            emb, k=3, n_queries=5, n_list=4, nprobe=4, centroids=c1
        ).collect()
    }
    assert exact == sampled_full_probe


def test_ivf_fit_sample_too_small_raises(spark):
    """An aggressive fit_fraction that leaves fewer than n_list seed
    vectors must fail loudly — silently returning a shorter centroid
    list would hand downstream stores fewer lists than requested."""
    import pytest

    emb = load_table(spark, SF_ORACLE, "embeddings").where(F.col("vec_id") < 40)
    with pytest.raises(ValueError, match="raise fit_fraction"):
        sim.ivf_fit(emb, n_list=16, n_iters=1, fit_fraction=0.05)


def test_pairwise_cosine_uncapped_warns(spark):
    """max_query_id=None broadcasts the whole input — allowed (tests
    and md5-capped oracle anchors rely on it) but warned, so misuse at
    scale fails with a message instead of an executor OOM."""
    import warnings

    emb = load_table(spark, SF_ORACLE, "embeddings").where(F.col("vec_id") < 10)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        sim.pairwise_cosine(emb)
        assert any("max_query_id" in str(x.message) for x in w)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        sim.pairwise_cosine(emb, max_query_id=5)
        assert not any("max_query_id" in str(x.message) for x in w)


def test_vectorized_pair_cosine_equals_expression(spark):
    """decimal_cosine_pairs_vectorized must agree with the
    round(decimal_dot/..., 6) expression form row for row over real
    corpus data — all-pairs in one group so every pair is scored —
    including across a different partitioning (batch/framing
    independence)."""
    emb = (
        load_table(spark, SF_ORACLE, "embeddings")
        .where(F.col("vec_id") < 250)
    )
    enr = emb.where(F.size("embedding") > 0).select(
        "vec_id",
        "embedding",
        F.lit(0).alias("g"),
        sim.norm_sq_expr(F.col("embedding")).alias("norm_sq"),
    )
    expr = sorted(
        map(tuple, sim._grouped_pairs_cosine(enr, "g", vectorized=False).collect())
    )
    fast = sorted(
        map(tuple, sim._grouped_pairs_cosine(enr, "g", vectorized=True).collect())
    )
    assert len(expr) > 10_000
    assert fast == expr
    repart = sorted(
        map(
            tuple,
            sim._grouped_pairs_cosine(
                enr.repartition(7), "g", vectorized=True
            ).collect(),
        )
    )
    assert repart == expr


@contextlib.contextmanager
def _ansi(spark, enabled):
    prev = spark.conf.get("spark.sql.ansi.enabled", None)
    spark.conf.set("spark.sql.ansi.enabled", str(enabled).lower())
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.ansi.enabled")
        else:
            spark.conf.set("spark.sql.ansi.enabled", prev)


def test_vectorized_pair_cosine_edge_cases(spark):
    """Degenerate inputs must match the expression form exactly:
    ragged lengths (index-intersection semantics), empty arrays and
    zero vectors (a NULL cosine in both forms), tiny negative cosines
    (round6 -> Java's positive 0.0, never -0.0), and half-boundary
    products (the exact-fallback band of ``units9``). Row 5's product
    with row 0 is an exact scale-7 half, and its product with row 7's
    3.3f is 1058.23026425 by its shortest repr but a hair below it in
    binary: the binary half-up rounds that component one 1e-7 unit
    down, and only the band's decimal fallback rounds it up as the
    expression does. The (5, 7) cosine sits ~1e-13 above a scale-6
    half, so that one unit decides its last digit. ANSI is disabled for
    the comparison: under ANSI (the session default) the EXPRESSION
    path raises DIVIDE_BY_ZERO on a zero-norm pair. With ANSI off the
    expression's Divide returns NULL for a zero divisor, and the
    vectorized form's mapInPandas output turns a NaN cosine into NULL
    (Arrow masks NaN as null), so every pair with row 2 or 3 is None in
    both forms — real corpora never contain zero-norm vectors either
    way."""
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [-1e-7, 1.0, 0.0]),          # cosine ~ -1e-7 -> rounds to 0.0
        (2, [0.0, 0.0, 0.0]),            # zero norm -> NULL cosine
        (3, []),                          # empty -> zero norm -> NULL
        (4, [0.5, 0.5]),                  # ragged vs dim-3 rows
        (5, [0.01171875, 1.6069905757904053, 320.67584228515625]),  # band
        (6, [0.25, -0.75, 1.5]),         # exact dyadics
        (7, [1234.5678, -0.0001234, 3.3]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    enr = emb.select(
        "vec_id",
        "embedding",
        F.lit(0).alias("g"),
        sim.norm_sq_expr(F.col("embedding")).alias("norm_sq"),
    )

    def canon(df):
        out = {}
        for r in df.collect():
            c = r.cosine
            # repr distinguishes -0.0 from 0.0
            out[(r.vec_a, r.vec_b)] = None if c is None else repr(c)
        return out

    with _ansi(spark, False):
        expr = canon(sim._grouped_pairs_cosine(enr, "g", vectorized=False))
        fast = canon(sim._grouped_pairs_cosine(enr, "g", vectorized=True))
    assert len(expr) == len(rows) * (len(rows) - 1) // 2
    assert fast == expr
    # the tiny-negative pair must have collapsed to positive 0.0
    assert expr[(0, 1)] == "0.0"
    # the band-decided pair: without the fallback the fast form says 0.002709
    assert expr[(5, 7)] == "0.00271"
    zero_norm = [p for p in expr if {2, 3} & set(p)]
    assert len(zero_norm) == 2 * (len(rows) - 2) + 1
    for pair in zero_norm:
        assert expr[pair] is None and fast[pair] is None, pair


def test_vectorized_pair_cosine_past_int64_units(spark):
    """Dots whose scale-9 units leave int64 match the expression form.
    Unit norms make each cosine its rounded dot: 5e9 + 4.5e9 sums past
    2^63 units, one product of 1e10 is 1e19 units on its own, and a
    NULL norm nulls its quotient. A product or a running sum that
    leaves decimal(28,9) raises in both forms under ANSI, the session
    default, even when the full sum would fit."""
    schema = (
        "vec_a long, vec_b long, ea array<float>, eb array<float>, "
        "na double, nb double"
    )
    score = F.round(
        sim.decimal_dot_expr(F.col("ea"), F.col("eb")).cast("double")
        / (F.sqrt("na") * F.sqrt("nb")),
        6,
    )
    fitting = spark.createDataFrame(
        [
            (0, 1, [50000.0, 45000.0], [100000.0, 100000.0], 1.0, 1.0),
            (0, 2, [100000.0], [100000.0], 1.0, 1.0),
            (0, 5, [3e9, 3e9, -3e9], [1e9] * 3, 1.0, 1.0),
            (0, 6, [1.0], [1.0], None, 1.0),
        ],
        schema,
    )
    with _ansi(spark, True):
        expr = sorted(
            map(
                tuple,
                fitting.select("vec_a", "vec_b", score.alias("cosine")).collect(),
            )
        )
        fast = sorted(
            map(tuple, sim.decimal_cosine_pairs_vectorized(fitting).collect())
        )
        assert expr == [(0, 1, 9.5e9), (0, 2, 1e10), (0, 5, 3e18), (0, 6, None)]
        assert fast == expr
        for row in [
            (0, 3, [1e10], [1e10], 1.0, 1.0),  # one product past 1e19
            (0, 4, [6e9, 6e9, -6e9], [1e9] * 3, 1.0, 1.0),  # running sum
        ]:
            pairs = spark.createDataFrame([row], schema)
            with pytest.raises(Exception, match="OVERFLOW|OUT_OF_RANGE"):
                pairs.select(score).collect()
            with pytest.raises(Exception, match="ArithmeticError"):
                sim.decimal_cosine_pairs_vectorized(pairs).collect()


def test_vectorized_assignment_equals_expression_fold(spark):
    """The Arrow-batched numpy assignment must agree with the
    fold-expression argmin row for row — same component accumulation
    order, same rounding, same lower-id tie-break — including empty
    embeddings (list 0, the empty fold) and across partitionings."""
    emb = load_table(spark, SF_ORACLE, "embeddings")
    cents = sim.ivf_fit(emb, n_list=16, n_iters=0)
    expr = {
        (r.vec_id, r.list_id)
        for r in sim.ivf_assign(emb, cents).collect()
    }
    fast = {
        (r.vec_id, r.list_id)
        for r in sim.ivf_assign(emb, cents, vectorized=True).collect()
    }
    assert fast == expr and len(fast) == emb.count()
    repart = {
        (r.vec_id, r.list_id)
        for r in sim.ivf_assign(
            emb.repartition(11), cents, vectorized=True
        ).collect()
    }
    assert repart == expr


def test_ivf_fit_vectorized_lloyd_matches_expression_lloyd(spark):
    emb = load_table(spark, SF_ORACLE, "embeddings")
    fast = sim.ivf_fit(emb, n_list=8, n_iters=2)
    slow = sim.ivf_fit(emb, n_list=8, n_iters=2, vectorized=False)
    assert fast == slow


def test_ann_topk_fast_string_form_same_semantics(spark):
    """ann_topk_fast's selectExpr build equals the Column-API build it
    replaced (lambda variable names canonicalize away)."""
    from pyspark.sql import functions as F

    from parallel_inverted_index_map_reduce_spark.operators.similarity import (
        _dot_expr,
        _norm_expr,
        _topk_by_cosine,
        ann_topk_fast,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    k, n_queries = 3, 5
    q = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("qe"),
        _norm_expr(F.col("embedding")).alias("qn"),
    )
    c = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("ce"),
        _norm_expr(F.col("embedding")).alias("cn"),
    )
    cos = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("vec_a") != F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(
                _dot_expr(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn")), 6
            ).alias("cosine"),
        )
    )
    old = _topk_by_cosine(cos, k)
    assert ann_topk_fast(emb, k=k, n_queries=n_queries).sameSemantics(old)


@settings(max_examples=60, deadline=None, derandomize=True)
@given(
    # first of 256 consecutive scale-7 half-boundaries k + 0.5, k drawn
    # log-uniformly so p = (k + 0.5) / 1e7 spans [1e2, 1e11]; above
    # ~9.2e9 the scale-9 units no longer fit in int64
    start=st.floats(9.0, 18.0).map(lambda e: int(10**e)),
)
@example(start=66821274425 - 128)  # covers p = 6682.12744255
@example(start=95_000_000_000_000_000)  # p = 9.5e9: 9.5e18 units > 2^63
def test_round7_units_match_exact_twin_at_half_boundaries(start):
    """The vectorized round-7 -> scale-9 units equal the scalar decimal
    twin on products at a scale-7 half-boundary, one ulp either side
    and negated. Past |p| ~ 400 the binary product's error exceeds a
    fixed 1e-6 band (0.7 % of the half-boundaries in [1e3, 1e4] used
    to round the wrong way); the band must scale with ulp(|p| * 1e7)."""
    _, exact_units9, units9 = sim._build_decimal_rounding()
    rows = []
    for k in range(start, start + 256):
        h = float((Decimal(k) + Decimal("0.5")).scaleb(-7))
        rows.append([h, math.nextafter(h, 0.0), math.nextafter(h, math.inf), -h])
    got = units9(np.array(rows))
    bad = [
        (p, int(u), exact_units9(p))
        for row, urow in zip(rows, got)
        for p, u in zip(row, urow)
        if int(u) != exact_units9(p)
    ]
    assert not bad, bad[:5]


def test_zero_norm_vectors_are_dropped_before_pairing(spark):
    """Sign-LSH near-dups and SemDedup drop vectors whose decimal
    norm_sq is 0 — all-zero, or every squared component rounding to 0
    at 7 decimals — before pairing. Every pair with one divides by
    zero, where the ANSI expression form raises and the vectorized
    scorer nulls the row; neither output ever names such a vector. The
    drop comes after the bucket cap, so the cap still counts them, as
    bucketed_overflow does."""
    rows = [
        (0, [1.0, 0.2, 0.0]),
        (1, [0.9, 0.1, 0.1]),
        (2, [0.0, 0.0, 0.0]),  # all zero
        (3, [1e-5, -1e-5, 0.0]),  # squares round to 0 at 7 decimals
        (4, [1.0, 0.3, 0.1]),
        (5, [0.8, 0.0, 0.3]),
        (6, [-1.0, -0.2, 0.0]),  # 6 and 7 mirror 0 and 1, so both sign
        (7, [-0.9, -0.1, -0.1]),  # buckets hold nonzero-norm vectors
    ]
    zero = {2, 3}
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    norms = {
        r.vec_id: r.n
        for r in emb.select(
            "vec_id", sim.norm_sq_expr(F.col("embedding")).alias("n")
        ).collect()
    }
    assert {v for v, n in norms.items() if n == 0} == zero

    buckets = {
        r.vec_id: r.bucket for r in sim.hyperplane_buckets(emb, 1).collect()
    }
    near = sim.bucketed_near_dups(emb, n_planes=1, threshold=-1.0).collect()
    assert {(r.vec_a, r.vec_b) for r in near} == {
        (a, b)
        for a in buckets
        for b in buckets
        if a < b and buckets[a] == buckets[b] and not {a, b} & zero
    }
    assert near and all(r.cosine is not None for r in near)

    # one cluster, every pair qualifies: each nonzero-norm vector but the
    # first drops, witnessed by the first
    sd = sim.semantic_dedup(emb, n_list=1, threshold=-1.0, n_iters=0)
    nonzero = sorted(set(buckets) - zero)
    assert {r.vec_id: r.kept_by for r in sd.collect()} == {
        v: nonzero[0] for v in nonzero[1:]
    }

    # a cap one below the zero vector's bucket size removes that bucket
    zb = buckets[2]
    size = Counter(buckets.values())[zb]
    assert size - len(zero & {v for v in buckets if buckets[v] == zb}) >= 2
    capped = sim.bucketed_near_dups(
        emb, n_planes=1, threshold=-1.0, max_bucket=size - 1
    ).collect()
    assert all(buckets[r.vec_a] != zb for r in capped)
    assert zb in {
        r.bucket for r in sim.bucketed_overflow(emb, 1, size - 1).collect()
    }
