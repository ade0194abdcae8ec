"""Count-min sketch: one-sided error, the rated error bound, bounded
size, and determinism under partitioning."""

from __future__ import annotations

from pyspark.sql import functions as F

from parallel_inverted_index_map_reduce_spark.operators import sketches as sk
from parallel_inverted_index_map_reduce_spark.sources.tables import load_table

from .conftest import SF_ORACLE


def _true_counts(spark, docs, words):
    from parallel_inverted_index_map_reduce_spark.functions.text import tokens_df

    rows = (
        tokens_df(docs)
        .where(F.col("word").isin(words))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    got = {r["word"]: r["n"] for r in rows}
    return {w: got.get(w, 0) for w in words}


def test_estimates_are_one_sided_and_bounded(spark):
    docs = load_table(spark, SF_ORACLE, "documents")
    sketch = sk.cms_build(docs)
    n_tokens = sk.tokens_df(docs).count()

    words = ["spark", "query", "hash", "table", "nosuchwordxyz"]
    est = {r["word"]: r["est"] for r in sk.cms_estimate(sketch, words).collect()}
    true = _true_counts(spark, docs, words)

    # CMS guarantee: never underestimates; overestimate bounded by
    # eps*N with eps = e/width (loose form; depth=4 makes the failure
    # probability ~e^-4, and this corpus/width sits far inside it)
    for w in words:
        assert est[w] >= true[w], (w, est[w], true[w])
        assert est[w] <= true[w] + (2.7183 / sk.DEFAULT_WIDTH) * n_tokens * 3, (
            w,
            est[w],
            true[w],
        )


def test_sketch_partition_invariant(spark):
    docs = load_table(spark, SF_ORACLE, "documents")
    one = sorted(map(tuple, sk.cms_build(docs).collect()))
    two = sorted(map(tuple, sk.cms_build(docs.repartition(11)).collect()))
    assert one == two


def test_sketch_size_is_bounded(spark):
    docs = load_table(spark, SF_ORACLE, "documents")
    sketch = sk.cms_build(docs, depth=3, width=64)
    assert sketch.count() <= 3 * 64
    assert set(sketch.columns) == {"seed", "slot", "width", "c"}


def test_estimate_reads_geometry_from_sketch(spark):
    """A non-default-geometry sketch estimates correctly because depth
    and width come FROM the sketch — the silent-zeros failure mode of
    caller-supplied mismatched parameters cannot happen."""
    docs = load_table(spark, SF_ORACLE, "documents")
    sketch = sk.cms_build(docs, depth=3, width=64)
    words = ["spark", "query"]
    est = {r["word"]: r["est"] for r in sk.cms_estimate(sketch, words).collect()}
    true = _true_counts(spark, docs, words)
    for w in words:
        assert est[w] >= true[w] > 0, (w, est[w], true[w])


def test_frequent_terms_exact_and_partition_invariant(spark):
    """frequent_terms must return EXACTLY the words with global count
    > N/k, with exact counts, under any partitioning: Misra-Gries
    candidates over-approximate differently per partitioning, but the
    exact verification pass makes the final answer deterministic."""
    docs = load_table(spark, SF_ORACLE, "documents")
    from parallel_inverted_index_map_reduce_spark.functions.text import tokens_df

    toks = tokens_df(docs)
    n = toks.count()
    k = 50
    want = {
        (r["word"], r["n"])
        for r in toks.groupBy("word")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > n / k)
        .collect()
    }
    assert want  # the fixture must actually have heavy hitters

    got = {
        (r["word"], r["n"])
        for r in sk.frequent_terms(docs, k=k).collect()
    }
    assert got == want

    got7 = {
        (r["word"], r["n"])
        for r in sk.frequent_terms(docs.repartition(7), k=k).collect()
    }
    assert got7 == want


def test_frequent_terms_min_count_threshold(spark):
    docs = load_table(spark, SF_ORACLE, "documents")
    out = sk.frequent_terms(docs, k=50, min_count=10_000_000).collect()
    assert out == []  # nothing is that frequent at sf0.001
