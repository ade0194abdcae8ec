"""End-to-end training-data pipeline: stage invariants compose."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from parallel_inverted_index_map_reduce_spark import pipeline as pl
from parallel_inverted_index_map_reduce_spark.sources.tables import load_table

from .conftest import SF_ORACLE

BUDGET = 256


def test_pipeline_end_to_end(spark, tmp_path):
    docs = load_table(spark, SF_ORACLE, "documents")
    out = str(tmp_path / "training")
    packed = pl.run_and_land(spark, docs, out, budget=BUDGET).cache()

    # something survived, something was dropped (quality/dedup active)
    n_docs_in = docs.count()
    n_docs_out = packed.select("doc_id").distinct().count()
    assert 0 < n_docs_out < n_docs_in

    # no chunk exceeds its window; no multi-chunk bin exceeds the budget
    assert packed.where(F.col("n_tokens") > 128).count() == 0
    bins = packed.groupBy("bin_id").agg(
        F.sum("n_tokens").alias("total"), F.count("*").alias("n")
    )
    assert bins.where((F.col("n") > 1) & (F.col("total") > BUDGET)).count() == 0

    # scrubbed text carries no raw email-shaped strings
    leaked = packed.where(
        F.col("chunk").rlike(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
    )
    assert leaked.count() == 0

    # landed layout: one directory per shard, within-budget file counts
    shards = glob.glob(f"{out}/shard=*")
    assert len(shards) > 0
    back = spark.read.parquet(out)
    assert back.count() == packed.count()


def test_pipeline_repetition_filter(spark):
    # synthetic corpus: both docs clear the quality gate (stopword-rich
    # / long enough), only the looping one has duplicate 5-grams
    clean = " ".join(f"the alpha{i} of beta{i}" for i in range(40))
    looping = "the a of and to in is " * 20
    docs = spark.createDataFrame(
        [(1, clean, "en"), (2, looping, "en")],
        "doc_id long, text string, lang string",
    )
    base = pl.prepare_training_data(docs, dedup_threshold=0.95)
    strict = pl.prepare_training_data(
        docs, dedup_threshold=0.95, max_dup5_frac=0.05
    )
    base_ids = {r["doc_id"] for r in base.select("doc_id").distinct().collect()}
    strict_ids = {r["doc_id"] for r in strict.select("doc_id").distinct().collect()}
    assert base_ids == {1, 2}
    assert strict_ids == {1}


def test_pipeline_mixing(spark):
    docs = load_table(spark, SF_ORACLE, "documents")
    # mixing: only weighted sources survive; binding stratum kept whole
    sources = [
        r["source"] for r in docs.select("source").distinct().collect()
    ]
    assert len(sources) >= 2
    w = {sources[0]: 0.7, sources[1]: 0.3}
    mixed = pl.prepare_training_data(docs, source_weights=w)
    kept_sources = {
        r["source"]
        for r in mixed.join(docs.select("doc_id", "source"), "doc_id")
        .select("source")
        .distinct()
        .collect()
    }
    assert kept_sources <= set(w)


def test_pipeline_cluster_best_dedup(spark):
    # three byte-identical docs + one distinct: cluster policy keeps
    # exactly one of the triplet (equal quality -> smallest id)
    text = " ".join(f"the word{i} of thing{i}" for i in range(40))
    other = " ".join(f"a item{i} to stuff{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, text, "en"), (2, text, "en"), (3, text, "en"), (9, other, "en")],
        "doc_id long, text string, lang string",
    )
    packed = pl.prepare_training_data(docs, dedup_policy="cluster_best")
    kept = {r["doc_id"] for r in packed.select("doc_id").distinct().collect()}
    assert kept == {1, 9}

    with pytest.raises(ValueError, match="dedup_policy"):
        pl.prepare_training_data(docs, dedup_policy="nope")


def test_pipeline_span_dedup_stage(spark):
    """The optional span-dedup stage cuts a shared boilerplate span
    from every doc but its first occurrence, while doc-level dedup
    (which sees the docs as distinct) leaves them all alive."""
    boiler = " ".join(f"license term{i} clause{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (1, boiler + " " + " ".join(f"alpha word{i}" for i in range(60)), "en"),
            (2, boiler + " " + " ".join(f"beta item{i}" for i in range(60)), "en"),
            (3, " ".join(f"gamma thing{i} stuff{i}" for i in range(60)), "en"),
        ],
        "doc_id long, text string, lang string",
    )
    base = pl.prepare_training_data(docs, min_quality=0.0)
    cut = pl.prepare_training_data(docs, min_quality=0.0, span_dedup_width=8)

    # all three docs survive both ways (they are not near-dups)
    for out in (base, cut):
        assert {r["doc_id"] for r in out.select("doc_id").distinct().collect()} == {
            1,
            2,
            3,
        }
    # doc 2 lost its boilerplate tokens: fewer total tokens than base
    tokens = lambda df, d: df.where(f"doc_id = {d}").agg(
        {"n_tokens": "sum"}
    ).first()[0]
    assert tokens(cut, 2) < tokens(base, 2)
    assert tokens(cut, 1) == tokens(base, 1)  # canonical doc untouched
    assert tokens(cut, 3) == tokens(base, 3)  # unshared doc untouched
