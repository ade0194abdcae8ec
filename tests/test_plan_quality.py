"""Physical-plan regression guards: the properties that make these
queries scale must stay visible in the optimized plan — losing one is a
performance bug even while results stay correct."""

from __future__ import annotations

import contextlib
import io

import pytest

from parallel_inverted_index_map_reduce_spark.plans.registry import all_specs

from .conftest import SF_ORACLE


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _spec_plan(spark, name):
    return _plan(all_specs()[name].fn(spark, SF_ORACLE))


def test_pricing_summary_pushdown_and_pruning(spark):
    plan = _spec_plan(spark, "pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan  # filter reached the scan
    assert "l_orderkey" not in plan.split("ReadSchema:")[1].split("\n")[0]  # pruned


def test_shipping_priority_no_forced_broadcast(spark):
    """The BUILDING-segment customer side is fact-scale (grows with SF),
    so it must not carry a broadcast HINT; with auto-broadcast disabled a
    hint would still force BroadcastExchange, so SortMergeJoin appearing
    proves the strategy is left to AQE/runtime stats."""
    plan = _spec_plan(spark, "shipping_priority")
    assert "EqualTo(c_mktsegment,BUILDING)" in plan  # dim filter pushed
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _spec_plan(spark, "shipping_priority")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastExchange" not in plan  # no hint forces a broadcast
    assert "SortMergeJoin" in plan


def test_local_supplier_volume_broadcasts_dims_only(spark):
    """Only region/nation dims may carry a broadcast HINT; the
    customer/supplier-derived sides grow with scale factor, so their
    strategy must stay AQE's choice. With auto-broadcast disabled, a
    forced hint would still produce BroadcastExchange for those joins —
    so asserting SortMergeJoin appears proves no hint forces them."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _spec_plan(spark, "local_supplier_volume")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastExchange" in plan  # hinted region/nation dims survive
    assert "SortMergeJoin" in plan  # fact-scale joins fell back to shuffle


def test_registry_wide_no_cartesian_products(spark):
    """Every registered plan must avoid CartesianProduct /
    BroadcastNestedLoopJoin — the two shapes that go quadratic at scale.

    Allowlist (bounded by construction, not data): ann_topk_fast
    cross-joins a broadcast of n_queries=5 fixed query vectors against
    the corpus, and ann_topk's int8 part (quantized_topk) uses the same
    broadcast-bounded shape — in both, one side is a constant-size
    query set, so the "nested loop" is n_queries scans, never
    corpus x corpus. (boolean_search no longer needs an exemption — its
    fused single-aggregation form has no nested-loop join at all.)
    """
    allow = {"ann_topk_fast", "ann_topk"}
    offenders = {}
    for name, spec in all_specs().items():
        if name in allow:
            continue
        plan = _plan(spec.fn(spark, SF_ORACLE))
        bad = [
            marker
            for marker in ("CartesianProduct", "BroadcastNestedLoopJoin")
            if marker in plan
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


def test_inverted_index_single_agg_shuffle(spark):
    import re

    plan = _spec_plan(spark, "inverted_index")
    # formatted output lists each node in tree + detail sections; count
    # the numbered detail entries only
    n_shuffles = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    # one Exchange for groupBy(word) + one for the letter window + the
    # deliberate scan-spread repartition (sources/tables.py) — no more
    assert n_shuffles <= 3, plan


def test_ann_fast_no_component_explode(spark):
    plan = _spec_plan(spark, "ann_topk_fast")
    assert "Generate" not in plan  # no posexplode in the fast path
    assert "BroadcastExchange" in plan  # query side broadcast


def test_term_lookup_filter_pushed(spark):
    """The point-lookup operator (now surfaced via boolean_search's
    'lookup' rows) keeps its word IN (...) predicate before the
    aggregation input scan."""
    from parallel_inverted_index_map_reduce_spark.operators.index import (
        build_index,
        term_lookup,
    )
    from parallel_inverted_index_map_reduce_spark.sources.tables import load_table

    idx = build_index(load_table(spark, SF_ORACLE, "documents"))
    plan = _plan(term_lookup(idx, ["spark", "query"]))
    assert "spark" in plan and "query" in plan


def _count_exchanges(plan: str) -> int:
    import re

    return len(re.findall(r"^\(\d+\) Exchange", plan, re.M))


def _count_scans(plan: str) -> int:
    import re

    return len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M))


def test_boolean_search_single_scan(spark):
    """The fused AND/OR/NOT form must stay one scan + one aggregation
    (the union-of-ops shape this replaced rebuilt the index per branch:
    6 scans, 30 exchanges). Corpus-scan budget, exactly SEVEN: the
    fused boolean aggregate, the positional phrase + sloppy-phrase
    projections, the prefix and suffix token filters, and the fuzzy
    part's vocabulary + postings passes (deletion_variants is one
    linear lineage — a union-of-rounds shape would re-scan the
    vocabulary per round). Stored-read budget, exactly SIX, none
    touching the corpus parquet, all of them letter-pruned positions
    reads: AND/OR/NOT, prefix_stored, suffix_stored's and fuzzy_stored's
    postings fetches, the stored phrase and the stored slop. (fuzzy_stored's and suffix's
    vocabulary passes collect eagerly at build time — neighborhood-
    bounded driver scalars — so they are not in this plan.)"""
    plan = _spec_plan(spark, "boolean_search")
    import re

    stored = [
        m
        for m in re.findall(r"^\(\d+\) Scan parquet ?(\S*)", plan, re.M)
        if m  # catalog-table scans carry a name; raw corpus scans do not
    ]
    # corpus: fused boolean, phrase, slop, prefix, suffix,
    # fuzzy vocab+postings
    assert _count_scans(plan) - len(stored) == 7, plan
    # stored: positions x6 (boolean, prefix_stored, suffix_stored
    # fetch, fuzzy_stored fetch, phrase_stored, slop_stored); the
    # suffix/fuzzy vocabulary passes collect eagerly at build time and
    # are not in this plan
    assert len(stored) == 6, stored
    assert sum("_positions" in t for t in stored) == 6, stored
    assert _count_exchanges(plan) <= 24, plan


def test_minhash_skips_shingle_distinct_shuffle(spark):
    """MinHash signatures aggregate the raw shingle stream (min is
    duplicate-insensitive); re-introducing the distinct would add a
    token-scale Exchange. Budget: scan-spread repartition + signature
    groupBy + band-join sides + pair distinct."""
    plan = _spec_plan(spark, "minhash_lsh_pairs")
    assert _count_exchanges(plan) <= 6, plan


def test_simhash_fingerprints_one_aggregation(spark):
    """The 32 bit-sign sums ride ONE groupBy(doc_id) (no 32x bit explode
    feeding two chained shuffles)."""
    plan = _spec_plan(spark, "simhash_fingerprints")
    assert _count_exchanges(plan) <= 2, plan


def test_keep_list_pipeline_no_quadratic_joins(spark):
    """The composed dedup pipeline (exact -> LSH -> verify -> keep) must
    inherit the LSH prune shape end-to-end: no all-pairs join anywhere."""
    from parallel_inverted_index_map_reduce_spark.operators.dedup import (
        near_dup_keep_list,
    )
    from parallel_inverted_index_map_reduce_spark.sources.tables import load_table

    plan = _plan(near_dup_keep_list(load_table(spark, SF_ORACLE, "documents")))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bm25_takeordered_and_broadcast_idf(spark):
    """BM25's top-k must truncate per partition BEFORE the merge: either
    TakeOrderedAndProject (per-partition top-k heap + driver merge —
    what Spark plans for the decimal-scored form) or the
    LocalLimit-under-GlobalLimit pair. Both move <= k rows per
    partition across the merge; a global sort of every scored doc
    would be the scale bug. The per-term idf side must broadcast
    (query-cardinality rows)."""
    from parallel_inverted_index_map_reduce_spark.operators.index import (
        bm25_search,
    )
    from parallel_inverted_index_map_reduce_spark.sources.tables import load_table

    plan = _plan(bm25_search(load_table(spark, SF_ORACLE, "documents"), "spark query"))
    truncates_early = "TakeOrderedAndProject" in plan or (
        "LocalLimit" in plan
        and plan.index("GlobalLimit") < plan.index("LocalLimit")
    )
    assert truncates_early, plan
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan


def test_quantized_topk_broadcasts_queries(spark):
    """Quantized shortlist search keeps the ann_topk_fast shape: the
    bounded query side broadcast, corpus scanned once, no explode."""
    from parallel_inverted_index_map_reduce_spark.operators.quantization import (
        quantized_topk,
    )
    from parallel_inverted_index_map_reduce_spark.sources.tables import load_table

    plan = _plan(quantized_topk(load_table(spark, SF_ORACLE, "embeddings")))
    assert "BroadcastExchange" in plan
    assert "Generate" not in plan


def test_span_dedup_no_quadratic_joins(spark):
    """The span-dedup flow must stay equi-join shaped end to end: gram
    stats join back by hash, cuts join back by doc_id — never a
    cartesian/BNLJ, whatever sizes the sides have."""
    from parallel_inverted_index_map_reduce_spark.operators.spandedup import (
        remove_duplicate_spans,
    )
    from parallel_inverted_index_map_reduce_spark.sources.tables import load_table

    plan = _plan(remove_duplicate_spans(load_table(spark, SF_ORACLE, "documents"), n=8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cms_build_single_corpus_scan(spark):
    """The sketch build reads the corpus ONCE — each token explodes into
    its depth coordinates instead of a per-seed union re-scanning the
    token stream depth times."""
    from parallel_inverted_index_map_reduce_spark.operators.sketches import (
        cms_build,
    )
    from parallel_inverted_index_map_reduce_spark.sources.tables import load_table

    plan = _plan(cms_build(load_table(spark, SF_ORACLE, "documents")))
    assert _count_scans(plan) == 1, plan
    # one aggregation exchange (+ the scan-spread repartition)
    assert _count_exchanges(plan) <= 2, plan


def test_cdc_chunks_zero_shuffle(spark):
    """Content-defined chunking is ONE projection + explode: boundary
    hashing, segment slicing, and row expansion all happen scan-side —
    any Exchange would mean the array work leaked into a shuffle."""
    from parallel_inverted_index_map_reduce_spark.operators.chunking import (
        cdc_chunks,
    )
    from parallel_inverted_index_map_reduce_spark.sources.tables import load_table

    from .conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents")
    plan = _plan(cdc_chunks(docs))
    assert _count_exchanges(plan) == 0, plan


def test_priority_sample_uses_take_ordered(spark):
    """The weighted k-subset must be TakeOrderedAndProject (per-partition
    top-k + k-row merge), never a corpus-wide Sort: a global sort of the
    priorities is the classic scale-killer this operator exists to
    avoid. The rank window runs over k rows only."""
    from parallel_inverted_index_map_reduce_spark.operators.sampling import (
        priority_sample,
    )
    from parallel_inverted_index_map_reduce_spark.sources.tables import load_table

    from .conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "n_chars")
    plan = _plan(priority_sample(docs, "doc_id", "n_chars", k=25))
    assert "TakeOrderedAndProject" in plan, plan


def test_scalable_samplers_no_global_sort(spark):
    """The decomposed-rank forms (which carry the driver hash check as
    of round 7) must never plan a corpus-wide Sort over a single
    partition: every window is partitioned by stratum/bucket, so each
    Sort node in the plan sits under a hash-partitioned Exchange, never
    an Exchange SinglePartition."""
    import re

    from parallel_inverted_index_map_reduce_spark.operators.sampling import (
        priority_sample_scalable,
        quota_sample_scalable,
    )
    from parallel_inverted_index_map_reduce_spark.sources.tables import load_table

    from .conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents")
    for label, df in (
        (
            "priority",
            priority_sample_scalable(
                docs.select("doc_id", "n_chars"), "doc_id", "n_chars", k=25,
                n_buckets=7,
            ),
        ),
        (
            "quota",
            quota_sample_scalable(
                docs.select("doc_id", "lang"), "lang", "doc_id", k=10,
                n_buckets=5,
            ),
        ),
    ):
        plan = _plan(df)
        assert not re.search(r"Exchange SinglePartition", plan), (label, plan)


def test_hll_register_table_single_aggregation(spark):
    """The HLL build must stay ONE aggregation over the input — a
    64-row summary whatever the corpus size, with exactly one exchange
    (the register groupBy)."""
    import re

    from pyspark.sql import functions as F

    from parallel_inverted_index_map_reduce_spark.operators.sketches import (
        hll_register_table,
    )
    from parallel_inverted_index_map_reduce_spark.sources.tables import load_table

    from .conftest import SF_ORACLE

    l = load_table(spark, SF_ORACLE, "lineitem")
    plan = _plan(hll_register_table(l, F.col("l_partkey").cast("string")))
    n_shuffles = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    # one Exchange for the register groupBy + at most the scan-spread
    # repartition (sources/tables.py)
    assert n_shuffles <= 2, plan
    assert "HashAggregate" in plan
