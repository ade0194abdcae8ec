"""Stored ANN serving (operators/serving.py store/attach/ann_search):
row-identical to the in-session IVF path, partition-pruned probes in
the plan, and re-attachment across catalog loss."""

from __future__ import annotations

import contextlib
import io
import os

import pytest
from pyspark.sql import functions as F

from parallel_inverted_index_map_reduce_spark.operators import serving as srv
from parallel_inverted_index_map_reduce_spark.operators.similarity import ivf_topk
from parallel_inverted_index_map_reduce_spark.sources.tables import load_table

from .conftest import SF_ORACLE, crash_in_sidecar_write

BASE = "annidx"
N_LIST, NPROBE, K, NQ = 8, 3, 3, 5


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def emb(spark):
    e = load_table(spark, SF_ORACLE, "embeddings")
    srv.store_ann_index(e, BASE, n_list=N_LIST, n_iters=2)
    return e


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_stored_ann_matches_in_session_ivf(spark, emb):
    queries = emb.where(F.col("vec_id") < NQ)
    got = srv.ann_search_stored(spark, BASE, queries, k=K, nprobe=NPROBE)
    want = ivf_topk(
        emb,
        k=K,
        n_queries=NQ,
        nprobe=NPROBE,
        centroids=srv.load_stored_centroids(spark, BASE),
    )
    assert _rows(got) == _rows(want) and _rows(got)


def test_stored_ann_probes_prune_partitions(spark, emb):
    queries = emb.where(F.col("vec_id") < 2)
    got = srv.ann_search_stored(spark, BASE, queries, k=K, nprobe=2)
    plan = _plan(got)
    # the static IN filter on the partition column prunes directories
    seg = plan.split("PartitionFilters")[1][:200]
    assert "list_id" in seg, plan
    # and the scan reads only the probed lists' rows, not the corpus
    n_probed = (
        spark.table(f"{BASE}_vectors")
        .where(
            F.col("list_id").isin(
                [
                    r["list_id"]
                    for r in queries.select(
                        F.explode(
                            F.slice(
                                srv.ann_probe_order(
                                    spark, BASE, F.col("embedding")
                                ),
                                1,
                                2,
                            )
                        ).alias("list_id")
                    )
                    .distinct()
                    .collect()
                ]
            )
        )
        .count()
    )
    assert n_probed < emb.count()


def test_stored_ann_attach_after_catalog_loss(spark, emb):
    queries = emb.where(F.col("vec_id") < NQ)
    want = _rows(srv.ann_search_stored(spark, BASE, queries, k=K, nprobe=NPROBE))
    for suffix in ("_vectors", "_centroids"):
        spark.sql(f"DROP TABLE {BASE}{suffix}")
    assert not spark.catalog.tableExists(f"{BASE}_vectors")
    srv.attach_ann_index(spark, BASE)
    got = _rows(srv.ann_search_stored(spark, BASE, queries, k=K, nprobe=NPROBE))
    assert got == want
    srv.attach_ann_index(spark, BASE)  # no-op second attach


def test_float64_ann_store_attaches_after_catalog_loss(spark, emb):
    """A store keeps its input's embedding type, so one built from
    float64 vectors must read back through the attach's declared
    columns (an array<float> declaration fails every scan)."""
    base = "annidx_f64"
    e64 = emb.where(F.col("vec_id") < 60).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    srv.store_ann_index(e64, base, n_list=2, n_iters=1)
    queries = e64.where(F.col("vec_id") < NQ)
    want = _rows(srv.ann_search_stored(spark, base, queries, k=K, nprobe=2))
    for sfx in ("_vectors", "_centroids"):
        spark.sql(f"DROP TABLE {base}{sfx}")
    srv.attach_ann_index(spark, base)
    got = _rows(srv.ann_search_stored(spark, base, queries, k=K, nprobe=2))
    assert got == want and got


def test_stored_decimal_scores_match_in_session_ivf(spark, emb):
    """decimal_scores through the stored path = ivf_topk decimal_scores
    with the same centroids — the flag the cross-engine-checked
    'ivf_stored' registry part relies on."""
    queries = emb.where(F.col("vec_id") < NQ)
    got = srv.ann_search_stored(
        spark, BASE, queries, k=K, nprobe=N_LIST, decimal_scores=True
    )
    want = ivf_topk(
        emb,
        k=K,
        n_queries=NQ,
        nprobe=N_LIST,
        centroids=srv.load_stored_centroids(spark, BASE),
        decimal_scores=True,
    )
    assert _rows(got) == _rows(want) and _rows(got)


def test_stale_ann_store_detected_and_rebuilt(spark, emb):
    """Regenerated embeddings at the same base: the sidecar fingerprint
    mismatch is CAUGHT and ensure_ann_index rebuilds — never serves the
    old inverted lists (the ANN twin of the text store's staleness
    test)."""
    base = "annstale"
    old = emb.where(F.col("vec_id") < 50)
    srv.store_ann_index(old, base, n_list=4, n_iters=1)
    assert srv.verify_ann_index(spark, base, old)
    new = emb.where(F.col("vec_id") < 60)  # the "regenerated" corpus
    assert not srv.verify_ann_index(spark, base, new)
    # drop catalog entries to force the fresh-session attach+verify path
    for sfx in ("_vectors", "_centroids"):
        if spark.catalog.tableExists(f"{base}{sfx}"):
            spark.sql(f"DROP TABLE {base}{sfx}")
    srv.ensure_ann_index(new, base, n_list=4, n_iters=1)
    assert srv.verify_ann_index(spark, base, new)
    assert spark.table(f"{base}_vectors").count() == new.count()


def test_ann_store_without_sidecar_fails_attach_and_rebuilds(spark, emb):
    """A store whose ANN sidecar is gone — even beside a text sidecar
    under the same base — fails attach loudly; ensure_ann_index then
    rebuilds it and serves."""
    base = "annnometa"
    sub = emb.where(F.col("vec_id") < 40)
    srv.store_ann_index(sub, base, n_list=2, n_iters=1)
    meta_path = srv._meta_path(spark, base, kind="ann")
    os.rename(meta_path, srv._meta_path(spark, base))  # text-named copy
    for sfx in ("_vectors", "_centroids"):
        spark.sql(f"DROP TABLE IF EXISTS {base}{sfx}")
    with pytest.raises(FileNotFoundError):
        srv.attach_ann_index(spark, base)
    srv.ensure_ann_index(sub, base, n_list=2, n_iters=1)
    assert os.path.exists(meta_path)
    assert srv.verify_ann_index(spark, base, sub)
    assert spark.table(f"{base}_vectors").count() == sub.count()


def test_extend_ann_index_appends_and_serves(spark, emb):
    """Append-only vector ingest: the batch lands under the FIXED
    quantizer, the sidecar fingerprint xor-composes (verify passes
    against old+batch without a rebuild), and the served answers equal
    the in-session IVF over the full corpus with the stored centroids.
    Re-ingesting an existing id is refused."""
    base = "annext"
    old = emb.where(F.col("vec_id") < 80)
    batch = emb.where((F.col("vec_id") >= 80) & (F.col("vec_id") < 100))
    both = emb.where(F.col("vec_id") < 100)
    srv.store_ann_index(old, base, n_list=4, n_iters=1)
    srv.extend_ann_index(spark, base, batch)
    assert srv.verify_ann_index(spark, base, both)
    assert spark.table(f"{base}_vectors").count() == both.count()
    queries = emb.where(F.col("vec_id") < 3)
    got = srv.ann_search_stored(spark, base, queries, k=K, nprobe=2)
    want = ivf_topk(
        both,
        k=K,
        n_queries=3,
        nprobe=2,
        centroids=srv.load_stored_centroids(spark, base),
    )
    assert _rows(got) == _rows(want) and _rows(got)
    with pytest.raises(ValueError, match="append-only"):
        srv.extend_ann_index(spark, base, old.limit(1))


def test_torn_ann_extend_detected_and_rebuilt(spark, emb):
    """A crash mid-append (simulated by the planted marker) makes the
    store unverifiable; ensure_ann_index rebuilds and the rebuild
    clears the marker."""
    base = "anntorn"
    sub = emb.where(F.col("vec_id") < 40)
    srv.store_ann_index(sub, base, n_list=2, n_iters=1)
    assert srv.verify_ann_index(spark, base, sub)
    with open(srv._marker_path(spark, base, "ann"), "w") as fh:
        fh.write("{}")
    assert srv.ann_extend_in_progress(spark, base)
    assert not srv.verify_ann_index(spark, base, sub)
    srv.ensure_ann_index(sub, base, n_list=2, n_iters=1)
    assert not srv.ann_extend_in_progress(spark, base)
    assert srv.verify_ann_index(spark, base, sub)


def test_ann_extend_crash_in_sidecar_write_rebuilds(spark, emb, monkeypatch):
    """Crash inside extend_ann_index's sidecar write, after the append:
    the previous sidecar survives whole and the extend marker stays.
    With the catalog entries dropped (a fresh session), ensure_ann_index
    attaches, finds the torn extend, rebuilds, and verify then passes.
    A sidecar rewritten in place would be left empty here, and the
    attach would fail to parse it."""
    base = "annsidecarcrash"
    old = emb.where(F.col("vec_id") < 60)
    batch = emb.where((F.col("vec_id") >= 60) & (F.col("vec_id") < 80))
    both = emb.where(F.col("vec_id") < 80)
    srv.store_ann_index(old, base, n_list=2, n_iters=1)

    crash_in_sidecar_write(monkeypatch, "_ann_serving_meta.json")
    with pytest.raises(OSError, match="injected crash"):
        srv.extend_ann_index(spark, base, batch)
    monkeypatch.undo()
    assert srv.ann_extend_in_progress(spark, base)

    for sfx in ("_vectors", "_centroids"):
        spark.sql(f"DROP TABLE IF EXISTS {base}{sfx}")
    srv.ensure_ann_index(both, base, n_list=2, n_iters=1)
    assert not srv.ann_extend_in_progress(spark, base)
    assert srv.verify_ann_index(spark, base, both)
    assert spark.table(f"{base}_vectors").count() == both.count()


def test_quantized_stored_ann_lifecycle(spark, emb):
    """quantize=True store: int8 rows on disk (4x fewer vector bytes
    per probed scan), full-probe answers row-identical to brute force
    over the quantized representation (quantization.quantized_topk —
    per-vector scales cancel in the cosine, so the stored layout loses
    NOTHING relative to int8 itself), append-only ingest preserves the
    format, attach after catalog loss restores the quantized schema,
    and decimal_scores is refused."""
    from parallel_inverted_index_map_reduce_spark.operators.quantization import (
        quantized_topk,
    )

    base = "annq"
    old = emb.where(F.col("vec_id") < 80)
    batch = emb.where((F.col("vec_id") >= 80) & (F.col("vec_id") < 100))
    both = emb.where(F.col("vec_id") < 100)
    srv.store_ann_index(old, base, n_list=4, n_iters=1, quantize=True)
    assert dict(spark.table(f"{base}_vectors").dtypes)["q"] == "array<tinyint>"
    srv.extend_ann_index(spark, base, batch)
    assert srv.verify_ann_index(spark, base, both)
    queries = both.where(F.col("vec_id") < NQ)
    got = srv.ann_search_stored(spark, base, queries, k=K, nprobe=4)
    want = quantized_topk(both, k=K, n_queries=NQ)
    assert _rows(got) == _rows(want) and _rows(got)
    for sfx in ("_vectors", "_centroids"):
        spark.sql(f"DROP TABLE {base}{sfx}")
    srv.attach_ann_index(spark, base)
    assert dict(spark.table(f"{base}_vectors").dtypes)["q"] == "array<tinyint>"
    got2 = srv.ann_search_stored(spark, base, queries, k=K, nprobe=4)
    assert _rows(got2) == _rows(want)
    with pytest.raises(ValueError, match="decimal_scores"):
        srv.ann_search_stored(
            spark, base, queries, k=K, nprobe=4, decimal_scores=True
        )


def test_full_probe_equals_brute_force_through_store(spark, emb):
    """nprobe == n_list through the STORED path must equal the exact
    in-session brute force at the fast-scoring tie-break — the stored
    layout loses nothing."""
    from parallel_inverted_index_map_reduce_spark.operators.similarity import (
        ann_topk_fast,
    )

    queries = emb.where(F.col("vec_id") < NQ)
    got = srv.ann_search_stored(spark, BASE, queries, k=K, nprobe=N_LIST)
    want = ann_topk_fast(emb, k=K, n_queries=NQ)
    assert _rows(got) == _rows(want)
