"""Serving-store LIFECYCLE durability (round-5 hardening of the two
round-4 defects): the sidecar corpus fingerprint must catch a
regenerated corpus at the same path (stale-store detection + rebuild),
and the atomic table swap compaction uses (norms, rwords) must survive
a crash at any point without destroying the only copy of the table.
The torn-extend marker makes a mid-extend crash detectable (ADVICE
round 4)."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from parallel_inverted_index_map_reduce_spark.operators import serving as srv
from parallel_inverted_index_map_reduce_spark.operators.bucketing import (
    table_location,
)
from parallel_inverted_index_map_reduce_spark.operators.index import (
    bm25_search,
    more_like_this,
)
from parallel_inverted_index_map_reduce_spark.sources.tables import load_table

from .conftest import SF_ORACLE, crash_in_sidecar_write


def _docs_v1(spark):
    return load_table(spark, SF_ORACLE, "documents").where(F.col("doc_id") < 60)


def _docs_v2(spark):
    """The 'regenerated corpus at the same path' stand-in: same ids,
    different text for some docs."""
    d = load_table(spark, SF_ORACLE, "documents").where(F.col("doc_id") < 60)
    return d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" regen"))
        ).otherwise(F.col("text")),
    )


def _drop_tables(spark, base):
    """Simulate a fresh session: catalog forgets, files stay."""
    for sfx in srv._TEXT_TABLES:
        spark.sql(f"DROP TABLE IF EXISTS {base}{sfx}")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_fingerprint_is_partition_order_independent(spark):
    docs = _docs_v1(spark)
    a = srv.corpus_fingerprint(docs)
    b = srv.corpus_fingerprint(docs.repartition(7, "doc_id"))
    assert a == b
    assert a["n_docs"] == docs.count()
    # any single-doc content change must flip the fingerprint
    c = srv.corpus_fingerprint(_docs_v2(spark))
    assert c != a


def test_stale_store_detected_and_rebuilt(spark):
    """Build from corpus v1, 'regenerate' the corpus to v2, re-attach
    in a fresh session: ensure_search_index must detect the mismatch
    via the sidecar fingerprint and rebuild — the exact silent-stale
    scenario ADVICE flagged for ranked_retrieval's reuse path."""
    base = "lcstale"
    v1, v2 = _docs_v1(spark), _docs_v2(spark)
    srv.ensure_search_index(v1, base, n_buckets=4)
    assert srv.verify_search_index(spark, base, v1)
    assert not srv.verify_search_index(spark, base, v2)

    _drop_tables(spark, base)  # fresh-session attach
    srv.ensure_search_index(v2, base, n_buckets=4)
    # rebuilt: fingerprint now matches v2, and served answers are v2's
    assert srv.verify_search_index(spark, base, v2)
    got = _rows(srv.bm25_search_stored(spark, base, "regen", k=5))
    want = _rows(bm25_search(v2, "regen", k=5))
    assert got == want and got  # 'regen' only exists in v2


def test_same_session_reuse_skips_rebuild(spark):
    """Registered tables + no torn-extend marker -> ensure is a no-op
    (the plan-sweep fast path must not pay a verify scan or rebuild)."""
    base = "lcreuse"
    v1 = _docs_v1(spark)
    srv.ensure_search_index(v1, base, n_buckets=4)
    loc = table_location(spark, f"{base}_positions")
    mtime = os.path.getmtime(loc)
    srv.ensure_search_index(v1, base, n_buckets=4)
    assert os.path.getmtime(loc) == mtime


def test_unfingerprinted_legacy_sidecar_rebuilds_on_attach(spark):
    """A pre-v2 sidecar (no fingerprint) is unverifiable: cross-session
    ensure must rebuild rather than trust it."""
    base = "lclegacy"
    v1 = _docs_v1(spark)
    srv.ensure_search_index(v1, base, n_buckets=4)
    meta_path = srv._meta_path(spark, base)
    with open(meta_path) as fh:
        meta = json.load(fh)
    del meta["fingerprint"]
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    _drop_tables(spark, base)
    srv.ensure_search_index(v1, base, n_buckets=4)
    assert srv.verify_search_index(spark, base, v1)


@pytest.mark.parametrize(
    "version, refusal",
    [(4, "version 4, older than v5 .* rebuild"), (5, "no stored data .*_rwords")],
    ids=["v4-sidecar", "v5-missing-rwords"],
)
def test_store_without_rwords_is_refused_and_rebuilt(spark, version, refusal):
    """Every text table is required: a v4 store (no reversed-word
    companion) and a v5 store whose _rwords directory is gone are both
    refused by attach, and ensure_search_index rebuilds them to the
    current layout, whose suffix and fuzzy answers equal the
    corpus-scan forms."""
    from parallel_inverted_index_map_reduce_spark.operators.index import (
        fuzzy_term_search,
        suffix_search,
    )

    base = f"lcnorwords{version}"
    v1 = _docs_v1(spark)
    srv.store_search_index(v1, base, n_buckets=4)
    meta_path = srv._meta_path(spark, base)
    with open(meta_path) as fh:
        meta = json.load(fh)
    meta["version"] = version
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    _drop_tables(spark, base)
    shutil.rmtree(table_location(spark, f"{base}_rwords"))

    with pytest.raises(FileNotFoundError, match=refusal):
        srv.attach_search_index(spark, base)
    srv.ensure_search_index(v1, base, n_buckets=4)
    assert srv._read_meta(spark, base)["version"] == 5
    assert os.path.isdir(table_location(spark, f"{base}_rwords"))
    want = _rows(suffix_search(v1, "er"))
    assert _rows(srv.suffix_search_stored(spark, base, "er")) == want and want
    want = _rows(fuzzy_term_search(v1, "sparc"))
    assert _rows(srv.fuzzy_term_search_stored(spark, base, "sparc")) == want
    assert want


def test_extend_updates_fingerprint_incrementally(spark):
    """After extend(batch), verify against (old ∪ batch) passes WITHOUT
    a rebuild — the xor-composed sidecar fingerprint equals the one a
    full scan of the extended corpus computes."""
    base = "lcextfp"
    docs = load_table(spark, SF_ORACLE, "documents")
    first = docs.where(F.col("doc_id") < 40)
    batch = docs.where((F.col("doc_id") >= 40) & (F.col("doc_id") < 70))
    both = docs.where(F.col("doc_id") < 70)
    srv.store_search_index(first, base, n_buckets=4)
    srv.extend_search_index(spark, base, batch)
    assert not srv.extend_in_progress(spark, base)
    assert srv.verify_search_index(spark, base, both)
    assert not srv.verify_search_index(spark, base, first)


def test_torn_extend_is_detected_and_rebuilt(spark):
    """Crash mid-extend (marker written, tables partially mutated):
    verify refuses, ensure rebuilds, marker cleared."""
    base = "lctorn"
    v1 = _docs_v1(spark)
    srv.store_search_index(v1, base, n_buckets=4)
    srv._write_json(srv._marker_path(spark, base), {"n_new_docs": 99})
    assert srv.extend_in_progress(spark, base)
    assert not srv.verify_search_index(spark, base, v1)
    srv.ensure_search_index(v1, base, n_buckets=4)
    assert not srv.extend_in_progress(spark, base)
    assert srv.verify_search_index(spark, base, v1)


def test_crashed_rebuild_leaves_no_attachable_sidecar(spark):
    """store_search_index deletes the sidecar FIRST and rewrites it
    LAST: a crash anywhere mid-rebuild leaves a sidecar-less store that
    attach refuses and ensure rebuilds — never a stale sidecar whose
    fingerprint still matches beside half-written tables."""
    base = "lcrebuild"
    v1 = _docs_v1(spark)
    srv.store_search_index(v1, base, n_buckets=4)
    assert os.path.exists(srv._meta_path(spark, base))

    import parallel_inverted_index_map_reduce_spark.operators.serving as serving_mod

    real = serving_mod.write_bucketed

    def crashing_write(df, table, *a, **k):
        raise OSError("injected crash mid-rebuild")

    serving_mod.write_bucketed = crashing_write
    try:
        with pytest.raises(OSError, match="mid-rebuild"):
            srv.store_search_index(v1, base, n_buckets=4)
    finally:
        serving_mod.write_bucketed = real

    # the crashed rebuild invalidated the sidecar before touching data
    assert not os.path.exists(srv._meta_path(spark, base))
    _drop_tables(spark, base)
    with pytest.raises(FileNotFoundError):
        srv.attach_search_index(spark, base)
    srv.ensure_search_index(v1, base, n_buckets=4)
    assert srv.verify_search_index(spark, base, v1)


def _data_files(loc):
    """path -> mtime of every data file under a table directory (commit
    markers like _SUCCESS are rewritten by every append, so skipped)."""
    return {
        os.path.join(root, f): os.path.getmtime(os.path.join(root, f))
        for root, _dirs, files in os.walk(loc)
        for f in files
        if not f.startswith(("_", "."))
    }


def _split(spark):
    docs = load_table(spark, SF_ORACLE, "documents")
    first = docs.where(F.col("doc_id") < 40)
    batch = docs.where((F.col("doc_id") >= 40) & (F.col("doc_id") < 70))
    both = docs.where(F.col("doc_id") < 70)
    return first, batch, both


def test_swap_crash_windows_never_lose_norms(spark):
    """Simulate every on-disk state the swap protocol can crash in and
    prove recover_table_swaps restores a complete, queryable norms
    table each time."""
    base = "lcswap"
    v1 = _docs_v1(spark)
    srv.store_search_index(v1, base, n_buckets=4)
    loc, next_loc, old_loc = srv._swap_paths(spark, base, "_norms")
    want = _rows(spark.table(f"{base}_norms"))
    n = 4

    # state A: crash during the __next write (live intact, partial next)
    os.makedirs(next_loc, exist_ok=True)
    srv.recover_table_swaps(spark, base)
    assert os.path.isdir(loc) and not os.path.isdir(next_loc)

    # state B: crash after live -> __old rename, before publish
    spark.sql(f"DROP TABLE IF EXISTS {base}_norms")
    shutil.copytree(loc, next_loc)  # a COMPLETE new version
    os.rename(loc, old_loc)
    srv.recover_table_swaps(spark, base)
    assert os.path.isdir(loc) and not os.path.isdir(next_loc)
    assert not os.path.isdir(old_loc)
    srv._register_store_table(spark, base, "_norms", n)
    assert _rows(spark.table(f"{base}_norms")) == want

    # state C: crash after publish, before __old cleanup
    shutil.copytree(loc, old_loc)
    srv.recover_table_swaps(spark, base)
    assert os.path.isdir(loc) and not os.path.isdir(old_loc)
    assert _rows(spark.table(f"{base}_norms")) == want

    # attach path also runs recovery (fresh session after a crash)
    _drop_tables(spark, base)
    shutil.copytree(loc, next_loc)
    shutil.rmtree(loc)  # live missing + complete __next
    srv.attach_search_index(spark, base)
    assert _rows(spark.table(f"{base}_norms")) == want


def test_extend_crash_at_append_is_recoverable(spark, monkeypatch):
    """Inject a crash in the middle of extend's appends — positions
    already hold the batch, docterms/stats/sidecar do not — then prove
    the marker flags the torn store and ensure_search_index rebuilds it
    to a consistent store with the extend's answers intact."""
    from pyspark.sql.readwriter import DataFrameWriter

    base = "lccrash"
    first, batch, both = _split(spark)
    srv.store_search_index(first, base, n_buckets=4)

    real_save = DataFrameWriter.saveAsTable

    def crashing_save(self, name, *a, **kw):
        if name == f"{base}_docterms":
            raise OSError("injected crash at an append")
        return real_save(self, name, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "saveAsTable", crashing_save)
    with pytest.raises(OSError, match="injected crash"):
        srv.extend_search_index(spark, base, batch)
    monkeypatch.undo()

    # torn: marker present, so neither corpus verifies
    assert srv.extend_in_progress(spark, base)
    assert not srv.verify_search_index(spark, base, first)
    assert not srv.verify_search_index(spark, base, both)

    # recovery: the marker forces a rebuild from the caller's
    # (extended) corpus; answers match a clean build
    srv.ensure_search_index(both, base, n_buckets=4)
    assert not srv.extend_in_progress(spark, base)
    assert srv.verify_search_index(spark, base, both)
    got = _rows(srv.bm25_search_stored(spark, base, "spark query", k=5))
    want = _rows(bm25_search(both, "spark query", k=5))
    assert got == want


def test_compact_crash_at_norms_publish_is_recoverable(spark, monkeypatch):
    """Inject a crash at the most dangerous instant of compaction —
    after the old norms directory is moved aside, before the publish
    rename — then prove a fresh-session attach rolls the swap forward
    and the store keeps answering correctly until the next compaction
    heals the flag."""
    base = "lcnormcrash"
    first, batch, both = _split(spark)
    srv.store_search_index(first, base, n_buckets=4)
    srv.extend_search_index(spark, base, batch)
    loc, next_loc, _old = srv._swap_paths(spark, base, "_norms")

    real_rename = os.rename

    def crashing_rename(src, dst):
        if dst == loc:  # the publish rename
            raise OSError("injected crash at the publish point")
        return real_rename(src, dst)

    monkeypatch.setattr(srv.os, "rename", crashing_rename)
    with pytest.raises(OSError, match="injected crash"):
        srv.compact_search_index(spark, base)
    monkeypatch.undo()

    # live norms dir missing, __next complete, flag still stale
    assert not os.path.isdir(loc) and os.path.isdir(next_loc)
    assert not srv.norms_current(spark, base)

    _drop_tables(spark, base)  # fresh session after the crash
    srv.attach_search_index(spark, base)
    assert os.path.isdir(loc) and not os.path.isdir(next_loc)
    assert srv.verify_search_index(spark, base, both)
    want = _rows(more_like_this(both, 7, k=5))
    assert _rows(srv.mlt_search_stored(spark, base, 7, k=5)) == want

    srv.compact_search_index(spark, base)  # heals
    assert srv.norms_current(spark, base)
    assert _rows(srv.mlt_search_stored(spark, base, 7, k=5)) == want


def test_extend_appends_without_rewriting_and_stays_correct(spark):
    """A plain extend rewrites no stored file: every positions file
    written by the build survives byte-for-byte (same paths, same
    mtimes) and the batch lands as new files, while term lookups and
    BM25 answer over the full corpus the instant the extend commits."""
    base = "lcappend"
    first, batch, both = _split(spark)
    srv.store_search_index(first, base, n_buckets=4)

    loc = table_location(spark, f"{base}_positions")
    before = _data_files(loc)
    srv.extend_search_index(spark, base, batch)
    after = _data_files(loc)
    assert {f: after.get(f) for f in before} == before
    assert len(after) > len(before)
    assert not srv.norms_current(spark, base)
    assert not srv.extend_in_progress(spark, base)
    assert srv.verify_search_index(spark, base, both)

    from parallel_inverted_index_map_reduce_spark.operators.index import (
        build_index,
    )

    terms = ["spark", "query", "zzznotaword"]
    want = _rows(
        build_index(both)
        .where(F.col("word").isin(terms))
        .select("letter", "word", "df", "postings")
    )
    assert _rows(srv.stored_term_postings(spark, base, terms)) == want
    got = _rows(srv.bm25_search_stored(spark, base, "spark query", k=5))
    assert got == _rows(bm25_search(both, "spark query", k=5))


def test_compact_noop_when_current(spark):
    base = "lcnoop"
    srv.store_search_index(_docs_v1(spark), base, n_buckets=4)
    before = {
        sfx: _data_files(table_location(spark, f"{base}{sfx}"))
        for sfx in ("_norms", "_rwords")
    }
    srv.compact_search_index(spark, base)
    assert {
        sfx: _data_files(table_location(spark, f"{base}{sfx}"))
        for sfx in ("_norms", "_rwords")
    } == before
    assert srv.norms_current(spark, base)


def test_compact_crash_after_norms_swap_keeps_fallback_path(spark):
    """Crash between the atomic norms swap and the sidecar flag flip:
    the fresh norms are on disk but still flagged stale. That state
    must (a) keep answering correctly (norms recomputed per query),
    (b) verify clean, and (c) heal on the next compaction."""
    base = "lccompactcrash"
    first, batch, both = _split(spark)
    srv.store_search_index(first, base, n_buckets=4)
    srv.extend_search_index(spark, base, batch)

    real_replace = srv._replace_table_atomic

    def replace_then_crash(spark_, base_, suffix, *a, **kw):
        real_replace(spark_, base_, suffix, *a, **kw)
        if suffix == "_norms":
            raise OSError("injected crash after the swap, before the flag")

    srv._replace_table_atomic = replace_then_crash
    try:
        with pytest.raises(OSError, match="injected crash"):
            srv.compact_search_index(spark, base)
    finally:
        srv._replace_table_atomic = real_replace

    # fresh norms on disk, flag still stale -> recompute path serves
    assert not srv.norms_current(spark, base)
    assert srv.verify_search_index(spark, base, both)
    want = _rows(more_like_this(both, 7, k=5))
    assert _rows(srv.mlt_search_stored(spark, base, 7, k=5)) == want

    srv.compact_search_index(spark, base)  # heals
    assert srv.norms_current(spark, base)
    assert _rows(srv.mlt_search_stored(spark, base, 7, k=5)) == want


def test_compact_crash_in_sidecar_write_keeps_old_sidecar(spark, monkeypatch):
    """Crash inside compaction's sidecar write, after both swaps: the
    previous sidecar must survive whole, so a fresh-session ensure
    attaches and verifies it without a rebuild. Norms stay flagged
    stale and more-like-this stays correct on the recompute path. A
    sidecar rewritten in place would be left empty here, and the
    attach would fail to parse it."""
    base = "lcsidecarcrash"
    first, batch, both = _split(spark)
    srv.store_search_index(first, base, n_buckets=4)
    srv.extend_search_index(spark, base, batch)

    crash_in_sidecar_write(monkeypatch, "_serving_meta.json")
    with pytest.raises(OSError, match="injected crash"):
        srv.compact_search_index(spark, base)
    monkeypatch.undo()

    _drop_tables(spark, base)  # fresh session after the crash
    srv.ensure_search_index(both, base, n_buckets=4)
    assert srv.verify_search_index(spark, base, both)
    assert not srv.norms_current(spark, base)  # old sidecar, no rebuild
    want = _rows(more_like_this(both, 7, k=5))
    assert _rows(srv.mlt_search_stored(spark, base, 7, k=5)) == want


def test_successive_extends_equal_full_rebuild(spark):
    """Two extends in a row must leave the store answering exactly what
    a from-scratch store of the full corpus answers — every word's
    posting list, served from the appended positions table."""
    base = "lcsucc"
    docs = load_table(spark, SF_ORACLE, "documents")
    a = docs.where(F.col("doc_id") < 30)
    b = docs.where((F.col("doc_id") >= 30) & (F.col("doc_id") < 55))
    c = docs.where((F.col("doc_id") >= 55) & (F.col("doc_id") < 80))
    full = docs.where(F.col("doc_id") < 80)
    srv.store_search_index(a, base, n_buckets=4)
    srv.extend_search_index(spark, base, b)
    srv.extend_search_index(spark, base, c)
    assert srv.verify_search_index(spark, base, full)

    ref = "lcsuccref"
    srv.store_search_index(full, ref, n_buckets=4)
    words = [
        r["word"]
        for r in spark.table(f"{ref}_positions").select("word").distinct().collect()
    ]
    assert _rows(srv.stored_term_postings(spark, base, words)) == _rows(
        srv.stored_term_postings(spark, ref, words)
    )
