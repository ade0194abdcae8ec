"""Vocabulary search: prefix (wildcard-tail) and SymSpell fuzzy term
lookup, scan and stored forms.

The load-bearing claim is the fuzzy candidate generation: a vocabulary
word is a candidate iff its deletion-neighborhood intersects the query
term's — a guaranteed SUPERSET of the true Levenshtein <= d matches, so
after the exact levenshtein verify the result must equal the brute-force
"levenshtein over the whole vocabulary" formulation on EVERY corpus.
That equality is asserted here on the oracle corpus and on randomized
mutation corpora; the stored forms are asserted row-identical to the
scan forms (fresh store, extended store, and compacted store)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from parallel_inverted_index_map_reduce_spark.functions.text import tokens_df
from parallel_inverted_index_map_reduce_spark.operators import serving as srv
from parallel_inverted_index_map_reduce_spark.operators.index import (
    _py_deletion_variants,
    deletion_variants,
    fuzzy_term_search,
    prefix_search,
)
from parallel_inverted_index_map_reduce_spark.sources.tables import load_table

from .conftest import SF_ORACLE


def _docs(spark):
    return load_table(spark, SF_ORACLE, "documents").where(F.col("doc_id") < 60)


def _rows(df):
    return sorted(
        (r["letter"], r["word"], r["df"], tuple(r["postings"]))
        for r in df.collect()
    )


def _brute_fuzzy(docs, term, max_dist):
    """The formulation the operator avoids: levenshtein over the WHOLE
    vocabulary — the correctness oracle for the candidate generation."""
    toks = tokens_df(docs)
    matched = (
        toks.select("word")
        .distinct()
        .where(F.levenshtein(F.col("word"), F.lit(term)) <= max_dist)
    )
    idx = (
        toks.join(F.broadcast(matched), "word", "left_semi")
        .groupBy("word")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("postings"))
    )
    return idx.select(
        F.substring("word", 1, 1).alias("letter"),
        "word",
        F.size("postings").cast("long").alias("df"),
        "postings",
    )


def _brute_prefix(docs, prefix):
    toks = tokens_df(docs).where(F.col("word").startswith(prefix))
    return toks.groupBy("word").agg(
        F.sort_array(F.collect_set("doc_id")).alias("postings")
    ).select(
        F.substring("word", 1, 1).alias("letter"),
        "word",
        F.size("postings").cast("long").alias("df"),
        "postings",
    )


def test_prefix_search_matches_brute_filter(spark):
    docs = _docs(spark)
    got = _rows(prefix_search(docs, "s"))
    want = _rows(_brute_prefix(docs, "s"))
    assert got == want
    assert len(got) > 1  # the corpus really has several s-words


def test_prefix_normalizes_and_rejects_junk(spark):
    docs = _docs(spark)
    # normalization applies to the prefix too: 'S9' -> 's'
    assert _rows(prefix_search(docs, "S9")) == _rows(prefix_search(docs, "s"))
    with pytest.raises(ValueError):
        prefix_search(docs, "two words")
    with pytest.raises(ValueError):
        prefix_search(docs, "42")


def test_deletion_variants_match_python_twin(spark):
    words = ["spark", "a", "ab", "query"]
    df = spark.createDataFrame([(w,) for w in words], "word string")
    for d in (1, 2):
        got = {
            (r["word"], r["variant"])
            for r in deletion_variants(df, max_deletes=d).collect()
        }
        want = {
            (w, v) for w in words for v in _py_deletion_variants(w, d)
        }
        assert got == want


@pytest.mark.parametrize("term,max_dist", [("sow", 1), ("quary", 1), ("sprk", 2)])
def test_fuzzy_matches_brute_levenshtein(spark, term, max_dist):
    docs = _docs(spark)
    got = _rows(fuzzy_term_search(docs, term, max_dist=max_dist))
    want = _rows(_brute_fuzzy(docs, term, max_dist))
    assert got == want


def test_fuzzy_finds_multiple_neighbors(spark):
    # 'sow': distance-1 neighbors of both shapes — substitution ('row')
    # and insertion ('slow') — must surface together
    got = {r[1] for r in _rows(fuzzy_term_search(_docs(spark), "sow"))}
    assert {"row", "slow"} <= got


def test_fuzzy_randomized_mutations_match_brute(spark):
    """Randomized corpora: mutate dictionary words by one random edit
    and assert the SymSpell path equals brute levenshtein for several
    query terms — the superset property exercised beyond the fixture
    vocabulary."""
    rng = random.Random(7)
    alphabet = "abcdefgh"
    base_words = ["".join(rng.choice(alphabet) for _ in range(rng.randint(2, 7))) for _ in range(30)]

    def mutate(w):
        i = rng.randrange(len(w))
        op = rng.choice(["del", "sub", "ins"])
        if op == "del" and len(w) > 1:
            return w[:i] + w[i + 1 :]
        if op == "sub":
            return w[:i] + rng.choice(alphabet) + w[i + 1 :]
        return w[:i] + rng.choice(alphabet) + w[i:]

    texts = []
    for i in range(40):
        ws = [rng.choice(base_words) for _ in range(6)]
        if i % 2:
            ws.append(mutate(rng.choice(base_words)))
        texts.append((i, " ".join(ws)))
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    for term in rng.sample(base_words, 3) + [mutate(base_words[0])]:
        got = _rows(fuzzy_term_search(docs, term, max_dist=1))
        want = _rows(_brute_fuzzy(docs, term, 1))
        assert got == want, term


def test_fuzzy_rejects_bad_args(spark):
    docs = _docs(spark)
    with pytest.raises(ValueError):
        fuzzy_term_search(docs, "sow", max_dist=0)
    with pytest.raises(ValueError):
        fuzzy_term_search(docs, "two words")


# --------------------------------------------------------------------------
# stored forms: fresh store, extended store, compacted store
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def vocab_store(spark):
    base = "vocstore"
    docs = _docs(spark)
    srv.store_search_index(docs, base, n_buckets=4)
    return base, docs


def test_prefix_stored_matches_scan(spark, vocab_store):
    base, docs = vocab_store
    assert _rows(srv.prefix_search_stored(spark, base, "s")) == _rows(
        prefix_search(docs, "s")
    )


def test_prefix_stored_prunes_letter_partition(spark, vocab_store):
    import contextlib
    import io

    base, _ = vocab_store
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        srv.prefix_search_stored(spark, base, "s").explain("formatted")
    formatted = buf.getvalue()
    # the letter predicate must reach the scan's partition filters, and
    # the prefix predicate must push into the parquet scan
    assert any(
        "PartitionFilters" in line and "letter" in line
        for line in formatted.splitlines()
    )
    assert "StartsWith(word,s)" in formatted.replace(" ", "").replace(
        "'", ""
    ) or "StartsWith" in formatted


def test_fuzzy_stored_matches_scan(spark, vocab_store):
    base, docs = vocab_store
    for term, d in (("sow", 1), ("quary", 1), ("sprk", 2)):
        assert _rows(srv.fuzzy_term_search_stored(spark, base, term, max_dist=d)) == _rows(
            fuzzy_term_search(docs, term, max_dist=d)
        ), term


def test_fuzzy_stored_no_match_is_empty(spark, vocab_store):
    base, _ = vocab_store
    assert srv.fuzzy_term_search_stored(spark, base, "zzzzqqq").count() == 0


def test_stored_paths_follow_extend(spark, vocab_store):
    """Right after a plain extend, the term, prefix, fuzzy, and boolean
    stored paths must answer over the FULL corpus — the batch's new
    docs included — and keep identical answers after compaction."""
    from parallel_inverted_index_map_reduce_spark.operators.index import (
        boolean_search,
        build_index,
    )

    base = "vocextend"
    docs = _docs(spark)
    srv.store_search_index(docs, base, n_buckets=4)
    new = (
        load_table(spark, SF_ORACLE, "documents")
        .where((F.col("doc_id") >= 60) & (F.col("doc_id") < 90))
    )
    srv.extend_search_index(spark, base, new)
    combined = docs.unionByName(new)
    # an extend leaves only norms stale, never a torn store
    assert srv.verify_search_index(spark, base, combined)

    # the batch's words are served with the batch's docs at once
    new_words = [
        r["word"] for r in build_index(new).orderBy("word").limit(3).collect()
    ]
    got = _rows(srv.stored_term_postings(spark, base, new_words))
    assert got == _rows(
        build_index(combined)
        .where(F.col("word").isin(new_words))
        .select("letter", "word", "df", "postings")
    )
    assert len(got) == 3 and all(max(p) >= 60 for *_, p in got)
    ext_prefix = _rows(srv.prefix_search_stored(spark, base, "s"))
    assert ext_prefix == _rows(prefix_search(combined, "s"))
    ext_fuzzy = _rows(srv.fuzzy_term_search_stored(spark, base, "sow"))
    assert ext_fuzzy == _rows(fuzzy_term_search(combined, "sow"))
    ext_bool = sorted(
        (r["op"], tuple(r["doc_ids"]))
        for r in srv.boolean_search_stored(spark, base, "spark", "query").collect()
    )
    assert ext_bool == sorted(
        (r["op"], tuple(r["doc_ids"]))
        for r in boolean_search(combined, "spark", "query").collect()
    )

    srv.compact_search_index(spark, base)
    assert srv.norms_current(spark, base)
    assert _rows(srv.prefix_search_stored(spark, base, "s")) == ext_prefix
    assert _rows(srv.fuzzy_term_search_stored(spark, base, "sow")) == ext_fuzzy
    assert (
        sorted(
            (r["op"], tuple(r["doc_ids"]))
            for r in srv.boolean_search_stored(
                spark, base, "spark", "query"
            ).collect()
        )
        == ext_bool
    )


# --------------------------------------------------------------------------
# collocations: PMI over co-occurrence windows
# --------------------------------------------------------------------------


def test_pmi_collocation_semantics(spark):
    """A pair that always co-occurs must out-score pairs that co-occur
    by chance; pairs beyond the window or under min support drop."""
    from parallel_inverted_index_map_reduce_spark.operators.textstats import (
        collocations_pmi,
    )

    rows = [
        (0, "hong kong alpha beta gamma"),
        (1, "delta hong kong epsilon"),
        (2, "alpha delta hong kong"),
        (3, "beta gamma epsilon alpha"),
        (4, "gamma far1 far2 far3 beta"),  # beta/gamma 4 apart: outside w=3
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["word_a"], r["word_b"]): (r["n_pair"], float(r["pmi"]))
        for r in collocations_pmi(docs, window=3, min_count=2).collect()
    }
    assert ("hong", "kong") in got and got[("hong", "kong")][0] == 3
    # the inseparable pair ties or beats every other surviving pair
    # (exact ties are possible: pmi depends on n_ab/(n_a*n_b), and e.g.
    # delta/kong with 2/(2*3) equals hong/kong's 3/(3*3) here)
    hk = got[("hong", "kong")][1]
    assert all(hk >= pmi for _, pmi in got.values())
    # beta/gamma co-occur within the window only twice (docs 0 and 3);
    # doc 4's occurrence is 4 positions apart and must not count
    assert got[("beta", "gamma")][0] == 2
    # singleton co-occurrences are filtered by min_count
    assert all(n >= 2 for n, _ in got.values())


def test_pmi_partition_invariance(spark):
    from parallel_inverted_index_map_reduce_spark.operators.textstats import (
        collocations_pmi,
    )
    from parallel_inverted_index_map_reduce_spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, SF_ORACLE, "documents").where(F.col("doc_id") < 60)
    a = sorted(map(tuple, collocations_pmi(docs).collect()))
    b = sorted(
        map(tuple, collocations_pmi(docs.repartition(11, "doc_id")).collect())
    )
    assert a == b and len(a) > 0


def test_pmi_rejects_bad_window(spark):
    from parallel_inverted_index_map_reduce_spark.operators.textstats import (
        collocations_pmi,
    )

    docs = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        collocations_pmi(docs, window=0)


# --------------------------------------------------------------------------
# sloppy phrase
# --------------------------------------------------------------------------


def test_slop_zero_equals_exact_phrase(spark):
    """phrase_search_slop(slop=0) must be row-identical to phrase_search
    — the reachability fold at gap [1,1] IS exact adjacency."""
    from parallel_inverted_index_map_reduce_spark.operators.index import (
        phrase_search,
        phrase_search_slop,
    )

    docs = load_table(spark, SF_ORACLE, "documents")
    for phrase in ("spark query", "stream table hash"):
        a = sorted(
            (r["doc_id"], tuple(r["match_positions"]))
            for r in phrase_search(docs, phrase).collect()
        )
        b = sorted(
            (r["doc_id"], tuple(sorted(r["match_positions"])))
            for r in phrase_search_slop(docs, phrase, slop=0).collect()
        )
        assert a == b and a, phrase


def test_slop_semantics_and_monotonicity(spark):
    from parallel_inverted_index_map_reduce_spark.operators.index import (
        phrase_search_slop,
    )

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma"),          # adjacent
            (1, "alpha X beta Y gamma"),      # one gap each: slop 1
            (2, "alpha X Y beta gamma"),      # two gaps then adjacent: slop 2
            (3, "gamma beta alpha"),          # wrong order: never
            (4, "alpha beta"),                # incomplete: never
        ],
        "doc_id long, text string",
    )
    phrase = "alpha beta gamma"

    def ids(slop):
        return sorted(
            r["doc_id"] for r in phrase_search_slop(docs, phrase, slop=slop).collect()
        )

    assert ids(0) == [0]
    assert ids(1) == [0, 1]
    assert ids(2) == [0, 1, 2]
    # start positions are the chain heads
    got = {
        r["doc_id"]: sorted(r["match_positions"])
        for r in phrase_search_slop(docs, phrase, slop=2).collect()
    }
    assert got[0] == [0] and got[1] == [0] and got[2] == [0]
    with pytest.raises(ValueError):
        phrase_search_slop(docs, phrase, slop=-1)


def test_slop_stored_matches_scan(spark, vocab_store):
    from parallel_inverted_index_map_reduce_spark.operators.index import (
        phrase_search_slop,
    )

    base, docs = vocab_store
    for phrase, slop in (("stream hash", 1), ("spark query", 0), ("spark query", 2)):
        a = sorted(
            (r["doc_id"], tuple(sorted(r["match_positions"])))
            for r in phrase_search_slop(docs, phrase, slop=slop).collect()
        )
        b = sorted(
            (r["doc_id"], tuple(sorted(r["match_positions"])))
            for r in srv.phrase_slop_search_stored(
                spark, base, phrase, slop=slop
            ).collect()
        )
        assert a == b, (phrase, slop)


# --------------------------------------------------------------------------
# suffix (wildcard-head)
# --------------------------------------------------------------------------


def test_suffix_search_matches_brute_filter(spark):
    from parallel_inverted_index_map_reduce_spark.operators.index import (
        suffix_search,
    )

    docs = _docs(spark)
    toks = tokens_df(docs).where(F.col("word").endswith("er"))
    want = _rows(
        toks.groupBy("word")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("postings"))
        .select(
            F.substring("word", 1, 1).alias("letter"),
            "word",
            F.size("postings").cast("long").alias("df"),
            "postings",
        )
    )
    got = _rows(suffix_search(docs, "er"))
    assert got == want and len(got) > 1  # customer, filter, order, ...
    with pytest.raises(ValueError):
        suffix_search(docs, "two words")


def test_suffix_stored_matches_scan_and_follows_extend(spark, vocab_store):
    from parallel_inverted_index_map_reduce_spark.operators.index import (
        suffix_search,
    )

    base, docs = vocab_store
    assert _rows(srv.suffix_search_stored(spark, base, "er")) == _rows(
        suffix_search(docs, "er")
    )
    # extended store: the vocabulary pass must see the batch's words
    base2 = "vocsuffix"
    srv.store_search_index(docs, base2, n_buckets=4)
    new = load_table(spark, SF_ORACLE, "documents").where(
        (F.col("doc_id") >= 60) & (F.col("doc_id") < 90)
    )
    srv.extend_search_index(spark, base2, new)
    combined = docs.unionByName(new)
    assert _rows(srv.suffix_search_stored(spark, base2, "er")) == _rows(
        suffix_search(combined, "er")
    )


def test_suffix_stored_prunes_rletter_partition(spark, vocab_store):
    """The reversed-word companion turns the suffix into a prefix over
    rword: the vocabulary pass must prune to ONE rletter directory
    (PartitionFilters) with the startswith pushed into the scan —
    prefix_search_stored's cost shape, flat in corpus size."""
    import contextlib
    import io

    base, _ = vocab_store
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        srv.suffix_matched_words(spark, base, "er").explain("formatted")
    formatted = buf.getvalue()
    assert any(
        "PartitionFilters" in line and "rletter" in line
        for line in formatted.splitlines()
    ), formatted
    assert "StartsWith" in formatted, formatted
    assert "_rwords" in formatted, formatted


def test_compact_dedupes_rwords_after_extends(spark):
    """Extends append the batch vocabulary without dedup (keeping the
    ingest batch-proportional); compaction must collapse the companion
    back to one row per distinct stored word, with results unchanged."""
    from parallel_inverted_index_map_reduce_spark.operators.index import (
        suffix_search,
    )

    base = "vocrdedup"
    docs = _docs(spark)
    srv.store_search_index(docs, base, n_buckets=4)
    new = load_table(spark, SF_ORACLE, "documents").where(
        (F.col("doc_id") >= 60) & (F.col("doc_id") < 90)
    )
    srv.extend_search_index(spark, base, new)
    combined = docs.unionByName(new)
    n_distinct = (
        tokens_df(combined).select("word").distinct().count()
    )
    # overlapping vocabulary between the two batches => duplicates
    assert spark.table(f"{base}_rwords").count() > n_distinct
    want = _rows(suffix_search(combined, "er"))
    assert _rows(srv.suffix_search_stored(spark, base, "er")) == want
    srv.compact_search_index(spark, base)
    assert spark.table(f"{base}_rwords").count() == n_distinct
    assert _rows(srv.suffix_search_stored(spark, base, "er")) == want


# --------------------------------------------------------------------------
# bigram LM quality scores
# --------------------------------------------------------------------------


def test_bigram_lm_scores_semantics(spark):
    """A document made of the corpus's dominant transitions must score
    higher (closer to 0) than one full of one-off transitions; docs
    with fewer than two tokens have no row."""
    from parallel_inverted_index_map_reduce_spark.operators.textstats import (
        bigram_lm_scores,
    )

    rows = [
        (0, "the cat sat on the mat"),
        (1, "the cat sat on the mat"),
        (2, "the cat sat on the mat"),
        (3, "mat zq cat on sat the"),  # scrambled: rare transitions
        (4, "single"),                  # no bigrams -> no row
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_bigrams"], float(r["avg_logprob"]))
        for r in bigram_lm_scores(docs).collect()
    }
    assert 4 not in got
    assert got[0] == got[1] == got[2]
    assert got[0][0] == 5
    assert got[0][1] > got[3][1]  # common transitions score higher
    assert all(lp <= 0.0 for _, lp in got.values())  # log-probs


def test_bigram_lm_partition_invariance(spark):
    from parallel_inverted_index_map_reduce_spark.operators.textstats import (
        bigram_lm_scores,
    )
    from parallel_inverted_index_map_reduce_spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, SF_ORACLE, "documents").where(F.col("doc_id") < 60)
    a = sorted(map(tuple, bigram_lm_scores(docs).collect()))
    b = sorted(
        map(tuple, bigram_lm_scores(docs.repartition(9, "doc_id")).collect())
    )
    assert a == b and len(a) > 0


# --- vocabulary-collect cap (stored_postings_for_matched) ----------------


def _plan_of(df):
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_vocab_cap_semi_join_branch_row_identical(spark, vocab_store):
    """cap=0 forces the collect-free semi-join fallback; it must be
    row-identical to the literal-IN fast path for suffix AND fuzzy, on
    a freshly built store."""
    base, _ = vocab_store
    for sfx in ("er", "s"):
        assert _rows(srv.suffix_search_stored(spark, base, sfx, cap=0)) == _rows(
            srv.suffix_search_stored(spark, base, sfx)
        ), sfx
    for term, d in (("sow", 1), ("sprk", 2)):
        assert _rows(
            srv.fuzzy_term_search_stored(spark, base, term, max_dist=d, cap=0)
        ) == _rows(srv.fuzzy_term_search_stored(spark, base, term, max_dist=d)), term


def test_vocab_cap_semi_join_branch_follows_extend(spark):
    """After an extend, the semi-join fallback must return rows
    identical to the corpus-scan forms over the FULL extended corpus —
    the batch's new docs included."""
    from parallel_inverted_index_map_reduce_spark.operators.index import (
        suffix_search,
    )

    base = "voccap"
    docs = _docs(spark)
    srv.store_search_index(docs, base, n_buckets=4)
    new = load_table(spark, SF_ORACLE, "documents").where(
        (F.col("doc_id") >= 60) & (F.col("doc_id") < 90)
    )
    srv.extend_search_index(spark, base, new)
    combined = docs.unionByName(new)
    assert _rows(srv.suffix_search_stored(spark, base, "er", cap=0)) == _rows(
        suffix_search(combined, "er")
    )
    assert _rows(
        srv.fuzzy_term_search_stored(spark, base, "sow", cap=0)
    ) == _rows(fuzzy_term_search(combined, "sow"))


def test_vocab_cap_common_case_still_prunes(spark, vocab_store):
    """Below the cap the postings fetch must keep the literal IN list
    (the predicate that feeds bucket pruning and PushedFilters); above
    it the plan must carry the broadcast semi-join instead of any
    driver-collected literal list."""
    base, _ = vocab_store
    fast = _plan_of(srv.suffix_search_stored(spark, base, "er"))
    assert "In(word" in fast.replace(" ", ""), fast
    slow = _plan_of(srv.suffix_search_stored(spark, base, "er", cap=0))
    compact = slow.replace(" ", "")
    assert "LeftSemi" in slow and "Broadcast" in slow, slow
    assert "In(word" not in compact, slow


def test_vocab_cap_empty_match_stays_empty(spark, vocab_store):
    base, _ = vocab_store
    assert srv.suffix_search_stored(spark, base, "zzzq", cap=0).count() == 0
    assert srv.fuzzy_term_search_stored(spark, base, "zzzzqqq", cap=0).count() == 0
