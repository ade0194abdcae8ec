"""Inverted-index query specs (reference parity: SURVEY.md §2 O1-O16,
plus the Phase-2 query surface the index exists to serve).

All run over the ``documents`` table of an sf_dir. The shared tokenizer
CTE in the oracles mirrors functions/text.py exactly:
split on \\s+, lower, strip [^a-z], drop empties
(/root/reference/src/main.cpp:107-133,175-177).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import index as ix
from ..sources.tables import load_table
from .registry import register

# Shared DuckDB tokenizer CTE — semantics identical to tokens_df().
TOKS_CTE = r"""
toks AS (
    SELECT doc_id,
           regexp_replace(lower(tok), '[^a-z]', '', 'g') AS word
    FROM (
        SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
        FROM documents
    )
    WHERE regexp_replace(lower(tok), '[^a-z]', '', 'g') <> ''
)
"""

INDEX_CTE = (
    TOKS_CTE
    + r""",
idx AS (
    SELECT word,
           list_sort(list(DISTINCT doc_id)) AS postings,
           count(DISTINCT doc_id) AS df
    FROM toks
    GROUP BY word
)
"""
)

# Positional tokenizer CTE: post-filter sequential positions, the
# adjacency space operators/index.py positional_tokens() produces with
# its narrow array pipeline (this re-rank formulation proves it).
NTOKS_CTE = r""",
ntoks AS (
    SELECT doc_id, word,
           row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS npos
    FROM (
        SELECT doc_id,
               regexp_replace(lower(tok), '[^a-z]', '', 'g') AS word,
               pos
        FROM (
            SELECT doc_id,
                   unnest(string_split_regex(text, '\s+')) AS tok,
                   unnest(range(0, len(string_split_regex(text, '\s+')))) AS pos
            FROM documents
        )
        WHERE regexp_replace(lower(tok), '[^a-z]', '', 'g') <> ''
    )
)
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _serving_base(spark: SparkSession, sf_dir: str, docs: DataFrame) -> str:
    """Attach-or-build the persisted serving layout for ``sf_dir`` and
    return its base name — shared by every registry entry with a
    ``*_stored`` part (boolean_search, ranked_retrieval), so the store
    is built at most once per session however many entries serve from
    it. ensure_search_index verifies the sidecar corpus fingerprint on
    cross-session attach, so a regenerated corpus at the same path is
    rebuilt, never silently served stale."""
    import hashlib

    from ..operators import serving as srv
    from .stores import tuned_shuffle

    base = "rrserve_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    with tuned_shuffle(spark):
        srv.ensure_search_index(docs, base, n_buckets=4)
    return base


def _streamed_serving_store(
    spark: SparkSession, sf_dir: str, docs: DataFrame
) -> str:
    """Build (or reuse this session's — plans/stores.py) streamed
    serving snapshot and return its store directory: the corpus lands
    as three parquet files, a maxFilesPerTrigger=1 availableNow stream
    folds them through streaming/serving_stream.py's delta path (batch
    0 starts the version chain, batches 1-2 exercise the delta
    composition and the incremental stats fold), and the caller serves
    from the latest committed snapshot. It is the session's ONE
    streamed text store: ranked_retrieval's 'bm25_streamed' part and
    index_lines' 'streamed' part both answer from it, so a session
    runs one streamed build however many entries read it. The
    final composition is split-invariant, so the repartition(3) batch
    membership needs no determinism."""
    from ..streaming import serving_stream as svs
    from .stores import drain, input_key, session_store, tuned_shuffle

    def build(tmp: str) -> str:
        src = os.path.join(tmp, "docs_in")
        store = os.path.join(tmp, "serving_versions")
        ckpt = os.path.join(tmp, "ckpt")
        with tuned_shuffle(spark):
            docs.repartition(3).write.parquet(src)
            stream = (
                spark.readStream.schema(docs.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            drain(svs.start_incremental_serving(stream, store, ckpt),
                  "streamed serving build")
        return store

    return session_store("serving_stream", input_key(sf_dir, docs), build)


@register(
    "inverted_index",
    oracle="WITH "
    + INDEX_CTE
    + r"""
SELECT substr(word, 1, 1) AS letter, word, df,
       array_to_string(postings, ' ') AS postings,
       row_number() OVER (
           PARTITION BY substr(word, 1, 1)
           ORDER BY df DESC, word ASC
       ) AS "rank"
FROM idx
""",
    tags=("index", "flagship"),
    bench=True,
    doc="Full reference pipeline O2,O4-O13: (letter, word, df, postings, "
    "rank). Postings render as a space-joined string: the sorted-array "
    "serialization is part of the sink contract (O15) and keeps the "
    "result scalar-typed for any client.",
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = ix.build_index(_docs(spark, sf_dir))
    return idx.withColumn("postings", F.array_join("postings", " "))


@register(
    "postings_flat",
    oracle="WITH "
    + TOKS_CTE
    + "SELECT word, doc_id, count(*) AS tf FROM toks GROUP BY word, doc_id",
    tags=("index",),
    doc="Reference O8 + the tf extension in one pass: the row set IS the "
    "distinct (word, doc_id) pairs (main.cpp:183-200's dedup-on-insert), "
    "and tf carries the occurrence count the reference discards "
    "(SURVEY.md §7 Phase 2) — the scalable flat index form.",
)
def q_postings_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ix.term_frequencies(_docs(spark, sf_dir))


@register(
    "document_frequency",
    oracle="WITH "
    + TOKS_CTE
    + """,
dfr AS (SELECT word, count(DISTINCT doc_id) AS df FROM toks GROUP BY word)
SELECT word, df,
       CAST(row_number() OVER (ORDER BY word) - 1 AS BIGINT) AS word_id
FROM dfr
""",
    tags=("index", "dictionary"),
    doc="Reference O10 (distinct-count document frequency) carried "
    "through the full dictionary-encoding round trip: word_dictionary "
    "(operators/dictionary.py) assigns dense lexicographically "
    "order-preserving integer ids WITHOUT a global sort (rank within "
    "26^prefix_len prefix partitions + broadcast cumulative offsets — "
    "the Window-without-PARTITION-BY scale bug avoided), then the df "
    "table is encode_index'd to (word_id, df) and decode_index'd back. "
    "The oracle computes ids with the global row_number() the engine "
    "refuses to run, so the hash match proves THREE things at once: "
    "the prefix-decomposed ids equal the global lexicographic rank "
    "(dense, bijective, order-preserving), and the encode/decode round "
    "trip loses nothing.",
)
def q_document_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dictionary import (
        decode_index,
        encode_index,
        word_dictionary,
    )

    dfreq = ix.document_frequency(_docs(spark, sf_dir))
    dic = word_dictionary(dfreq, prefix_len=2)
    decoded = decode_index(encode_index(dfreq, dic), dic)
    return decoded.select("word", "df", "word_id")


@register(
    "boolean_search",
    oracle="WITH "
    + INDEX_CTE
    + NTOKS_CTE
    + r""",
a AS (SELECT postings AS p1 FROM idx WHERE word = 'spark'),
b AS (SELECT postings AS p2 FROM idx WHERE word = 'query')
SELECT 'lookup' AS op, word AS term1, CAST(df AS VARCHAR) AS term2,
       array_to_string(postings, ' ') AS doc_ids
FROM idx WHERE word IN ('spark', 'query')
UNION ALL
SELECT 'and' AS op, 'spark' AS term1, 'query' AS term2,
       array_to_string(list_sort(list_intersect(p1, p2)), ' ') AS doc_ids
FROM a, b
UNION ALL
SELECT 'or', 'spark', 'query',
       array_to_string(list_sort(list_distinct(list_concat(p1, p2))), ' ')
FROM a, b
UNION ALL
SELECT 'not', 'spark', 'query',
       array_to_string(list_sort(list_filter(p1, x -> NOT list_contains(p2, x))), ' ')
FROM a, b
UNION ALL
SELECT 'phrase', 'stream table hash', '', ds FROM (
    SELECT array_to_string(list_sort(list(DISTINCT doc_id)), ' ') AS ds,
           count(*) AS n
    FROM (
        SELECT a.doc_id
        FROM ntoks a
        JOIN ntoks b ON b.doc_id = a.doc_id AND b.npos = a.npos + 1
                    AND b.word = 'table'
        JOIN ntoks c ON c.doc_id = a.doc_id AND c.npos = a.npos + 2
                    AND c.word = 'hash'
        WHERE a.word = 'stream'
    )
) WHERE n > 0
UNION ALL
SELECT 'and_stored' AS op, 'spark' AS term1, 'query' AS term2,
       array_to_string(list_sort(list_intersect(p1, p2)), ' ') AS doc_ids
FROM a, b
UNION ALL
SELECT 'or_stored', 'spark', 'query',
       array_to_string(list_sort(list_distinct(list_concat(p1, p2))), ' ')
FROM a, b
UNION ALL
SELECT 'not_stored', 'spark', 'query',
       array_to_string(list_sort(list_filter(p1, x -> NOT list_contains(p2, x))), ' ')
FROM a, b
UNION ALL
SELECT 'phrase_stored', 'stream table hash', '', ds FROM (
    SELECT array_to_string(list_sort(list(DISTINCT doc_id)), ' ') AS ds,
           count(*) AS n
    FROM (
        SELECT a.doc_id
        FROM ntoks a
        JOIN ntoks b ON b.doc_id = a.doc_id AND b.npos = a.npos + 1
                    AND b.word = 'table'
        JOIN ntoks c ON c.doc_id = a.doc_id AND c.npos = a.npos + 2
                    AND c.word = 'hash'
        WHERE a.word = 'stream'
    )
) WHERE n > 0
UNION ALL
SELECT 'slop', 'stream hash', '', ds FROM (
    SELECT array_to_string(list_sort(list(DISTINCT doc_id)), ' ') AS ds,
           count(*) AS n
    FROM (
        SELECT a.doc_id
        FROM ntoks a
        JOIN ntoks b ON b.doc_id = a.doc_id
                    AND b.npos BETWEEN a.npos + 1 AND a.npos + 2
                    AND b.word = 'hash'
        WHERE a.word = 'stream'
    )
) WHERE n > 0
UNION ALL
SELECT 'slop_stored', 'stream hash', '', ds FROM (
    SELECT array_to_string(list_sort(list(DISTINCT doc_id)), ' ') AS ds,
           count(*) AS n
    FROM (
        SELECT a.doc_id
        FROM ntoks a
        JOIN ntoks b ON b.doc_id = a.doc_id
                    AND b.npos BETWEEN a.npos + 1 AND a.npos + 2
                    AND b.word = 'hash'
        WHERE a.word = 'stream'
    )
) WHERE n > 0
UNION ALL
SELECT 'prefix' AS op, 's' AS term1, word AS term2,
       array_to_string(postings, ' ') AS doc_ids
FROM idx WHERE word LIKE 's%'
UNION ALL
SELECT 'prefix_stored', 's', word, array_to_string(postings, ' ')
FROM idx WHERE word LIKE 's%'
UNION ALL
SELECT 'suffix', 'er', word, array_to_string(postings, ' ')
FROM idx WHERE word LIKE '%er'
UNION ALL
SELECT 'suffix_stored', 'er', word, array_to_string(postings, ' ')
FROM idx WHERE word LIKE '%er'
UNION ALL
SELECT 'fuzzy', 'sow', word, array_to_string(postings, ' ')
FROM idx WHERE levenshtein(word, 'sow') <= 1
UNION ALL
SELECT 'fuzzy_stored', 'sow', word, array_to_string(postings, ' ')
FROM idx WHERE levenshtein(word, 'sow') <= 1
""",
    tags=("index", "search", "serving"),
    doc="Point lookup + boolean + phrase search over the index in one "
    "labeled result: 'lookup' rows are the per-term point lookup "
    "(term2 carries df, doc_ids the posting list — projected from the "
    "SAME single filtered aggregate as the boolean ops, zero extra "
    "scans; against a stored index the word predicate instead pushes "
    "into the bucket-pruned scan, see stored_term_postings), then "
    "AND (array_intersect), OR (array_union), NOT (array_except), and "
    "exact-phrase match via the positional index "
    "(operators/index.py phrase_search — one scan + one aggregation, "
    "adjacency checked by a per-row array predicate; the oracle uses "
    "the n-way positional self-join formulation, proving equivalence). "
    "The '*_stored' rows answer the SAME queries from the persisted "
    "serving layout (operators/serving.py boolean_search_stored and "
    "phrase_search_stored, both over the letter-partitioned, "
    "bucket-pruned positional store) while the oracle stays the "
    "corpus-scan formulation — the hash match PROVES each stored path "
    "returns exactly what a full corpus scan returns, at pruned-lookup "
    "cost. 'slop'/'slop_stored' rows are SLOPPY-phrase match "
    "(phrase_search_slop: the words in order with up to slop=1 "
    "intervening tokens per gap, verified by a backward-reachability "
    "array fold — the oracle's positional range-join formulation "
    "proves the fold; slop=0 is proven identical to phrase_search in "
    "tests). 'prefix'/'prefix_stored' rows are the wildcard-tail lookup "
    "(index.py prefix_search: the startswith predicate filters the "
    "token stream BEFORE aggregation; the stored twin additionally "
    "prunes to the first letter's partition directory), one row per "
    "matching vocabulary term; 'suffix'/'suffix_stored' are the mirror "
    "wildcard-HEAD lookup (suffix_search — no letter pruning exists "
    "for a suffix, so the stored twin pays a column-pruned vocabulary "
    "pass + a bucket-pruned postings fetch, the fuzzy shape). "
    "'fuzzy'/'fuzzy_stored' rows are the "
    "typo-tolerant lookup (fuzzy_term_search, SymSpell symmetric-delete "
    "candidate generation + exact levenshtein verify — the oracle IS "
    "the brute-force levenshtein-over-the-vocabulary formulation the "
    "operator avoids, so the hash match proves the deletion-"
    "neighborhood candidates lose nothing), one row per vocabulary "
    "term within distance 1 of the query.",
)
def q_boolean_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import serving as srv

    docs = _docs(spark, sf_dir)
    bs = ix.boolean_search(docs, "spark", "query", with_lookup=True).select(
        "op", "term1", "term2", F.array_join("doc_ids", " ").alias("doc_ids")
    )

    def phrase_rows(matches: DataFrame, label: str, phrase: str) -> DataFrame:
        return (
            matches.groupBy()
            .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
            .where(F.size("ids") > 0)
            .select(
                F.lit(label).alias("op"),
                F.lit(phrase).alias("term1"),
                F.lit("").alias("term2"),
                F.array_join("ids", " ").alias("doc_ids"),
            )
        )

    phrase = "stream table hash"
    ph = phrase_rows(ix.phrase_search(docs, phrase), "phrase", phrase)
    base = _serving_base(spark, sf_dir, docs)
    slop_phrase = "stream hash"
    sl = phrase_rows(
        ix.phrase_search_slop(docs, slop_phrase, slop=1), "slop", slop_phrase
    )
    sl_stored = phrase_rows(
        srv.phrase_slop_search_stored(spark, base, slop_phrase, slop=1),
        "slop_stored",
        slop_phrase,
    )
    bs_stored = srv.boolean_search_stored(spark, base, "spark", "query").select(
        F.concat(F.col("op"), F.lit("_stored")).alias("op"),
        "term1",
        "term2",
        F.array_join("doc_ids", " ").alias("doc_ids"),
    )
    ph_stored = phrase_rows(
        srv.phrase_search_stored(spark, base, phrase), "phrase_stored", phrase
    )

    def vocab_rows(df: DataFrame, op: str, q: str) -> DataFrame:
        return df.select(
            F.lit(op).alias("op"),
            F.lit(q).alias("term1"),
            F.col("word").alias("term2"),
            F.array_join("postings", " ").alias("doc_ids"),
        )

    pf = vocab_rows(ix.prefix_search(docs, "s"), "prefix", "s")
    pf_stored = vocab_rows(
        srv.prefix_search_stored(spark, base, "s"), "prefix_stored", "s"
    )
    sx = vocab_rows(ix.suffix_search(docs, "er"), "suffix", "er")
    sx_stored = vocab_rows(
        srv.suffix_search_stored(spark, base, "er"), "suffix_stored", "er"
    )
    fz = vocab_rows(ix.fuzzy_term_search(docs, "sow"), "fuzzy", "sow")
    fz_stored = vocab_rows(
        srv.fuzzy_term_search_stored(spark, base, "sow"), "fuzzy_stored", "sow"
    )
    return (
        bs.unionByName(ph)
        .unionByName(bs_stored)
        .unionByName(ph_stored)
        .unionByName(sl)
        .unionByName(sl_stored)
        .unionByName(pf)
        .unionByName(pf_stored)
        .unionByName(sx)
        .unionByName(sx_stored)
        .unionByName(fz)
        .unionByName(fz_stored)
    )


@register(
    "ranked_retrieval",
    oracle="WITH "
    + TOKS_CTE
    + NTOKS_CTE
    + r""",
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs FROM documents),
ad AS (SELECT avg(dl) AS avgdl FROM dl),
qtf AS (
    SELECT word, doc_id, count(*) AS tf FROM toks
    WHERE word IN ('hash', 'query', 'spark') GROUP BY word, doc_id
),
qidf AS (
    SELECT word,
           round(ln(1.0 + ((CAST((SELECT n_docs FROM stats) AS DOUBLE)
                            - count(DISTINCT doc_id)) + 0.5)
                          / (count(DISTINCT doc_id) + 0.5)), 9) AS idf
    FROM qtf GROUP BY word
),
bscore AS (
    SELECT t.doc_id,
           SUM(CAST(round(i.idf * ((t.tf * (1.2 + 1.0))
                          / (t.tf + 1.2 * (0.25 + 0.75 * d.dl
                                           / (SELECT avgdl FROM ad)))), 9)
               AS DECIMAL(28,12))) AS score_dec
    FROM qtf t JOIN qidf i USING (word) JOIN dl d USING (doc_id)
    GROUP BY t.doc_id
),
btop AS (
    SELECT doc_id, score_dec,
           row_number() OVER (ORDER BY score_dec DESC, doc_id) AS rk
    FROM bscore
),
near AS (
    SELECT a.doc_id, min(abs(a.npos - b.npos)) AS md
    FROM ntoks a
    JOIN ntoks b ON b.doc_id = a.doc_id AND b.word = 'query'
    WHERE a.word = 'spark'
    GROUP BY a.doc_id
),
mtf AS (SELECT word, doc_id, count(*) AS tf FROM toks GROUP BY word, doc_id),
mw AS (
    SELECT word, doc_id,
           tf * round(ln(CAST((SELECT n_docs FROM stats) AS DOUBLE)
                         / (count(*) OVER (PARTITION BY word))), 9) AS w
    FROM mtf
),
mwnz AS (SELECT * FROM mw WHERE w <> 0),
mq AS (SELECT word, w AS qw FROM mwnz WHERE doc_id = 7),
mn AS (
    SELECT doc_id, SUM(CAST(round(w * w, 7) AS DECIMAL(28,12))) AS n2
    FROM mwnz GROUP BY doc_id
),
md AS (
    SELECT c.doc_id,
           SUM(CAST(round(c.w * q.qw, 7) AS DECIMAL(28,12))) AS dot
    FROM mwnz c JOIN mq q USING (word)
    WHERE c.doc_id <> 7 GROUP BY c.doc_id
),
ms AS (
    SELECT d.doc_id,
           CAST(round(CAST(CAST(d.dot AS DOUBLE)
                 / (sqrt(CAST((SELECT n2 FROM mn WHERE doc_id = 7) AS DOUBLE))
                    * sqrt(CAST(n.n2 AS DOUBLE))) AS DECIMAL(28,12)), 6)
                AS DECIMAL(18,6)) AS score
    FROM md d JOIN mn n USING (doc_id)
),
mtop AS (
    SELECT doc_id, score,
           row_number() OVER (ORDER BY score DESC, doc_id) AS rk
    FROM ms
)
SELECT 'bm25' AS op, 'spark query hash' AS query, doc_id,
       CAST(CAST(round(CAST(score_dec AS DECIMAL(28,12)), 6)
            AS DECIMAL(18,6)) AS VARCHAR) AS score,
       rk AS "rank"
FROM btop WHERE rk <= 10
UNION ALL
SELECT 'bm25_stored', 'spark query hash', doc_id,
       CAST(CAST(round(CAST(score_dec AS DECIMAL(28,12)), 6)
            AS DECIMAL(18,6)) AS VARCHAR),
       rk
FROM btop WHERE rk <= 10
UNION ALL
SELECT 'bm25_streamed', 'spark query hash', doc_id,
       CAST(CAST(round(CAST(score_dec AS DECIMAL(28,12)), 6)
            AS DECIMAL(18,6)) AS VARCHAR),
       rk
FROM btop WHERE rk <= 10
UNION ALL
SELECT 'near3', 'spark query', doc_id, CAST(md AS VARCHAR),
       row_number() OVER (ORDER BY doc_id)
FROM near WHERE md <= 3
UNION ALL
SELECT 'near3_stored', 'spark query', doc_id, CAST(md AS VARCHAR),
       row_number() OVER (ORDER BY doc_id)
FROM near WHERE md <= 3
UNION ALL
SELECT 'mlt', 'doc:7', doc_id, CAST(score AS VARCHAR), rk
FROM mtop WHERE rk <= 10
UNION ALL
SELECT 'mlt_stored', 'doc:7', doc_id, CAST(score AS VARCHAR), rk
FROM mtop WHERE rk <= 10
""",
    tags=("index", "search", "ranked", "serving"),
    doc="Ranked retrieval over the corpus in one labeled result: 'bm25' "
    "rows are Okapi BM25 top-10 for a free-text query (operators/"
    "index.py bm25_search — per-term idf broadcast, one groupBy(doc_id) "
    "decimal score sum so the total is order-independent, per-partition "
    "truncation before the top-k merge), 'bm25_stored' rows are the "
    "SAME query answered from the persisted serving layout (operators/"
    "serving.py: store_search_index writes the letter-partitioned, "
    "word-bucketed positional index + doclen + stats once, then "
    "bm25_search_stored reads only the query terms' pruned buckets — "
    "the oracle stays the corpus-scan formulation, so the hash match "
    "PROVES the stored path loses nothing while never re-tokenizing "
    "the corpus), 'bm25_streamed' rows are the SAME query served from "
    "a STREAM-MAINTAINED snapshot built in-session (streaming/"
    "serving_stream.py: the corpus arrives as three micro-batches "
    "under an availableNow trigger — batch 0 builds, batches 1-2 run "
    "the incremental chunk merge — each committing a versioned "
    "complete-or-invisible snapshot; the query answers from the latest "
    "committed version through the same frame-parameterized BM25 body "
    "as the stored path, and the corpus-scan oracle proves the "
    "stream-maintained layout lossless, not just test-asserted), "
    "'near3' rows are NEAR/3 proximity matches "
    "(proximity_search — positional postings + zero-shuffle per-doc "
    "min-distance array fold; the oracle's positional self-join min() "
    "proves the fold), and 'near3_stored' rows are the SAME proximity "
    "query served from the stored positional index "
    "(serving.py proximity_search_stored — pruned read bounded by the "
    "two terms' document frequency; corpus-scan oracle again proves "
    "losslessness). 'mlt' rows are more-like-this retrieval — the "
    "query is a DOCUMENT (doc 7), ranked top-10 by TF-IDF cosine via "
    "term-at-a-time sparse scoring (index.py more_like_this: the "
    "query doc's weighted vector broadcasts into a word equi-join "
    "bounded by its terms' posting lists, idf-0 corpus-wide terms "
    "dropped on both sides, round-7 decimal dot + decimal-rendered "
    "cosine so rank and score are order- and engine-independent; "
    "never a dense all-pairs similarity), and 'mlt_stored' rows are "
    "the SAME retrieval served from the persisted layout "
    "(serving.py mlt_search_stored: the query doc's words from ONE "
    "doc_id bucket of the doc-major docterms table, candidate weights "
    "from the pruned positions buckets, norms from the precomputed "
    "norms table — corpus-scan oracle again, so the hash match proves "
    "the stored path and its precomputed norms lossless). score is "
    "the 6-decimal BM25 score / cosine, or the min token distance; "
    "rank is the score rank or a doc_id-ordered row number.",
)
def q_ranked_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import serving as srv

    docs = _docs(spark, sf_dir)
    q = "spark query hash"
    bm = ix.bm25_search(docs, q, k=10).select(
        F.lit("bm25").alias("op"),
        F.lit(q).alias("query"),
        "doc_id",
        F.col("score"),
        "rank",
    )
    base = _serving_base(spark, sf_dir, docs)
    bm_stored = srv.bm25_search_stored(spark, base, q, k=10).select(
        F.lit("bm25_stored").alias("op"),
        F.lit(q).alias("query"),
        "doc_id",
        F.col("score"),
        "rank",
    )
    from ..streaming import serving_stream as svs

    streamed_store = _streamed_serving_store(spark, sf_dir, docs)
    bm_streamed = svs.bm25_search_version(spark, streamed_store, q, k=10).select(
        F.lit("bm25_streamed").alias("op"),
        F.lit(q).alias("query"),
        "doc_id",
        F.col("score"),
        "rank",
    )

    def near_rows(matches: DataFrame, label: str) -> DataFrame:
        w = Window.orderBy("doc_id")
        return matches.select(
            F.lit(label).alias("op"),
            F.lit("spark query").alias("query"),
            "doc_id",
            F.col("min_dist").cast("string").alias("score"),
            F.row_number().over(w).cast("long").alias("rank"),
        )

    nr = near_rows(ix.proximity_search(docs, "spark", "query", max_dist=3), "near3")
    nr_stored = near_rows(
        srv.proximity_search_stored(spark, base, "spark", "query", max_dist=3),
        "near3_stored",
    )
    def mlt_rows(df: DataFrame, label: str) -> DataFrame:
        return df.select(
            F.lit(label).alias("op"),
            F.lit("doc:7").alias("query"),
            "doc_id",
            "score",
            "rank",
        )

    mlt = mlt_rows(ix.more_like_this(docs, 7, k=10), "mlt")
    mlt_stored = mlt_rows(
        srv.mlt_search_stored(spark, base, 7, k=10), "mlt_stored"
    )
    return (
        bm.unionByName(bm_stored)
        .unionByName(bm_streamed)
        .unionByName(nr)
        .unionByName(nr_stored)
        .unionByName(mlt)
        .unionByName(mlt_stored)
    )


@register(
    "topk_terms_per_letter",
    oracle="WITH "
    + INDEX_CTE
    + r""",
ranked AS (
    SELECT substr(word, 1, 1) AS letter, word, df,
           row_number() OVER (
               PARTITION BY substr(word, 1, 1)
               ORDER BY df DESC, word ASC
           ) AS "rank"
    FROM idx
)
SELECT letter, word, df, "rank" FROM ranked WHERE "rank" <= 3
""",
    tags=("index", "window"),
    doc="Reference O13 as windowed top-k: df desc, word asc within letter.",
)
def q_topk_terms_per_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = ix.build_index(_docs(spark, sf_dir))
    return ix.topk_terms_per_letter(idx, k=3)


@register(
    "tf_idf",
    oracle="WITH "
    + TOKS_CTE
    + r""",
tf AS (
    SELECT word, doc_id, count(*) AS tf
    FROM toks GROUP BY word, doc_id
),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT word, doc_id, tf,
       count(*) OVER (PARTITION BY word) AS df,
       round(
           tf * ln(CAST((SELECT n_docs FROM n) AS DOUBLE)
                   / count(*) OVER (PARTITION BY word)),
           6
       ) AS tfidf
FROM tf
""",
    tags=("index", "text"),
    doc="tf-idf with N as a broadcast scalar (no cross join) — SURVEY.md §7 Phase 4.",
)
def q_tf_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ix.tf_idf(_docs(spark, sf_dir))


@register(
    "index_lines",
    oracle="WITH "
    + TOKS_CTE
    + r""",
idx1 AS (
    SELECT word,
           list_sort(list(DISTINCT doc_id + 1)) AS postings,
           count(DISTINCT doc_id) AS df
    FROM toks
    GROUP BY word
),
lines AS (
    SELECT substr(word, 1, 1) AS letter,
           row_number() OVER (
               PARTITION BY substr(word, 1, 1)
               ORDER BY df DESC, word ASC
           ) AS "rank",
           word || ':[' || array_to_string(postings, ' ') || ']' AS line
    FROM idx1
)
SELECT 'batch' AS src, letter, "rank", line FROM lines
UNION ALL
SELECT 'streamed', letter, "rank", line FROM lines
""",
    tags=("index", "sink", "streaming"),
    doc="Reference O14+O15: 1-based ids formatted as the exact "
    "``word:[id1 id2 ...]`` output lines (src/main.cpp:310-317), keyed "
    "by (letter, rank) for the per-letter sink (O16), in one labeled "
    "two-part result. 'batch' rows are the one-shot build_index "
    "formulation. 'streamed' rows driver-verify INCREMENTAL index "
    "maintenance: the corpus arrives as three availableNow "
    "micro-batches folded into the session's streamed serving store "
    "(streaming/serving_stream.py — the same store ranked_retrieval's "
    "'bm25_streamed' part serves from), every batch appending its "
    "positions rows and committing a complete-or-invisible VERSION "
    "under the commit-marker protocol; the lines are derived from the "
    "LATEST COMMITTED version's positions through build_index's "
    "postings aggregation and rank window (ids shifted to 1-based). "
    "The oracle is the batch formulation VERBATIM for both labels, so "
    "the hash match proves the stream-maintained store converges to "
    "the one-shot build — the reference can only rebuild from scratch "
    "(src/main.cpp:49-320); this maintains the same artifact "
    "incrementally.",
)
def q_index_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.index import format_index_lines
    from ..streaming.serving_stream import read_serving_version

    docs = _docs(spark, sf_dir)
    batch_lines = format_index_lines(
        ix.build_index(docs, one_based=True)
    ).select(F.lit("batch").alias("src"), "letter", "rank", "line")
    positions = read_serving_version(
        spark, _streamed_serving_store(spark, sf_dir, docs)
    )["positions"]
    streamed_idx = ix.index_from_pairs(
        positions.select("word", (F.col("doc_id") + 1).alias("doc_id"))
    )
    streamed_lines = format_index_lines(streamed_idx).select(
        F.lit("streamed").alias("src"), "letter", "rank", "line"
    )
    return batch_lines.unionByName(streamed_lines)
