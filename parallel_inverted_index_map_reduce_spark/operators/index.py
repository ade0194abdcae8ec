"""Inverted-index build + query operators (reference O7-O14 and Phase 2).

Build side re-expresses /root/reference/src/main.cpp:152-237 (reduce +
sort phases) as one wide aggregation:

    tokens -> groupBy(word) -> collect_set(doc_id) -> sort_array
           -> df = size(postings) -> letter = substring(word,1,1)
           -> rank = row_number over (letter, df desc, word asc)

One shuffle total for the build (the groupBy); the reference's 26 letter
mutexes (src/tema1.h:54, main.cpp:180-202) become hash partitioning on
the group key, and its two pthread barriers (main.cpp:143,155,207)
become Spark stage boundaries. The per-letter composite sort
(main.cpp:225-231: df desc, then byte-wise word asc) is a window
row_number — exposed as an explicit ``rank`` column because downstream
comparison is order-insensitive.

Scale notes (100 TB): collect_set per word is bounded by document
frequency; stop words produce postings lists the size of the corpus.
For genuinely huge corpora the flat (word, doc_id, tf) form — also
provided — is the scalable representation (bucketed by word on write);
the array form is the reference-parity view. df is computed from the
already-deduplicated set, so no second shuffle. The per-letter rank
window hash-partitions on 26 letter values — the reference's own
26-bucket design, fine to ~10^8 distinct words; beyond that, rank via
a range-partitioned global sort on (letter, df desc, word) instead,
which spreads each letter across many tasks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokens_df


def term_frequencies(docs: DataFrame) -> DataFrame:
    """(word, doc_id, tf) — occurrence counts before dedup; the tf
    extension SURVEY.md §7 Phase 2 names (reference never computes it)."""
    return tokens_df(docs).groupBy("word", "doc_id").agg(F.count("*").alias("tf"))


def _with_df_letter(idx: DataFrame) -> DataFrame:
    """(word, postings) -> + df (postings size) + letter (first char) —
    the shared derivation every index builder applies after its own
    postings aggregation."""
    return idx.withColumn("df", F.size("postings").cast("long")).withColumn(
        "letter", F.substring("word", 1, 1)
    )


def _attach_rank_window(idx: DataFrame) -> DataFrame:
    """Final projection with the per-letter (df desc, word asc) rank as
    a 26-partition window — the reference-shaped form. Past ~10^8
    distinct words the rank would decompose as offset(letter, df), a
    window over the per-(letter, df) counts, plus row_number within
    (letter, df) by word — a window as wide as the distinct (letter,
    df) pairs, lifting the 26-task ceiling."""
    w = Window.partitionBy("letter").orderBy(F.desc("df"), F.asc("word"))
    return idx.select(
        "letter",
        "word",
        "df",
        "postings",
        F.row_number().over(w).cast("long").alias("rank"),
    )


def build_index(docs: DataFrame, one_based: bool = False) -> DataFrame:
    """Full index: (letter, word, df, postings, rank).

    ``one_based=True`` reproduces the reference's printed ids
    (main.cpp:312 prints file_id + 1).
    """
    t = tokens_df(docs)
    if one_based:
        t = t.withColumn("doc_id", F.col("doc_id") + F.lit(1))
    return index_from_pairs(t)


def index_from_pairs(pairs: DataFrame) -> DataFrame:
    """(letter, word, df, postings, rank) from any (word, doc_id) frame,
    duplicates allowed — :func:`build_index`'s postings aggregation and
    rank window, shared with the streamed index lines, which aggregate
    the serving stream's positions rows instead of fresh tokens.
    collect_set dedups AND partially aggregates map-side, so this is ONE
    shuffle (vs distinct() + groupBy = two)."""
    idx = pairs.groupBy("word").agg(
        F.sort_array(F.collect_set("doc_id")).alias("postings")
    )
    return _attach_rank_window(_with_df_letter(idx))


def document_frequency(docs: DataFrame) -> DataFrame:
    """(word, df) without materializing postings arrays — the scalable
    path when only df is needed (countDistinct folds map-side)."""
    return tokens_df(docs).groupBy("word").agg(
        F.countDistinct("doc_id").alias("df")
    )


def format_index_lines(index: DataFrame) -> DataFrame:
    """Reference O15 (main.cpp:310-317): ``word:[id1 id2 ...]`` lines,
    keyed by letter and rank so the sink can order them."""
    return index.select(
        "letter",
        "rank",
        F.concat(
            F.col("word"),
            F.lit(":["),
            F.array_join(F.col("postings"), " "),
            F.lit("]"),
        ).alias("line"),
    )


def term_lookup(index: DataFrame, terms: list[str]) -> DataFrame:
    """Point lookup on the index. Predicate pushes down to the scan when
    the index is stored (parquet sorted/bucketed by word)."""
    return index.where(F.col("word").isin(terms))


def boolean_and(index: DataFrame, t1: str, t2: str) -> DataFrame:
    """Posting-list intersection (boolean AND search) via array_intersect.

    The reference builds the index but never queries it (SURVEY.md §2.1);
    this closes the loop. Self-join of two single-row lookups — both
    sides broadcast."""
    a = index.where(F.col("word") == t1).select(F.col("postings").alias("p1"))
    b = index.where(F.col("word") == t2).select(F.col("postings").alias("p2"))
    return a.crossJoin(F.broadcast(b)).select(
        F.lit(t1).alias("term1"),
        F.lit(t2).alias("term2"),
        F.sort_array(F.array_intersect("p1", "p2")).alias("doc_ids"),
    )


def boolean_or(index: DataFrame, t1: str, t2: str) -> DataFrame:
    a = index.where(F.col("word") == t1).select(F.col("postings").alias("p1"))
    b = index.where(F.col("word") == t2).select(F.col("postings").alias("p2"))
    return a.crossJoin(F.broadcast(b)).select(
        F.lit(t1).alias("term1"),
        F.lit(t2).alias("term2"),
        F.sort_array(F.array_union("p1", "p2")).alias("doc_ids"),
    )


def boolean_not(index: DataFrame, t1: str, t2: str) -> DataFrame:
    """Docs containing t1 but not t2 (array_except)."""
    a = index.where(F.col("word") == t1).select(F.col("postings").alias("p1"))
    b = index.where(F.col("word") == t2).select(F.col("postings").alias("p2"))
    return a.crossJoin(F.broadcast(b)).select(
        F.lit(t1).alias("term1"),
        F.lit(t2).alias("term2"),
        F.sort_array(F.array_except("p1", "p2")).alias("doc_ids"),
    )


def boolean_search(
    docs: DataFrame, t1: str, t2: str, with_lookup: bool = False
) -> DataFrame:
    """AND/OR/NOT posting-list search in ONE scan + ONE aggregation.

    The composed form of :func:`boolean_and`/``_or``/``_not``: instead
    of three union branches that each rebuild the index (Spark does not
    share common subplans across a union — measured 6 scans / 30
    exchanges for the naive union), the two terms' posting sets are
    collected in a single filtered global aggregate (the ``word IN
    (t1, t2)`` predicate pushes into the token stream, so only matching
    tokens reach the aggregation) and all three ops are projected from
    that one row. Yields 0 rows when either term is absent — matching
    the cross-join-of-empty semantics of the per-op form. Shuffle
    volume: one partial row per scan partition, bounded by the terms'
    document frequency (the reference's own posting-list bound).

    ``with_lookup=True`` additionally emits one ``op='lookup'`` row per
    PRESENT term (term2 carrying the term's document frequency as a
    string, doc_ids its full posting list) — projected from the same
    single aggregate row, so the point-lookup surface costs zero extra
    scans. Lookup rows follow per-term presence semantics (a present
    term is reported even when the other is absent), unlike the
    boolean rows which need both.
    """
    t = tokens_df(docs).where(F.col("word").isin(t1, t2))
    two = t.groupBy().agg(
        F.sort_array(
            F.collect_set(F.when(F.col("word") == t1, F.col("doc_id")))
        ).alias("p1"),
        F.sort_array(
            F.collect_set(F.when(F.col("word") == t2, F.col("doc_id")))
        ).alias("p2"),
        F.max(F.col("word") == t1).alias("has1"),
        F.max(F.col("word") == t2).alias("has2"),
    )
    lookup = [
        F.struct(
            F.lit("lookup").alias("op"),
            F.lit(term).alias("term1"),
            F.size(plist).cast("string").alias("term2"),
            F.col(plist).alias("doc_ids"),
            F.col(has).alias("emit"),
        )
        for term, plist, has in ((t1, "p1", "has1"), (t2, "p2", "has2"))
        if with_lookup
    ]
    return _boolean_op_rows(two, t1, t2, lookup)


def positional_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, npos, word): normalized tokens with POST-FILTER
    sequential positions — token i and token i+1 were adjacent in the
    normalized stream, which is the adjacency phrase search needs.

    Built as a narrow array pipeline (whole-text normalize, split,
    filter, then posexplode), so position assignment costs no window
    re-rank shuffle; the whole thing fuses into the scan stage. Like
    ``tokens_df``, normalization runs once per DOCUMENT (the strip
    class spares exactly the \\s separators, so the filtered token
    sequence — and therefore every post-filter position — is identical
    to per-token normalize; boundary empties from leading/trailing
    whitespace are dropped by the same filter).
    """
    from ..functions.text import NON_ALPHA_NON_WS_RE, WHITESPACE_RE
    from ..sources.tables import spread

    cleaned = F.regexp_replace(F.lower(F.col("text")), NON_ALPHA_NON_WS_RE, "")
    arr = F.filter(
        F.split(cleaned, WHITESPACE_RE),
        lambda w: w != F.lit(""),
    )
    return spread(docs).select(
        "doc_id", F.posexplode(arr).alias("npos", "word")
    )


def positional_postings(docs: DataFrame) -> DataFrame:
    """(word, doc_id, positions): the positional inverted index — the
    classic extension the flat index cannot serve (phrase and proximity
    queries need within-doc positions, cf. the positional-index chapter
    of any IR text). One shuffle, same key as the flat build; positions
    arrays are bounded by per-doc term frequency, not corpus size."""
    return positional_tokens(docs).groupBy("word", "doc_id").agg(
        F.sort_array(F.collect_list("npos")).alias("positions")
    )


def phrase_search(docs: DataFrame, phrase: str) -> DataFrame:
    """(doc_id, match_positions): documents containing the exact phrase
    (normalized-adjacent tokens), with every start position.

    ONE scan + ONE aggregation, like :func:`boolean_search`: the token
    stream is filtered to the phrase's words (predicate pushes into the
    scan), each word's position set is gathered per doc in a single
    groupBy, and adjacency is verified by a per-row array predicate
    (``exists p in P0: p+i in Pi for all i``) — no n-way self-join, no
    window. Shuffle volume is bounded by the phrase terms' total term
    frequency, the positional-postings bound.
    """
    words = normalize_query_tokens(phrase)
    if not words:
        raise ValueError(f"phrase normalizes to nothing: {phrase!r}")
    toks = positional_tokens(docs).where(F.col("word").isin(*set(words)))
    per_doc = toks.groupBy("doc_id").agg(
        *[
            F.sort_array(
                F.collect_set(F.when(F.col("word") == w, F.col("npos")))
            ).alias(f"p{i}")
            for i, w in enumerate(words)
        ]
    )
    return phrase_adjacency_filter(per_doc, len(words))


def _boolean_op_rows(
    two: DataFrame, t1: str, t2: str, extra: list | tuple = ()
) -> DataFrame:
    """(op, term1, term2, doc_ids): the AND/OR/NOT tail of
    :func:`boolean_search` and serving.boolean_search_stored, projected
    from the ONE row of ``two`` (p1, p2 posting arrays; has1, has2) and
    emitted only when both terms are present. ``extra`` structs of the
    same (op, term1, term2, doc_ids, emit) shape come first."""
    both = F.col("has1") & F.col("has2")
    entries = [
        F.struct(
            F.lit(op).alias("op"),
            F.lit(t1).alias("term1"),
            F.lit(t2).alias("term2"),
            F.sort_array(arr).alias("doc_ids"),
            both.alias("emit"),
        )
        for op, arr in (
            ("and", F.array_intersect("p1", "p2")),
            ("or", F.array_union("p1", "p2")),
            ("not", F.array_except("p1", "p2")),
        )
    ]
    return (
        two.select(F.explode(F.array(*extra, *entries)).alias("kv"))
        .where(F.col("kv.emit"))
        .select(
            F.col("kv.op").alias("op"),
            F.col("kv.term1").alias("term1"),
            F.col("kv.term2").alias("term2"),
            F.col("kv.doc_ids").alias("doc_ids"),
        )
    )


def phrase_adjacency_filter(per_doc: DataFrame, n_words: int) -> DataFrame:
    """The phrase-match tail shared by the corpus-scan and stored-index
    paths: a (doc_id, p0..p{n-1}) frame of per-word sorted position
    arrays -> (doc_id, match_positions). Adjacency is a per-row array
    predicate (``exists p in p0: p+i in p_i for all i``) — no n-way
    self-join, no window, no shuffle beyond the input's."""

    def adjacent(p: Column) -> Column:
        cond = F.lit(True)
        for i in range(1, n_words):
            cond = cond & F.array_contains(F.col(f"p{i}"), p + i)
        return cond

    matches = F.filter(F.col("p0"), adjacent)
    return (
        per_doc.select("doc_id", matches.alias("match_positions"))
        .where(F.size("match_positions") > 0)
    )


def proximity_search(
    docs: DataFrame, t1: str, t2: str, max_dist: int = 3
) -> DataFrame:
    """(doc_id, min_dist): documents where ``t1`` and ``t2`` occur within
    ``max_dist`` normalized-token positions (unordered), with the actual
    minimum distance — the NEAR/k operator of classic IR query
    languages.

    Same shape as :func:`phrase_search`: filter the positional token
    stream to the two terms (pushes into the scan), gather each term's
    position set per doc in one aggregation, then a nested per-row array
    fold computes the min pairwise distance. The fold is O(tf1 * tf2)
    per doc — bounded by term frequency, the positional-postings bound —
    and never shuffles.
    """
    if max_dist < 1:
        raise ValueError("max_dist must be >= 1")
    toks = positional_tokens(docs).where(F.col("word").isin(t1, t2))
    per_doc = toks.groupBy("doc_id").agg(
        F.collect_set(F.when(F.col("word") == t1, F.col("npos"))).alias("p1"),
        F.collect_set(F.when(F.col("word") == t2, F.col("npos"))).alias("p2"),
    )
    return proximity_min_filter(per_doc, max_dist)


def proximity_min_filter(per_doc: DataFrame, max_dist: int) -> DataFrame:
    """The NEAR/k tail shared by the corpus-scan and stored-index paths:
    a (doc_id, p1, p2) frame of the two terms' position arrays ->
    (doc_id, min_dist) where both occur within ``max_dist``. The nested
    fold is O(tf1 * tf2) per doc — bounded by term frequency — and
    never shuffles."""
    pairwise_min = F.aggregate(
        F.col("p1"),
        F.lit(None).cast("long"),
        lambda acc, a: F.least(
            F.coalesce(acc, F.lit(2**62)),
            F.aggregate(
                F.col("p2"),
                F.lit(2**62),
                lambda m, b: F.least(m, F.abs(a - b)),
            ),
        ),
    )
    return (
        per_doc.where((F.size("p1") > 0) & (F.size("p2") > 0))
        .select("doc_id", pairwise_min.alias("min_dist"))
        .where(F.col("min_dist") <= max_dist)
    )


def bm25_search(
    docs: DataFrame,
    query: str,
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
) -> DataFrame:
    """(doc_id, score, rank): top-k documents for a free-text query under
    BM25 (Robertson/Sparck Jones; the Okapi formulation with the
    non-negative idf variant ln(1 + (N - df + 0.5)/(df + 0.5))) — the
    ranked-retrieval closure of the index surface (build -> lookup ->
    boolean -> phrase -> ranked).

    Scale shape: term frequencies for the query's words only (predicate
    pushes into the token stream), document lengths from one
    corpus-wide aggregation, per-term idf broadcast (query cardinality
    rows), one groupBy(doc_id) score sum, then a global top-k that
    Spark plans as TakeOrderedAndProject — each partition keeps a k-row
    heap, the merge moves at most k rows per partition, and the rank
    window runs over the k survivors only. N and avgdl are driver
    scalars (two counts), the documented driver-scalar pattern.

    Scoring is order-independent and cross-engine exact: the one
    libm-defined sub-expression (ln) is rounded to 9 decimals, every
    other step is IEEE-exact, and the per-doc sum accumulates rounded
    per-term scores in decimal — so the score, the top-k cut, and the
    (score desc, doc_id asc) rank are deterministic under any
    partitioning and reproducible against a SQL oracle.
    """
    words = sorted(set(normalize_query_tokens(query)))
    if not words:
        raise ValueError(f"query normalizes to nothing: {query!r}")

    toks = tokens_df(docs)
    doclen = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    n_docs = docs.count()
    avgdl = doclen.agg(F.avg("dl")).first()[0] or 1.0

    tf = (
        toks.where(F.col("word").isin(*words))
        .groupBy("word", "doc_id")
        .agg(F.count("*").alias("tf"))
    )
    return bm25_rank(tf, doclen, n_docs, avgdl, k1=k1, b=b, k=k)


def normalize_query_tokens(text: str) -> list[str]:
    """Driver-side twin of the engine's one tokenization rule (split on
    ASCII whitespace, lower, strip non-[a-z], drop empties) for query
    strings — order and duplicates preserved (phrase semantics need
    both; set-shaped callers dedup themselves)."""
    import re as _re

    from ..functions.text import PY_NON_ALPHA_RE, PY_WHITESPACE_RE

    return [
        w
        for w in (
            _re.sub(PY_NON_ALPHA_RE, "", t.lower())
            for t in _re.split(PY_WHITESPACE_RE, text)
        )
        if w
    ]


def bm25_rank(
    tf: DataFrame,
    doclen: DataFrame,
    n_docs: int,
    avgdl: float,
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
) -> DataFrame:
    """The BM25 scoring tail shared by the corpus-scan and stored-index
    paths: (word, doc_id, tf) + (doc_id, dl) + corpus scalars ->
    (doc_id, score, rank) top-k. Keeping this ONE implementation is
    what lets the stored path (operators/serving.py) be proven
    row-identical to the corpus-scan form — only tf/doclen SOURCING
    differs between them.

    idf is the one sub-expression whose value is libm-defined (ln);
    round it to 9 decimals so every engine computing the same formula
    lands on the same number. Everything downstream is IEEE-exact
    (mul/div/add) until the per-term round(…, 9), and the per-doc sum
    accumulates in decimal — order-independent, so the score (and the
    top-k cut it drives) is deterministic under any partitioning and
    reproducible cross-engine.
    """
    idf = tf.groupBy("word").agg(
        F.countDistinct("doc_id").alias("df_")
    ).select(
        "word",
        F.round(
            F.log(
                1.0
                + (F.lit(float(n_docs)) - F.col("df_") + 0.5)
                / (F.col("df_") + 0.5)
            ),
            9,
        ).alias("idf"),
    )

    term_score = F.col("idf") * (
        F.col("tf") * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / float(avgdl)))
    )
    scored = (
        tf.join(F.broadcast(idf), "word")
        .join(doclen, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.sum(F.round(term_score, 9).cast("decimal(28,12)")).alias(
                "score_dec"
            )
        )
    )
    from ..plans.exprs import stable_round6 as _stable6

    top = (
        scored.orderBy(F.col("score_dec").desc(), F.col("doc_id"))
        .limit(k)
        .select(
            "doc_id",
            F.col("score_dec"),
            _stable6(F.col("score_dec")).alias("score"),
        )
    )
    w = Window.orderBy(F.col("score_dec").desc(), F.col("doc_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "doc_id", "score", "rank"
    )


def topk_terms_per_letter(index: DataFrame, k: int = 5) -> DataFrame:
    """Top-k terms by document frequency within each letter bucket —
    the windowed-rank view of reference O13 (main.cpp:225-231)."""
    return index.where(F.col("rank") <= k).select("letter", "word", "df", "rank")


def tf_idf(docs: DataFrame, round_to: int = 6) -> DataFrame:
    """tf-idf per (word, doc): tf * ln(N / df).

    N is a broadcast scalar (count over the docs dim), NOT a cross join —
    the 100 TB note in SURVEY.md §7. Rounded so the value is stable
    across engines for the oracle hash."""
    n_docs = docs.count()  # scalar to the driver; broadcast into the plan
    tf = term_frequencies(docs)
    w = Window.partitionBy("word")
    # df via a window over the already-grouped tf rows: one shuffle reused
    # for both tf and df instead of a second groupBy + join.
    scored = tf.withColumn("df", F.count("*").over(w).cast("long"))
    return scored.select(
        "word",
        "doc_id",
        "tf",
        "df",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), round_to
        ).alias("tfidf"),
    )


def _normalize_single_term(text: str, what: str) -> str:
    """One normalized term from a query string — vocabulary searches
    (prefix / fuzzy) address single terms, so multi-token or
    normalizes-to-nothing input is a caller error, loudly."""
    words = normalize_query_tokens(text)
    if len(words) != 1:
        raise ValueError(
            f"{what} must normalize to exactly one term, got {words!r} "
            f"from {text!r}"
        )
    return words[0]


def prefix_search(docs: DataFrame, prefix: str) -> DataFrame:
    """(letter, word, df, postings): every vocabulary term starting with
    ``prefix`` and its posting list — the wildcard-tail query
    (``spar*``) the reference's per-letter output files gesture at
    (ref: src/main.cpp:298-320 partitions by first letter but never
    queries) made a real operator.

    Scale shape: the prefix predicate filters the TOKEN stream before
    the aggregation, so only matching tokens shuffle — cost is bounded
    by the prefix's corpus frequency, not the vocabulary. Against the
    stored layout use serving.prefix_search_stored, which additionally
    prunes to the first letter's partition directory."""
    p = _normalize_single_term(prefix, "prefix")
    matched = tokens_df(docs).where(F.col("word").startswith(p))
    idx = matched.groupBy("word").agg(
        F.sort_array(F.collect_set("doc_id")).alias("postings")
    )
    return _with_df_letter(idx).select("letter", "word", "df", "postings")


def deletion_variants(
    words: DataFrame, max_deletes: int = 1, col: str = "word"
) -> DataFrame:
    """(word, variant): every string reachable from ``col`` by deleting
    up to ``max_deletes`` characters (the word itself included) — the
    SymSpell candidate-generation relation (Garbe's symmetric-delete
    spelling correction), built as ``max_deletes`` rounds of one-char
    deletion expressed with sequence+explode (pure codegen, no UDF).

    Row count is vocabulary-scale times the deletion-neighborhood size
    (sum of C(len, j) for j <= max_deletes — bounded, e.g. <= 1+len for
    one delete), never corpus-scale."""
    if max_deletes < 0:
        raise ValueError("max_deletes must be >= 0")
    out = words.select(col, F.col(col).alias("variant")).distinct()
    # each round explodes [variant itself] + [its one-char deletions], so
    # after round r `out` holds every <= r-delete variant — ONE linear
    # lineage (a union-of-rounds shape would re-scan the vocabulary once
    # per round; single-char variants contribute only themselves, never
    # the empty string)
    one_shorter = F.when(
        F.length("variant") > 1,
        F.transform(
            F.sequence(F.lit(1), F.length("variant")),
            lambda i: F.concat(
                F.col("variant").substr(F.lit(1), i - 1),
                F.col("variant").substr(i + 1, F.length("variant")),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    for _ in range(max_deletes):
        out = out.select(
            col,
            F.explode(
                F.concat(F.array(F.col("variant")), one_shorter)
            ).alias("variant"),
        ).distinct()
    return out


def fuzzy_term_search(
    docs: DataFrame, term: str, max_dist: int = 1
) -> DataFrame:
    """(letter, word, df, postings): every vocabulary term within
    Levenshtein distance ``max_dist`` of ``term`` and its posting list —
    typo-tolerant lookup.

    Scale shape (the reason this is not ``levenshtein`` over the whole
    vocabulary): candidates come from the SymSpell symmetric-delete
    relation — a vocabulary word is a candidate iff its
    deletion-neighborhood (:func:`deletion_variants`, <= max_dist
    deletes) intersects the query term's, a guaranteed SUPERSET of the
    true <= max_dist matches — and because the query side is ONE term,
    the intersection is a pushed ``variant IN (...)`` filter over the
    vocabulary's variants, not a join. Candidates (a handful) are then
    exact-verified with ``levenshtein() <= max_dist``, and only THEIR
    tokens aggregate into posting lists via a broadcast semi-join. The
    expensive corpus-scale aggregation is bounded by the matched terms'
    document frequency; the vocabulary-scale work is one distinct +
    the bounded variant expansion. At 100 TB the vocabulary (~10^8) is
    the small table here; the corpus never cross-joins anything."""
    q = _normalize_single_term(term, "fuzzy term")
    if max_dist < 1:
        raise ValueError("max_dist must be >= 1")
    q_variants = sorted(_py_deletion_variants(q, max_dist))
    vocab = tokens_df(docs).select("word").distinct()
    cand = (
        deletion_variants(vocab, max_deletes=max_dist)
        .where(F.col("variant").isin(q_variants))
        .select("word")
        .distinct()
    )
    matched = cand.where(F.levenshtein(F.col("word"), F.lit(q)) <= max_dist)
    idx = (
        tokens_df(docs)
        .join(F.broadcast(matched), "word", "left_semi")
        .groupBy("word")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("postings"))
    )
    return _with_df_letter(idx).select("letter", "word", "df", "postings")


def _py_deletion_variants(word: str, max_deletes: int) -> set[str]:
    """Driver-side twin of :func:`deletion_variants` for the (single)
    query term — the string set is C(len, <=max_deletes)-bounded."""
    out = {word}
    frontier = {word}
    for _ in range(max_deletes):
        frontier = {
            v[:i] + v[i + 1 :]
            for v in frontier
            if len(v) > 1
            for i in range(len(v))
        }
        out |= frontier
    return out


def more_like_this(docs: DataFrame, doc_id: int, k: int = 10) -> DataFrame:
    """(doc_id, score, rank): the k documents most similar to ``doc_id``
    by TF-IDF cosine — "more like this" retrieval, where the query is a
    document instead of free text.

    Term-at-a-time sparse scoring, the classic inverted-index shape
    (never a dense all-pairs similarity): the query document's weighted
    term vector broadcasts, candidates come from the word equi-join —
    bounded by the query terms' posting lists — and corpus-wide terms
    (idf exactly 0, the largest posting lists) are dropped on BOTH
    sides before the join, since they cannot move any score.

    Determinism discipline (the bm25_rank pattern): idf rounds at 9
    (the one libm op), per-term products round at 7 and sum as decimal
    (order-independent dot), norms are decimal sums of round-7 squares,
    and the final cosine renders/ranks through the decimal(28,12)->6
    cast so both engines order and print the same value. One corpus
    tokenization feeds the query vector, the candidates, and the norms
    (pinned frame)."""
    n_docs = docs.count()  # driver scalar, broadcast into the plan
    weighted = tfidf_weighted(term_frequencies(docs), n_docs).localCheckpoint(
        eager=False  # feeds query vector, join, norms
    )
    norms = tfidf_norms(weighted)
    return mlt_rank(weighted, norms, doc_id, k=k)


def tfidf_weighted(tfr: DataFrame, n_docs: int) -> DataFrame:
    """(word, doc_id, w) from (word, doc_id, tf) rows: w = tf * idf with
    idf = round(ln(N/df), 9) (the one libm op, pinned at 9 decimals so
    every engine lands on the same double) and df from a window over
    the tf rows — one shuffle shared by tf and df. idf-0 corpus-wide
    terms are dropped: they cannot move any cosine and they own the
    largest posting lists."""
    w_df = Window.partitionBy("word")
    return (
        tfr.withColumn("df", F.count("*").over(w_df))
        .select(
            "word",
            "doc_id",
            (
                F.col("tf")
                * F.round(F.log(F.lit(float(n_docs)) / F.col("df")), 9)
            ).alias("w"),
        )
        .where(F.col("w") != 0.0)
    )


def tfidf_norms(weighted: DataFrame) -> DataFrame:
    """(doc_id, n2): squared TF-IDF vector norms as exact decimals
    (round-7 squares, decimal sum — order-independent, so a stored
    norms table and an on-the-fly recomputation are bit-identical).
    ``weighted`` is a (word, doc_id, w) frame with idf-0 terms already
    dropped."""
    return weighted.groupBy("doc_id").agg(
        F.sum(
            F.round(F.col("w") * F.col("w"), 7).cast("decimal(28,12)")
        ).alias("n2")
    )


def mlt_rank(
    weighted: DataFrame, norms: DataFrame, doc_id: int, k: int = 10
) -> DataFrame:
    """The more-like-this scoring tail shared by the corpus-scan and
    stored-index paths: (word, doc_id, w) weighted terms + (doc_id, n2)
    decimal norms -> (doc_id, score, rank) top-k by TF-IDF cosine.
    Keeping this ONE implementation is what lets the stored path
    (operators/serving.py mlt_search_stored) be proven row-identical to
    the corpus-scan form — only the weight/norm SOURCING differs."""
    qv = weighted.where(F.col("doc_id") == doc_id).select(
        "word", F.col("w").alias("qw")
    )
    qn_row = norms.where(F.col("doc_id") == doc_id).first()
    if qn_row is None:
        raise ValueError(
            f"doc {doc_id} has no weighted terms (absent or all-stopword)"
        )
    qn = float(qn_row["n2"])
    dots = (
        weighted.join(F.broadcast(qv), "word")
        .where(F.col("doc_id") != doc_id)
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.round(F.col("w") * F.col("qw"), 7).cast("decimal(28,12)")
            ).alias("dot")
        )
    )
    score_dec = (
        F.round(
            (
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.lit(qn))
                    * F.sqrt(F.col("n2").cast("double"))
                )
            ).cast("decimal(28,12)"),
            6,
        )
    ).cast("decimal(18,6)")
    scored = dots.join(norms, "doc_id").select(
        "doc_id", score_dec.alias("score_dec")
    )
    w = Window.orderBy(F.col("score_dec").desc(), F.col("doc_id"))
    return (
        scored.orderBy(F.col("score_dec").desc(), F.col("doc_id"))
        .limit(k)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .select("doc_id", F.col("score_dec").cast("string").alias("score"), "rank")
    )


def phrase_search_slop(
    docs: DataFrame, phrase: str, slop: int = 0
) -> DataFrame:
    """(doc_id, match_positions): sloppy-phrase match — the phrase's
    words in order, with up to ``slop`` intervening tokens between each
    consecutive pair. ``slop=0`` is exactly :func:`phrase_search`
    (proven row-identical in tests/test_vocab_search.py).

    Same one-scan/one-aggregation shape as phrase_search; the ordered
    chain is verified by :func:`phrase_slop_filter`'s backward
    reachability fold over the per-word position arrays — n_words array
    passes per row, no n-way self-join."""
    if slop < 0:
        raise ValueError("slop must be >= 0")
    words = normalize_query_tokens(phrase)
    if not words:
        raise ValueError(f"phrase normalizes to nothing: {phrase!r}")
    toks = positional_tokens(docs).where(F.col("word").isin(*set(words)))
    per_doc = toks.groupBy("doc_id").agg(
        *[
            F.sort_array(
                F.collect_set(F.when(F.col("word") == w, F.col("npos")))
            ).alias(f"p{i}")
            for i, w in enumerate(words)
        ]
    )
    return phrase_slop_filter(per_doc, len(words), slop)


def phrase_slop_filter(
    per_doc: DataFrame, n_words: int, slop: int
) -> DataFrame:
    """The sloppy-phrase tail shared by the corpus-scan and stored
    paths: (doc_id, p0..p{n-1}) per-word sorted position arrays ->
    (doc_id, match_positions), where match_positions are the START
    positions from which an in-order chain exists with every gap in
    [1, slop+1].

    Backward reachability as a pure array fold: S_{n-1} = p_{n-1}, and
    S_k = { i in p_k : exists j in S_{k+1} with 1 <= j - i <= slop+1 };
    the matches are S_0. Each step is one F.filter/F.exists pair —
    per-row array work bounded by the phrase terms' positions in that
    document, no join, no shuffle beyond the input's. Each S_k is
    STAGED as a column between steps: higher-order lambdas evaluate
    interpreted and re-compute captured non-attribute subexpressions
    per element, so a chained filter-inside-exists expression would
    re-derive S_{k+1} for every candidate in p_k — O(prod tf_k) for an
    n-word phrase instead of O(sum tf_k * tf_{k+1}) (the cdc_chunks
    lesson, operators/chunking.py)."""
    allowed = slop + 1

    staged = per_doc
    reach_col = f"p{n_words - 1}"
    for k in range(n_words - 2, -1, -1):
        reach = F.col(reach_col)
        staged = staged.withColumn(
            f"s{k}",
            F.filter(
                F.col(f"p{k}"),
                lambda i: F.exists(
                    reach, lambda j: (j > i) & (j <= i + allowed)
                ),
            ),
        )
        reach_col = f"s{k}"
    return (
        staged.select("doc_id", F.col(reach_col).alias("match_positions"))
        .where(F.size("match_positions") > 0)
    )


def suffix_search(docs: DataFrame, suffix: str) -> DataFrame:
    """(letter, word, df, postings): every vocabulary term ENDING with
    ``suffix`` — the wildcard-head query (``*fix``), prefix_search's
    mirror.

    Scale shape: like prefix_search the predicate filters the token
    stream before aggregation, so only matching tokens shuffle. Unlike
    prefix there is nothing for the letter partitioning to prune (the
    first letter is unconstrained). The stored twin restores directory
    pruning via the ``_rwords`` reversed-word companion table
    (serving.py suffix_matched_words): the suffix becomes a prefix over
    the reversed vocabulary, partitioned by the word's LAST letter."""
    sfx = _normalize_single_term(suffix, "suffix")
    matched = tokens_df(docs).where(F.col("word").endswith(sfx))
    idx = matched.groupBy("word").agg(
        F.sort_array(F.collect_set("doc_id")).alias("postings")
    )
    return _with_df_letter(idx).select("letter", "word", "df", "postings")
