"""Text-analysis operators for training-data pipelines: token counting,
quality scoring, language identification (stopword-marker heuristic),
and position-weighted document fingerprints.

All pure column expressions (JVM-side, whole-stage codegen); divisions
are cast to double explicitly and rounded at fixed scales so the DuckDB
oracle reproduces every value.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import stable_hash32
from .dedup import token_positions

# Marker stopwords per language for the heuristic language guesser.
EN_MARKERS = ("the", "a", "of", "and", "to", "in", "is")
ES_MARKERS = ("el", "la", "de", "los", "y", "en", "es")

STOPWORDS = EN_MARKERS

FP_MOD = 1_000_003
FP_PRIME = 1_000_000_007

# GPT-2-style pretokenizer shape, lookahead-free so Java regex (Spark)
# and RE2 (DuckDB) agree: contraction suffixes, space-prefixed letter /
# digit runs, space-prefixed punctuation runs. Verified token-count
# identical across both engines on the full documents table.
BPEISH_PATTERN = r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpeish_token_count(text: Column) -> Column:
    """Subword-style token count: the BPE-ish regex over raw text — the
    second counting mode a training pipeline budgets with (whitespace
    tokens underestimate cost; this tracks pretokenizer splits)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPEISH_PATTERN), 0)).cast("long")


def quality_scores(docs: DataFrame) -> DataFrame:
    """Length/stopword/diversity-based quality score in [0, 1].

    score = 0.4 * stopword_ratio
          + 0.3 * min(avg_token_len / 10, 1)
          + 0.3 * min(n_tokens / 100, 1)

    ONE aggregation also carries the token counts (n_tokens,
    n_distinct_tokens): counting and scoring share the tokenize +
    groupBy(doc_id) shuffle instead of paying it twice.
    """
    toks = token_positions(docs)
    per_doc = toks.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("tok").alias("n_distinct_tokens"),
        F.sum(F.length("tok")).alias("sum_len"),
        F.sum(F.when(F.col("tok").isin(*STOPWORDS), 1).otherwise(0)).alias("n_stop"),
    )
    avg_len = F.col("sum_len").cast("double") / F.col("n_tokens")
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_tokens")
    score = (
        0.4 * stop_ratio
        + 0.3 * F.least(avg_len / 10.0, F.lit(1.0))
        + 0.3 * F.least(F.col("n_tokens").cast("double") / 100.0, F.lit(1.0))
    )
    from ..plans.exprs import stable_round6 as _stable6

    scored = per_doc.select(
        "doc_id",
        "n_tokens",
        "n_distinct_tokens",
        _stable6(avg_len).alias("avg_token_len"),
        _stable6(stop_ratio).alias("stopword_ratio"),
        _stable6(score).alias("quality_score"),
    )
    # second counting mode: subword-style pretokenizer splits, a per-row
    # expression over raw text joined back at doc cardinality
    bpe = docs.select("doc_id", bpeish_token_count(F.col("text")).alias("n_bpeish_tokens"))
    return scored.join(bpe, "doc_id")


def _tok_array(text: Column) -> Column:
    """Whitespace token array with empties dropped — the array twin of
    :func:`token_positions` (same tokens, no explode)."""
    return F.filter(F.split(text, " "), lambda t: t != F.lit(""))


def _grams(toks: Column, n: int) -> Column:
    """Space-joined word n-grams of an already-filtered token array, as
    a per-row ``transform`` (narrow, codegen) — empty array when the doc
    has fewer than ``n`` tokens."""
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    gram = lambda i: F.concat_ws(" ", *[F.get(toks, i + F.lit(k)) for k in range(n)])
    return F.when(F.size(toks) >= n, F.transform(idx, gram)).otherwise(
        F.array().cast("array<string>")
    )


def _longest_equal_run(arr: Column) -> Column:
    """Length of the longest run of equal adjacent elements (0 for an
    empty array), as a fold — a pure per-row expression. Sentinel-free:
    the fold seeds ``prev`` with NULL, which never equals a real
    element."""
    zero = F.lit(0).cast("long")

    def step(acc, x):
        run = F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        zero.alias("run"),
        zero.alias("best"),
    )
    return F.aggregate(arr, init, step)["best"]


def _max_freq(arr: Column) -> Column:
    """Count of the most frequent element of ``arr`` (0 for empty):
    sort, then longest-equal-run — the whole mode computation is one
    per-row codegen expression, no shuffle."""
    return _longest_equal_run(F.array_sort(arr))


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Within-document repetition signals (Gopher-style quality filters,
    Rae et al. 2021 §A1.1 — gram-count variants of its character-fraction
    filters):

    - ``top2_frac`` / ``top3_frac``: occurrences of the most frequent
      word 2-/3-gram over the total 2-/3-gram count;
    - ``dup5_frac``: fraction of 5-grams that are repeats of an earlier
      5-gram (1 - distinct/total);
    - ``max_token_run``: longest run of one token repeated back-to-back.

    Every signal is a per-row array fold over the token array — zero
    shuffles, unlike the groupBy formulation, so at 100 TB this is a
    pure map stage that chains onto the scan. Docs with fewer tokens
    than the gram width score 0.0 by definition. The DuckDB oracle uses
    the windowed lead/gaps-and-islands formulation, proving the fold
    equivalent.
    """
    toks = _tok_array(F.col("text"))
    d = docs.select("doc_id", toks.alias("_toks")).where(F.size("_toks") > 0)
    t = F.col("_toks")

    def top_frac(n: int) -> Column:
        grams = _grams(t, n)
        total = F.size(grams)
        return F.when(
            total > 0, _max_freq(grams).cast("double") / total.cast("double")
        ).otherwise(F.lit(0.0))

    g5 = _grams(t, 5)
    dup5 = F.when(
        F.size(g5) > 0,
        (F.size(g5) - F.size(F.array_distinct(g5))).cast("double")
        / F.size(g5).cast("double"),
    ).otherwise(F.lit(0.0))
    from ..plans.exprs import stable_round6 as _stable6

    return d.select(
        "doc_id",
        _stable6(top_frac(2)).alias("top2_frac"),
        _stable6(top_frac(3)).alias("top3_frac"),
        _stable6(dup5).alias("dup5_frac"),
        _longest_equal_run(t).alias("max_token_run"),
    )


def language_guess(docs: DataFrame) -> DataFrame:
    """Stopword-marker language ID: count en/es marker hits per doc,
    guess the majority language, report agreement with the labeled
    ``lang`` column. (A real pipeline would use character n-gram
    profiles; the plumbing — tokenize, score, argmax — is identical.)"""
    toks = token_positions(docs)
    hits = toks.groupBy("doc_id").agg(
        F.sum(F.when(F.col("tok").isin(*EN_MARKERS), 1).otherwise(0)).alias("en_hits"),
        F.sum(F.when(F.col("tok").isin(*ES_MARKERS), 1).otherwise(0)).alias("es_hits"),
    )
    guess = (
        F.when(F.col("en_hits") > F.col("es_hits"), "en")
        .when(F.col("es_hits") > F.col("en_hits"), "es")
        .otherwise("und")
    )
    return (
        docs.select("doc_id", "lang")
        .join(hits, "doc_id", "left")
        .na.fill({"en_hits": 0, "es_hits": 0})
        .select(
            "doc_id",
            "lang",
            "en_hits",
            "es_hits",
            guess.alias("lang_guess"),
            (guess == F.col("lang")).alias("agrees"),
        )
    )


def doc_fingerprints(docs: DataFrame) -> DataFrame:
    """Position-weighted rolling-hash fingerprint:

        fp = sum((pos + 1) * (hash32(tok) % 1000003)) % 1000000007

    Order-sensitive (swapping two tokens changes fp) yet expressible as
    a plain aggregate — the scalable alternative to driver-side hashing.
    """
    toks = token_positions(docs)
    term = (F.col("pos") + 1) * (stable_hash32(F.col("tok")) % F.lit(FP_MOD))
    return toks.groupBy("doc_id").agg(
        (F.sum(term) % F.lit(FP_PRIME)).alias("fingerprint")
    )


def collocations_pmi(
    docs: DataFrame, window: int = 3, min_count: int = 2
) -> DataFrame:
    """(word_a, word_b, n_pair, pmi): collocation mining by pointwise
    mutual information over co-occurrence windows — word pairs that
    appear together far more often than their individual frequencies
    predict (Church & Hanks 1990).

    Pair generation is ONE composite equi-join, never a per-document
    cross join: each token explodes into its ``window`` following
    positions ((doc_id, npos + d) keys) and joins the token stream on
    the exact (doc_id, npos) key, so the pair count is |tokens| *
    window rows flowing through a hash join regardless of document
    length. Pairs canonicalize (least, greatest) so both orders merge;
    self-pairs drop.

    pmi = ln( (n_ab / P) / ((n_a / T) * (n_b / T)) ) with T = total
    tokens, P = total (non-self) co-occurrence slots — computed as the
    integer ratio (n_ab * T * T) / (P * n_a * n_b) in a fixed
    parenthesization of correctly-rounded double ops, then round-9 ln
    and the decimal render, so both engines print the same value. T and
    P are driver scalars broadcast into the plan (the tf_idf pattern);
    counting P doubles as the eager pin of the pairs frame the final
    groupBy reuses."""
    from .index import positional_tokens

    if window < 1:
        raise ValueError("window must be >= 1")
    ntoks = positional_tokens(docs).localCheckpoint(eager=False)
    ahead = ntoks.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("npos") + 1, F.col("npos") + window)
        ).alias("npos"),
        F.col("word").alias("wa"),
    )
    pairs = (
        ahead.join(
            ntoks.select("doc_id", "npos", F.col("word").alias("wb")),
            ["doc_id", "npos"],
        )
        .where(F.col("wa") != F.col("wb"))
        .select(
            F.least("wa", "wb").alias("word_a"),
            F.greatest("wa", "wb").alias("word_b"),
        )
        .localCheckpoint(eager=False)  # pinned by the P count below
    )
    t_total = float(ntoks.count())
    p_total = float(pairs.count())  # also materializes the checkpoint
    uni = ntoks.groupBy("word").agg(F.count("*").cast("long").alias("n_uni"))
    grouped = (
        pairs.groupBy("word_a", "word_b")
        .agg(F.count("*").cast("long").alias("n_pair"))
        .where(F.col("n_pair") >= min_count)
    )
    scored = grouped.join(
        uni.select(F.col("word").alias("word_a"), F.col("n_uni").alias("n_a")),
        "word_a",
    ).join(
        uni.select(F.col("word").alias("word_b"), F.col("n_uni").alias("n_b")),
        "word_b",
    )
    num = (F.col("n_pair").cast("double") * F.lit(t_total)) * F.lit(t_total)
    den = (F.lit(p_total) * F.col("n_a").cast("double")) * F.col(
        "n_b"
    ).cast("double")
    from ..plans.exprs import stable_round6

    return scored.select(
        "word_a",
        "word_b",
        "n_pair",
        stable_round6(F.round(F.log(num / den), 9)).alias("pmi"),
    )


def bigram_lm_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, avg_logprob): corpus-bigram language-model
    score per document — the LM-based quality filter of the CCNet
    lineage (documents whose token transitions are improbable under
    the corpus's own bigram model are the boilerplate/gibberish tail).

    Model and score, all from ONE token stream: bigram (a, b) counts
    and head counts c_head(a) = sum_b c(a, b) over the corpus;
    per-bigram logprob = round(ln(c(a,b) / c_head(a)), 9) (one exact
    integer-ratio division + the round-9 ln discipline); per-document
    average = decimal sum / count, rendered at 6 decimals — so every
    value is reproducible cross-engine. Self-normalizing by
    construction (sum_b P(b|a) = 1 exactly).

    Scale shape: bigrams pair by ORDER adjacency (a lead window per
    doc — positions are pre-filter, so pos+1 equi-joins would skip
    over removed empties); the instance->count joins are corpus-scale
    hash joins against vocabulary^2-bounded count tables. Documents
    with fewer than two tokens have no bigrams and no row (callers
    LEFT JOIN)."""
    from ..plans.exprs import stable_round6

    toks = token_positions(docs)
    w = Window.partitionBy("doc_id").orderBy("pos")
    bigrams = (
        toks.withColumn("nxt", F.lead("tok").over(w))
        .where(F.col("nxt").isNotNull())
        .select("doc_id", F.col("tok").alias("a"), F.col("nxt").alias("b"))
        .localCheckpoint(eager=False)  # feeds counts AND instances
    )
    pair_counts = bigrams.groupBy("a", "b").agg(
        F.count("*").cast("long").alias("c_ab")
    )
    head_counts = bigrams.groupBy("a").agg(
        F.count("*").cast("long").alias("c_head")
    )
    term = F.round(
        F.log(F.col("c_ab").cast("double") / F.col("c_head").cast("double")),
        9,
    )
    return (
        bigrams.join(pair_counts, ["a", "b"])
        .join(head_counts, "a")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum(term.cast("decimal(28,12)")).alias("lp_sum"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            stable_round6(
                F.col("lp_sum").cast("double") / F.col("n_bigrams")
            ).alias("avg_logprob"),
        )
    )


def hashed_ngram_features(docs: DataFrame, n_buckets: int = 1024) -> DataFrame:
    """(doc_id, bucket): the hashed unigram+bigram feature multiset of
    each document — DSIR's fixed-size feature space. The bucket id is
    the first 8 md5 hex digits mod n_buckets (the repo's cross-engine
    hash discipline: DuckDB reproduces it as
    CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) % n_buckets)."""
    toks = token_positions(docs)
    w = Window.partitionBy("doc_id").orderBy("pos")
    uni = toks.select("doc_id", F.col("tok").alias("g"))
    bi = (
        toks.withColumn("nxt", F.lead("tok").over(w))
        .where(F.col("nxt").isNotNull())
        .select("doc_id", F.concat_ws(" ", "tok", "nxt").alias("g"))
    )
    return uni.unionByName(bi).select(
        "doc_id",
        (
            F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("long")
            % n_buckets
        ).alias("bucket"),
    )


def dsir_importance_weights(
    docs: DataFrame, target: DataFrame, n_buckets: int = 1024
) -> DataFrame:
    """(doc_id, n_feats, dsir_w): Data Selection with Importance
    Resampling (Xie et al. 2023, "Data Selection for Language Models
    via Importance Resampling") — per-document log importance weight
    log p_target(doc)/p_source(doc) under hashed-ngram bag-of-features
    models, the standard recipe for tilting a web-scale corpus toward
    a target domain before training.

    Model: unigram+bigram features hash into ``n_buckets`` slots
    (:func:`hashed_ngram_features`); target and source bucket
    distributions are add-1-smoothed counts; each feature occurrence
    contributes round(ln(((ct+1)/(cs+1)) * (S/T)), 9) where S/T are
    the smoothed totals — a fixed parenthesization over exact integer
    counts, so every term (and the decimal per-doc sum) reproduces
    bit-for-bit cross-engine. ``dsir_w`` renders at 6 decimals;
    ``n_feats`` is the doc's feature count. Documents with no tokens
    have no row (callers LEFT JOIN).

    Scale shape — the paper's design point, Spark-first: the feature
    space is FIXED-SIZE (n_buckets rows), so the model is two
    corpus-scale aggregations into tiny count tables, the log-ratio
    table broadcasts, and the per-document weight is one broadcast
    hash join + one groupBy(doc_id). No vocabulary-scale state, no
    shuffle beyond the two counts and the final per-doc aggregation;
    resampling against the weights composes with
    operators/sampling.py's deterministic hash-keyed samplers."""
    src = hashed_ngram_features(docs, n_buckets).localCheckpoint(
        eager=False
    )  # feeds the source counts AND the per-doc weight join
    tgt = hashed_ngram_features(target, n_buckets)
    s_total = src.count() + n_buckets
    t_total = tgt.count() + n_buckets
    s_cnt = src.groupBy("bucket").agg(F.count("*").cast("long").alias("cs"))
    t_cnt = tgt.groupBy("bucket").agg(F.count("*").cast("long").alias("ct"))
    lr = F.round(
        F.log(
            (
                (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1)).cast("double")
                / (F.col("cs") + F.lit(1)).cast("double")
            )
            * F.lit(float(s_total) / float(t_total))
        ),
        9,
    )
    ratio = s_cnt.join(t_cnt, "bucket", "left").select(
        "bucket", lr.alias("lr")
    )
    return (
        src.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_feats"),
            F.sum(F.col("lr").cast("decimal(28,12)")).alias("sw"),
        )
        .select(
            "doc_id",
            "n_feats",
            F.round(F.col("sw").cast("decimal(28,12)"), 6)
            .cast("decimal(18,6)")
            .cast("string")
            .alias("dsir_w"),
        )
    )
