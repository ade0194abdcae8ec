"""Span-level exact dedup: remove repeated n-token spans ACROSS
documents (Lee et al. 2022, "Deduplicating Training Data Makes
Language Models Better" — their ExactSubstr variant, re-expressed over
word n-grams instead of a suffix array).

The missing granularity between document-level dedup (exact / MinHash /
SimHash / clusters, operators/dedup.py + components.py) and
within-document repetition filters (textstats repetition_stats):
boilerplate paragraphs, license headers, and quoted passages duplicate
ACROSS documents that are nowhere near doc-level duplicates. The
production rule is: keep the first occurrence, cut every other
document's copy.

Semantics (deterministic, total):

- tokens are the document's RAW whitespace-delimited tokens — cutting
  removes tokens but never rewrites the survivors (digits, case, and
  punctuation pass through; only inter-token whitespace collapses to
  single spaces on reassembly);
- a span = n consecutive raw tokens; spans match by their NORMALIZED
  content (per-token lower + [^a-z] strip, the engine's one
  tokenization rule), identified by the FULL md5 of the normalized
  join — 128 bits, so a false-duplicate hash collision is beyond
  birthday reach at any corpus size (the 32-bit stable_hash32 used for
  MinHash shingles is fine THERE because candidates get
  Jaccard-verified; here the hash alone decides a destructive cut, so
  it must be collision-free in practice);
- a span is DUPLICATED iff it occurs in >= 2 distinct documents
  (within-one-doc repeats are the repetition filters' job, not cut
  here);
- the CANONICAL occurrence is the smallest (doc_id, pos); the
  canonical document keeps all its tokens — only other documents'
  occurrences are cut;
- cutting removes every token covered by some duplicated non-canonical
  span occurrence; overlapping occurrences union their cover.

Scale shape: gram hashing is a narrow array pipeline fused into the
scan (no window); the only corpus-scale shuffles are the gram groupBy
(stats per distinct gram) and the cut-list join back. The tokenized
frame is materialized ONCE (localCheckpoint) and serves both the gram
path and the reassembly path — without it the upstream plan (in the
pipeline: scrub + quality + LSH dedup) would re-execute per branch.
Reassembly is a LINEAR sweep: one fold over the doc's sorted cut
starts emits the kept slices between merged cut intervals — O(tokens +
cuts) per row, never O(tokens x cuts).

Known artifact (shared with ExactSubstr): cutting a span can abut the
remaining text into NEW n-grams that did not exist before, so the pass
is not idempotent in pathological cases; production pipelines run it
once (or to a fixpoint if needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalize_token, tokenize
from ..sources.tables import spread


def _raw_tokens(text_col):
    """Raw whitespace tokens, empties (from leading/trailing space)
    dropped; null text behaves as empty."""
    return F.filter(
        tokenize(F.coalesce(text_col, F.lit(""))),
        lambda t: t != F.lit(""),
    )


def _tokenized(docs: DataFrame) -> DataFrame:
    """(doc_id, tks) materialized once for all downstream branches."""
    return (
        spread(docs)
        .select("doc_id", _raw_tokens(F.col("text")).alias("tks"))
        .localCheckpoint(eager=False)
    )


def _gram_hash(tks, i, n: int):
    """Full md5 of the normalized n-token join starting at i —
    case/punctuation-insensitive span identity, 128-bit so the hash
    alone can safely drive the cut. Shuffled as 16-byte BINARY
    (``unhex``), not the 32-char hex string: the gram groupBy is the
    pass's dominant exchange and the binary form halves its key bytes."""
    return F.unhex(
        F.md5(
            F.concat_ws(
                " ", F.transform(F.slice(tks, i + 1, n), normalize_token)
            )
        )
    )


def _span_grams_from(toks: DataFrame, n: int) -> DataFrame:
    grams = F.when(
        F.size("tks") >= n,
        F.transform(
            F.sequence(F.lit(0), F.size("tks") - n),
            lambda i: _gram_hash(F.col("tks"), i, n),
        ),
    ).otherwise(F.array().cast("array<binary>"))
    return toks.select("doc_id", F.posexplode(grams).alias("pos", "gram_hash"))


def _cut_list(toks: DataFrame, n: int) -> DataFrame:
    """(doc_id, pos) of every duplicated-span occurrence outside its
    canonical document."""
    grams = _span_grams_from(toks, n)
    stats = grams.groupBy("gram_hash").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.min(F.struct("doc_id", "pos")).alias("first"),
    )
    dups = stats.where(F.col("n_docs") >= 2).select(
        "gram_hash", F.col("first.doc_id").alias("canon_doc")
    )
    return (
        grams.join(dups, "gram_hash")
        .where(F.col("doc_id") != F.col("canon_doc"))
        .select("doc_id", "pos")
    )


def remove_duplicate_spans(docs: DataFrame, n: int = 20) -> DataFrame:
    """(doc_id, text, n_tokens_removed): each document with every
    duplicated non-canonical span's tokens cut (occurrence at pos
    covers [pos, pos+n); overlaps union). Surviving tokens are the
    ORIGINAL raw tokens, single-space joined; documents with nothing
    to cut keep their full token stream.
    """
    if n < 2:
        raise ValueError(f"span width must be >= 2, got {n}")
    toks = _tokenized(docs)
    cuts = (
        _cut_list(toks, n)
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("pos")).alias("cut_starts"))
    )
    joined = toks.join(cuts, "doc_id", "left").withColumn(
        "cut_starts",
        F.coalesce("cut_starts", F.array().cast("array<int>")),
    )
    # Linear sweep over the SORTED cut starts: the fold's accumulator is
    # (kept tokens so far, first undecided position). Each start s
    # first keeps the uncut gap [free, s), then advances free past the
    # cut [s, s+n); the finisher keeps the tail. O(tokens + cuts).
    swept = F.aggregate(
        F.col("cut_starts"),
        F.struct(
            F.array().cast("array<string>").alias("kept"),
            F.lit(0).alias("free"),
        ),
        lambda acc, s: F.struct(
            F.when(
                s > acc["free"],
                F.concat(
                    acc["kept"],
                    F.slice(F.col("tks"), acc["free"] + 1, s - acc["free"]),
                ),
            )
            .otherwise(acc["kept"])
            .alias("kept"),
            F.greatest(acc["free"], s + F.lit(n)).alias("free"),
        ),
        lambda acc: F.when(
            F.size("tks") > acc["free"],
            F.concat(
                acc["kept"],
                F.slice(
                    F.col("tks"),
                    acc["free"] + 1,
                    F.size("tks") - acc["free"],
                ),
            ),
        ).otherwise(acc["kept"]),
    )
    return joined.select(
        "doc_id",
        F.array_join(swept, " ").alias("text"),
        (F.size("tks") - F.size(swept)).cast("long").alias("n_tokens_removed"),
    )
