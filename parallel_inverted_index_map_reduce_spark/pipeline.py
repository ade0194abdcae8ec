"""The end-to-end training-data preparation pipeline.

Composes the engine's operator library into the flow a real corpus
takes on its way to a trainer, in the canonical order (each stage
shrinks or shapes the data the next stage pays for):

    scrub (mask PII-shaped text)
    -> quality + language filter (cheap column math drops junk early)
    -> repetition filter          (optional: Gopher dup5 predicate)
    -> decontaminate vs eval sets (optional: n-gram containment)
    -> near-dup dedup keep-list   (exact -> MinHash/LSH -> verify)
    -> span-level dedup           (optional: cut repeated cross-doc
                                   spans the doc-level pass can't see)
    -> mix to domain proportions  (optional: post-dedup, so dedup
                                   can't skew the target ratios)
    -> chunk (split long docs into overlapping token windows)
    -> pack  (FFD-bin chunks into fixed token budgets)
    -> write (hive-partitioned parquet, bounded file counts; or
              deterministic hash-ordered training shards)

Every stage is the already-tested operator; this module only wires
them. At 100 TB the stage ORDER is the optimization: scrubbing and
filtering are per-row codegen (no shuffle), so they run before the
first shuffle (dedup) touches the network, and packing runs on chunk
metadata only — the text itself is shuffled exactly once (dedup's
shingle aggregation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.scrub import scrub_text
from .operators.chunking import chunk_documents
from .operators.dedup import near_dup_keep_list
from .operators.packing import pack_sequences
from .operators.textstats import quality_scores
from .sinks.partitioned import write_partitioned


def prepare_training_data(
    docs: DataFrame,
    min_quality: float = 0.3,
    languages: tuple[str, ...] = ("en",),
    dedup_threshold: float = 0.8,
    chunk_tokens: int = 128,
    overlap: int = 16,
    budget: int = 256,
    eval_docs: DataFrame | None = None,
    contamination_threshold: float = 0.5,
    max_dup5_frac: float | None = None,
    source_weights: dict[str, float] | None = None,
    dedup_policy: str = "one_pass",
    span_dedup_width: int | None = None,
) -> DataFrame:
    """documents(doc_id, text, ...) -> packed chunks
    (doc_id, chunk_id, n_tokens, chunk, bin_id).

    ``languages`` filters on the corpus's language label when one exists
    (the heuristic guesser in operators/textstats.py fills it upstream
    for unlabeled corpora); empty tuple disables the filter.

    ``eval_docs`` (optional) enables benchmark decontamination: training
    documents containing >= ``contamination_threshold`` of any eval
    document's shingles are dropped before dedup (cheapest point — the
    eval join runs on the already-quality-filtered survivors, and
    removed docs never pay for shingling twice downstream).

    ``max_dup5_frac`` (optional) drops documents whose duplicate-5-gram
    fraction exceeds it (the Gopher repetition filter,
    operators/textstats.py repetition_stats) — a per-row codegen
    predicate, so it rides the same pre-shuffle stage as the quality
    filter.

    ``dedup_policy`` selects the duplicate-resolution rule on the same
    candidate evidence: ``"one_pass"`` (default) drops any doc matching
    a smaller id (operators/dedup.py near_dup_keep_list, no iteration);
    ``"cluster_best"`` groups duplicates into connected components and
    keeps each cluster's highest-quality member
    (operators/components.py), reusing the quality scores this pipeline
    already computed.

    ``span_dedup_width`` (optional) additionally cuts repeated
    ``span_dedup_width``-token spans ACROSS the deduped survivors
    (operators/spandedup.py — boilerplate that doc-level dedup cannot
    see). It runs AFTER doc-level dedup so whole-document duplicates
    are resolved by the cheaper keep-list first. Surviving tokens are
    the ORIGINAL raw tokens (digits/case/punctuation intact; only
    inter-token whitespace collapses), and only documents cut to
    nothing drop out.

    ``source_weights`` (optional) mixes the DEDUPED corpus to a target
    domain mixture (operators/sampling.py mix_to_proportions). It runs
    after dedup on purpose: dedup removes documents non-uniformly across
    sources, so mixing any earlier would let dedup skew the final
    ratios.

    Returns a DataFrame so callers can inspect before writing;
    :func:`run_and_land` adds the sink.
    """
    scrubbed = docs.withColumn("text", scrub_text(F.col("text")))
    if languages and "lang" in scrubbed.columns:
        scrubbed = scrubbed.where(F.col("lang").isin(*languages))

    quality = quality_scores(scrubbed).select("doc_id", "quality_score")
    kept_quality = scrubbed.join(
        quality.where(F.col("quality_score").cast("double") >= min_quality),
        "doc_id",
        "left_semi",
    )
    if max_dup5_frac is not None:
        from .operators.textstats import repetition_stats

        rep = repetition_stats(scrubbed).where(
            F.col("dup5_frac").cast("double") <= max_dup5_frac
        )
        kept_quality = kept_quality.join(
            rep.select("doc_id"), "doc_id", "left_semi"
        )

    if eval_docs is not None:
        from .operators.decontam import decontaminate

        # the train side was scrubbed above, so the eval side must be
        # scrubbed IDENTICALLY before shingling: otherwise each masked
        # PII token in a train doc kills up to 3 of a raw eval doc's
        # shingles and a verbatim embedding of a PII-bearing benchmark
        # prompt slips under the containment threshold
        eval_scrubbed = eval_docs.withColumn("text", scrub_text(F.col("text")))
        kept_quality = decontaminate(
            kept_quality, eval_scrubbed, threshold=contamination_threshold
        )

    if dedup_policy == "cluster_best":
        from .operators.components import (
            cluster_representatives,
            near_dup_clusters,
        )

        clusters = near_dup_clusters(kept_quality, threshold=dedup_threshold)
        keep = cluster_representatives(clusters, quality)
    elif dedup_policy == "one_pass":
        keep = near_dup_keep_list(kept_quality, threshold=dedup_threshold)
    else:
        raise ValueError(f"unknown dedup_policy: {dedup_policy!r}")
    deduped = kept_quality.join(
        keep.where("keep").select("doc_id"), "doc_id", "left_semi"
    )

    if span_dedup_width is not None:
        from .operators.spandedup import remove_duplicate_spans

        cut = remove_duplicate_spans(deduped, n=span_dedup_width)
        # re-attach the non-text columns (lang/source survive for the
        # mixing stage); drop ONLY docs the cut emptied — a doc whose
        # text was already empty/whitespace passes through, same as the
        # span-dedup-off path would treat it
        deduped = (
            deduped.drop("text")
            .join(cut, "doc_id")
            .where((F.col("text") != "") | (F.col("n_tokens_removed") == 0))
            .drop("n_tokens_removed")
        )

    if source_weights is not None:
        from .operators.sampling import mix_to_proportions

        deduped, _ = mix_to_proportions(
            deduped, "source", source_weights, key="doc_id"
        )

    # The packer carries the (doc_id, chunk_id) composite key through
    # unchanged — no bit-packed single key, which would collide for
    # doc_id >= 2^31 (and would wrap entirely on an int32 doc_id).
    chunks = chunk_documents(deduped, chunk_tokens=chunk_tokens, overlap=overlap)
    packed = pack_sequences(
        chunks, budget=budget, token_col="n_tokens", id_cols=("doc_id", "chunk_id")
    )

    return (
        chunks.join(
            packed.select("doc_id", "chunk_id", "bin_id"),
            ["doc_id", "chunk_id"],
        )
        .select("doc_id", "chunk_id", "n_tokens", "chunk", "bin_id")
    )


def run_and_land(
    spark: SparkSession, docs: DataFrame, out_dir: str, **kwargs
) -> DataFrame:
    """Prepare and write, partitioned by a bin-id bucket so a trainer
    shards by directory; returns what was written."""
    packed = prepare_training_data(docs, **kwargs)
    landed = packed.withColumn(
        "shard", (F.col("bin_id") % 16).cast("int")
    )
    write_partitioned(landed, out_dir, ["shard"])
    return packed
