"""Deduplication operators for large-corpus pipelines.

The reference dedups (word, doc) pairs inside its reducer
(/root/reference/src/main.cpp:183-200); these operators generalize that
to whole-document dedup at training-pipeline scale:

- exact:    hash-groupBy on the document text (one shuffle; at 100 TB
            hash first so the shuffle moves 16-byte digests, not texts)
- minhash:  shingle -> 16-permutation MinHash -> banded LSH buckets ->
            candidate pairs -> exact-Jaccard verify. Only bucket
            collisions are verified, so the pair stage never goes
            quadratic in the corpus; everything is built-in exprs
            (md5/conv arithmetic), no Python in the hot path.
- simhash:  32-bit sign-aggregated fingerprints; near-dups = pairs with
            small Hamming distance (bit_count(xor)).

All hashing uses functions/hashing.py so the DuckDB oracle reproduces
results exactly. The LSH-prune-then-verify shape follows the MapReduce
similarity-join literature (PAPERS.md: "Parallel Top-K Similarity Join
Algorithms Using MapReduce", ICDE 2012; "PHiDJ: Parallel similarity
self-join for high-dimensional vector data with MapReduce", ICDE 2014 —
patterns only, no code reuse).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.exprs import stable_round6
from ..functions.hashing import (
    LSH_BANDS,
    LSH_ROWS,
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
    NUM_PERM,
    stable_hash32,
)


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """(text_hash, keep_doc_id, n_dups): canonical doc per distinct text."""
    from ..sources.tables import spread

    return (
        spread(docs)
        .select("doc_id", F.md5(F.col("text").cast("binary")).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_dups"))
    )


def token_positions(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, tok): 0-based positions, empty tokens kept out but
    positions assigned before filtering (identical in the oracle).
    Input spread to cluster parallelism (see sources/tables.py)."""
    from ..sources.tables import spread

    return (
        spread(docs).select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
        )
        .where(F.col("tok") != "")
    )


def shingles(docs: DataFrame, n: int = 3, distinct: bool = True) -> DataFrame:
    """(doc_id, shingle_hash): hashed n-gram token shingles.

    Built as an array ``transform`` over the token array instead of a
    ``lead`` window: the window version shuffles + sorts every token by
    doc_id first, while this is a narrow per-row expression — zero
    shuffles before the (optional) distinct. Output is identical (the
    SQL oracle still uses the windowed formulation, proving equivalence).

    ``distinct=True`` gives set semantics (required for exact Jaccard)
    at the cost of a full shuffle of (doc_id, shingle_hash) at token
    scale. Consumers whose aggregate is duplicate-insensitive (``min``
    for MinHash) pass ``distinct=False`` and skip that shuffle entirely.
    """
    assert n == 3, "shingle width fixed at 3 to keep the codegen expression flat"
    from ..sources.tables import spread

    docs = spread(docs)
    sh = docs.select(
        "doc_id",
        F.expr(
            "filter(split(text, ' '), t -> t != '')"
        ).alias("tks"),
    ).select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(tks) < 3 THEN cast(array() AS array<string>) "
                "ELSE transform(sequence(0, size(tks) - 3), "
                "i -> concat_ws(' ', tks[i], tks[i + 1], tks[i + 2])) END"
            )
        ).alias("shingle"),
    )
    hashed = sh.select(
        "doc_id", stable_hash32(F.col("shingle")).alias("shingle_hash")
    )
    return hashed.distinct() if distinct else hashed


def minhash_table(docs: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh15): the whole signature in ONE aggregation.

    Each permutation is its own ``min`` aggregate over the shingle
    hashes, so the 16-way signature costs a single groupBy(doc_id) with
    map-side partial mins — no permutation explode (16x row blow-up),
    no second aggregation. This is the shape that scales: ``min`` is
    duplicate-insensitive, so the shingle stream skips the distinct
    shuffle and the only exchange moves one partial-min row per
    (doc, partition) — signature-width, not token-width.
    """
    sh = shingles(docs, distinct=False)
    # one F.expr parse per aggregate instead of ~8 py4j round trips each
    # (identical tree — sameSemantics pinned in tests/test_dedup_pipeline.py)
    aggs = [
        F.expr(
            f"min(({MINHASH_A[i]} * shingle_hash + {MINHASH_B[i]}) % {MINHASH_P})"
        ).alias(f"mh{i}")
        for i in range(NUM_PERM)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


_BAND_SIG_COLS = ["band_id", *[f"sig_{r}" for r in range(LSH_ROWS)]]


def _band_signatures(docs_or_table: DataFrame) -> DataFrame:
    """(doc_id, band_id, sig_0..sig_{rows-1}): one row per (doc, band).

    Accepts either the documents table or a precomputed
    :func:`minhash_table` output (detected by column names). Band
    signature = the band's raw minhash longs as SEPARATE grouping
    columns, not a string concat: grouping hashes primitive longs
    instead of materializing 8 signature strings per doc (measured
    ~10% off the pipeline), and the shuffle rows shrink.
    """
    if "mh0" in docs_or_table.columns:
        mh = docs_or_table
    elif "text" in docs_or_table.columns:
        mh = minhash_table(docs_or_table)
    else:
        raise ValueError("expected documents or minhash_table output")
    structs = ", ".join(
        "named_struct("
        + ", ".join(
            [f"'band_id', {b}"]
            + [f"'sig_{r}', mh{b * LSH_ROWS + r}" for r in range(LSH_ROWS)]
        )
        + ")"
        for b in range(LSH_BANDS)
    )
    # single-parse explode (same tree as the struct-per-band Column
    # build it replaces; the named_struct field list is identical)
    bands = F.expr(f"explode(array({structs}))").alias("bs")
    return mh.select("doc_id", bands).select(
        "doc_id", *[f"bs.{c}" for c in _BAND_SIG_COLS]
    )


def lsh_candidate_pairs(
    docs_or_table: DataFrame, max_bucket: int | None = None
) -> DataFrame:
    """Distinct candidate (doc_a, doc_b) pairs colliding in >= 1 band.

    The only shuffle is the band-signature grouping itself. ``max_bucket``
    (optional) drops degenerate buckets — see :func:`_bucket_pairs`;
    callers that set it must also materialize
    :func:`lsh_bucket_overflow` so the drop is accounted, never silent.
    """
    sigs = _band_signatures(docs_or_table)
    return _bucket_pairs(sigs, _BAND_SIG_COLS, "doc_id", max_bucket=max_bucket)


def lsh_cross_candidates(
    new_table: DataFrame, landed_table: DataFrame
) -> DataFrame:
    """(doc_id, landed_id): band collisions BETWEEN two minhash tables
    — new documents vs an already-landed signature store — never within
    either side. The cross-batch analogue of :func:`lsh_candidate_pairs`
    for incremental pipelines: the landed side ships 16 longs per doc,
    not text."""
    a = _band_signatures(new_table)
    b = _band_signatures(landed_table).withColumnRenamed("doc_id", "landed_id")
    return a.join(b, _BAND_SIG_COLS).select("doc_id", "landed_id").distinct()


def minhash_estimate(
    new_table: DataFrame, landed_table: DataFrame, pairs: DataFrame
) -> DataFrame:
    """(doc_id, landed_id, est_jaccard): the standard MinHash estimator
    — the fraction of agreeing signature components. With 16
    permutations the standard error near j=0.8 is ~0.1, so this is a
    SUPPRESSOR (biased to keep), not an exact verifier; incremental
    pipelines use it where shingle-exact verification would require
    retaining every landed document's text."""
    a = new_table.select(
        "doc_id", *[F.col(f"mh{i}").alias(f"a{i}") for i in range(NUM_PERM)]
    )
    b = landed_table.select(
        F.col("doc_id").alias("landed_id"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(NUM_PERM)],
    )
    agree = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(NUM_PERM)
    )
    return (
        pairs.join(a, "doc_id")
        .join(b, "landed_id")
        .select(
            "doc_id",
            "landed_id",
            (agree / F.lit(float(NUM_PERM))).alias("est_jaccard"),
        )
    )


def lsh_bucket_overflow(
    docs_or_table: DataFrame, max_bucket: int
) -> DataFrame:
    """(band_id, sig_0.., n_members) for every LSH bucket larger than
    ``max_bucket`` — the accounting twin of
    ``lsh_candidate_pairs(..., max_bucket=...)``."""
    return bucket_overflow(
        _band_signatures(docs_or_table), _BAND_SIG_COLS, max_bucket
    )


def _cap_buckets(
    keyed: DataFrame, bucket_cols: list[str], max_bucket: int
) -> DataFrame:
    """Rows of buckets with <= max_bucket members, filtered BEFORE any
    membership array exists: the count is a window over the bucket key,
    whose exec buffers narrow spillable rows — the giant bucket never
    reaches a collect_list aggregation buffer (arrays cannot spill
    mid-group; rows can). The window's exchange hash-partitions on the
    bucket key, which the downstream groupBy reuses — capping costs no
    extra shuffle."""
    w = Window.partitionBy(*bucket_cols)
    return (
        keyed.withColumn("_n_bucket", F.count("*").over(w))
        .where(F.col("_n_bucket") <= max_bucket)
        .drop("_n_bucket")
    )


def bucket_overflow(
    keyed: DataFrame, bucket_cols: list[str], max_bucket: int
) -> DataFrame:
    """(*bucket_cols, n_members) for every bucket whose membership
    exceeds ``max_bucket`` — the explicit accounting for a capped pair
    expansion. No silent caps: a pipeline that passes ``max_bucket``
    must count/log this frame next to the pairs it kept."""
    return (
        keyed.groupBy(*bucket_cols)
        .agg(F.count("*").alias("n_members"))
        .where(F.col("n_members") > max_bucket)
    )


def _bucket_pairs(
    keyed: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    max_bucket: int | None = None,
) -> DataFrame:
    """Distinct (doc_a, doc_b) pairs co-occurring in >= 1 bucket.

    One groupBy + in-bucket pair expansion instead of a bucket-key
    self-join: the self-join form evaluates its (possibly expensive)
    input subplan TWICE — broadcast-hash plans never reuse the shuffle
    exchange, and even SMJ reuse is plan-fragile — while this computes
    the input once and shuffles each (bucket, id) row once. Pair
    expansion emits each unordered pair exactly once per bucket
    (doc_a < doc_b: the membership array is sorted), staged as
    posexplode(member) -> slice(later members) -> explode: peak
    per-row memory is ONE member's remaining-slice, never the bucket's
    full pair set (a single flatten(transform(...)) materializes all
    n^2/2 pair structs as one array value — ~150 MB per 3,000-member
    bucket, measured OOMing a 12g heap on the saturated sf1 simhash
    sweep). The cross-bucket ``distinct`` is unavoidable in either
    formulation.

    Width management (see :func:`_expand_pairs_adaptive`): every
    surviving (>= 2 member) bucket routes through ONE width-pinned
    round-robin exchange that AQE cannot coalesce, so an expansion can
    never be serialized into a byte-coalesced task. At small scale the
    pinned exchange carries only the few collision buckets (an
    unconditional
    pre-groupBy pin measured +0.3 s on the sf0.1 bench — pure task
    overhead); at fingerprint saturation the heavy buckets still get
    one task each at full width.

    Scale guard: pair volume is quadratic per bucket in ANY
    formulation. Exact dedup upstream collapses the classic degenerate
    case (byte-identical documents colliding in every band);
    ``max_bucket`` is the belt-and-braces cap for the rest (e.g.
    thousands of near-empty docs sharing a band signature): buckets
    beyond it are EXCLUDED from expansion — before their member array
    is ever built (see :func:`_cap_buckets`) — and surface in
    :func:`bucket_overflow`, which capped callers must materialize so
    the drop is visible, not silent. Default None preserves the
    lossless candidate set.
    """
    if max_bucket is not None:
        keyed = _cap_buckets(keyed, bucket_cols, max_bucket)
    aggd = (
        keyed.groupBy(*bucket_cols)
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .where(F.size("ids") >= 2)
        .select("ids")
    )
    return (
        _expand_pairs_adaptive(aggd, "ids")
        .select(F.col("x").alias("doc_a"), F.col("y").alias("doc_b"))
        .distinct()
    )


def _expand_pairs_adaptive(aggd: DataFrame, arr: str) -> DataFrame:
    """One row per unordered in-bucket pair, as element columns (x, y),
    from an aggregated frame carrying a sorted member array ``arr``
    (size >= 2 pre-filtered; callers drop the bucket key first).

    Expansion is staged posexplode(member) -> slice(later members) ->
    explode, bounding peak per-row memory at one member's remaining
    slice (a single flatten(transform(...)) materializes the whole
    n^2/2 pair set as ONE array value — measured OOMing a 12g heap at
    sf1 fingerprint saturation). ALL surviving buckets route through
    one width-pinned round-robin exchange AQE cannot coalesce, so no
    bucket's expansion ever lands in a byte-coalesced task. Round 11
    size-split this into an AQE-coalesced small branch plus a pinned
    big branch sharing the aggregation exchange — but the shared map
    meant BOTH branch reduces re-fetched the full bucket shuffle
    (singleton buckets, the vast majority, were fetched twice and then
    filtered), and the union doubled the final collect_list merge.
    The single pinned branch fetches the aggregation once and
    re-shuffles only >= 2-member buckets (round-12 A/B, one session
    interleaved min-of-7: minhash_lsh_pairs 1.068 -> 0.920 s,
    simhash_near_dups 2.203 -> 1.610 s, minhash_near_dups flat).
    """
    width = int(aggd.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        aggd.repartition(width)
        .select(arr, F.posexplode(arr).alias("i", "x"))
        .select(
            "x",
            F.explode(
                F.expr(f"slice({arr}, i + 2, size({arr}) - i - 1)")
            ).alias("y"),
        )
    )


def jaccard_verify(pairs: DataFrame, doc_shingles: DataFrame) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs only."""
    sizes = doc_shingles.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sh_a = doc_shingles.select(F.col("doc_id").alias("doc_a"), "shingle_hash")
    sh_b = doc_shingles.select(
        F.col("doc_id").alias("doc_b"), F.col("shingle_hash").alias("sh_b")
    )
    inter = (
        pairs.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .where(F.col("shingle_hash") == F.col("sh_b"))  # becomes part of the equi-join
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        pairs.join(inter, ["doc_a", "doc_b"], "left")
        .na.fill({"n_common": 0})
        .join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            # decimal round-trip: integer ratios can land on exact
            # decimal ties where double round(…,6) differs per engine
            stable_round6(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


def _canonical_docs(docs: DataFrame) -> DataFrame:
    """Exact-dedup survivors (one doc per distinct text) — the corpus
    the LSH stage of :func:`near_dup_keep_list` actually sees. Shared
    with :func:`near_dup_bucket_overflow` so capped-run accounting
    reflects the true post-exact-dedup buckets, not the raw corpus's."""
    exact = exact_dedup_groups(docs)
    return docs.join(
        exact.select(F.col("keep_doc_id").alias("doc_id")), "doc_id", "left_semi"
    )


def near_dup_bucket_overflow(docs: DataFrame, max_bucket: int) -> DataFrame:
    """The accounting twin of ``near_dup_keep_list(..., max_bucket=...)``:
    LSH buckets (over the SAME post-exact-dedup canonical corpus the
    keep-list caps) whose membership exceeds ``max_bucket``. Computing
    overflow over the raw docs instead would misreport — byte-identical
    duplicates collapse before LSH, so a thousand-copy bucket may never
    overflow in the actual run."""
    return lsh_bucket_overflow(_canonical_docs(docs), max_bucket)


def near_dup_keep_list(
    docs: DataFrame, threshold: float = 0.8, max_bucket: int | None = None
) -> DataFrame:
    """(doc_id, keep): the full training-pipeline dedup flow in one call.

    exact dedup -> MinHash/LSH candidates -> exact-Jaccard verify ->
    keep policy. The policy is the standard one-pass rule: a document is
    DROPPED iff it byte-duplicates a smaller doc_id, or its verified
    Jaccard against ANY smaller doc_id reaches ``threshold``. One
    anti-join, no iteration — deterministic on any partitioning.
    (Union-find grouping would keep slightly more docs on chains
    a~b~c where a!~c; that needs iterative label propagation, which a
    batch pipeline usually trades away for this single-pass rule.)

    ``max_bucket`` caps LSH bucket expansion (skipped buckets = missed
    candidates = docs conservatively KEPT, never wrongly dropped);
    capped runs report :func:`near_dup_bucket_overflow` alongside —
    the twin that measures the same post-exact-dedup corpus this
    function actually caps.

    Materialization discipline: ``pairs``, ``sh``, and ``drops`` are
    SMALL frames (band collisions / narrow int rows / dropped ids) atop
    the two most expensive subtrees in the engine, and each is
    referenced more than once downstream. Spark shares no common
    subplans across references, so without pinning, every reference
    re-runs the full LSH (or shingle) pipeline and the recomputation
    compounds multiplicatively — measured as a >100x wall blowup at a
    10x sf0.1 corpus before the fix (scripts/bench_scale.py,
    BENCH_NOTES.md round 4). Lazy ``localCheckpoint`` pins each to one
    computation without forcing evaluation at plan-construction time
    (plan guards still explain() these frames cheaply).
    """
    exact = exact_dedup_groups(docs)  # (text_hash, keep_doc_id, n_dups)
    canonical = (
        docs.select(
            "doc_id", F.md5(F.col("text").cast("binary")).alias("text_hash")
        )
        .join(exact, "text_hash")
    )
    exact_drops = canonical.where(
        F.col("doc_id") != F.col("keep_doc_id")
    ).select("doc_id")

    canon_docs = _canonical_docs(docs)
    pairs = lsh_candidate_pairs(
        canon_docs, max_bucket=max_bucket
    ).localCheckpoint(eager=False)
    sh = shingles(canon_docs, distinct=True).localCheckpoint(eager=False)
    verified = jaccard_verify(pairs, sh)
    # jaccard_verify renders through stable_round6 (string); compare
    # numerically. doc_a < doc_b by construction, so doc_b is the drop.
    near_drops = verified.where(
        F.col("jaccard").cast("double") >= F.lit(threshold)
    ).select(F.col("doc_b").alias("doc_id"))

    drops = (
        exact_drops.union(near_drops).distinct().localCheckpoint(eager=False)
    )
    return docs.select("doc_id").join(drops, "doc_id", "left_anti").select(
        "doc_id", F.lit(True).alias("keep")
    ).union(drops.select("doc_id", F.lit(False).alias("keep")))


SIMHASH_BITS = 32
SIMHASH_MAX_HAMMING = 6


def simhash_blocks(max_hamming: int = SIMHASH_MAX_HAMMING) -> list[tuple[int, int]]:
    """(offset, width) per pigeonhole block: ``max_hamming + 1`` disjoint
    bit blocks of the 32-bit fingerprint. If two fingerprints differ in
    at most ``max_hamming`` bits, at least one block is bit-identical —
    so an equi-join on any equal block finds every qualifying pair."""
    n_blocks = max_hamming + 1
    base, rem = divmod(SIMHASH_BITS, n_blocks)
    blocks, off = [], 0
    for i in range(n_blocks):
        width = base + (1 if i < rem else 0)
        blocks.append((off, width))
        off += width
    return blocks


def _simhash_keyed(docs: DataFrame, max_hamming: int) -> DataFrame:
    """(doc_id, simhash, block_id, block_val): each fingerprint exploded
    into its pigeonhole blocks — the bucketing both the pair search and
    its overflow accounting must share (any drift between the two would
    silently desynchronize reported drops from actual drops)."""
    fp = simhash_fingerprints(docs)
    blocks = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("block_id"),
                    F.shiftright(F.col("simhash"), off)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    .alias("block_val"),
                )
                for i, (off, width) in enumerate(simhash_blocks(max_hamming))
            ]
        )
    ).alias("blk")
    return fp.select("doc_id", "simhash", blocks).select(
        "doc_id", "simhash", "blk.block_id", "blk.block_val"
    )


def simhash_block_overflow(
    docs: DataFrame,
    max_bucket: int,
    max_hamming: int = SIMHASH_MAX_HAMMING,
) -> DataFrame:
    """(block_id, block_val, n_members) for pigeonhole blocks larger
    than ``max_bucket`` — the accounting twin of
    ``simhash_near_dups(..., max_bucket=...)``, built on the same
    :func:`_simhash_keyed` derivation."""
    return bucket_overflow(
        _simhash_keyed(docs, max_hamming), ["block_id", "block_val"], max_bucket
    )


# Uncapped simhash_near_dups fail-fast bound (members per pigeonhole
# block): ~5x the largest block the saturated sf1 sweep produced
# (~3,000 members at 50k docs in 32 bits — full-checksum proven), and
# far below the ~30k-member blocks whose quadratic pair stream killed
# the uncapped sf10 run with >70 GB of shuffle spill. 16384 members is
# ~134M pairs (~3 GB of pair rows) per block — survivable, but past
# any non-saturated corpus's honest block size.
_UNCAPPED_BLOCK_LIMIT = 16384


def simhash_near_dups(
    docs: DataFrame,
    max_hamming: int = SIMHASH_MAX_HAMMING,
    max_bucket: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, hamming): pairs with Hamming(simhash) <= max_hamming.

    Scale shape: NOT an all-pairs join. Each fingerprint explodes into
    ``max_hamming + 1`` (block_id, block_val) keys (pigeonhole banding,
    same prune-then-verify shape as the MinHash LSH band join above);
    candidates come from the (block_id, block_val) equi-join and only
    those are verified with bit_count(xor). Shuffle volume is
    O(docs * n_blocks), never O(docs^2).

    ``max_bucket`` guards degenerate blocks the same way as
    :func:`_bucket_pairs` — but note the pigeonhole banding is LOSSLESS
    only uncapped: a capped run trades the completeness guarantee for
    bounded task size and must materialize
    :func:`simhash_block_overflow` (same keyed derivation) to account
    for it.

    Uncapped runs carry a FAIL-FAST guard instead: at fingerprint
    saturation (corpus >> 2^SIMHASH_BITS) block membership grows
    linearly with the corpus and the pair stream quadratically — the
    uncapped sf10 sweep died of executor disk exhaustion after >70 GB
    of shuffle spill. A block larger than
    ``_UNCAPPED_BLOCK_LIMIT`` now raises inside the plan (one integer
    comparison per block, no extra job, no effect on any block under
    the limit — sf <= 1 results are byte-identical, where the largest
    saturated block is ~3k members) with a message naming the capped
    escape hatch, so the saturated run errors in seconds instead of
    grinding the disks for an hour first.
    """
    keyed = _simhash_keyed(docs, max_hamming)
    # Same bucket-local expansion shape as _bucket_pairs (one
    # aggregation, no self-join — the join form computes the
    # fingerprint pipeline twice), carrying each member's fingerprint
    # through the pair so the Hamming verify needs no join back.
    # sort_array orders by doc_id (first struct field), so
    # doc_a < doc_b by construction. Expansion shape and width policy
    # come from _expand_pairs_adaptive (staged memory-bounded
    # generators behind one width-pinned exchange — the single-flatten
    # form OOM'd a 12g heap on the saturated sf1 fingerprint space:
    # 50k docs in 32 bits -> ~3,000-member blocks).
    if max_bucket is not None:
        keyed = _cap_buckets(keyed, ["block_id", "block_val"], max_bucket)
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("long")
    aggd = (
        keyed.groupBy("block_id", "block_val")
        .agg(
            F.sort_array(F.collect_list(F.struct("doc_id", "simhash"))).alias("ms")
        )
        .where(F.size("ms") >= 2)
        .select("ms")
    )
    if max_bucket is None:
        # fail-fast saturation guard (docstring above): raise_error's
        # NullType branch coerces to the array type, so the column is
        # unchanged wherever the guard holds
        aggd = aggd.select(
            F.expr(
                f"CASE WHEN size(ms) <= {_UNCAPPED_BLOCK_LIMIT} THEN ms "
                "ELSE raise_error(concat('simhash_near_dups uncapped: "
                "pigeonhole block of ', size(ms), ' members exceeds "
                f"{_UNCAPPED_BLOCK_LIMIT} (fingerprint saturation - the "
                "pair stream is quadratic per block). Pass max_bucket to "
                "bound expansion and account the drop via "
                "simhash_block_overflow.')) END"
            ).alias("ms")
        )
    return (
        _expand_pairs_adaptive(aggd, "ms")
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.simhash").alias("sa"),
            F.col("y.simhash").alias("sb"),
        )
        # Hamming-verify BEFORE the cross-block distinct: candidates
        # that fail the threshold never enter the dedup shuffle (at
        # block saturation that is roughly half the pair stream).
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): 32-bit sign-aggregated token-hash fingerprint.

    Same one-aggregation shape as :func:`minhash_table`: each bit's
    +-1 sign sum is its own conditional ``sum`` aggregate, so the whole
    fingerprint costs a single groupBy(doc_id) with map-side partials —
    no 32x bit explode, no second shuffle. The SQL oracle keeps the
    exploded per-(doc,bit) formulation, proving the two are equivalent.
    """
    toks = token_positions(docs).select(
        "doc_id", stable_hash32(F.col("tok")).alias("h")
    )
    # one F.expr parse per bit instead of ~10 py4j calls each (the
    # 32-bit fingerprint build cost ~0.5 s of driver wall as Columns)
    bit_sums = [
        F.expr(
            f"sum(CASE WHEN (shiftright(h, {j}) & 1) = 1 THEN 1 ELSE -1 END)"
        ).alias(f"s{j}")
        for j in range(SIMHASH_BITS)
    ]
    per_doc = toks.groupBy("doc_id").agg(*bit_sums)
    fingerprint = " + ".join(
        f"CASE WHEN s{j} >= 0 THEN CAST({1 << j} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END"
        for j in range(SIMHASH_BITS)
    )
    return per_doc.select("doc_id", F.expr(fingerprint).alias("simhash"))
