"""Count-min sketch over the token stream: mergeable frequency
estimates in fixed space.

The frequency twin of the engine's existing cardinality/quantile
sketches (KMV threshold sketches in plans/queries_relational2.py,
Spark-native HLL/KLL in tests/test_approx_sketches.py): estimate any
term's occurrence count from a d x w counter table (Cormode &
Muthukrishnan 2005), without keeping the full vocabulary.

Why it matters at 100 TB: the sketch BUILD is one groupBy over
(seed, slot) — d*w result rows regardless of corpus size — and two
sketches MERGE by slot-wise addition, so per-partition / per-day /
per-shard sketches roll up without touching the token stream again
(the same commutative-monoid property that makes partial aggregation
work). Estimates are one-sided: est >= true count always, and
est <= true + eps*N with probability 1-delta for w = e/eps, d =
ln(1/delta).

Everything is md5-based column expressions (identical across engines
and partitionings — the repo's standard determinism recipe), zero
Python in the build path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens_df

DEFAULT_DEPTH = 4
DEFAULT_WIDTH = 256


def _slot(word_col, seed: int, width: int):
    """Deterministic hash slot: first 8 md5 hex chars of 'seed_word'
    as an unsigned int, mod width — the stable_hash32 recipe with a
    per-row-of-counters seed."""
    return (
        F.conv(
            F.substring(F.md5(F.concat_ws("_", F.lit(str(seed)), word_col)), 1, 8),
            16,
            10,
        ).cast("long")
        % width
    )


def cms_build(
    docs: DataFrame, depth: int = DEFAULT_DEPTH, width: int = DEFAULT_WIDTH
) -> DataFrame:
    """(seed, slot, width, c): the count-min counter table for the
    corpus's token stream — at most depth*width rows, any corpus size.
    The sketch is SELF-DESCRIBING: width rides along as a column and
    depth is derivable from the seeds, so estimates can never silently
    probe with mismatched geometry."""
    if depth < 1 or width < 1:
        raise ValueError(f"depth/width must be >= 1, got {depth}/{width}")
    toks = tokens_df(docs)
    # ONE corpus scan: each token explodes into its depth (seed, slot)
    # coordinates (a union of per-seed projections would scan the token
    # stream depth times).
    coords = toks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(seed).alias("seed"),
                        _slot(F.col("word"), seed, width).alias("slot"),
                    )
                    for seed in range(depth)
                ]
            )
        ).alias("p")
    )
    return (
        coords.select("p.seed", "p.slot")
        .groupBy("seed", "slot")
        .agg(F.lit(width).alias("width"), F.count("*").alias("c"))
    )


def cms_estimate(sketch: DataFrame, words: list[str]) -> DataFrame:
    """(word, est): min over the depth rows of each word's slot counter
    — an upper bound on the word's true occurrence count. The probe set
    is a tiny literal frame joined against the (bounded) sketch, so
    lookups never touch the corpus. Geometry (depth, width) is read
    FROM the sketch — a caller cannot probe with mismatched parameters
    and silently get zeros."""
    # pinned: the geometry probe (.first()) and the probe join would
    # otherwise each run the full sketch-build subtree — for a built
    # sketch that is a corpus-scale aggregation executed twice
    sketch = sketch.localCheckpoint(eager=False)
    geom = sketch.agg(
        F.max("seed").alias("max_seed"), F.max("width").alias("width")
    ).first()
    if geom["max_seed"] is None:
        raise ValueError("empty sketch: no counter rows to probe")
    depth, width = int(geom["max_seed"]) + 1, int(geom["width"])
    spark = sketch.sparkSession
    probes = spark.createDataFrame([(w,) for w in words], "word string").select(
        "word",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(seed).alias("seed"),
                        _slot(F.col("word"), seed, width).alias("slot"),
                    )
                    for seed in range(depth)
                ]
            )
        ).alias("p"),
    ).select("word", "p.seed", "p.slot")
    return (
        probes.join(F.broadcast(sketch), ["seed", "slot"], "left")
        .na.fill({"c": 0})
        .groupBy("word")
        .agg(F.min("c").alias("est"))
    )


def frequent_terms(
    docs: DataFrame, k: int = 100, min_count: int | None = None
) -> DataFrame:
    """(word, n): every term with global count > N/k, with its EXACT
    count — distributed heavy hitters via per-partition Misra-Gries
    summaries (Misra & Gries 1982; merged batch-at-a-time with the
    summary-reduction step of Agarwal et al. 2012, "Mergeable
    Summaries").

    TWO corpus scans, no stage corpus-vocabulary-sized:

    1. Each partition folds its tokens into a k-counter summary — but
       VECTORIZED: each Arrow batch is counted exactly with
       ``value_counts`` (C speed), merged into the running counters,
       then reduced back to k entries by subtracting the (k+1)-th
       largest counter from all and dropping the non-positive
       (the mergeable-summaries reduction). Each reduction removes at
       least (k+1) * cut total mass, so the sum of cuts — the most any
       word's counter can be under its true partition count — is at
       most N_p/(k+1). COMPLETENESS follows by pigeonhole: a word with
       global count > N/k exceeds N_p/(k+1) on some partition
       (otherwise the global sum could not reach N/k), so its counter
       there stays positive and it reaches the candidate set (at most
       k x partitions rows). The same pass emits each partition's
       token count as a sentinel row (word NULL), so N needs no extra
       corpus scan; the tiny summary frame is materialized once
       (localCheckpoint) and serves both the candidate set and N.
    2. One exact count of JUST the candidates (semi-join pushes the
       word filter into the token stream) removes the false positives
       Misra-Gries tolerates; the final threshold keeps count > N/k
       (or ``min_count`` when given).

    The full groupBy(word) this replaces shuffles the whole vocabulary;
    here the shuffle carries candidates only.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    import pandas as pd

    toks = tokens_df(docs)

    def mg(batches):
        counters: dict[str, int] = {}
        n_part = 0
        for pdf in batches:
            n_part += len(pdf)
            for w, c in pdf["word"].value_counts().items():
                counters[w] = counters.get(w, 0) + int(c)
            if len(counters) > k:
                # subtract the (k+1)-th largest count from every
                # counter, drop the non-positive: at most k survive,
                # and >= (k+1) counters each lose `cut`, so total cuts
                # across the partition sum to <= N_p/(k+1)
                cut = sorted(counters.values(), reverse=True)[k]
                counters = {w: c - cut for w, c in counters.items() if c > cut}
        yield pd.DataFrame(
            {
                "word": list(counters.keys()) + [None],
                "n_part": pd.array(
                    [None] * len(counters) + [n_part], dtype="Int64"
                ),
            }
        )

    summary = (
        toks.select("word")
        .mapInPandas(mg, "word string, n_part long")
        .localCheckpoint()
    )
    candidates = summary.where(F.col("word").isNotNull()).select("word").distinct()
    exact = (
        toks.join(candidates, "word", "left_semi")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    if min_count is not None:
        return exact.where(F.col("n") >= min_count)
    n_tokens = (
        summary.agg(F.coalesce(F.sum("n_part"), F.lit(0)).alias("n")).first()["n"]
    )
    return exact.where(F.col("n") > n_tokens / k)


# ---- deterministic HyperLogLog --------------------------------------
# Flajolet/Fusy/Gandouet/Meunier 2007, md5-based so the register table
# is bit-reproducible on any engine/partitioning (unlike Spark's
# native approx_count_distinct, whose HLL++ internals are
# engine-specific and stay accuracy-bound-tested only). 48-bit stable
# hash (round 8 — was 32-bit, whose collisions bend the estimate above
# ~10^8 distinct keys): bottom HLL_B bits pick the register, the
# remaining 42 bits' leading-zero count (+1) is rho. 48 bits buys the
# whole practical envelope with NO large-range correction branch — the
# 2^32-range correction exists to undo 32-bit hash saturation, and at
# 48 bits the expected collision undercount n^2/2^49 stays under 0.04%
# even at 10^11 distinct keys, far inside the m=64 rse of ~13%
# (tested at 10^7 real keys in tests/test_approx_sketches.py). The
# engine's KMV sketch covers the same estimate with a different
# space/accuracy trade (KMV: exact below the threshold, ~sqrt(1/k)
# error above; HLL: fixed 64 registers).

HLL_B = 6
HLL_M = 1 << HLL_B  # 64 registers
HLL_ALPHA = 0.709  # alpha_64 (exact constant for m = 64 in the paper)
_HLL_W_BITS = 48 - HLL_B  # 42


def hll_register_table(df: DataFrame, key_col) -> DataFrame:
    """(register, max_rho): the 64-row HLL summary of ``key_col``'s
    distinct count. Build = ONE groupBy producing m rows whatever the
    input size; two summaries MERGE by element-wise max (the same
    commutative-monoid shape as the count-min slot-wise sum), so
    per-shard summaries roll up without rescanning. Duplicate keys are free: max over
    identical hashes is idempotent, no distinct shuffle needed."""
    from ..functions.hashing import stable_hash48

    h = stable_hash48(key_col)
    w = F.shiftright(h, HLL_B)
    rho = F.when(
        w > 0, F.lit(_HLL_W_BITS + 1) - F.length(F.bin(w))
    ).otherwise(F.lit(_HLL_W_BITS + 1))
    return (
        df.select(
            (h % F.lit(HLL_M)).cast("int").alias("register"),
            rho.cast("int").alias("rho"),
        )
        .groupBy("register")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_estimate(regs: DataFrame) -> DataFrame:
    """One-row (estimate: double) from a register table.

    The harmonic sum S = sum(2^-rho) over all m registers (absent
    registers contribute 2^0 = 1) is a sum of 64 dyadic rationals with
    rho <= 43, so S needs at most 6 + 43 = 49 significand bits — EXACT
    in binary floating point whatever the order, so the raw estimate
    alpha*m^2/S is one correctly-rounded divide, identical on any
    engine. The small-range correction m*ln(m/V) (raw <= 2.5m with V
    empty registers) rounds its ln at 9 decimals — the engine's
    standard libm discipline (same as the bigram LM). No large-range
    branch: the 48-bit hash keeps collisions negligible through the
    whole cardinality envelope (module note above)."""
    # coalesce: an EMPTY register table (empty shard in a rollup) must
    # read as all-64-registers-at-zero -> the small-range branch returns
    # exactly 0, not a NULL that poisons downstream arithmetic
    agg = regs.agg(
        (
            F.coalesce(F.sum(F.pow(F.lit(2.0), -F.col("max_rho"))), F.lit(0.0))
            + (F.lit(HLL_M) - F.count("*"))
        ).alias("s"),
        (F.lit(HLL_M) - F.count("*")).cast("int").alias("v"),
    )
    raw = F.lit(HLL_ALPHA) * F.lit(float(HLL_M * HLL_M)) / F.col("s")
    corrected = (
        F.round(F.log(F.lit(float(HLL_M)) / F.col("v")), 9) * F.lit(HLL_M)
    )
    return agg.select(
        F.when((raw <= F.lit(2.5 * HLL_M)) & (F.col("v") > 0), corrected)
        .otherwise(raw)
        .alias("estimate")
    )
