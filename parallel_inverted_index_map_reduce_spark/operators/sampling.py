"""Deterministic sampling for training-data pipelines.

RNG-based sampling (``df.sample``) is reproducible only per
(seed, partitioning) — repartition the input and the sample changes.
These operators key every decision on a content hash
(functions/hashing.py, the same md5 family the dedup/sketch ops use),
so the sample is a pure function of the DATA: stable across runs,
partitionings, engines, and cluster sizes. That property is what makes
a 100 TB pipeline debuggable — re-running any slice reproduces the
exact same training set.

All decisions are per-row filters on a codegen hash expression: no
shuffle, no state, trivially parallel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import stable_hash32

_HASH_SPACE = float(2**32)


def _unit_hash(key: Column, salt: str) -> Column:
    """Uniform [0, 1) from the md5 hash of (salt, key) — the salt
    decorrelates different sampling decisions over the same keys."""
    return stable_hash32(F.concat_ws("\x1f", F.lit(salt), key.cast("string"))) / F.lit(
        _HASH_SPACE
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key: str,
    salt: str = "strata",
) -> DataFrame:
    """Per-stratum fractions (absent strata drop to 0) — hash-decided,
    so rerunning yields the identical sample."""
    frac = None
    for value, f in fractions.items():
        case = F.when(F.col(strata_col) == value, F.lit(float(f)))
        frac = case if frac is None else frac.when(
            F.col(strata_col) == value, F.lit(float(f))
        )
    frac = frac.otherwise(F.lit(0.0)) if frac is not None else F.lit(0.0)
    return df.where(_unit_hash(F.col(key), salt) < frac)


def mix_to_proportions(
    df: DataFrame,
    strata_col: str,
    weights: dict[str, float],
    key: str,
    salt: str = "mix",
) -> tuple[DataFrame, dict[str, float]]:
    """Downsample strata so the output mixture matches ``weights``
    (a domain-mixing pass: e.g. {"web": 0.6, "code": 0.3, "books": 0.1}).

    Solves for the LARGEST achievable output: the binding stratum (the
    one whose corpus runs out first relative to its target share) keeps
    fraction 1.0 and every other stratum downsamples to match, so no
    stratum is ever upsampled (duplication belongs to the trainer's
    epoch logic, not the corpus). Strata absent from ``weights`` drop.

    Expected output size per stratum s: scale * w_s where
    scale = min_s(count_s / w_s); keep fractions are exact expectations,
    realized by the same deterministic content-hash filter the other
    samplers use, so the mixture is reproducible bit-for-bit across
    runs, partitionings, and cluster sizes.

    The per-stratum counts are ONE tiny aggregate (strata cardinality ~
    dozens) collected to the driver — the same driver-scalar pattern as
    the k-means centroids; the data-scale pass stays a per-row filter.

    Returns (mixed_df, fractions) so callers can log the realized plan.
    """
    # Fail fast BEFORE the strata-count job: a bad weights map must not
    # cost a corpus aggregation (and an empty set would make
    # _strata_counts fall through to counting ALL non-null strata).
    if not weights or any(w <= 0 for w in weights.values()):
        raise ValueError("weights must be a non-empty map of positive shares")
    counts = _strata_counts(df, strata_col, strata=set(weights))
    fractions = _mix_fractions(weights, counts)
    return stratified_sample(df, strata_col, fractions, key, salt), fractions


def _strata_counts(
    df: DataFrame, strata_col: str, strata: set | None = None
) -> dict[str, int]:
    """Per-stratum row counts — ONE tiny aggregate (strata cardinality ~
    dozens) collected to the driver. NULL strata are excluded (they can
    neither be weighted nor sampled by value)."""
    scoped = (
        df.where(F.col(strata_col).isin(*strata))
        if strata
        else df.where(F.col(strata_col).isNotNull())
    )
    return {
        r[strata_col]: r["n"]
        for r in scoped.groupBy(strata_col)
        .agg(F.count("*").alias("n"))
        .collect()
    }


def _mix_fractions(
    weights: dict[str, float], counts: dict[str, int]
) -> dict[str, float]:
    """Largest-achievable-output keep fractions for a target mixture
    (the binding stratum keeps 1.0; nothing upsamples)."""
    if not weights or any(w <= 0 for w in weights.values()):
        raise ValueError("weights must be a non-empty map of positive shares")
    total_w = sum(weights.values())
    missing = sorted(set(weights) - set(counts))
    if missing:
        raise ValueError(f"strata absent from the data: {missing}")
    scale = min(counts[s] / (w / total_w) for s, w in weights.items())
    return {
        s: min(1.0, scale * (w / total_w) / counts[s])
        for s, w in weights.items()
    }


def train_test_split(
    df: DataFrame, key: str, test_fraction: float = 0.1, salt: str = "split"
) -> tuple[DataFrame, DataFrame]:
    """(train, test): disjoint, exhaustive, leak-proof by construction —
    one hash decides each key's side, so an entity can never straddle
    the boundary (the classic eval-leak bug when splitting by row)."""
    h = _unit_hash(F.col(key), salt)
    test = df.where(h < F.lit(float(test_fraction)))
    train = df.where(h >= F.lit(float(test_fraction)))
    return train, test


def temperature_weights(
    df: DataFrame, strata_col: str, alpha: float
) -> dict[str, float]:
    """Temperature-based domain weights: w_s proportional to n_s^alpha —
    the standard LLM corpus-mixing scheme (alpha=1 keeps the natural
    mixture, alpha=0 equalizes every domain, alpha in between boosts
    rare domains relative to their natural share; cf. the multilingual
    sampling rule of Devlin et al. 2019 / the dataset-mixing setups of
    GPT-3-era training recipes). One strata-cardinality aggregate, the
    usual driver-scalar pattern."""
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    return _temperature_weights_from_counts(
        _strata_counts(df, strata_col), strata_col, alpha
    )


def _temperature_weights_from_counts(
    counts: dict[str, int], strata_col: str, alpha: float
) -> dict[str, float]:
    """The engine's cross-engine determinism discipline, applied to the
    weight solve: each n^alpha is rounded to 9 decimals (libm pow's
    last bits differ across platforms; the BM25 idf rule), and the
    normalizer sums those 9-decimal values as exact decimals — addition
    order cannot change it — so every weight is ONE IEEE division of
    two bit-reproducible operands, independent of dict/collection order
    and reproducible by the SQL twin (round(pow(n, a), 9) summed as
    DECIMAL)."""
    from decimal import Decimal

    if not counts:
        raise ValueError(f"no non-null strata in {strata_col!r}")
    raw = {s: round(float(n) ** alpha, 9) for s, n in counts.items()}
    total = float(sum(Decimal(f"{r:.9f}") for r in raw.values()))
    return {s: r / total for s, r in raw.items()}


def priority_sample(
    df: DataFrame,
    key: str,
    weight_col: str,
    k: int,
    salt: str = "priority",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, deterministically:
    Efraimidis & Spirakis 2006 ("Weighted random sampling with a
    reservoir"), the A-Res scheme with the hash as the uniform draw.
    Each row gets priority -ln(u)/w (u = the salted unit hash of its
    key, shifted into (0, 1]; w = its weight, clamped to >= 1); the k
    SMALLEST priorities are the sample — provably equivalent to
    sequential weighted draws without replacement, yet a pure function
    of the data like every sampler here.

    Determinism discipline: libm log's last bits differ across
    platforms, so the priority is rounded to 9 decimals and ties break
    on the key (the BM25 idf rule) — rank and membership are then
    bit-reproducible and SQL-twinnable.

    Scale shape: the priority is one codegen expression per row; the
    k-subset is orderBy(...).limit(k) — Spark's TakeOrdered, a
    per-partition top-k then a k-row merge, never a global sort. The
    final rank window runs over k rows on one task.
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"need k >= 1, got {k}")
    u = (
        stable_hash32(F.concat_ws("\x1f", F.lit(salt), F.col(key).cast("string")))
        + F.lit(1)
    ) / F.lit(_HASH_SPACE)
    w = F.greatest(F.col(weight_col).cast("double"), F.lit(1.0))
    pri = F.round(-F.log(u) / w, 9)
    top = (
        df.select(F.col(key), F.col(weight_col), pri.alias("priority"))
        .orderBy("priority", key)
        .limit(k)
    )
    rk = Window.orderBy("priority", key)
    return top.select(
        key,
        weight_col,
        "priority",
        F.row_number().over(rk).cast("long").alias("rank"),
    )


def quota_sample(
    df: DataFrame,
    strata_col: str,
    key: str,
    k: int,
    salt: str = "quota",
) -> DataFrame:
    """EXACT per-stratum quotas: the k rows of each stratum whose salted
    key hashes order first (fraction-based stratified_sample hits a
    TARGET RATE; evaluation-set construction wants exactly-k-per-domain,
    which a fraction cannot promise). Hash-ordered, so the quota set is
    stable across runs, partitionings, and engines; rows beyond the
    quota drop; strata smaller than k keep everything. NULL strata drop
    (no domain to fill a quota for).

    Scale shape: one hash projection + one rank window partitioned by
    stratum. Strata counts are corpus-scale but each window partition
    sorts only its own stratum; when one stratum dominates the corpus,
    use :func:`quota_sample_scalable` — the decomposed two-phase form
    (bucket-local top-k, then a merge over <= n_buckets * k survivors)
    proven row-identical to this one.
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"need k >= 1, got {k}")
    h = stable_hash32(
        F.concat_ws("\x1f", F.lit(salt), F.col(key).cast("string"))
    )
    rk = Window.partitionBy(strata_col).orderBy(h.asc(), F.col(key).asc())
    return (
        df.where(F.col(strata_col).isNotNull())
        .select(
            strata_col,
            key,
            F.row_number().over(rk).cast("long").alias("rank"),
        )
        .where(F.col("rank") <= k)
    )


def quota_sample_scalable(
    df: DataFrame,
    strata_col: str,
    key: str,
    k: int,
    n_buckets: int = 64,
    salt: str = "quota",
) -> DataFrame:
    """:func:`quota_sample` with the hot-stratum sort DECOMPOSED into
    bucket-local top-ks and a small re-rank of their union.

    The plain form windows over the stratum, so one task sorts each
    stratum end to end; a stratum holding half the corpus is then one
    giant sort. Here the stratum splits into ``n_buckets`` CONTENT-HASH
    buckets (hash of the key — deterministic, partition-independent,
    never spark_partition_id):

    - phase 1 ranks within (stratum, bucket) and keeps each bucket's k
      smallest — n_buckets tasks each sort ~1/n_buckets of the stratum,
      and the union of bucket-local top-ks provably contains the
      stratum's global top-k;
    - phase 2 re-ranks the survivors within the stratum — at most
      n_buckets * k rows per stratum, trivially one task.

    Proven row-identical to quota_sample for every (k, n_buckets) in
    tests/test_sampling.py. Two bounded shuffles instead of one
    unbounded one; pick n_buckets ~ cluster parallelism / n_strata.
    """
    from pyspark.sql import Window

    if k < 1 or n_buckets < 1:
        raise ValueError(f"need k >= 1 and n_buckets >= 1, got {k}, {n_buckets}")
    h = stable_hash32(
        F.concat_ws("\x1f", F.lit(salt), F.col(key).cast("string"))
    )
    staged = (
        df.where(F.col(strata_col).isNotNull())
        .select(
            strata_col,
            key,
            h.alias("_h"),
            (h % n_buckets).alias("_bucket"),
        )
    )
    w_local = Window.partitionBy(strata_col, "_bucket").orderBy(
        F.col("_h").asc(), F.col(key).asc()
    )
    survivors = staged.withColumn(
        "_lr", F.row_number().over(w_local)
    ).where(F.col("_lr") <= k)
    w_global = Window.partitionBy(strata_col).orderBy(
        F.col("_h").asc(), F.col(key).asc()
    )
    return (
        survivors.select(
            strata_col,
            key,
            F.row_number().over(w_global).cast("long").alias("rank"),
        )
        .where(F.col("rank") <= k)
    )


def priority_sample_scalable(
    df: DataFrame,
    key: str,
    weight_col: str,
    k: int,
    n_buckets: int = 64,
    salt: str = "priority",
) -> DataFrame:
    """:func:`priority_sample` for LARGE k — the same A-Res priorities,
    ranked without TakeOrdered's driver-side k-row merge (fine at
    k=25, wrong at k=10M) and without any single task sorting the
    corpus.

    The rank decomposes over buckets of the priority's VALUE RANGE
    (priorities are round-9 -ln(u)/w with w >= 1, so they live in
    [0, 22.181): u >= 2^-32 bounds -ln(u)):

    - bucket = floor(p / 22.181 * n_buckets): rank order IS bucket
      order, so global rank = (count in lower buckets) + (rank within
      bucket);
    - bucket counts -> running offsets: one window over n_buckets rows;
    - within-bucket rank: a window whose partition count is n_buckets,
      each sorting ~1/n_buckets of the corpus (weight-skewed corpora
      make buckets uneven — still n_buckets-way spread, and only
      correctness, not balance, is load-bearing);
    - keep global rank <= k.

    Proven row-identical to priority_sample at small k and
    partition-invariant in tests/test_sampling.py.
    """
    from pyspark.sql import Window

    if k < 1 or n_buckets < 1:
        raise ValueError(f"need k >= 1 and n_buckets >= 1, got {k}, {n_buckets}")
    _P_MAX = 22.181  # -ln(2^-32) = 22.1807...; round-9 keeps p below this
    u = (
        stable_hash32(F.concat_ws("\x1f", F.lit(salt), F.col(key).cast("string")))
        + F.lit(1)
    ) / F.lit(_HASH_SPACE)
    w = F.greatest(F.col(weight_col).cast("double"), F.lit(1.0))
    pri = F.round(-F.log(u) / w, 9)
    staged = df.select(
        F.col(key),
        F.col(weight_col),
        pri.alias("priority"),
        F.least(
            F.lit(n_buckets - 1),
            F.floor(pri / _P_MAX * n_buckets).cast("int"),
        ).alias("_bucket"),
    )
    counts = staged.groupBy("_bucket").agg(F.count("*").alias("_n"))
    w_off = Window.orderBy("_bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_bucket",
        F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_offset"),
    )
    w_in = Window.partitionBy("_bucket").orderBy(
        F.col("priority").asc(), F.col(key).asc()
    )
    return (
        staged.withColumn("_within", F.row_number().over(w_in))
        .join(F.broadcast(offsets), "_bucket")
        .select(
            key,
            weight_col,
            "priority",
            (F.col("_offset") + F.col("_within")).cast("long").alias("rank"),
        )
        .where(F.col("rank") <= k)
    )
