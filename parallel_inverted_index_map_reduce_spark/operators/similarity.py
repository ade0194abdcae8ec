"""Vector similarity search over the ``embeddings`` table
(array<float>, dim 64).

Two paths, per SURVEY.md §7 Phase 4:

- *oracle path* (cross-engine exact): explode components, decimal-sum
  the products. Deterministic bit-for-bit in Spark and DuckDB, used for
  the correctness gate. O(n^2 * d) — fine at test scale.
- *fast path* (JVM vectorized): ``zip_with`` + ``aggregate`` fold over
  the arrays — one codegen stage, no explode blow-up. This is the
  shape you'd run at 100 TB, combined with bucketing: the LSH variant
  prunes candidates by random-hyperplane sign buckets so the join is
  bucket-local instead of full cross.

PHiDJ (ICDE 2014, PAPERS.md) motivates the bucketed self-join shape for
high-dimensional vectors; the hyperplane-bucket variant below is that
idea with sign-LSH partitioning (patterns only, no code reuse).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import stable_hash32

DEC = "decimal(30,9)"


def norms(emb: DataFrame) -> DataFrame:
    """(vec_id, norm_sq): exact decimal ||v||^2 per non-empty vector —
    a per-row array fold (:func:`norm_sq_expr`), zero shuffles. Empty
    embeddings emit no row, mirroring the oracle's exploded
    formulation where a zero-component vector contributes nothing."""
    return emb.where(F.size("embedding") > 0).select(
        "vec_id", norm_sq_expr(F.col("embedding")).alias("norm_sq")
    )


def pairwise_cosine(emb: DataFrame, max_query_id: int | None = None) -> DataFrame:
    """(vec_a, vec_b, cosine): exact cross-engine cosine for all pairs
    (optionally only queries with vec_id < max_query_id on the left).

    Dot products and norms are per-pair array folds
    (:func:`decimal_dot_expr` — per-component products rounded at 7
    decimals, summed as decimals; decimal addition is exact and
    associative, so the fold equals the oracle's exploded
    SUM(CAST(round(x*y,7) AS DECIMAL)) bit-for-bit). The previous
    component-exploded formulation joined 64-wide unnested frames on
    the component INDEX — a 64-distinct-key join whose re-aggregation
    shuffled |queries| x |corpus| x dim rows (640M at sf10, with a
    straggling tail) — where this is one broadcast of the query side
    and a single corpus scan, no shuffle before top-k selection."""
    q = emb.where(F.size("embedding") > 0).select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("qe"),
        norm_sq_expr(F.col("embedding")).alias("na"),
    )
    # the query side broadcasts in EVERY path: with max_query_id it is
    # a bounded prefix; without, the caller is asking for all-pairs and
    # an unhinted cross join would shuffle both sides — broadcasting q
    # keeps it a single corpus scan (callers without the cap are tests
    # and capped oracle anchors; at scale, always pass max_query_id).
    # With no cap the broadcast is the WHOLE input: past Spark's 8 GB
    # broadcast limit that fails the job, so say so up front instead of
    # letting an executor OOM explain it.
    if max_query_id is not None:
        q = q.where(F.col("vec_a") < max_query_id)
    else:
        import warnings

        warnings.warn(
            "pairwise_cosine(max_query_id=None) broadcasts the ENTIRE "
            "input as the query side — intended for small/capped inputs "
            "(tests, md5-capped oracle anchors). At scale pass "
            "max_query_id, or pre-filter the input below broadcast size "
            "(~8 GB hard limit).",
            stacklevel=2,
        )
    q = F.broadcast(q)
    c = emb.where(F.size("embedding") > 0).select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("ce"),
        norm_sq_expr(F.col("embedding")).alias("cn"),
    )
    # scoring via the Arrow-batched twin of the decimal-cosine
    # expression (bit-identical — see decimal_cosine_pairs_vectorized);
    # the interpreted fold cost ~90 s for the 5 x 200k-pair exact arm
    # at 10x scale
    return decimal_cosine_joined_vectorized(
        q.crossJoin(c)
        .where(F.col("vec_a") != F.col("vec_b"))
        .withColumnRenamed("na", "qn")
    )


def ann_topk(emb: DataFrame, k: int = 3, n_queries: int = 5) -> DataFrame:
    """Brute-force exact top-k neighbors for the first ``n_queries``
    vectors, ranked by rounded cosine with vec_b tie-break."""
    return _topk_by_cosine(pairwise_cosine(emb, max_query_id=n_queries), k)


# --- fast JVM path (bench / scale) -----------------------------------------


def _dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm_expr(a: Column) -> Column:
    return F.sqrt(_dot_expr(a, a))


def _sql_dot(a: str, b: str) -> str:
    """SQL-text twin of :func:`_dot_expr` — identical tree (lambda
    variable names canonicalize away; sameSemantics pinned in
    tests/test_similarity.py), one parse instead of ~40 py4j calls."""
    return (
        f"aggregate(zip_with({a}, {b},"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " 0.0D, (acc, v) -> acc + v)"
    )


def _sql_norm(a: str) -> str:
    return f"SQRT({_sql_dot(a, a)})"


def _topk_by_cosine(cos: DataFrame, k: int) -> DataFrame:
    """Shared tail of every fast top-k: rank per query by (cosine desc,
    vec_b asc) — the single place the tie-break lives."""
    w = Window.partitionBy("vec_a").orderBy(F.desc("cosine"), F.asc("vec_b"))
    return (
        cos.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("vec_a", "vec_b", "cosine", "rank")
    )


def ann_topk_fast(emb: DataFrame, k: int = 3, n_queries: int = 5) -> DataFrame:
    """Array-fold cosine top-k: no component explode, one broadcast of
    the query side. The plan at scale: broadcast queries, scan corpus
    once, per-partition top-k via window.

    Norms are precomputed per SIDE (one fold per row) so each pair costs
    a single dot-product fold instead of three — same values as folding
    dot/(sqrt(n1)*sqrt(n2)) per pair, a third of the work.
    """
    q = emb.where(F.col("vec_id") < n_queries).selectExpr(
        "vec_id AS vec_a",
        "embedding AS qe",
        f"{_sql_norm('embedding')} AS qn",
    )
    c = emb.selectExpr(
        "vec_id AS vec_b",
        "embedding AS ce",
        f"{_sql_norm('embedding')} AS cn",
    )
    cos = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("vec_a") != F.col("vec_b"))
        .selectExpr(
            "vec_a",
            "vec_b",
            f"round({_sql_dot('qe', 'ce')} / (qn * cn), 6) AS cosine",
        )
    )
    return _topk_by_cosine(cos, k)


# --- IVF (inverted-file) coarse quantizer ----------------------------------


def _lit_vec(v: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in v])


def _sq_dist(a: Column, centroid: list[float]) -> Column:
    """Codegen squared L2 distance between an array column and a literal
    centroid — a single fold, no explode, no join."""
    return F.aggregate(
        F.zip_with(
            a,
            _lit_vec(centroid),
            lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def assign_lists_vectorized(emb: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """``emb`` plus ``list_id`` — the batched-numpy twin of
    ``element_at(_centroid_order(...), 1)``.

    The interpreted-HOF argmin costs ~3 ms/vector at n_list=64 (590 s
    for a 200k-vector fit, BENCH_NOTES round 10) because Spark
    evaluates the per-centroid lambda folds row-at-a-time; this is the
    same arithmetic as ONE Arrow-batched numpy pass, vectorized over
    rows but looping dims so every (row, centroid) accumulates
    ``acc + (x_k - c_k)^2`` in exactly the fold's component order —
    each step one IEEE double op, bit-identical to the expression fold.
    Rounding to 9 decimals uses scaled-binary half-up
    (``floor(d*1e9 + 0.5)/1e9``), which agrees with F.round's
    decimal-string HALF_UP everywhere d*1e9 is not within an ulp of a
    half-integer; ``np.argmin`` returns the FIRST minimal index — the
    expression's lower-id tie-break. Equality against the expression
    path over the whole test corpus is pinned by
    tests/test_similarity.py; rows whose embedding length differs from
    the centroid dim (empty vectors) get list_id 0, matching the
    expression's empty-fold behaviour, and contribute nothing
    downstream (no components to explode, excluded by every size>0
    guard).

    Per-row results are independent of Arrow batch boundaries and
    partitioning, so the assignment is deterministic on any cluster —
    the same contract as the expression path.
    """
    from pyspark.sql import types as T

    cents = [[float(x) for x in c] for c in centroids]
    # a FRESH StructType: DataFrame.schema returns the frame's cached
    # object and StructType.add mutates in place — appending to it
    # would corrupt the input frame's own schema
    out_schema = T.StructType(
        list(emb.schema.fields)
        + [T.StructField("list_id", T.IntegerType(), False)]
    )

    def assign(batches):
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(list_id=np.array([], dtype="int32"))
                continue
            C = np.asarray(cents, dtype=np.float64)
            dim = C.shape[1]
            lens = pdf["embedding"].map(len).to_numpy()
            lid = np.zeros(len(pdf), dtype=np.int64)
            ok = lens == dim
            if ok.any():
                X = np.stack(
                    [
                        np.asarray(e, dtype=np.float64)
                        for e in pdf["embedding"][ok]
                    ]
                )
                acc = np.zeros((X.shape[0], C.shape[0]))
                for k in range(dim):
                    diff = X[:, k][:, None] - C[None, :, k]
                    acc += diff * diff
                dr = np.floor(acc * 1e9 + 0.5) / 1e9
                lid[ok] = np.argmin(dr, axis=1)
            yield pdf.assign(list_id=lid.astype("int32"))

    return emb.mapInPandas(assign, schema=out_schema)


def _centroid_order(a: Column, centroids: list[list[float]]) -> Column:
    """list ids ordered by distance from the vector (ties -> lower id).
    Distances are rounded so the ordering is stable across runs."""
    pairs = F.array(
        *[
            # explicit cast pins the struct field names (CreateArray's
            # type merge can rename them to col1/col2 otherwise)
            F.struct(
                F.round(_sq_dist(a, c), 9).alias("d"), F.lit(j).alias("j")
            ).cast("struct<d:double,j:integer>")
            for j, c in enumerate(centroids)
        ]
    )
    return F.transform(F.array_sort(pairs), lambda st: st["j"])


def ivf_fit(
    emb: DataFrame,
    n_list: int = 16,
    n_iters: int = 2,
    fit_fraction: float | None = None,
    vectorized: bool = True,
) -> list[list[float]]:
    """Deterministic coarse quantizer: k-means over the corpus.

    Seeds are the ``n_list`` vectors with the smallest md5(vec_id) —
    reproducible on any partitioning, no RNG. Each Lloyd iteration is
    one corpus pass: per-row argmin against literal-centroid fold
    expressions (whole-stage codegen, shuffle-free), then per-dim means
    via ONE groupBy using the exact decimal-sum pattern, so centroids —
    and therefore every downstream assignment — are independent of
    partition order. Only n_list * dim floats ever reach the driver.

    ``fit_fraction`` (opt-in) fits on a DETERMINISTIC hash sample of
    the corpus (salted md5 over vec_id — the sampling.py discipline,
    stable across partitionings and engines) instead of every row: fit
    cost is per-row x per-centroid, so at scale quantizer quality
    saturates long before the full corpus is seen (measured at sf10 /
    200k vectors, n_list=64: the full-corpus fit is ~590 s of the ANN
    store build — BENCH_NOTES round 10). Assignment always covers the
    FULL corpus; sampling moves centroids, so it is a new-store
    decision, never a silent default — registry anchors and stored
    layouts keep fit_fraction=None.
    """
    if fit_fraction is not None and not 0.0 < fit_fraction <= 1.0:
        raise ValueError(f"fit_fraction must be in (0, 1], got {fit_fraction}")
    if fit_fraction is not None and fit_fraction < 1.0:
        unit = (
            stable_hash32(
                F.concat_ws("\x1f", F.lit("ivf_fit"), F.col("vec_id").cast("string"))
            )
            / F.lit(float(2**32))
        )
        emb = emb.where(unit < F.lit(float(fit_fraction)))
    # zero-length embeddings are excluded from seeding: a degenerate
    # seed's distance to every vector would be NULL-ish (empty fold),
    # poisoning the argmin for the whole corpus — and every query path
    # already guards its own side with the same len > 0 rule
    seeds = (
        emb.where(F.size("embedding") > 0)
        .orderBy(stable_hash32(F.col("vec_id").cast("string")), "vec_id")
        .limit(n_list)
        .select("embedding")
        .collect()
    )
    centroids = [[float(x) for x in r.embedding] for r in seeds]
    if fit_fraction is not None and fit_fraction < 1.0 and len(centroids) < n_list:
        # sampling silently shrinking the list count would hand
        # downstream stores fewer lists than the caller asked for with
        # no signal — fail loudly instead
        raise ValueError(
            f"fit_fraction={fit_fraction} sample yielded only "
            f"{len(centroids)} non-empty seed vectors for n_list={n_list}; "
            "raise fit_fraction (or fit on the full corpus)"
        )
    # a corpus smaller than n_list fits fewer lists, not an IndexError
    n_list = len(centroids)
    for _ in range(n_iters):
        # the Lloyd distance pass is the fit's entire cost at scale;
        # the vectorized path computes the same per-component fold in
        # one Arrow batch per task (~50-100x; see
        # assign_lists_vectorized), the expression path remains as the
        # oracle-replayable twin the equivalence test pins it against
        if vectorized:
            assigned = assign_lists_vectorized(emb, centroids).select(
                "list_id", F.posexplode("embedding").alias("i", "xf")
            )
        else:
            assigned = emb.select(
                F.element_at(
                    _centroid_order(F.col("embedding"), centroids), 1
                ).alias("list_id"),
                F.posexplode("embedding").alias("i", "xf"),
            )
        means = (
            assigned.groupBy("list_id", "i")
            .agg(
                (
                    F.sum(F.round(F.col("xf").cast("double"), 7).cast(DEC))
                    / F.count("*")
                )
                .cast("double")
                .alias("m")
            )
            .collect()
        )
        new = {r.list_id: dict() for r in means}
        for r in means:
            new[r.list_id][r.i] = r.m
        centroids = [
            [new[j][i] for i in range(len(centroids[j]))] if j in new else centroids[j]
            for j in range(n_list)
        ]
    return centroids


def ivf_assign(
    emb: DataFrame,
    centroids: list[list[float]],
    vectorized: bool = False,
) -> DataFrame:
    """(vec_id, embedding, list_id): nearest-centroid assignment, one
    shuffle-free corpus pass.

    The default stays the fold-expression form — it is what the
    registry oracles replay verbatim in DuckDB (semdedup's
    list_reduce Voronoi twin). ``vectorized=True`` routes through
    :func:`assign_lists_vectorized` (same arithmetic, one Arrow batch
    per task instead of row-at-a-time lambda folds) — the store-build
    path, where the correctness anchor (full probe) is
    assignment-layout-invariant and the equivalence test pins the two
    forms equal anyway."""
    if vectorized:
        return assign_lists_vectorized(
            emb.select("vec_id", "embedding"), centroids
        )
    return emb.select(
        "vec_id",
        "embedding",
        F.element_at(_centroid_order(F.col("embedding"), centroids), 1).alias(
            "list_id"
        ),
    )


def ivf_topk(
    emb: DataFrame,
    k: int = 3,
    n_queries: int = 5,
    n_list: int = 16,
    nprobe: int = 4,
    n_iters: int = 2,
    centroids: list[list[float]] | None = None,
    decimal_scores: bool = False,
) -> DataFrame:
    """IVF-pruned cosine top-k — the ANN scale path beyond sign-LSH.

    The corpus is partitioned into ``n_list`` inverted lists by the
    coarse quantizer; each query probes only its ``nprobe`` nearest
    lists, so the candidate join is an equi-join on ``list_id`` and the
    scanned fraction is ~nprobe/n_list of the corpus instead of all of
    it. ``nprobe == n_list`` degenerates to exact brute force (the
    recall test's sanity anchor). At 100 TB: centroids are a driver-side
    constant folded into the plan, the corpus assignment is shuffle-free
    and could be written out bucketed by list_id for reuse across query
    batches.

    ``decimal_scores`` swaps the fast double fold for the exact decimal
    cosine (same expressions as :func:`pairwise_cosine`): ranks become
    bit-identical to the decimal oracle formulation, with no
    sixth-decimal rounding-boundary exposure — the cross-engine-checked
    registry entry uses this; the default double fold remains the
    production scoring path.

    Choosing ``nprobe`` (measured at 200k vectors / n_list=64 / k=10,
    scripts/bench_ann_quality.py, BENCH_NOTES rounds 10-11): recall
    depends on how clustered the corpus actually is. On a corpus WITH
    real cluster structure (64-center mixture, the regime IVF is built
    for) recall@10 is 0.97 at nprobe=1 and 1.0 from nprobe=2 — probe
    ~2-4 lists. On a weakly-clustered corpus (sign-mask rotations)
    recall rises near-linearly, 0.12@1 -> 0.92@32 — budget
    nprobe >= n_list/2 or use the stored layout's cheap probes to
    afford it (~4-5x lower latency per probe ladder point than
    in-memory re-assignment at this scale).
    """
    if centroids is None:
        centroids = ivf_fit(emb, n_list=n_list, n_iters=n_iters)
    norm = norm_sq_expr if decimal_scores else _norm_expr
    assigned = ivf_assign(emb, centroids).select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("ce"),
        norm(F.col("embedding")).alias("cn"),
        "list_id",
    )
    q = (
        emb.where(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("vec_a"),
            F.col("embedding").alias("qe"),
            norm(F.col("embedding")).alias("qn"),
            F.slice(
                _centroid_order(F.col("embedding"), centroids), 1, nprobe
            ).alias("probes"),
        )
        .select("vec_a", "qe", "qn", F.explode("probes").alias("list_id"))
    )
    joined = (
        F.broadcast(q)
        .join(assigned, "list_id")
        .where(F.col("vec_a") != F.col("vec_b"))
    )
    if decimal_scores:
        # Arrow-batched twin of the decimal-cosine expression —
        # bit-identical (decimal_cosine_pairs_vectorized); the
        # interpreted fold was ~89 s on the full-probe arm at 10x scale
        cos = decimal_cosine_joined_vectorized(joined)
    else:
        score = F.round(
            _dot_expr(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn")), 6
        )
        cos = joined.select("vec_a", "vec_b", score.alias("cosine"))
    return _topk_by_cosine(cos, k)


# Array-fold accumulator type: headroom below precision 38 so decimal
# addition widens to (29,9) and the cast back to (28,9) never rounds —
# at the 38 cap Spark would instead shrink the scale (38,9)+(38,9) ->
# (38,8), silently dropping a digit mid-fold.
_FOLD_DEC = "decimal(28,9)"


def _decimal_fold(arr: Column) -> Column:
    """Exact sum of a decimal-array column — order-independent (decimal
    adds are associative) and pure whole-stage codegen, so it replaces a
    groupBy aggregation wherever the addends already sit in one array."""
    return F.aggregate(
        arr, F.lit(0).cast(_FOLD_DEC), lambda acc, v: (acc + v).cast(_FOLD_DEC)
    )


def decimal_dot_expr(a: Column, b: Column) -> Column:
    """Cross-engine-exact dot product of two array<float> columns as a
    single array fold: per-component products rounded at 7 decimals and
    summed as decimals, bit-identical to the oracle's exploded
    SUM(CAST(round(x*y, 7) AS DECIMAL)) — with no explode, no shuffle.

    Null-safe per component: ``zip_with`` pads the shorter of two
    length-mismatched arrays with null, and an un-coalesced fold would
    turn the whole dot NULL; coalescing each padded product to 0 makes
    ragged inputs contribute exactly their index INTERSECTION — the
    same semantics as the exploded-join oracle formulation (where a
    missing component simply has no row). A no-op for uniform dims."""
    return _decimal_fold(
        F.zip_with(
            a,
            b,
            lambda x, y: F.coalesce(
                F.round(x.cast("double") * y.cast("double"), 7), F.lit(0.0)
            ).cast(_FOLD_DEC),
        )
    )


def _build_decimal_rounding():
    """Scalar and vectorized twins of the expression's per-component
    rounding, built as CLOSURES for the same reason as
    :func:`_build_decimal_cosine_batches` (cloudpickle ships them by
    value). Returns ``(java_round_half_up, exact_units9, units9)``:

    - ``java_round_half_up(d, scale)``: Java's
      ``BigDecimal.valueOf(d).setScale(scale, HALF_UP)`` as a Decimal;
    - ``exact_units9(p)``: one product through the expression chain
      round(p, 7) -> double -> decimal(28,9), as integer 1e-9 units;
    - ``units9(P)``: the same for an array of finite products — a
      scaled-binary half-up floor(|p|*1e7 + 0.5), with every component
      the binary arithmetic cannot decide recomputed by
      ``exact_units9``. Once any |p| reaches 1e4 the array holds Python
      ints (object dtype): the units pass int64 above |p| ~ 9.2e9."""

    def java_round_half_up(d, scale):
        import decimal

        with decimal.localcontext() as ctx:
            ctx.prec = 400  # any finite double at scale 9, exactly
            return decimal.Decimal(repr(d)).quantize(
                decimal.Decimal(1).scaleb(-scale),
                rounding=decimal.ROUND_HALF_UP,
            )

    def exact_units9(p):
        # the expression chain for one component, in exact decimals:
        # round(p, 7) -> double -> cast decimal(28,9)
        r_prime = float(java_round_half_up(p, 7))
        return int(java_round_half_up(r_prime, 9).scaleb(9))

    def units9(P):
        import numpy as np

        U = np.abs(P) * 1e7
        M = np.floor(U + 0.5)
        np.copysign(M, P, out=M)
        big = np.abs(P) >= 1e4
        # 1e-7 -> 1e-9 scale units; big components are recomputed below
        units = (np.where(big, 0.0, M) * 100.0).astype(np.int64)
        if big.any():
            units = units.astype(object)
        frac = U - np.floor(U)
        # U is off the scaled decimal repr(p)*1e7 by up to ~1.1 ulp(U)
        # (half an ulp from the multiply, up to 0.6 from repr's own
        # half-ulp gap scaled by 1e7), which outgrows a fixed 1e-6 once
        # |p| passes ~400
        band = np.maximum(1e-6, 4.0 * np.spacing(U))
        suspect = (np.abs(frac - 0.5) < band) | big
        if suspect.any():
            rows, cols = np.nonzero(suspect)
            for r, c in zip(rows.tolist(), cols.tolist()):
                p = float(P[r, c])
                if np.isfinite(p):
                    units[r, c] = exact_units9(p)
        return units

    return java_round_half_up, exact_units9, units9


def _build_decimal_cosine_batches():
    """Self-contained mapInPandas worker for
    :func:`decimal_cosine_pairs_vectorized`, built as a CLOSURE so
    cloudpickle serializes it by value — the grading driver imports
    this package from a foreign cwd, where Python workers cannot
    re-import it by module reference.

    Scalar rounding twin: Java's ``BigDecimal.valueOf(d).setScale(s,
    HALF_UP)`` — what Spark's ``round(double, s)`` and double->decimal
    casts bottom out in — parses ``Double.toString(d)`` (the shortest
    decimal that round-trips); CPython's ``repr`` produces the same
    shortest representation, and both HALF_UP rules tie away from
    zero, so ``Decimal(repr(d)).quantize(...)`` agrees. (JDK 17's
    Double.toString predates the Ryu rewrite and can emit a
    longer-than-shortest string in corner cases; a disagreement would
    additionally need that value to sit within one double ulp of a
    half-boundary at the target scale — the same residual documented
    for assign_lists_vectorized. The whole-corpus equality pin in
    tests/test_similarity.py is the empirical guard.)

    Per input row (vec_a, vec_b, ea, eb, na, nb) the worker emits
    (vec_a, vec_b, cosine) where cosine is bit-identical to

        round(decimal_dot_expr(ea, eb).cast(double)
              / (sqrt(na) * sqrt(nb)), 6)

    The per-component chain the expression evaluates is: one IEEE
    double multiply, Spark round(.,7) (= HALF_UP over the product's
    shortest decimal repr), cast of that rounded double to
    decimal(28,9), exact decimal summation (order-free), decimal ->
    double (correctly rounded), one IEEE multiply + divide against the
    pre-cast norm sqrts, Spark round(.,6). This pass vectorizes it:

    - products vectorized over rows per component (same IEEE op);
    - round-7 via scaled-binary half-up floor(|p|*1e7 + 0.5) with an
      EXACT fallback (``units9`` of :func:`_build_decimal_rounding`):
      any component whose |p|*1e7 lies within max(1e-6, 4 ulp) of a
      half-integer (covers the multiply's half-ulp error plus the
      repr-vs-binary gap, ~1.1 ulp together), or with |p| >= 1e4, is
      recomputed through the scalar decimal twin (round 7, then the
      double round-trip and the scale-9 cast, exactly as the
      expression chain does). For
      |p| < 1e4 the fast integer path IS the expression value: the
      rounded double r' round-trips to the scale-7 decimal r, and any
      shorter decimal in r's ulp interval differs by < 5e-10, so the
      scale-9 cast lands on r exactly;
    - the decimal sum is an int64 sum of 1e-9-scale units for rows
      with sum |p| < 1e4 (|sum| < 2^53, so float(sum)/1e9 is the
      correctly rounded decimal->double cast); any other row is folded
      in Python ints in component order, as the expression folds it,
      and divided exactly. A component or running sum that leaves
      decimal(28,9) (|units| >= 1e28) raises ``ArithmeticError``, as
      the expression does under ANSI, the session default (with ANSI
      off the expression nulls the dot instead);
    - round-6 repeats the fast/fallback split on the quotient, and
      ``+ 0.0`` folds Java's BigDecimal ZERO back to +0.0 (numpy's
      sign-propagating floor would otherwise emit -0.0 for tiny
      negative cosines, which stringifies differently);
    - non-finite products poison the whole dot exactly as the
      expression does (NaN product -> decimal cast NULL -> NULL dot ->
      NULL cosine); a ZERO denominator nulls the row (Spark's legacy
      Divide semantics — under ANSI the expression form raises there
      instead; the pair call sites drop zero-norm vectors first, see
      :func:`_nonzero_norm`);
      a NaN dot over a nonzero denominator passes through round
      unchanged.

    Results are per-row and batch-size independent, so partitioning
    and Arrow framing cannot change them."""

    java_round_half_up, _, units9 = _build_decimal_rounding()

    def run(batches):
        import numpy as np

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pdf[["vec_a", "vec_b"]].assign(
                    cosine=np.array([], dtype="float64")
                )
                continue
            ea, eb = pdf["ea"], pdf["eb"]
            la = np.fromiter((len(v) for v in ea), dtype=np.int64, count=n)
            lb = np.fromiter((len(v) for v in eb), dtype=np.int64, count=n)
            maxd = int(max(la.max(), lb.max())) if n else 0
            X = np.zeros((n, maxd), dtype=np.float64)
            Y = np.zeros((n, maxd), dtype=np.float64)
            for i, v in enumerate(ea):
                X[i, : la[i]] = v
            for i, v in enumerate(eb):
                Y[i, : lb[i]] = v
            P = X * Y  # float32 widens exactly; one IEEE multiply, as zip_with
            finite = np.isfinite(P).all(axis=1)
            if not finite.all():
                P = np.where(np.isfinite(P), P, 0.0)  # rows masked out below
            units = units9(P)
            # exact for rows with sum |p| < 1e4: |S| << 2^53, 1e9 exact
            dot = units.sum(axis=1).astype(np.float64) / 1e9
            for i in np.nonzero(np.abs(P).sum(axis=1) >= 1e4)[0].tolist():
                acc = 0
                for u in units[i].tolist():
                    acc += u
                    if abs(u) >= 10**28 or abs(acc) >= 10**28:
                        raise ArithmeticError(
                            "decimal dot of pair (%s, %s) overflows decimal(28,9)"
                            % (pdf["vec_a"].iat[i], pdf["vec_b"].iat[i])
                        )
                dot[i] = acc / 10**9  # int / int: correctly rounded
            denom = np.sqrt(pdf["na"].to_numpy()) * np.sqrt(pdf["nb"].to_numpy())
            # Spark's Divide nulls out on a zero divisor (legacy mode;
            # ANSI raises)
            nullrow = (~finite) | (denom == 0.0)
            with np.errstate(divide="ignore", invalid="ignore"):
                q = dot / np.where(denom == 0.0, np.nan, denom)
                u6 = np.abs(q) * 1e6
                m6 = np.floor(u6 + 0.5)
                np.copysign(m6, q, out=m6)
                qfinite = np.isfinite(q)
                cos = np.where(qfinite, m6, 0.0) / 1e6 + 0.0  # -0.0 -> 0.0
                cos = np.where(qfinite, cos, q)  # NaN/Inf pass through round
                f6 = u6 - np.floor(u6)
                b6 = np.maximum(1e-6, 4.0 * np.spacing(u6))  # as in units9
            s6 = qfinite & ((np.abs(f6 - 0.5) < b6) | (np.abs(q) >= 1e9))
            for i in np.nonzero(s6)[0].tolist():
                cos[i] = float(java_round_half_up(float(q[i]), 6)) + 0.0
            out = pdf[["vec_a", "vec_b"]].copy()
            if not nullrow.any():
                out["cosine"] = cos
            else:
                # expression semantics: a non-finite product nulls the dot
                out["cosine"] = [
                    float(c) if ok else None for c, ok in zip(cos, ~nullrow)
                ]
            yield out

    return run


def decimal_cosine_pairs_vectorized(pairs: DataFrame) -> DataFrame:
    """(vec_a, vec_b, cosine): Arrow-batched numpy twin of the per-pair

        round(decimal_dot_expr(ea, eb).cast(double)
              / (sqrt(na.cast(double)) * sqrt(nb.cast(double))), 6)

    expression over a frame carrying exactly (vec_a, vec_b, ea, eb,
    na, nb) with na/nb ALREADY cast to double (the decimal->double
    cast stays JVM-side, identical to the expression form). The
    interpreted-HOF fold costs ~1.4 us per (pair, component) because
    Spark evaluates zip_with/aggregate lambdas row-at-a-time; this is
    the same arithmetic vectorized over rows (see
    :func:`_build_decimal_cosine_batches` for the bit-equality
    argument, pinned against the expression path over the whole test
    corpus in tests/test_similarity.py)."""
    from pyspark.sql import types as T

    fields = {f.name: f for f in pairs.schema.fields}
    out_schema = T.StructType(
        [
            fields["vec_a"],
            fields["vec_b"],
            T.StructField("cosine", T.DoubleType(), True),
        ]
    )
    return pairs.mapInPandas(_build_decimal_cosine_batches(), schema=out_schema)


def decimal_cosine_joined_vectorized(joined: DataFrame) -> DataFrame:
    """(vec_a, vec_b, cosine) from a joined candidate frame carrying
    (vec_a, qe, qn) x (vec_b, ce, cn) with DECIMAL norm_sq columns —
    the query-side/candidate-side naming used by the broadcast-join
    scorers (pairwise_cosine, ivf_topk decimal path, serving
    ann_from_frames). Same bits as the expression

        round(decimal_dot_expr(qe, ce).cast(double)
              / (sqrt(qn.cast(double)) * sqrt(cn.cast(double))), 6)

    via :func:`decimal_cosine_pairs_vectorized`."""
    return decimal_cosine_pairs_vectorized(
        joined.select(
            "vec_a",
            "vec_b",
            F.col("qe").alias("ea"),
            F.col("ce").alias("eb"),
            F.col("qn").cast("double").alias("na"),
            F.col("cn").cast("double").alias("nb"),
        )
    )


def _plane_weight(p: int, i: Column) -> Column:
    """+-1 weight of plane ``p`` at component ``i`` — md5-derived, so the
    SQL oracle reproduces the same pseudo-random hyperplanes verbatim."""
    return (
        F.when(stable_hash32(F.concat_ws("_", F.lit(p), i)) % 2 == 0, F.lit(1.0))
        .otherwise(F.lit(-1.0))
    )


def bucket_expr(n_planes: int) -> Column:
    """Sign-LSH bucket string ('0'/'1' per plane) over ``embedding``.

    Each plane's projection is a :func:`decimal_dot_expr`-style fold
    against the md5 +-1 hyperplane — decimal sums so the sign is
    partition-order independent (a double sum could flip sign near zero
    between runs or engines, silently moving a vector across buckets).
    The whole assignment is a narrow per-row expression: no component
    explode, no groupBy — bucketing costs ZERO shuffles at any scale.
    """
    # Plane id must be bound via a closure factory, NOT a `p=p` default
    # arg: pyspark counts the lambda's declared parameters (defaults
    # included) when building the JVM LambdaFunction, and ZipWith
    # rejects a 3-parameter lambda.
    def _weighted(p: int):
        return lambda xf, i: F.round(
            xf.cast("double") * _plane_weight(p, i), 7
        ).cast(_FOLD_DEC)

    bits = []
    for p in range(n_planes):
        proj = _decimal_fold(
            F.zip_with(
                F.col("embedding"),
                F.sequence(F.lit(0), F.size("embedding") - 1),
                _weighted(p),
            )
        )
        bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def norm_sq_expr(a: Column) -> Column:
    """Decimal ||a||^2 as an array fold (same rounding as the oracle)."""
    return decimal_dot_expr(a, a)


def hyperplane_buckets(emb: DataFrame, n_planes: int = 8) -> DataFrame:
    """(vec_id, bucket): random-hyperplane sign-LSH bucket assignment.

    Empty embeddings are filtered (mirroring the exploded oracle
    formulation, where a zero-component vector contributes no rows).
    """
    return emb.where(F.size("embedding") > 0).select(
        "vec_id", bucket_expr(n_planes).alias("bucket")
    )


def bucketed_near_dups(
    emb: DataFrame,
    n_planes: int = 4,
    threshold: float = 0.35,
    max_bucket: int | None = None,
) -> DataFrame:
    """(vec_a, vec_b, cosine): same-bucket pairs with exact decimal
    cosine >= threshold.

    The 100 TB shape for embedding near-dup mining, in ONE shuffle:

    - bucket assignment and ||v||^2 are narrow array folds
      (:func:`bucket_expr`, :func:`norm_sq_expr`) — no component
      explode, no pre-aggregation;
    - the only exchange groups vectors by bucket, carrying the packed
      embedding array (not pairs x components rows);
    - pairs expand bucket-locally (each pair exists in exactly one
      bucket — the bucket is a single key — so no distinct), and the
      exact decimal cosine is an inline :func:`decimal_dot_expr` fold
      per pair. The exploded-components formulation this replaces
      shuffled O(pairs * dim) rows into a groupBy; this shuffles
      O(vectors) rows and computes the same bits.

    Recall is tuned by n_planes (fewer planes = bigger buckets = higher
    recall); multi-probe or plane-rotation repeats recover the rest. At
    production scale n_planes grows ~log2(corpus/target_bucket_size),
    which bounds EXPECTED bucket size; ``max_bucket`` enforces a hard
    cap against the unexpected (e.g. a mass of near-identical vectors
    sharing a sign pattern): oversized buckets are excluded from pair
    expansion before their member array is built (window count over the
    same bucket partitioning — rows spill, arrays don't) and must be
    accounted via :func:`bucketed_overflow` by any caller that caps.
    """
    enriched = emb.where(F.size("embedding") > 0).select(
        "vec_id",
        "embedding",
        bucket_expr(n_planes).alias("bucket"),
        norm_sq_expr(F.col("embedding")).alias("norm_sq"),
    )
    if max_bucket is not None:
        from .dedup import _cap_buckets  # one cap implementation, one contract

        enriched = _cap_buckets(enriched, ["bucket"], max_bucket)
    return _grouped_pairs_cosine(_nonzero_norm(enriched), "bucket").where(
        F.col("cosine") >= threshold
    )


def _nonzero_norm(enriched: DataFrame) -> DataFrame:
    """Drop vectors whose decimal ``norm_sq`` is 0 before pair scoring:
    all-zero vectors, and nonzero ones whose squared components all
    round to 0 at 7 decimals. Every pair with such a vector divides by
    zero — the expression form raises under ANSI, the vectorized scorer
    nulls the row — so no threshold can keep it, and dropping the
    vector gives both forms the same answer. Applied after any size
    cap, so the cap still counts every nonempty member, as
    :func:`bucketed_overflow` does."""
    return enriched.where(F.col("norm_sq") > 0)


def _grouped_pairs_cosine(
    enriched: DataFrame, key: str, vectorized: bool = True
) -> DataFrame:
    """(vec_a, vec_b, cosine) with vec_a < vec_b: group-local pair
    expansion + exact decimal cosine over an enriched frame carrying
    (vec_id, embedding, norm_sq, <key>) — the one-shuffle candidate
    shape shared by sign-LSH near-dups (key = LSH bucket) and SemDedup
    (key = k-means list_id). Each pair exists in exactly one group, so
    no distinct is needed.

    Expansion shape and width policy come from
    dedup._expand_pairs_adaptive (see its docstring): staged
    posexplode(member) -> slice -> explode bounds peak per-row memory
    at one member's remaining slice instead of the group's whole pair
    set — pair structs here carry FULL embeddings (~0.5 KB each at
    dim 64), so a single flatten of a 3,000-member group would
    materialize ~2 GB as one array value — and every surviving group
    goes through one width-pinned exchange AQE cannot coalesce.

    Scoring defaults to :func:`decimal_cosine_pairs_vectorized` (same
    bits, one Arrow batch per task instead of a row-at-a-time
    interpreted fold — the pair scorer was the registry's largest real
    CPU at ~1.4 us per pair-component); ``vectorized=False`` keeps the
    expression form, which is what the SQL oracles replay and what the
    equality test pins the Arrow path against."""
    from .dedup import _expand_pairs_adaptive

    aggd = (
        enriched.groupBy(key)
        .agg(
            F.sort_array(
                F.collect_list(F.struct("vec_id", "embedding", "norm_sq"))
            ).alias("ms")
        )
        .where(F.size("ms") >= 2)
        .select("ms")
    )
    pairs = (
        _expand_pairs_adaptive(aggd, "ms")
        .select(
            F.col("x.vec_id").alias("vec_a"),
            F.col("y.vec_id").alias("vec_b"),
            F.col("x.embedding").alias("ea"),
            F.col("y.embedding").alias("eb"),
            F.col("x.norm_sq").alias("na"),
            F.col("y.norm_sq").alias("nb"),
        )
    )
    if vectorized:
        return decimal_cosine_pairs_vectorized(
            pairs.select(
                "vec_a",
                "vec_b",
                "ea",
                "eb",
                # decimal -> double stays JVM-side, as in the expression
                F.col("na").cast("double").alias("na"),
                F.col("nb").cast("double").alias("nb"),
            )
        )
    return pairs.select(
        "vec_a",
        "vec_b",
        F.round(
            decimal_dot_expr(F.col("ea"), F.col("eb")).cast("double")
            / (
                F.sqrt(F.col("na").cast("double"))
                * F.sqrt(F.col("nb").cast("double"))
            ),
            6,
        ).alias("cosine"),
    )


def semantic_dedup(
    emb: DataFrame,
    n_list: int = 16,
    threshold: float = 0.8,
    n_iters: int = 2,
    centroids: list[list[float]] | None = None,
    max_cluster: int | None = None,
) -> DataFrame:
    """SemDedup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): semantic
    near-duplicate pruning over a k-means partition of embedding space.
    Returns the DROP list — (vec_id, kept_by, n_witnesses), one row per
    dropped vector — under the deterministic keep rule "a vector is
    dropped iff some same-cluster vector with a SMALLER vec_id is
    within ``threshold`` cosine"; ``kept_by`` is the smallest such
    witness and ``n_witnesses`` the count (both cheap byproducts that
    make the result independently checkable). Survivors = anti-join of
    the corpus against this frame. Note this drops slightly more than
    the paper's sequential greedy pass (a vector whose only witnesses
    were themselves dropped still drops); for component-wise
    keep-one-representative semantics compose the pair frame with
    operators/components.py instead, as dedup_clusters does for text.

    Scale shape — the paper's trick, Spark-first: pairwise cosine is
    quadratic, so it runs CLUSTER-LOCALLY. The coarse quantizer
    (:func:`ivf_fit`, deterministic RNG-free k-means) partitions the
    corpus; the only exchange groups vectors by ``list_id``; pairs
    expand group-locally via the same one-shuffle shape as
    :func:`bucketed_near_dups`. n_list scales ~corpus/target_cluster
    so expected cluster size stays bounded; ``max_cluster`` hard-caps
    against degenerate clusters (account via the capped rows' absence,
    same contract as max_bucket). With ``n_list=1`` the cluster-local
    pass degenerates to exact global all-pairs — the registry entry's
    oracle anchor, proving the pair expansion + keep rule lossless."""
    if centroids is None:
        centroids = ivf_fit(emb, n_list=n_list, n_iters=n_iters)
    enriched = ivf_assign(
        emb.where(F.size("embedding") > 0), centroids
    ).select(
        "vec_id",
        "embedding",
        "list_id",
        norm_sq_expr(F.col("embedding")).alias("norm_sq"),
    )
    if max_cluster is not None:
        from .dedup import _cap_buckets

        enriched = _cap_buckets(enriched, ["list_id"], max_cluster)
    near = _grouped_pairs_cosine(_nonzero_norm(enriched), "list_id").where(
        F.col("cosine") >= threshold
    )
    # vec_a < vec_b by construction: every vec_b of a qualifying pair
    # has an earlier near-duplicate and drops
    return near.groupBy(F.col("vec_b").alias("vec_id")).agg(
        F.min("vec_a").alias("kept_by"),
        F.count("*").cast("long").alias("n_witnesses"),
    )


def bucketed_overflow(
    emb: DataFrame, n_planes: int, max_bucket: int
) -> DataFrame:
    """(bucket, n_members) for sign-LSH buckets larger than
    ``max_bucket`` — the accounting twin of
    ``bucketed_near_dups(..., max_bucket=...)``; capped pipelines
    count/log this next to the pairs they kept (no silent caps)."""
    return (
        hyperplane_buckets(emb, n_planes)
        .groupBy("bucket")
        .agg(F.count("*").alias("n_members"))
        .where(F.col("n_members") > max_bucket)
    )


def knn_classify(
    emb: DataFrame,
    k: int = 5,
    n_queries: int = 5,
    label_col: str = "label",
) -> DataFrame:
    """(vec_a, predicted_label, votes): k-NN majority-vote label
    prediction for the first ``n_queries`` vectors — the application
    closure of the similarity surface (nearest neighbors exist to serve
    downstream labeling/retrieval, so the engine should demonstrate the
    full loop, not just the neighbor lists).

    Neighbors come from the exact decimal-cosine path
    (:func:`ann_topk`, so the vote set is deterministic cross-engine);
    labels join in from the corpus side; the winner is one ``max_by``
    aggregation over a (votes, -label) struct — votes desc with
    smallest-label tie-break, total and deterministic. The label join
    broadcasts the NEIGHBOR side — at most k * n_queries rows by
    construction — against the corpus-scale labels frame (one map-side
    join, no shuffle of labels; broadcasting labels instead would ship
    one row per corpus vector, unbounded). At scale the neighbor stage
    dominates and this adds one map-side join plus a groupBy on
    n_queries keys.
    """
    nn = ann_topk(emb, k=k, n_queries=n_queries)
    labels = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col(label_col).cast("long").alias("nbr_label"),
    )
    votes = (
        F.broadcast(nn).join(labels, "vec_b")
        .groupBy("vec_a", "nbr_label")
        .agg(F.count("*").alias("votes"))
    )
    rank = F.struct(
        F.col("votes").alias("v"), (-F.col("nbr_label")).alias("neg_label")
    )
    best = votes.groupBy("vec_a").agg(
        F.max_by(
            F.struct(
                F.col("nbr_label").alias("lbl"), F.col("votes").alias("v")
            ),
            rank,
        ).alias("w")
    )
    return best.select(
        "vec_a",
        F.col("w.lbl").alias("predicted_label"),
        F.col("w.v").alias("votes"),
    )
