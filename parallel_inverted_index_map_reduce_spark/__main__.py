"""CLI mirroring the reference binary's interface, plus a query mode.

Reference: ``./tema1 <mappers> <reducers> <manifest>`` writes
``a.txt .. z.txt`` into the working directory
(/root/reference/src/main.cpp:9-42,298-320). Here:

    python -m parallel_inverted_index_map_reduce_spark \
        --mappers 4 --reducers 4 --out ./out <manifest>

``--mappers``/``--reducers`` are accepted for interface parity; Spark
schedules tasks itself, so they only size local parallelism and shuffle
partitions (the reference's thread counts are physical-execution knobs
its checker varies — SURVEY.md §4.2 maps them to Spark's scheduler).

The reference only ever BUILDS the index; the ``search`` mode closes
the loop it implies (term lookup, boolean ops, exact phrase, BM25
ranking — operators/index.py), straight from a manifest corpus:

    python -m parallel_inverted_index_map_reduce_spark search m.txt \
        --term spark --and spark query --phrase "stream table hash" \
        --bm25 "spark query" --k 5

and the ``prep`` mode drives the composed training-data pipeline
(pipeline.py) over a documents parquet, landing deterministic
hash-ordered shards:

    python -m parallel_inverted_index_map_reduce_spark prep docs.parquet \
        --out ./shards --min-quality 0.3 --span-width 20 --shards 16

The serving-store lifecycle is fully drivable: ``index-store`` builds,
``extend`` folds a fresh-id batch in (append-only; refuses torn
stores), ``compact`` rebuilds the norms and deduplicates the reversed
vocabulary after extends, ``verify-store`` checks the sidecar corpus
fingerprint
(exit 0 match / 3 torn / 4 stale), and ``search --stored`` serves —
refusing a torn store rather than answering inconsistently (--term,
--prefix wildcard-tail, --fuzzy typo-tolerant, --and, --phrase,
--near, --bm25). The
similarity surface has the same trio: ``ann-store`` persists the IVF
inverted lists, ``ann-extend`` appends new vectors under the existing
quantizer, and ``ann --stored`` serves probe-pruned cosine top-k
(queries from a parquet, or stored vectors via --ids).
"""

from __future__ import annotations

import argparse
import sys


def _build(args) -> int:
    from .operators.index import build_index
    from .session import get_spark
    from .sinks.text_index import write_index_text
    from .sources.corpus import read_manifest_corpus

    cores = max(args.mappers, args.reducers, 1)
    spark = get_spark(
        app_name="build-index",
        master=f"local[{cores}]",
        shuffle_partitions=max(args.reducers, 1) * 2,
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        docs = read_manifest_corpus(spark, args.manifest)
        index = build_index(docs)  # manifest ids are already 1-based
        write_index_text(index, args.out)
        print(f"wrote {args.out}/a.txt .. z.txt")
        return 0
    finally:
        spark.stop()


def _search(args) -> int:
    from .operators import index as ix
    from .session import get_spark

    spark = get_spark(app_name="search-index", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        stored = getattr(args, "stored", None)
        if stored:
            from .operators import serving as srv

            if _torn_store(spark, stored):
                return 3
        else:
            from .sources.corpus import read_manifest_corpus

            if not args.manifest:
                print(
                    "pass a manifest, or --stored BASE for a stored index",
                    file=sys.stderr,
                )
                return 2
            docs = read_manifest_corpus(spark, args.manifest)
        ran = False
        if args.term:
            ran = True
            if stored:
                hits = srv.stored_term_postings(spark, stored, args.term)
            else:
                hits = ix.term_lookup(ix.build_index(docs), args.term)
            for r in hits.orderBy("word").collect():
                print(f"term {r['word']}: [{' '.join(map(str, r['postings']))}]")
        if args.prefix:
            ran = True
            hits = (
                srv.prefix_search_stored(spark, stored, args.prefix)
                if stored
                else ix.prefix_search(docs, args.prefix)
            )
            rows = hits.orderBy("word").collect()
            for r in rows:
                print(
                    f"prefix {args.prefix}*: {r['word']} "
                    f"[{' '.join(map(str, r['postings']))}]"
                )
            if not rows:
                print(f"prefix {args.prefix}*: no matches")
        if args.suffix:
            ran = True
            hits = (
                srv.suffix_search_stored(spark, stored, args.suffix)
                if stored
                else ix.suffix_search(docs, args.suffix)
            )
            rows = hits.orderBy("word").collect()
            for r in rows:
                print(
                    f"suffix *{args.suffix}: {r['word']} "
                    f"[{' '.join(map(str, r['postings']))}]"
                )
            if not rows:
                print(f"suffix *{args.suffix}: no matches")
        if args.fuzzy:
            ran = True
            hits = (
                srv.fuzzy_term_search_stored(
                    spark, stored, args.fuzzy, max_dist=args.fuzzy_dist
                )
                if stored
                else ix.fuzzy_term_search(
                    docs, args.fuzzy, max_dist=args.fuzzy_dist
                )
            )
            rows = hits.orderBy("word").collect()
            for r in rows:
                print(
                    f"fuzzy~{args.fuzzy_dist} {args.fuzzy}: {r['word']} "
                    f"[{' '.join(map(str, r['postings']))}]"
                )
            if not rows:
                print(f"fuzzy~{args.fuzzy_dist} {args.fuzzy}: no matches")
        if args.boolean:
            ran = True
            t1, t2 = args.boolean
            res = (
                srv.boolean_search_stored(spark, stored, t1, t2)
                if stored
                else ix.boolean_search(docs, t1, t2)
            )
            for r in res.orderBy("op").collect():
                print(
                    f"{r['op']} {t1} {t2}: [{' '.join(map(str, r['doc_ids']))}]"
                )
        if args.phrase:
            ran = True
            slop = getattr(args, "slop", 0)
            if slop:
                res = (
                    srv.phrase_slop_search_stored(
                        spark, stored, args.phrase, slop=slop
                    )
                    if stored
                    else ix.phrase_search_slop(docs, args.phrase, slop=slop)
                )
            else:
                res = (
                    srv.phrase_search_stored(spark, stored, args.phrase)
                    if stored
                    else ix.phrase_search(docs, args.phrase)
                )
            tag = f"phrase~{slop}" if slop else "phrase"
            rows = res.orderBy("doc_id").collect()
            for r in rows:
                pos = " ".join(map(str, sorted(r["match_positions"])))
                print(f"{tag} {args.phrase!r} doc {r['doc_id']} at [{pos}]")
            if not rows:
                print(f"{tag} {args.phrase!r}: no matches")
        if args.near:
            ran = True
            t1, t2 = args.near
            res = (
                srv.proximity_search_stored(
                    spark, stored, t1, t2, max_dist=args.dist
                )
                if stored
                else ix.proximity_search(docs, t1, t2, max_dist=args.dist)
            )
            rows = res.orderBy("doc_id").collect()
            for r in rows:
                print(
                    f"near/{args.dist} {t1} {t2} doc {r['doc_id']} "
                    f"dist {r['min_dist']}"
                )
            if not rows:
                print(f"near/{args.dist} {t1} {t2}: no matches")
        if args.bm25:
            ran = True
            res = (
                srv.bm25_search_stored(spark, stored, args.bm25, k=args.k)
                if stored
                else ix.bm25_search(docs, args.bm25, k=args.k)
            )
            for r in res.orderBy("rank").collect():
                print(
                    f"bm25 {args.bm25!r} #{r['rank']}: "
                    f"doc {r['doc_id']} score {r['score']}"
                )
        if args.mlt is not None:
            ran = True
            res = (
                srv.mlt_search_stored(spark, stored, args.mlt, k=args.k)
                if stored
                else ix.more_like_this(docs, args.mlt, k=args.k)
            )
            for r in res.orderBy("rank").collect():
                print(
                    f"mlt doc {args.mlt} #{r['rank']}: "
                    f"doc {r['doc_id']} cosine {r['score']}"
                )
        if not ran:
            print(
                "nothing to do: pass --term/--prefix/--suffix/--fuzzy/"
                "--and/--phrase/--near/--bm25/--mlt",
                file=sys.stderr,
            )
            return 2
        return 0
    finally:
        spark.stop()


def _index_store(args) -> int:
    from .operators.serving import store_search_index
    from .session import get_spark

    spark = get_spark(app_name="index-store")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        docs = _read_docs(spark, args.input)
        store_search_index(docs, args.base, n_buckets=args.buckets)
        print(
            f"stored serving index '{args.base}' "
            f"(positions/doclen/docterms/norms/rwords/stats, "
            f"{args.buckets} buckets) — "
            f"query it with: search --stored {args.base}"
        )
        return 0
    finally:
        spark.stop()


def _read_docs(spark, path: str):
    if path.endswith(".parquet"):
        return spark.read.parquet(path)
    from .sources.corpus import read_manifest_corpus

    return read_manifest_corpus(spark, path)


def _torn_store(spark, base: str, kind: str = "text") -> bool:
    """Attach the ``kind`` store under ``base``; when a crashed extend
    left it torn, say so on stderr and return True (callers exit 3)."""
    from .operators import serving as srv

    if kind == "text":
        srv.attach_search_index(spark, base)
        torn = srv.extend_in_progress(spark, base)
        label, rebuild = "store", "index-store"
    else:
        srv.attach_ann_index(spark, base)
        torn = srv.ann_extend_in_progress(spark, base)
        label, rebuild = "ANN store", "ann-store"
    if torn:
        print(
            f"{label} '{base}' has a torn extend (crashed mid-ingest), "
            f"so its tables may disagree: rebuild it with {rebuild}",
            file=sys.stderr,
        )
    return torn


def _extend(args) -> int:
    from .operators import serving as srv
    from .session import get_spark

    spark = get_spark(app_name="index-extend")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if _torn_store(spark, args.base):
            return 3
        batch = _read_docs(spark, args.input)
        srv.extend_search_index(spark, args.base, batch)
        n = batch.count()
        print(f"extended '{args.base}' with {n} documents (append-only)")
        return 0
    finally:
        spark.stop()


def _compact(args) -> int:
    from .operators import serving as srv
    from .session import get_spark

    spark = get_spark(app_name="index-compact")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if _torn_store(spark, args.base):
            return 3
        if srv.compact_search_index(spark, args.base):
            print(
                f"compacted '{args.base}': stale derived tables rebuilt "
                "(atomic swaps)"
            )
        else:
            print(f"store '{args.base}' already compact — nothing to do")
        return 0
    finally:
        spark.stop()


def _verify_store(args) -> int:
    from .operators import serving as srv
    from .session import get_spark

    spark = get_spark(app_name="index-verify", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        srv.attach_search_index(spark, args.base)
        docs = _read_docs(spark, args.input)
        if srv.extend_in_progress(spark, args.base):
            print(f"TORN: store '{args.base}' has an unfinished extend")
            return 3
        if srv.verify_search_index(spark, args.base, docs):
            suffix = (
                ""
                if srv.norms_current(spark, args.base)
                else " — norms stale (recomputed per mlt query); run compact"
            )
            print(f"OK: store '{args.base}' matches the corpus{suffix}")
            return 0
        print(
            f"STALE: store '{args.base}' does not match the corpus "
            "(or predates fingerprinting) — rebuild with index-store"
        )
        return 4
    finally:
        spark.stop()


def _store_stats(args) -> int:
    import json as _json

    from .operators import serving as srv
    from .session import get_spark

    spark = get_spark(app_name="store-stats", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        srv.recover_table_swaps(spark, args.base)
        print(_json.dumps(srv.serving_store_stats(spark, args.base), indent=2))
        return 0
    except FileNotFoundError:
        print(f"no store '{args.base}' (missing sidecar)", file=sys.stderr)
        return 2
    finally:
        spark.stop()


def _ann_store(args) -> int:
    from .operators.serving import store_ann_index
    from .session import get_spark

    spark = get_spark(app_name="ann-store")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        emb = spark.read.parquet(args.input)
        store_ann_index(
            emb,
            args.base,
            n_list=args.lists,
            n_iters=args.iters,
            quantize=args.quantize,
        )
        kind = "int8-quantized " if args.quantize else ""
        print(
            f"stored {kind}ANN index '{args.base}' ({args.lists} inverted "
            f"lists) — query it with: ann --stored {args.base}"
        )
        return 0
    finally:
        spark.stop()


def _ann_extend(args) -> int:
    from .operators import serving as srv
    from .session import get_spark

    spark = get_spark(app_name="ann-extend")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if _torn_store(spark, args.base, "ann"):
            return 3
        batch = spark.read.parquet(args.input)
        srv.extend_ann_index(spark, args.base, batch)
        print(
            f"extended ANN store '{args.base}' with {batch.count()} "
            "vectors (append-only)"
        )
        return 0
    finally:
        spark.stop()


def _ann(args) -> int:
    from pyspark.sql import functions as F

    from .operators import serving as srv
    from .session import get_spark

    spark = get_spark(app_name="ann-search", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        srv.attach_ann_index(spark, args.stored)
        if args.queries:
            q = spark.read.parquet(args.queries).select("vec_id", "embedding")
        elif args.ids:
            vectors = spark.table(f"{args.stored}_vectors")
            if "embedding" not in vectors.columns:
                print(
                    f"ANN store '{args.stored}' holds int8-quantized "
                    "vectors, not the float embeddings --ids would query "
                    "with — pass a queries .parquet instead",
                    file=sys.stderr,
                )
                return 2
            q = (
                vectors.where(F.col("vec_id").isin([int(i) for i in args.ids]))
                .select("vec_id", "embedding")
            )
        else:
            print(
                "pass a queries .parquet, or --ids to query stored "
                "vectors by id",
                file=sys.stderr,
            )
            return 2
        res = srv.ann_search_stored(
            spark, args.stored, q, k=args.k, nprobe=args.nprobe
        )
        rows = res.orderBy("vec_a", "rank").collect()
        for r in rows:
            print(
                f"ann {r['vec_a']} #{r['rank']}: "
                f"vec {r['vec_b']} cosine {r['cosine']}"
            )
        if not rows:
            print("no neighbors (empty store or query set)")
        return 0
    finally:
        spark.stop()


def _prep(args) -> int:
    from . import pipeline as pl
    from .session import get_spark

    spark = get_spark(app_name="prep-training-data")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        docs = spark.read.parquet(args.documents)
        packed = pl.prepare_training_data(
            docs,
            min_quality=args.min_quality,
            span_dedup_width=args.span_width,
        )
        from .operators.export import write_training_shards

        write_training_shards(
            packed.selectExpr(
                "concat_ws('#', doc_id, chunk_id) AS chunk_key", "*"
            ),
            args.out,
            key="chunk_key",
            n_shards=args.shards,
        )
        print(f"landed training shards under {args.out}")
        return 0
    finally:
        spark.stop()


def _sample(args) -> int:
    from .operators import sampling as sp
    from .session import get_spark

    spark = get_spark(app_name="sample", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        docs = spark.read.parquet(args.documents)
        if args.priority is not None:
            fn = (
                sp.priority_sample_scalable if args.scalable else sp.priority_sample
            )
            rows = fn(docs, args.key, args.weight_col, k=args.priority).collect()
            for r in sorted(rows, key=lambda r: r["rank"]):
                print(
                    f"priority #{r['rank']}: {args.key} {r[args.key]} "
                    f"weight {r[args.weight_col]} p {r['priority']}"
                )
            return 0
        if args.quota is not None:
            fn = sp.quota_sample_scalable if args.scalable else sp.quota_sample
            rows = fn(docs, args.strata, args.key, k=args.quota).collect()
            for r in sorted(rows, key=lambda r: (r[args.strata], r["rank"])):
                print(
                    f"quota {r[args.strata]} #{r['rank']}: "
                    f"{args.key} {r[args.key]}"
                )
            return 0
        print(
            "nothing to do: pass --priority K or --quota K", file=sys.stderr
        )
        return 2
    finally:
        spark.stop()


def _cdc(args) -> int:
    from pyspark.sql import functions as F

    from .operators.chunking import cdc_chunks
    from .session import get_spark

    spark = get_spark(app_name="cdc-chunks", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        docs = spark.read.parquet(args.documents)
        chunks = cdc_chunks(docs, window=args.window, divisor=args.divisor)
        if args.out:
            # stats come from the parquet just written, not from re-
            # deriving the whole chunking lineage a second time
            chunks.write.mode("overwrite").parquet(args.out)
            chunks = spark.read.parquet(args.out)
        stats = chunks.agg(
            F.count("*").alias("n_chunks"),
            F.count_distinct(F.md5(F.col("chunk").cast("binary"))).alias(
                "n_distinct_blocks"
            ),
            F.sum("n_tokens").alias("n_tokens"),
            F.round(F.avg("n_tokens"), 2).alias("avg_tokens"),
        ).first()
        print(
            f"cdc chunks {stats['n_chunks']} distinct_blocks "
            f"{stats['n_distinct_blocks']} tokens {stats['n_tokens']} "
            f"avg {stats['avg_tokens']}"
        )
        if args.out:
            print(f"written to {args.out}")
        return 0
    finally:
        spark.stop()


def _stats(args) -> int:
    from .operators.report import corpus_report
    from .session import get_spark

    spark = get_spark(app_name="corpus-stats", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        docs = spark.read.parquet(args.documents)
        for r in corpus_report(docs).orderBy("metric").collect():
            print(f"{r['metric']}\t{r['value']}")
        return 0
    finally:
        spark.stop()


def _sketch(args) -> int:
    from pyspark.sql import functions as F

    from .operators import sketches as sk
    from .session import get_spark

    spark = get_spark(app_name="sketch", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        df = spark.read.parquet(args.input)
        # validate required columns up front: a wrong-shaped input gets
        # a one-line error (like the 'nothing to do' path), not a raw
        # AnalysisException stack from deep inside the operator
        if args.hll is not None and args.hll not in df.columns:
            print(
                f"--hll column {args.hll!r} not in {args.input} "
                f"(columns: {', '.join(df.columns)})",
                file=sys.stderr,
            )
            return 2
        if (args.heavy is not None or args.cms) and "text" not in df.columns:
            print(
                "--heavy/--cms need a documents-shaped input with a "
                f"'text' column; {args.input} has: {', '.join(df.columns)}",
                file=sys.stderr,
            )
            return 2
        did = False
        if args.hll is not None:
            regs = sk.hll_register_table(df, F.col(args.hll).cast("string"))
            est = sk.hll_estimate(regs).first().estimate
            exact = None
            if args.exact:
                exact = df.agg(F.count_distinct(args.hll)).first()[0]
            line = f"hll {args.hll} estimate {est:.1f}"
            if exact is not None:
                line += f" exact {exact} err {abs(est - exact) / max(exact, 1):.1%}"
            print(line)
            did = True
        if args.heavy is not None:
            for r in sk.frequent_terms(df, k=args.heavy).orderBy(
                F.desc("n"), "word"
            ).collect():
                print(f"heavy {r.word} {r.n}")
            did = True
        if args.cms:
            probes = [w for w in args.cms.split(",") if w]
            for r in sk.cms_estimate(sk.cms_build(df), probes).orderBy(
                "word"
            ).collect():
                print(f"cms {r.word} <= {r.est}")
            did = True
        if not did:
            print(
                "nothing to do: pass --hll COL, --heavy K, and/or "
                "--cms w1,w2",
                file=sys.stderr,
            )
            return 2
        return 0
    finally:
        spark.stop()


def main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)

    if argv and argv[0] == "sketch":
        parser = argparse.ArgumentParser(
            prog="parallel_inverted_index_map_reduce_spark sketch",
            description="Deterministic approximate aggregates over a "
            "parquet table: --hll COL prints the 64-register md5-HLL "
            "distinct estimate (--exact also computes the true count "
            "and error); --heavy K prints every term above a 1/K "
            "frequency (Misra-Gries candidates, exact-verified; needs "
            "documents-shaped input with a text column); --cms w1,w2 "
            "prints count-min upper bounds for the probe words (same "
            "input shape).",
        )
        parser.add_argument("input", help="parquet path")
        parser.add_argument("--hll", default=None, metavar="COL")
        parser.add_argument("--exact", action="store_true")
        parser.add_argument("--heavy", type=int, default=None, metavar="K")
        parser.add_argument("--cms", default=None, metavar="WORDS")
        return _sketch(parser.parse_args(argv[1:]))

    if argv and argv[0] == "stats":
        parser = argparse.ArgumentParser(
            prog="parallel_inverted_index_map_reduce_spark stats",
            description="Profile a documents parquet: counts, length "
            "quantiles, quality median, dup rate, label shares.",
        )
        parser.add_argument("documents", help="documents parquet path")
        return _stats(parser.parse_args(argv[1:]))

    if argv and argv[0] == "sample":
        parser = argparse.ArgumentParser(
            prog="parallel_inverted_index_map_reduce_spark sample",
            description="Deterministic sampling over a documents "
            "parquet: weighted without replacement (--priority, "
            "Efraimidis-Spirakis on the key hash) or exact per-stratum "
            "quotas (--quota). --scalable picks the decomposed forms "
            "for hot strata / large k.",
        )
        parser.add_argument("documents", help="documents parquet path")
        parser.add_argument("--priority", type=int, default=None, metavar="K")
        parser.add_argument("--quota", type=int, default=None, metavar="K")
        parser.add_argument("--key", default="doc_id")
        parser.add_argument("--weight-col", default="n_chars")
        parser.add_argument("--strata", default="lang")
        parser.add_argument("--scalable", action="store_true")
        return _sample(parser.parse_args(argv[1:]))

    if argv and argv[0] == "cdc":
        parser = argparse.ArgumentParser(
            prog="parallel_inverted_index_map_reduce_spark cdc",
            description="Content-defined chunking (LBFS hash-only "
            "boundaries at token granularity): prints chunk/block "
            "stats, optionally lands the chunk table.",
        )
        parser.add_argument("documents", help="documents parquet path")
        parser.add_argument("--window", type=int, default=3)
        parser.add_argument("--divisor", type=int, default=8)
        parser.add_argument("--out", default=None, help="chunk parquet out dir")
        return _cdc(parser.parse_args(argv[1:]))

    if argv and argv[0] == "prep":
        parser = argparse.ArgumentParser(
            prog="parallel_inverted_index_map_reduce_spark prep",
            description="Run the training-data pipeline (scrub -> filter "
            "-> dedup -> chunk -> pack) over a documents parquet and land "
            "deterministic hash-ordered shards.",
        )
        parser.add_argument("documents", help="documents parquet path")
        parser.add_argument("--out", required=True, help="shard output dir")
        parser.add_argument("--min-quality", type=float, default=0.3)
        parser.add_argument(
            "--span-width", type=int, default=None,
            help="also cut repeated cross-document spans of this width",
        )
        parser.add_argument("--shards", type=int, default=16)
        return _prep(parser.parse_args(argv[1:]))

    if argv and argv[0] == "extend":
        parser = argparse.ArgumentParser(
            prog="parallel_inverted_index_map_reduce_spark extend",
            description="Fold NEW documents into a stored serving index "
            "incrementally (append-only; doc ids must be new): every "
            "table is appended, no store-sized table is rewritten, and "
            "norms stay stale until 'compact' runs. Torn extends from a "
            "previous crash are refused — rebuild first.",
        )
        parser.add_argument("base", help="store name (see index-store)")
        parser.add_argument(
            "input", help="manifest file, or a documents .parquet path"
        )
        return _extend(parser.parse_args(argv[1:]))

    if argv and argv[0] == "compact":
        parser = argparse.ArgumentParser(
            prog="parallel_inverted_index_map_reduce_spark compact",
            description="After extends, rebuild a stored index's TF-IDF "
            "norms and deduplicate its reversed vocabulary (atomic "
            "swaps). No-op when no extend ran since the last build or "
            "compaction.",
        )
        parser.add_argument("base", help="store name (see index-store)")
        return _compact(parser.parse_args(argv[1:]))

    if argv and argv[0] == "verify-store":
        parser = argparse.ArgumentParser(
            prog="parallel_inverted_index_map_reduce_spark verify-store",
            description="Check a stored serving index against a corpus: "
            "exit 0 = fingerprint match, 3 = torn extend, 4 = stale.",
        )
        parser.add_argument("base", help="store name (see index-store)")
        parser.add_argument(
            "input", help="manifest file, or a documents .parquet path"
        )
        return _verify_store(parser.parse_args(argv[1:]))

    if argv and argv[0] == "store-stats":
        parser = argparse.ArgumentParser(
            prog="parallel_inverted_index_map_reduce_spark store-stats",
            description="Inspect a stored serving index: sidecar facts, "
            "per-table file counts/bytes, and the health flags "
            "(torn extend / stale norms) as one JSON "
            "object. Metadata only — no Spark jobs.",
        )
        parser.add_argument("base", help="store name (see index-store)")
        return _store_stats(parser.parse_args(argv[1:]))

    if argv and argv[0] == "ann-store":
        parser = argparse.ArgumentParser(
            prog="parallel_inverted_index_map_reduce_spark ann-store",
            description="Fit the IVF coarse quantizer over an embeddings "
            "parquet (vec_id, embedding) and persist the inverted lists "
            "as a partition-pruned layout for the ann mode.",
        )
        parser.add_argument("input", help="embeddings .parquet path")
        parser.add_argument("--base", required=True, help="store name")
        parser.add_argument("--lists", type=int, default=16)
        parser.add_argument("--iters", type=int, default=2)
        parser.add_argument(
            "--quantize", action="store_true",
            help="store int8-quantized vectors (4x fewer bytes per probe)",
        )
        return _ann_store(parser.parse_args(argv[1:]))

    if argv and argv[0] == "ann-extend":
        parser = argparse.ArgumentParser(
            prog="parallel_inverted_index_map_reduce_spark ann-extend",
            description="Append NEW vectors into a stored ANN index "
            "under its existing quantizer (vec_ids must be new; torn "
            "extends from a previous crash are refused).",
        )
        parser.add_argument("base", help="store name (see ann-store)")
        parser.add_argument("input", help="embeddings .parquet path")
        return _ann_extend(parser.parse_args(argv[1:]))

    if argv and argv[0] == "ann":
        parser = argparse.ArgumentParser(
            prog="parallel_inverted_index_map_reduce_spark ann",
            description="Cosine top-k neighbors served from a stored ANN "
            "index (ann-store): each query probes only its nprobe "
            "nearest inverted lists.",
        )
        parser.add_argument(
            "queries", nargs="?", default=None,
            help="queries .parquet with (vec_id, embedding); omit with --ids",
        )
        parser.add_argument(
            "--stored", metavar="BASE", required=True,
            help="ANN store written by ann-store",
        )
        parser.add_argument(
            "--ids", nargs="+",
            help="query stored vectors by vec_id (float stores only; an "
            "int8-quantized store needs a queries .parquet)",
        )
        parser.add_argument("--k", type=int, default=3)
        parser.add_argument("--nprobe", type=int, default=4)
        return _ann(parser.parse_args(argv[1:]))

    if argv and argv[0] == "index-store":
        parser = argparse.ArgumentParser(
            prog="parallel_inverted_index_map_reduce_spark index-store",
            description="Build and persist the serving index layout "
            "(positional postings, doclen, docterms, norms, reversed "
            "vocabulary, stats) so later sessions answer queries at "
            "pruned-lookup cost.",
        )
        parser.add_argument(
            "input", help="manifest file, or a documents .parquet path"
        )
        parser.add_argument("--base", required=True, help="store name")
        parser.add_argument("--buckets", type=int, default=8)
        return _index_store(parser.parse_args(argv[1:]))

    if argv and argv[0] == "search":
        parser = argparse.ArgumentParser(
            prog="parallel_inverted_index_map_reduce_spark search",
            description="Query a corpus's inverted index — from a "
            "manifest (builds in-session) or from a stored serving "
            "index (--stored BASE, see index-store).",
        )
        parser.add_argument(
            "manifest", nargs="?", default=None,
            help="manifest file: count then one path per line "
            "(omit with --stored)",
        )
        parser.add_argument(
            "--stored", metavar="BASE",
            help="serve from the stored index written by index-store",
        )
        parser.add_argument("--term", nargs="+", help="posting-list lookups")
        parser.add_argument(
            "--prefix", help="wildcard-tail lookup: all terms starting here"
        )
        parser.add_argument(
            "--suffix", help="wildcard-head lookup: all terms ending here"
        )
        parser.add_argument(
            "--fuzzy", help="typo-tolerant lookup (Levenshtein neighbors)"
        )
        parser.add_argument(
            "--fuzzy-dist", type=int, default=1,
            help="max edit distance for --fuzzy",
        )
        parser.add_argument(
            "--and", dest="boolean", nargs=2, metavar=("T1", "T2"),
            help="boolean AND/OR/NOT report for two terms",
        )
        parser.add_argument("--phrase", help="exact-phrase search")
        parser.add_argument(
            "--slop", type=int, default=0,
            help="allow up to N intervening tokens per gap in --phrase",
        )
        parser.add_argument(
            "--near", nargs=2, metavar=("T1", "T2"),
            help="NEAR/k proximity search for two terms",
        )
        parser.add_argument(
            "--dist", type=int, default=3, help="NEAR max token distance"
        )
        parser.add_argument("--bm25", help="BM25 ranked free-text query")
        parser.add_argument(
            "--mlt", type=int, metavar="DOC_ID",
            help="more-like-this: top-k docs by TF-IDF cosine to this doc",
        )
        parser.add_argument("--k", type=int, default=10, help="BM25/mlt top-k")
        return _search(parser.parse_args(argv[1:]))

    parser = argparse.ArgumentParser(
        prog="parallel_inverted_index_map_reduce_spark",
        description="Build the per-letter inverted index for a manifest corpus.",
    )
    parser.add_argument("manifest", help="manifest file: count then one path per line")
    parser.add_argument("--mappers", type=int, default=4, help="parallelism hint")
    parser.add_argument("--reducers", type=int, default=4, help="parallelism hint")
    parser.add_argument("--out", default=".", help="output directory for a.txt..z.txt")
    return _build(parser.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
