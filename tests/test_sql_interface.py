"""The SQL entry point: register_views exposes every table to
spark.sql, and SQL text produces the same results as the DataFrame
programs — users can drive the engine either way."""

from __future__ import annotations

from parallel_inverted_index_map_reduce_spark.plans.registry import all_specs
from parallel_inverted_index_map_reduce_spark.sources.tables import register_views

from .conftest import SF_ORACLE


def test_sql_matches_dataframe_aggregate(spark):
    register_views(spark, SF_ORACLE)
    got = spark.sql(
        """
        SELECT o_orderstatus, COUNT(*) AS n
        FROM orders GROUP BY o_orderstatus
        """
    )
    want = (
        all_specs()["pivot_status_by_priority"]
        .fn(spark, SF_ORACLE)
        .sparkSession.table("orders")
        .groupBy("o_orderstatus")
        .count()
        .withColumnRenamed("count", "n")
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_sql_expresses_full_index_pipeline(spark):
    """The reference's ENTIRE pipeline as one SQL statement (the ~15-line
    claim in SURVEY.md §3): tokenize -> normalize -> distinct ->
    group-collect -> df -> letter bucket -> per-letter rank — proven
    row-identical to the DataFrame build. Users who speak only SQL get
    full engine parity."""
    from pyspark.sql import functions as F

    from parallel_inverted_index_map_reduce_spark.operators.index import build_index
    from parallel_inverted_index_map_reduce_spark.sources.tables import load_table

    register_views(spark, SF_ORACLE)
    got = spark.sql(
        """
        WITH toks AS (
            SELECT doc_id,
                   regexp_replace(lower(tok), '[^a-z]', '') AS word
            FROM documents
            LATERAL VIEW explode(split(text, '\\\\s+')) AS tok
        ),
        postings AS (
            SELECT word,
                   sort_array(collect_set(doc_id)) AS postings
            FROM toks WHERE word != '' GROUP BY word
        )
        SELECT substring(word, 1, 1) AS letter, word,
               CAST(size(postings) AS BIGINT) AS df, postings,
               CAST(row_number() OVER (
                   PARTITION BY substring(word, 1, 1)
                   ORDER BY size(postings) DESC, word ASC
               ) AS BIGINT) AS rank
        FROM postings
        """
    )
    want = build_index(load_table(spark, SF_ORACLE, "documents"))
    key = lambda r: (r.letter, r.word, r.df, tuple(r.postings), r.rank)
    assert sorted(map(key, got.collect())) == sorted(map(key, want.collect()))


def test_sql_join_over_views(spark):
    register_views(spark, SF_ORACLE)
    got = spark.sql(
        """
        SELECT n.n_name AS nation, COUNT(c.c_custkey) AS n_customers
        FROM nation n LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        """
    )
    want = all_specs()["outer_join_nation_counts"].fn(spark, SF_ORACLE)
    grows = sorted(map(tuple, got.collect()))
    wrows = sorted(map(tuple, want.select("nation", "n_customers").collect()))
    assert grows == wrows


def test_plain_sql_bm25_over_the_attached_serving_store(spark):
    """The stored serving layout is queryable by ANY SQL client: a pure
    spark.sql BM25 over the attached tables matches bm25_search_stored
    row-for-row — the layout, not the Python operators, is the
    product surface."""
    from pyspark.sql import functions as F

    from parallel_inverted_index_map_reduce_spark.operators import serving as srv
    from parallel_inverted_index_map_reduce_spark.sources.tables import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    srv.store_search_index(docs, "sqlidx", n_buckets=4)

    terms = ("hash", "query", "spark")
    st = spark.table("sqlidx_stats").first()
    n_docs, avgdl = int(st["n_docs"]), float(st["avgdl"])
    term_list = ", ".join(f"'{t}'" for t in terms)
    letter_list = ", ".join(f"'{t[0]}'" for t in sorted({t[0] for t in terms}))
    got = spark.sql(
        f"""
        WITH tf AS (
            SELECT word, doc_id, CAST(size(positions) AS BIGINT) AS tf
            FROM sqlidx_positions
            WHERE letter IN ({letter_list}) AND word IN ({term_list})
        ),
        idf AS (
            SELECT word,
                   round(ln(1.0 + (({n_docs}.0D - COUNT(DISTINCT doc_id)) + 0.5)
                                 / (COUNT(DISTINCT doc_id) + 0.5)), 9) AS idf
            FROM tf GROUP BY word
        ),
        scored AS (
            SELECT t.doc_id,
                   -- association matches bm25_rank exactly: the tf
                   -- ratio divides FIRST, then multiplies by idf —
                   -- a different IEEE association could differ by an
                   -- ulp on a round-half boundary at the 9th decimal
                   SUM(CAST(round(i.idf * ((t.tf * (1.2 + 1.0))
                                  / (t.tf + 1.2 * (0.25 + 0.75 * d.dl / {avgdl!r}D))),
                            9) AS DECIMAL(28,12))) AS score_dec
            FROM tf t
            JOIN idf i USING (word)
            JOIN sqlidx_doclen d USING (doc_id)
            GROUP BY t.doc_id
        )
        SELECT doc_id,
               CAST(CAST(round(CAST(score_dec AS DECIMAL(28,12)), 6)
                    AS DECIMAL(18,6)) AS STRING) AS score,
               CAST(row_number() OVER (ORDER BY score_dec DESC, doc_id)
                    AS BIGINT) AS rank
        FROM scored
        ORDER BY score_dec DESC, doc_id
        LIMIT 10
        """
    )
    want = srv.bm25_search_stored(spark, "sqlidx", " ".join(terms), k=10)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_plain_sql_ivf_probe_over_the_attached_ann_store(spark):
    """The stored ANN layout is queryable by ANY SQL client, exactly as
    the BM25 store is: a pure spark.sql IVF probe over the attached
    <base>_vectors/_centroids tables matches ann_search_stored
    row-for-row at the SAME pruned nprobe — the LAYOUT (list_id
    partition dirs + centroids companion), not the Python operators, is
    the product surface. Two statements, like any SQL client: one
    selects the probe lists per query from the centroids table, the
    second carries them as literals so the partition IN-filter pruning
    holds unconditionally (the same static-filter discipline
    ann_search_stored uses)."""
    from parallel_inverted_index_map_reduce_spark.operators import serving as srv
    from parallel_inverted_index_map_reduce_spark.sources.tables import (
        load_table,
        register_views,
    )

    register_views(spark, SF_ORACLE)
    emb = load_table(spark, SF_ORACLE, "embeddings")
    srv.store_ann_index(emb, "sqlann", n_list=4, n_iters=1)

    k, nprobe = 5, 2
    # the engine's whole-stage-codegen folds, verbatim in SQL
    dot = (
        "aggregate(zip_with({a}, {b}, (x, y) ->"
        " CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " 0.0D, (acc, v) -> acc + v)"
    )
    sqdist = (
        "aggregate(zip_with({a}, {b}, (x, y) ->"
        " (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),"
        " 0.0D, (acc, v) -> acc + v)"
    )
    probes = spark.sql(
        f"""
        WITH d AS (
            SELECT e.vec_id AS vec_a, c.list_id,
                   round({sqdist.format(a="e.embedding", b="c.centroid")}, 9)
                       AS dist
            FROM embeddings e CROSS JOIN sqlann_centroids c
            WHERE e.vec_id < 3
        ),
        ranked AS (
            SELECT vec_a, list_id,
                   row_number() OVER (
                       PARTITION BY vec_a ORDER BY dist, list_id) AS rk
            FROM d
        )
        SELECT vec_a, list_id FROM ranked WHERE rk <= {nprobe}
        """
    ).collect()
    probe_rows = ", ".join(f"({r.vec_a}, {r.list_id})" for r in probes)
    probe_ids = ", ".join(map(str, sorted({r.list_id for r in probes})))
    got = spark.sql(
        f"""
        WITH probes(vec_a, list_id) AS (VALUES {probe_rows}),
        q AS (
            SELECT vec_id AS vec_a, embedding AS qe,
                   sqrt({dot.format(a="embedding", b="embedding")}) AS qn
            FROM embeddings WHERE vec_id < 3
        ),
        cand AS (
            SELECT list_id, vec_id AS vec_b, embedding AS ce,
                   sqrt({dot.format(a="embedding", b="embedding")}) AS cn
            FROM sqlann_vectors WHERE list_id IN ({probe_ids})
        ),
        cos AS (
            SELECT q.vec_a, c.vec_b,
                   round({dot.format(a="q.qe", b="c.ce")} / (q.qn * c.cn), 6)
                       AS cosine
            FROM probes p
            JOIN q ON q.vec_a = p.vec_a
            JOIN cand c ON c.list_id = p.list_id
            WHERE q.vec_a != c.vec_b
        )
        SELECT vec_a, vec_b, cosine, rank FROM (
            SELECT vec_a, vec_b, cosine,
                   CAST(row_number() OVER (
                       PARTITION BY vec_a
                       ORDER BY cosine DESC, vec_b ASC) AS BIGINT) AS rank
            FROM cos
        ) WHERE rank <= {k}
        """
    )
    want = srv.ann_search_stored(
        spark, "sqlann", emb.where("vec_id < 3"), k=k, nprobe=nprobe
    )
    grows = sorted(map(tuple, got.collect()))
    wrows = sorted(map(tuple, want.collect()))
    assert len(wrows) > 0, "stored ANN probe matched nothing — bad fixture"
    assert grows == wrows
