"""Stored-index serving vs corpus-scan latency for the round-5 query
surface (prefix / fuzzy / more-like-this), with BM25 as the anchor the
round-4 measurement established.

Method matches BENCH_NOTES round 4: min-of-N noop-sunk runs per query
per scale, one session, store built once per scale (timed separately).
For fuzzy and mlt part of the work is driver-side collects at
DataFrame-construction time (the probe-list pattern), so the clock
wraps the WHOLE call, construction included — that is the user-visible
latency.

Usage: python scripts/bench_serving.py   (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS)
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
N_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "10"))

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

spark = (
    SparkSession.builder.master(f"local[{CPUS}]")
    .config("spark.sql.shuffle.partitions", CPUS)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    .config("spark.ui.enabled", "false")
    .appName("bench_serving")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

from parallel_inverted_index_map_reduce_spark.operators import index as ix  # noqa: E402
from parallel_inverted_index_map_reduce_spark.operators import serving as srv  # noqa: E402

BASE_DOCS = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
    "doc_id", "text"
)
N_BASE = BASE_DOCS.count()


def corpus(mult: int):
    reps = [
        BASE_DOCS.select(
            (F.col("doc_id") + k * N_BASE).alias("doc_id"),
            F.concat(F.col("text"), F.lit(f" replica{k}tok")).alias("text"),
        )
        for k in range(mult)
    ]
    out = reps[0]
    for r in reps[1:]:
        out = out.unionByName(r)
    return out.localCheckpoint()


def timed(label: str, fn) -> None:
    best = min(
        (lambda t0: (fn(), time.perf_counter() - t0)[1])(time.perf_counter())
        for _ in range(N_RUNS)
    )
    print(json.dumps({"measure": label, "sec": round(best, 3)}), flush=True)


def sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


for mult, tag in ((1, "1x"), (10, "10x")):
    docs = corpus(mult)
    base = f"srvbench{tag}"
    t0 = time.perf_counter()
    srv.store_search_index(docs, base, n_buckets=8)
    print(
        json.dumps(
            {"measure": f"build_{tag}", "sec": round(time.perf_counter() - t0, 3)}
        ),
        flush=True,
    )
    pairs = [
        ("bm25", lambda: sink(ix.bm25_search(docs, "spark query hash", k=10)),
         lambda: sink(srv.bm25_search_stored(spark, base, "spark query hash", k=10))),
        ("prefix", lambda: sink(ix.prefix_search(docs, "s")),
         lambda: sink(srv.prefix_search_stored(spark, base, "s"))),
        ("fuzzy", lambda: sink(ix.fuzzy_term_search(docs, "sow")),
         lambda: sink(srv.fuzzy_term_search_stored(spark, base, "sow"))),
        ("suffix", lambda: sink(ix.suffix_search(docs, "er")),
         lambda: sink(srv.suffix_search_stored(spark, base, "er"))),
        ("mlt", lambda: sink(ix.more_like_this(docs, 7, k=10)),
         lambda: sink(srv.mlt_search_stored(spark, base, 7, k=10))),
    ]
    for name, scan_fn, stored_fn in pairs:
        timed(f"{name}_scan_{tag}", scan_fn)
        timed(f"{name}_stored_{tag}", stored_fn)

spark.stop()
