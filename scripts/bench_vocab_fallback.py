"""Measure the two branches of stored_postings_for_matched at scale.

operators/serving.py routes stored suffix/fuzzy queries through a
driver-collected literal IN list while the matched vocabulary is small
(<= VOCAB_INLINE_CAP: the IN list feeds bucket/partition pruning), and
switches to a collect-free broadcast semi-join above the cap (a short
suffix over a huge vocabulary must never driver-OOM). The branch
IDENTITY is pinned by tests/test_vocab_search.py; this records the
branch COST at a real scale directory, by running the same suffix
queries through both branches (cap forced high = inline, cap=0 =
semi-join) plus each suffix's natural routing.

Usage: SPARK_GRAFT_SF_DIR=/tmp/sf1 python scripts/bench_vocab_fallback.py
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/tmp/sf1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
N_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

spark = (
    SparkSession.builder.master(f"local[{CPUS}]")
    .config("spark.sql.shuffle.partitions", CPUS)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    .config("spark.ui.enabled", "false")
    .appName("bench_vocab_fallback")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

from parallel_inverted_index_map_reduce_spark.operators import serving as srv  # noqa: E402
from parallel_inverted_index_map_reduce_spark.plans.stores import tuned_shuffle  # noqa: E402

docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
    "doc_id", "text"
)

import hashlib  # noqa: E402

base = "vocabfb_" + hashlib.md5(SF_DIR.encode()).hexdigest()[:8]
t0 = time.time()
with tuned_shuffle(spark):
    srv.ensure_search_index(docs, base, n_buckets=4)
t_build = time.time() - t0
print(f"store build/attach: {t_build:.1f}s", flush=True)

# suffixes: a 1-char one (matched vocabulary far above the 1,024 cap —
# the semi-join's design case) and a longer one (neighborhood-sized,
# the inline IN list's design case)
SUFFIXES = ["e", "s", "ing"]
rows = []
for sfx in SUFFIXES:
    n_matched = srv.suffix_matched_words(spark, base, sfx).count()
    for branch, cap in (("inline", 10**9), ("semi-join", 0)):
        best = float("inf")
        n_out = None
        for _ in range(N_RUNS):
            t0 = time.time()
            n_out = srv.suffix_search_stored(spark, base, sfx, cap=cap).count()
            best = min(best, time.time() - t0)
        natural = (
            "natural" if (n_matched <= srv.VOCAB_INLINE_CAP) == (branch == "inline")
            else ""
        )
        rows.append(
            {"suffix": sfx, "branch": branch, "matched": n_matched,
             "rows": n_out, "min_sec": round(best, 3), "routing": natural}
        )
        print(json.dumps(rows[-1]), flush=True)

print(json.dumps({"sf_dir": SF_DIR, "build_sec": round(t_build, 1),
                  "cap": srv.VOCAB_INLINE_CAP, "rows": rows}))
