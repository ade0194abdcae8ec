"""Ingest-path scale-growth evidence run (VERDICT round 4, task 5):
extend_search_index cost vs BATCH size and vs STORE size.

The claim under test (operators/serving.py extend_search_index
docstring): every table an extend touches is a pure bucketed append
whose write cost is proportional to the NEW batch only; norms go stale
and the scheduled compaction rebuilds them. So extend time should grow
~linearly with the batch at fixed store size, and only weakly with the
store at fixed batch (the residual being the doclen re-average).

Design: build stores at 1x and 10x of the sf0.1 corpus (replicated
with offset ids + a replica suffix token, as scripts/bench_scale.py),
then measure
  - extend(10x store, {1x, 3x, 10x} batch)  -> batch-growth curve
  - extend(1x store, 1x batch)              -> store-growth pair with
    the 10x-store/1x-batch point
  - compact(10x store) after its three extends
Each extend gets FRESH doc ids (append-only contract). Batches are
localCheckpointed first so the measured time is the extend, not corpus
construction.

Usage: python scripts/bench_ingest.py
Prints one JSON line per measurement and a closing summary.
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

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

spark = (
    SparkSession.builder.master(f"local[{CPUS}]")
    .config("spark.sql.shuffle.partitions", CPUS)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    .config("spark.ui.enabled", "false")
    .appName("bench_ingest")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

from parallel_inverted_index_map_reduce_spark.operators import serving as srv  # noqa: E402

BASE_DOCS = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
    "doc_id", "text"
)
N_BASE = BASE_DOCS.count()


def replicated(mult: int, id_offset: int):
    """mult near-dup replicas of the corpus with ids starting at
    id_offset — fresh ids per call so every extend satisfies the
    append-only contract."""
    reps = []
    for k in range(mult):
        reps.append(
            BASE_DOCS.select(
                (F.col("doc_id") + id_offset + k * N_BASE).alias("doc_id"),
                F.concat(F.col("text"), F.lit(f" replica{k}tok")).alias("text"),
            )
        )
    out = reps[0]
    for r in reps[1:]:
        out = out.unionByName(r)
    return out.localCheckpoint()


results = []


def measure(label: str, base: str, batch, extra=None):
    n = batch.count()  # materialize before the clock
    t0 = time.perf_counter()
    srv.extend_search_index(spark, base, batch)
    dt = round(time.perf_counter() - t0, 3)
    row = {"measure": label, "store": base, "batch_docs": n, "sec": dt}
    if extra:
        row.update(extra)
    results.append(row)
    print(json.dumps(row), flush=True)


NEXT_ID = [0]


def fresh_batch(mult: int):
    b = replicated(mult, NEXT_ID[0])
    NEXT_ID[0] += mult * N_BASE + 1000
    return b


def build_store(name: str, mult: int):
    docs = fresh_batch(mult)
    t0 = time.perf_counter()
    srv.store_search_index(docs, name, n_buckets=8)
    dt = round(time.perf_counter() - t0, 3)
    row = {"measure": "build", "store": name, "store_docs": docs.count(), "sec": dt}
    results.append(row)
    print(json.dumps(row), flush=True)


build_store("ing1x", 1)
build_store("ing10x", 10)

# store-growth pair: the SAME batch size against 1x vs 10x stores
measure("extend_batch1x_into_store1x", "ing1x", fresh_batch(1))
measure("extend_batch1x_into_store10x", "ing10x", fresh_batch(1))
# batch-growth curve into the (growing) 10x store
measure("extend_batch3x_into_store10x", "ing10x", fresh_batch(3))
measure("extend_batch10x_into_store10x", "ing10x", fresh_batch(10))

# the scheduled compaction: norms rebuild + rwords dedup after extends
t0 = time.perf_counter()
srv.compact_search_index(spark, "ing10x")
row = {
    "measure": "compact_store10x_after_3_extends",
    "store": "ing10x",
    "sec": round(time.perf_counter() - t0, 3),
}
results.append(row)
print(json.dumps(row), flush=True)

print(json.dumps({"summary": results}))
spark.stop()
