"""Scale-growth evidence run: the flagship pipeline stages at 1x/3x/10x
of the sf0.1 corpus, with wall time, shuffle volume, and task-skew
quantiles per stage pulled from the Spark REST status API.

Purpose (VERDICT round 3, task 6): confirm off-toy-scale that the
documented plan shapes hold — shuffle bytes grow ~linearly with the
corpus and no stage develops p-max >> p50 task skew. The 3x/10x corpora
are the sf0.1 documents replicated with offset doc_ids and a per-replica
suffix token on the copies (so replicas are near-dups, not byte-dups —
the hard case for the dedup stages), materialized via localCheckpoint so
each measured stage times itself, not corpus construction.

Usage: python scripts/bench_scale.py [mult ...]   (default: 1 3 10)
Prints one JSON line per (multiplier, stage) and a closing summary.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
UI_PORT = 4049

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# engine defaults (AQE, Arrow, 8g driver — a bare builder's 1g default
# heap OOMs building broadcast relations at 10x) plus the status UI the
# metrics pull needs
spark = (
    SparkSession.builder.master(f"local[{CPUS}]")
    .config("spark.sql.shuffle.partitions", CPUS)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    .config("spark.ui.enabled", "true")
    .config("spark.ui.port", str(UI_PORT))
    .appName("bench_scale")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

from parallel_inverted_index_map_reduce_spark.operators.dedup import (  # noqa: E402
    near_dup_keep_list,
)
from parallel_inverted_index_map_reduce_spark.operators.index import (  # noqa: E402
    build_index,
)
from parallel_inverted_index_map_reduce_spark.operators.spandedup import (  # noqa: E402
    remove_duplicate_spans,
)


def _api(path: str):
    url = f"http://localhost:{UI_PORT}/api/v1/{path}"
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def _app_id() -> str:
    return _api("applications")[0]["id"]


APP = _app_id()


def _completed_stages() -> dict[int, dict]:
    out = {}
    for s in _api(f"applications/{APP}/stages?status=complete"):
        out[(s["stageId"], s["attemptId"])] = s
    return out


def _skew(stage_id: int, attempt: int) -> dict:
    try:
        q = _api(
            f"applications/{APP}/stages/{stage_id}/{attempt}/taskSummary"
            "?quantiles=0.5,0.99,1.0"
        )
        rt = q["executorRunTime"]
        return {"run_ms_p50": rt[0], "run_ms_p99": rt[1], "run_ms_max": rt[2]}
    except Exception:
        return {}


def measured(label: str, mult: int, make_df):
    """Construct AND noop-sink the frame inside the timed window
    (operators that pin intermediates with localCheckpoint run those
    subtrees at construction time under AQE), then report wall time +
    the new stages' shuffle bytes and the heaviest stage's task-time
    quantiles."""
    before = set(_completed_stages())
    t0 = time.monotonic()
    make_df().write.format("noop").mode("overwrite").save()
    wall = time.monotonic() - t0
    after = _completed_stages()
    new = {k: v for k, v in after.items() if k not in before}
    sw = sum(v["shuffleWriteBytes"] for v in new.values())
    sr = sum(v["shuffleReadBytes"] for v in new.values())
    heaviest = max(
        new.items(),
        key=lambda kv: kv[1]["shuffleWriteBytes"] + kv[1]["inputBytes"],
        default=(None, None),
    )
    skew = _skew(*heaviest[0]) if heaviest[0] else {}
    rec = {
        "stage": label,
        "mult": mult,
        "wall_sec": round(wall, 3),
        "n_spark_stages": len(new),
        "shuffle_write_mb": round(sw / 1e6, 2),
        "shuffle_read_mb": round(sr / 1e6, 2),
        **skew,
    }
    print(json.dumps(rec), flush=True)
    return rec


def corpus(mult: int):
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = base.count()
    parts = [base]
    for i in range(1, mult):
        parts.append(
            base.select(
                (F.col("doc_id") + F.lit(i * n)).alias("doc_id"),
                F.concat(F.col("text"), F.lit(f" replicaseed{i}")).alias(
                    "text"
                ),
                "lang",
                "source",
                "n_chars",
            )
        )
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df.repartition(int(CPUS)).localCheckpoint()


def _stage_fns():
    """Stage registry: label -> fn(docs, n_docs) -> DataFrame. The
    round-6 additions (cdc / scalable samplers) size their k with the
    corpus so the measured work scales with the multiplier, and use
    n_buckets=64 — the decomposition a real cluster would pick."""
    from parallel_inverted_index_map_reduce_spark.operators.chunking import (
        cdc_chunks,
    )
    from parallel_inverted_index_map_reduce_spark.operators.sampling import (
        priority_sample_scalable,
        quota_sample_scalable,
    )

    return {
        "index_build": lambda docs, n: build_index(docs),
        "near_dup_keep_list": lambda docs, n: near_dup_keep_list(docs),
        "span_dedup_n20": lambda docs, n: remove_duplicate_spans(docs, n=20),
        "cdc_chunks": lambda docs, n: cdc_chunks(docs, window=3, divisor=8),
        "priority_scalable": lambda docs, n: priority_sample_scalable(
            docs, "doc_id", "n_chars", k=max(1, n // 10), n_buckets=64
        ),
        "quota_scalable": lambda docs, n: quota_sample_scalable(
            docs, "lang", "doc_id", k=max(1, n // 20), n_buckets=64
        ),
    }


def main() -> None:
    mults = [int(a) for a in sys.argv[1:]] or [1, 3, 10]
    fns = _stage_fns()
    picked = os.environ.get("SPARK_GRAFT_STAGES")
    labels = (
        [s.strip() for s in picked.split(",") if s.strip()]
        if picked
        else ["index_build", "near_dup_keep_list", "span_dedup_n20"]
    )
    unknown = [s for s in labels if s not in fns]
    if unknown:
        raise SystemExit(f"unknown stages {unknown}; known: {sorted(fns)}")
    rows = []
    for m in mults:
        docs = corpus(m)
        n = docs.count()
        for label in labels:
            fn = fns[label]
            rows.append(measured(label, m, lambda: fn(docs, n)))
    print(json.dumps({"summary": rows}), flush=True)


if __name__ == "__main__":
    main()
