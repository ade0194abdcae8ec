"""Streamed maintenance of the ANN serving layout — delta versions.

The similarity surface's streaming/serving_stream.py: embeddings arrive
as a stream (new documents' vectors landing continuously in a training-
data pipeline). Each micro-batch writes ONLY ITS OWN assigned vectors
as a delta (``batch_id=N/vectors``, partitioned by list_id) plus the
O(1) centroids table, and a ``_MANIFEST.json`` listing the live deltas
that compose the version (streaming/deltas.py) — per-batch cost is
O(batch), the same shape as operators/serving.py extend_ann_index,
where the pre-round-11 protocol rewrote a complete snapshot per batch
(O(store) per increment; 560 s of sf10 ann_topk was this rewrite).
Commit-marker crash safety is unchanged: deltas + manifest land before
the marker, a version is complete-or-invisible, and a replayed batch
rebuilds from the latest COMMITTED manifest.

Quantizer contract, same as operators/serving.py extend_ann_index: the
FIRST non-empty batch fits the coarse quantizer (seed the stream with a
representative batch); every later batch is assigned under those FIXED
centroids, so committed deltas never move. Re-fitting drifted centroids
is a new-store decision, not a stream operation. Vec ids must be unique
across the stream (append-only corpus).

Every delta writes vectors PARTITIONED BY list_id, so query-side probe
pruning (PartitionFilters on the static IN) holds per delta scan,
matching the stored-table path; queries run through the SAME
frame-parameterized body (serving.ann_from_frames), so streamed answers
are the stored path's answers by construction.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from . import deltas as dv
from . import sinks as eo

ARTIFACTS = {
    "vectors": "vec_id bigint, embedding array<float>, list_id int",
    "centroids": "list_id int, centroid array<double>",
}


def _read_vectors_delta(spark: SparkSession):
    from pyspark.errors import AnalysisException

    def read_one(path: str) -> DataFrame:
        try:
            return spark.read.parquet(path)
        except AnalysisException:
            # only the inference failure over a zero-row batch's empty
            # directory falls back to the pinned schema; the normal
            # read keeps the WRITTEN element type (float32 normally,
            # float64 for a regenerated corpus — the schema-drift
            # contract), which pinning here once made unreadable
            return spark.read.schema(ARTIFACTS["vectors"]).parquet(path)

    return read_one


def read_ann_version(
    spark: SparkSession, store_dir: str
) -> dict[str, DataFrame] | None:
    """The latest COMMITTED ANN snapshot as {artifact: DataFrame}, or
    None before the first commit — ``vectors`` is the manifest-composed
    union of the live deltas, ``centroids`` the version's own copy."""
    latest = dv.latest_committed_dir(store_dir)
    if latest is None:
        return None
    man = dv.read_manifest(latest)
    return {
        "vectors": dv.read_artifact(
            store_dir, man, "vectors", _read_vectors_delta(spark)
        ),
        "centroids": dv.read_artifact(
            store_dir,
            man,
            "centroids",
            lambda p: spark.read.schema(ARTIFACTS["centroids"]).parquet(p),
        ),
    }


def _version_centroids(prev: dict[str, DataFrame]) -> list[list[float]]:
    return [
        [float(x) for x in r["centroid"]]
        for r in prev["centroids"].orderBy("list_id").collect()
    ]


def start_incremental_ann(
    emb_stream: DataFrame,
    store_dir: str,
    checkpoint: str,
    n_list: int = 16,
    n_iters: int = 2,
):
    """Maintain the ANN layout over an embeddings stream; returns the
    StreamingQuery (callers await it)."""
    from ..operators.similarity import ivf_assign, ivf_fit

    def process_batch(batch_emb: DataFrame, batch_id: int) -> None:
        if eo.is_committed(store_dir, batch_id):
            return  # replay of a committed batch: drop it
        spark = batch_emb.sparkSession
        batch = batch_emb.localCheckpoint()
        prev_dir = dv.latest_committed_dir(store_dir)
        prev_man = dv.read_manifest(prev_dir) if prev_dir else None
        if prev_man is not None:
            centroids = _version_centroids(
                {
                    "centroids": dv.read_artifact(
                        store_dir,
                        prev_man,
                        "centroids",
                        lambda p: spark.read.schema(
                            ARTIFACTS["centroids"]
                        ).parquet(p),
                    )
                }
            )
        else:
            centroids = []
        if not centroids and batch.count() > 0:
            # first non-empty batch seeds the fixed quantizer
            centroids = ivf_fit(batch, n_list=n_list, n_iters=n_iters)
        if centroids:
            delta = ivf_assign(batch, centroids, vectorized=True)
        else:
            # empty stream prefix: an empty (but readable) delta keeps
            # commit ordering dense
            delta = spark.createDataFrame([], ARTIFACTS["vectors"])
        out = eo.batch_dir(store_dir, batch_id)
        rel = os.path.basename(out)
        delta.write.mode("overwrite").partitionBy("list_id").parquet(
            os.path.join(out, "vectors")
        )
        rows = [(j, list(c)) for j, c in enumerate(centroids)]
        spark.createDataFrame(rows, ARTIFACTS["centroids"]).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, "centroids"))
        dv.write_manifest(
            out,
            {
                "version": batch_id,
                "artifacts": {
                    "vectors": dv.extend_deltas(
                        prev_man, "vectors", f"{rel}/vectors", "append"
                    ),
                    "centroids": dv.extend_deltas(
                        prev_man, "centroids", f"{rel}/centroids", "full"
                    ),
                },
            },
        )
        eo.commit(store_dir, batch_id)

    return (
        emb_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def compact_ann_store(spark: SparkSession, store_dir: str) -> int:
    """Offline maintenance (between stream runs, like version pruning):
    rewrite the latest committed version's vector deltas as ONE
    ``compact=V/vectors`` directory (same list_id partitioning), commit
    the compact marker, and atomically repoint version V's manifest at
    it — content-equal by construction, so readers see identical rows
    before and after. Later batches inherit the compacted list through
    the normal manifest chain; ``deltas.prune_versions`` then frees the
    superseded per-batch directories. Returns V."""
    latest = dv.latest_committed_dir(store_dir)
    if latest is None:
        raise FileNotFoundError(f"no committed ANN version in {store_dir}")
    version = int(latest.rsplit("=", 1)[1])
    man = dv.read_manifest(latest)
    vectors = dv.read_artifact(
        store_dir, man, "vectors", _read_vectors_delta(spark)
    )
    cdir = dv.compact_dir(store_dir, version)
    vectors.write.mode("overwrite").partitionBy("list_id").parquet(
        os.path.join(cdir, "vectors")
    )
    dv.finish_compaction(
        store_dir,
        version,
        {"vectors": f"{os.path.basename(cdir)}/vectors"},
    )
    return version


def ann_search_version(
    spark: SparkSession,
    store_dir: str,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 4,
    decimal_scores: bool = False,
) -> DataFrame:
    """IVF cosine top-k served from the latest committed streamed
    snapshot — the same frame-parameterized body as the stored-table
    path (serving.ann_from_frames). ``decimal_scores`` scores with the
    exact decimal dot so at nprobe == n_list the ranks are provably the
    brute-force ranks (the registry anchor's contract)."""
    from ..operators.serving import ann_from_frames

    v = read_ann_version(spark, store_dir)
    if v is None:
        raise FileNotFoundError(f"no committed ANN version in {store_dir}")
    return ann_from_frames(
        v["vectors"],
        _version_centroids(v),
        queries,
        k=k,
        nprobe=nprobe,
        decimal_scores=decimal_scores,
    )
