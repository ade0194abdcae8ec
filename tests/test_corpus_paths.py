"""Manifest corpus sources: URI decoding and jobless construction.

The manifest format is whitespace-tokenized (faithful to the
reference's fscanf("%s"), src/main.cpp:59-80), so paths can never
contain spaces — but they CAN contain '%' and literal '+', which
input_file_name() percent-encodes ('%' -> '%25'). The manifest join
must decode the URI before matching or those documents silently drop
out of the inner join."""

from __future__ import annotations

from parallel_inverted_index_map_reduce_spark.sources.corpus import read_manifest_corpus


def _mk_corpus(tmp_path, files: dict[str, str]) -> str:
    for name, text in files.items():
        (tmp_path / name).write_text(text)
    manifest = tmp_path / "manifest.txt"
    manifest.write_text(f"{len(files)}\n" + "\n".join(files) + "\n")
    return str(manifest)


def test_awkward_paths_survive_the_manifest_join(spark, tmp_path):
    files = {
        "plain.txt": "alpha beta",
        "plus+file.txt": "delta",
        "pct%file.txt": "epsilon",
    }
    m = _mk_corpus(tmp_path, files)
    rows = read_manifest_corpus(spark, m).collect()
    assert {r.doc_id for r in rows} == {1, 2, 3}, rows
    by_id = {r.doc_id: r.text for r in rows}
    assert by_id[2] == "delta"
    assert by_id[3] == "epsilon"


def _forty_file_corpus(tmp_path) -> tuple[str, dict[int, str]]:
    """40 files — past Spark's 32-path parallel-listing default — with
    the two percent-encoding cases among them."""
    names = [f"doc{i:02d}.txt" for i in range(1, 41)]
    names[6] = "plus+file.txt"
    names[29] = "pct%file.txt"
    files = {name: f"text of document {i}" for i, name in enumerate(names, 1)}
    return _mk_corpus(tmp_path, files), {
        i: f"text of document {i}" for i in range(1, 41)
    }


def test_forty_file_manifest_keeps_every_id(spark, tmp_path):
    m, expected = _forty_file_corpus(tmp_path)
    lines = {r.doc_id: r.text for r in read_manifest_corpus(spark, m).collect()}
    assert lines == expected


def test_constructing_the_corpus_runs_no_spark_job(spark, tmp_path):
    """The manifest is parsed in Python, its table is a local relation
    and manifest-sized path lists are listed on the driver, so building
    the documents frame launches nothing until the scan."""
    m, _ = _forty_file_corpus(tmp_path)
    sc = spark.sparkContext
    group = "test-corpus-construct"
    sc.setJobGroup(group, "construct read_manifest_corpus")
    try:
        read_manifest_corpus(spark, m)
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_manifest_table_is_broadcast_from_a_local_relation(spark, tmp_path):
    m, expected = _forty_file_corpus(tmp_path)
    docs = read_manifest_corpus(spark, m)
    assert len(docs.collect()) == len(expected)
    plan = docs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan, plan
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan
