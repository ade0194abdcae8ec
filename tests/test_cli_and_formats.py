"""CLI parity (reference ./tema1 interface) and the CLI's other modes."""

from __future__ import annotations

import os
import string
import subprocess
import sys

import pytest

from parallel_inverted_index_map_reduce_spark.sources.tables import load_table

from .conftest import SF_ORACLE

CHECKER = "/root/reference/checker"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(not os.path.isdir(CHECKER), reason="reference checkout absent")
def test_cli_builds_reference_output(tmp_path):
    out = tmp_path / "cli_out"
    res = subprocess.run(
        [
            sys.executable,
            "-m",
            "parallel_inverted_index_map_reduce_spark",
            "--mappers",
            "2",
            "--reducers",
            "2",
            "--out",
            str(out),
            os.path.join(CHECKER, "test_small.txt"),
        ],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    for letter in string.ascii_lowercase:
        with open(out / f"{letter}.txt") as fh:
            ours = [" ".join(l.split()) for l in fh if l.strip()]
        with open(os.path.join(CHECKER, "test_out_small", f"{letter}.txt")) as fh:
            golden = [" ".join(l.split()) for l in fh if l.strip()]
        assert ours == golden, letter


def test_cli_search_mode(tmp_path):
    texts = {
        "d1.txt": "spark makes indexes",
        "d2.txt": "spark query engines rock",
        "d3.txt": "a query about spark query",
    }
    for name, text in texts.items():
        (tmp_path / name).write_text(text + "\n")
    manifest = tmp_path / "m.txt"
    manifest.write_text(
        f"{len(texts)}\n" + "".join(f"{tmp_path}/{n}\n" for n in sorted(texts))
    )
    res = subprocess.run(
        [
            sys.executable,
            "-m",
            "parallel_inverted_index_map_reduce_spark",
            "search",
            str(manifest),
            "--term", "spark", "query",
            "--and", "spark", "query",
            "--phrase", "spark query",
            "--bm25", "spark query",
            "--k", "3",
        ],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    out = res.stdout
    assert "term query: [2 3]" in out
    assert "term spark: [1 2 3]" in out
    assert "and spark query: [2 3]" in out
    assert "or spark query: [1 2 3]" in out
    assert "not spark query: [1]" in out
    assert "phrase 'spark query' doc 2 at [0]" in out
    assert "phrase 'spark query' doc 3 at [3]" in out
    # doc 3 carries query twice -> top BM25 rank despite greater length
    assert "bm25 'spark query' #1: doc 3" in out


def test_cli_search_mode_requires_an_op(tmp_path):
    manifest = tmp_path / "m.txt"
    (tmp_path / "d.txt").write_text("hello\n")
    manifest.write_text(f"1\n{tmp_path}/d.txt\n")
    res = subprocess.run(
        [
            sys.executable,
            "-m",
            "parallel_inverted_index_map_reduce_spark",
            "search",
            str(manifest),
        ],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert res.returncode == 2
    assert "nothing to do" in res.stderr


def test_cli_prep_mode(spark, tmp_path):
    """`prep` runs the training pipeline end-to-end from the shell and
    lands deterministic training shards."""
    src = str(tmp_path / "docs_parquet")
    load_table(spark, SF_ORACLE, "documents").write.parquet(src)
    out = str(tmp_path / "shards")
    res = subprocess.run(
        [
            sys.executable,
            "-m",
            "parallel_inverted_index_map_reduce_spark",
            "prep",
            src,
            "--out",
            out,
            "--min-quality",
            "0.0",
            "--shards",
            "4",
        ],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    landed = spark.read.parquet(out)
    assert landed.count() > 0
    assert {"chunk", "n_tokens", "shard"} <= set(landed.columns)
    shards = {r["shard"] for r in landed.select("shard").distinct().collect()}
    assert shards <= set(range(4)) and len(shards) >= 2


def test_cli_stats_mode(spark, tmp_path):
    src = str(tmp_path / "docs_pq")
    load_table(spark, SF_ORACLE, "documents").write.parquet(src)
    res = subprocess.run(
        [
            sys.executable,
            "-m",
            "parallel_inverted_index_map_reduce_spark",
            "stats",
            src,
        ],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    got = dict(
        line.split("\t") for line in res.stdout.strip().splitlines() if "\t" in line
    )
    assert int(got["n_docs"]) > 0
    assert "len_p50" in got and "quality_p50" in got


def test_cli_index_store_then_stored_search_across_processes(tmp_path):
    """The serving lifecycle across SESSIONS: one process builds and
    persists the index (index-store), a DIFFERENT process re-attaches
    and serves every query shape from it (search --stored, no manifest,
    no corpus re-tokenization) — answers identical to the corpus-scan
    CLI path's."""
    import os

    texts = {
        "d1.txt": "spark makes indexes",
        "d2.txt": "spark query engines rock",
        "d3.txt": "a query about spark query",
    }
    for name, text in texts.items():
        (tmp_path / name).write_text(text + "\n")
    manifest = tmp_path / "m.txt"
    manifest.write_text(
        f"{len(texts)}\n" + "".join(f"{tmp_path}/{n}\n" for n in sorted(texts))
    )
    env = dict(os.environ, SPARK_GRAFT_WAREHOUSE=str(tmp_path / "wh"))

    res = subprocess.run(
        [
            sys.executable, "-m", "parallel_inverted_index_map_reduce_spark",
            "index-store", str(manifest), "--base", "cliidx",
            "--buckets", "4",
        ],
        cwd=REPO, capture_output=True, text=True, timeout=300, env=env,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert "stored serving index 'cliidx'" in res.stdout

    res = subprocess.run(
        [
            sys.executable, "-m", "parallel_inverted_index_map_reduce_spark",
            "search", "--stored", "cliidx",
            "--term", "spark", "query",
            "--and", "spark", "query",
            "--phrase", "spark query",
            "--near", "spark", "query", "--dist", "3",
            "--bm25", "spark query", "--k", "3",
        ],
        cwd=REPO, capture_output=True, text=True, timeout=300, env=env,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    out = res.stdout
    assert "term query: [2 3]" in out
    assert "term spark: [1 2 3]" in out
    assert "and spark query: [2 3]" in out
    assert "or spark query: [1 2 3]" in out
    assert "not spark query: [1]" in out
    assert "phrase 'spark query' doc 2 at [0]" in out
    assert "phrase 'spark query' doc 3 at [3]" in out
    # d2: "spark query ..." dist 1; d3: "a query about spark query" dist 1
    assert "near/3 spark query doc 2 dist 1" in out
    assert "near/3 spark query doc 3 dist 1" in out
    assert "bm25 'spark query' #1: doc 3" in out


def test_cli_extend_and_verify_store_across_processes(spark, tmp_path):
    """The full ingest lifecycle over the CLI: build a store from a
    parquet corpus, verify it (OK), extend it with a fresh-id batch in
    a different process, verify against the extended corpus (OK) and
    the stale original (STALE, rc 4); a planted torn-extend marker
    makes verify-store and search --stored refuse (rc 3)."""
    import os

    v1 = tmp_path / "v1.parquet"
    batch = tmp_path / "batch.parquet"
    both = tmp_path / "both.parquet"
    rows1 = [(1, "spark makes indexes"), (2, "spark query engines rock")]
    rows2 = [(100, "fresh spark ingest"), (101, "another query doc")]
    spark.createDataFrame(rows1, "doc_id long, text string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(v1))
    spark.createDataFrame(rows2, "doc_id long, text string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(batch))
    spark.createDataFrame(rows1 + rows2, "doc_id long, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(str(both))
    wh = tmp_path / "wh"
    env = dict(os.environ, SPARK_GRAFT_WAREHOUSE=str(wh))

    def cli(*args):
        return subprocess.run(
            [sys.executable, "-m", "parallel_inverted_index_map_reduce_spark", *args],
            cwd=REPO, capture_output=True, text=True, timeout=300, env=env,
        )

    res = cli("index-store", str(v1), "--base", "cliext",
              "--buckets", "4")
    assert res.returncode == 0, res.stderr[-2000:]
    res = cli("verify-store", "cliext", str(v1))
    assert res.returncode == 0 and "OK" in res.stdout, res.stdout + res.stderr[-500:]

    res = cli("extend", "cliext", str(batch))
    assert res.returncode == 0, res.stderr[-2000:]
    assert "extended 'cliext' with 2 documents" in res.stdout

    res = cli("verify-store", "cliext", str(both))
    assert res.returncode == 0 and "OK" in res.stdout, res.stdout + res.stderr[-500:]
    res = cli("verify-store", "cliext", str(v1))
    assert res.returncode == 4 and "STALE" in res.stdout

    # served answers include the ingested docs
    res = cli("search", "--stored", "cliext", "--term", "fresh")
    assert res.returncode == 0, res.stderr[-2000:]
    assert "term fresh: [100]" in res.stdout

    # a torn extend is refused by both verify-store and search --stored
    (wh / "cliext_extend_inprogress.marker").write_text("{}")
    res = cli("verify-store", "cliext", str(both))
    assert res.returncode == 3 and "TORN" in res.stdout
    res = cli("search", "--stored", "cliext", "--term", "fresh")
    assert res.returncode == 3 and "torn extend" in res.stderr


def test_cli_ann_store_then_ann_across_processes(spark, tmp_path):
    """The ANN serving lifecycle across SESSIONS: one process fits and
    persists the IVF layout (ann-store), a DIFFERENT process re-attaches
    and serves top-k (ann --stored --ids). lists=2 with nprobe=2 is a
    full probe, so the served neighbors are exactly brute-force cosine
    order — assertable by construction of the vectors."""
    import os

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0, 0.0]),
    ]
    emb = tmp_path / "emb.parquet"
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).coalesce(1).write.mode("overwrite").parquet(str(emb))
    env = dict(os.environ, SPARK_GRAFT_WAREHOUSE=str(tmp_path / "wh"))

    def cli(*args):
        return subprocess.run(
            [sys.executable, "-m", "parallel_inverted_index_map_reduce_spark", *args],
            cwd=REPO, capture_output=True, text=True, timeout=300, env=env,
        )

    res = cli("ann-store", str(emb), "--base", "cliann", "--lists", "2")
    assert res.returncode == 0, res.stderr[-2000:]
    assert "stored ANN index 'cliann'" in res.stdout

    res = cli("ann", "--stored", "cliann", "--ids", "0", "--k", "2",
              "--nprobe", "2")
    assert res.returncode == 0, res.stderr[-2000:]
    # nearest to e_x is the 0.9/0.1 vector, then the orthogonal ones
    assert "ann 0 #1: vec 1" in res.stdout
    assert "ann 0 #2: vec 2" in res.stdout or "ann 0 #2: vec 3" in res.stdout

    # a third process appends a closer vector; a fourth serves it as #1
    batch = tmp_path / "batch.parquet"
    spark.createDataFrame(
        [(5, [0.95, 0.05, 0.0, 0.0])], "vec_id long, embedding array<float>"
    ).coalesce(1).write.mode("overwrite").parquet(str(batch))
    res = cli("ann-extend", "cliann", str(batch))
    assert res.returncode == 0, res.stderr[-2000:]
    assert "extended ANN store 'cliann' with 1 vectors" in res.stdout
    res = cli("ann", "--stored", "cliann", "--ids", "0", "--k", "2",
              "--nprobe", "2")
    assert res.returncode == 0, res.stderr[-2000:]
    assert "ann 0 #1: vec 5" in res.stdout
    assert "ann 0 #2: vec 1" in res.stdout

    res = cli("ann", "--stored", "cliann")
    assert res.returncode == 2 and "--ids" in res.stderr


def test_cli_ann_ids_on_quantized_store_exits_2(spark, tmp_path):
    """An int8-quantized ANN store keeps (q, q_scale), not the float
    embeddings ``--ids`` would query with: the CLI exits 2 and says to
    pass a queries parquet, instead of crashing on an unresolved
    column."""
    import os

    emb = tmp_path / "emb.parquet"
    spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.7, 0.7])],
        "vec_id long, embedding array<float>",
    ).coalesce(1).write.mode("overwrite").parquet(str(emb))
    env = dict(os.environ, SPARK_GRAFT_WAREHOUSE=str(tmp_path / "wh"))

    def cli(*args):
        return subprocess.run(
            [sys.executable, "-m", "parallel_inverted_index_map_reduce_spark", *args],
            cwd=REPO, capture_output=True, text=True, timeout=300, env=env,
        )

    res = cli("ann-store", str(emb), "--base", "qann", "--lists", "2",
              "--quantize")
    assert res.returncode == 0, res.stderr[-2000:]
    res = cli("ann", "--stored", "qann", "--ids", "0")
    assert res.returncode == 2, res.stderr[-2000:]
    assert "queries .parquet" in res.stderr
    assert "UNRESOLVED_COLUMN" not in res.stderr


def test_cli_search_without_manifest_or_store_errors(tmp_path):
    res = subprocess.run(
        [
            sys.executable, "-m", "parallel_inverted_index_map_reduce_spark",
            "search", "--term", "spark",
        ],
        cwd=REPO, capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 2
    assert "manifest" in res.stderr


def test_cli_extend_then_vocab_search(spark, tmp_path):
    """Ingest over the CLI, across processes: right after a plain
    extend, term / prefix / fuzzy lookups in a new process all include
    the fresh docs."""
    import os

    v1 = tmp_path / "v1.parquet"
    batch = tmp_path / "batch.parquet"
    rows1 = [(1, "spark makes indexes"), (2, "spark query engines rock")]
    rows2 = [(100, "sparse spray of fresh docs"), (101, "quary typo doc")]
    spark.createDataFrame(rows1, "doc_id long, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(str(v1))
    spark.createDataFrame(rows2, "doc_id long, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(str(batch))
    wh = tmp_path / "wh"
    env = dict(os.environ, SPARK_GRAFT_WAREHOUSE=str(wh))

    def cli(*args):
        return subprocess.run(
            [sys.executable, "-m", "parallel_inverted_index_map_reduce_spark", *args],
            cwd=REPO, capture_output=True, text=True, timeout=300, env=env,
        )

    res = cli("index-store", str(v1), "--base", "clidef",
              "--buckets", "4")
    assert res.returncode == 0, res.stderr[-2000:]

    res = cli("extend", "clidef", str(batch))
    assert res.returncode == 0, res.stderr[-2000:]
    assert "extended 'clidef' with 2 documents" in res.stdout

    # fresh docs visible to every lookup flavor
    res = cli(
        "search", "--stored", "clidef",
        "--term", "sparse",
        "--prefix", "sp",
        "--fuzzy", "query",
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert "term sparse: [100]" in res.stdout
    assert "prefix sp*: spark [1 2]" in res.stdout
    assert "prefix sp*: sparse [100]" in res.stdout
    assert "prefix sp*: spray [100]" in res.stdout
    assert "fuzzy~1 query: query [2]" in res.stdout
    assert "fuzzy~1 query: quary [101]" in res.stdout


def _cli_store_env(spark, tmp_path):
    """(cli runner, v1, batch, both) over a private warehouse: a
    two-doc corpus, a one-doc fresh-id batch, and their union."""
    import os

    v1 = tmp_path / "v1.parquet"
    batch = tmp_path / "batch.parquet"
    both = tmp_path / "both.parquet"
    rows1 = [(1, "spark makes indexes"), (2, "spark query engines rock")]
    rows2 = [(100, "fresh spark ingest")]
    for path, rows in ((v1, rows1), (batch, rows2), (both, rows1 + rows2)):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(path))
    env = dict(os.environ, SPARK_GRAFT_WAREHOUSE=str(tmp_path / "wh"))

    def cli(*args):
        return subprocess.run(
            [sys.executable, "-m", "parallel_inverted_index_map_reduce_spark", *args],
            cwd=REPO, capture_output=True, text=True, timeout=300, env=env,
        )

    return cli, v1, batch, both


def test_cli_store_stats_reports_health(spark, tmp_path):
    """store-stats surfaces the operator-facing health facts: fresh
    store all-current with no chunks table, an extend flips norms stale
    and verify-store says so while still exiting 0 (the store IS
    correct)."""
    import json

    cli, v1, batch, both = _cli_store_env(spark, tmp_path)
    assert cli("index-store", str(v1), "--base", "clistat",
               "--buckets", "4").returncode == 0
    res = cli("store-stats", "clistat")
    assert res.returncode == 0, res.stderr[-2000:]
    st = json.loads(res.stdout)
    assert st["version"] == 5 and st["norms_current"]
    assert "chunks_current" not in st and "chunk_size" not in st
    tables = st["tables"]
    assert tables["chunks"] == {"present": False, "n_files": 0, "bytes": 0}
    assert all(
        t["present"] and t["n_files"] > 0
        for name, t in tables.items()
        if name != "chunks"
    )

    assert cli("extend", "clistat", str(batch)).returncode == 0
    st = json.loads(cli("store-stats", "clistat").stdout)
    assert not st["norms_current"]
    assert not st["extend_in_progress"]
    res = cli("verify-store", "clistat", str(both))
    assert res.returncode == 0  # stale-but-correct is OK, with a note
    assert "norms stale" in res.stdout


def test_cli_compact_after_plain_extend_refreshes_norms(spark, tmp_path):
    """compact must act on stale norms: index-store -> extend -> compact
    leaves store-stats reporting norms_current, verify-store reports no
    staleness, and a second compact is a no-op."""
    import json

    cli, v1, batch, both = _cli_store_env(spark, tmp_path)
    assert cli("index-store", str(v1), "--base", "clicomp",
               "--buckets", "4").returncode == 0
    assert cli("extend", "clicomp", str(batch)).returncode == 0

    res = cli("compact", "clicomp")
    assert res.returncode == 0, res.stderr[-2000:]
    assert "compacted 'clicomp'" in res.stdout
    st = json.loads(cli("store-stats", "clicomp").stdout)
    assert st["norms_current"]
    res = cli("verify-store", "clicomp", str(both))
    assert res.returncode == 0 and "stale" not in res.stdout

    res = cli("compact", "clicomp")
    assert res.returncode == 0
    assert "nothing to do" in res.stdout


def test_cli_sample_and_cdc_modes(spark, tmp_path):
    """The sampling + content-defined-chunking CLI fronts: priority /
    quota (plain and --scalable agree cross-process with the in-session
    operators) and cdc stats."""
    from parallel_inverted_index_map_reduce_spark.operators import sampling as sp

    src = str(tmp_path / "docs_pq")
    docs = load_table(spark, SF_ORACLE, "documents")
    docs.write.parquet(src)

    res = subprocess.run(
        [sys.executable, "-m", "parallel_inverted_index_map_reduce_spark",
         "sample", src, "--priority", "5"],
        cwd=REPO, capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    got = [l for l in res.stdout.splitlines() if l.startswith("priority #")]
    want = sp.priority_sample(
        docs.select("doc_id", "n_chars"), "doc_id", "n_chars", k=5
    ).collect()
    assert [int(l.split("doc_id ")[1].split(" ")[0]) for l in got] == [
        r.doc_id for r in sorted(want, key=lambda r: r.rank)
    ]

    res = subprocess.run(
        [sys.executable, "-m", "parallel_inverted_index_map_reduce_spark",
         "sample", src, "--quota", "2", "--scalable"],
        cwd=REPO, capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    got_q = {
        (l.split()[1], int(l.split("doc_id ")[1]))
        for l in res.stdout.splitlines()
        if l.startswith("quota ")
    }
    want_q = {
        (r.lang, r.doc_id)
        for r in sp.quota_sample(
            docs.select("doc_id", "lang"), "lang", "doc_id", k=2
        ).collect()
    }
    assert got_q == want_q

    res = subprocess.run(
        [sys.executable, "-m", "parallel_inverted_index_map_reduce_spark",
         "sample", src],
        cwd=REPO, capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 2 and "nothing to do" in res.stderr

    out = str(tmp_path / "cdc_pq")
    res = subprocess.run(
        [sys.executable, "-m", "parallel_inverted_index_map_reduce_spark",
         "cdc", src, "--out", out],
        cwd=REPO, capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    line = [l for l in res.stdout.splitlines() if l.startswith("cdc chunks")][0]
    n_cli = int(line.split()[2])
    from parallel_inverted_index_map_reduce_spark.operators.chunking import (
        cdc_chunks,
    )

    assert n_cli == cdc_chunks(docs).count()
    landed = spark.read.parquet(out)
    assert landed.count() == n_cli


def test_sketch_cli_hll_heavy_cms(tmp_path):
    """The sketch front prints the deterministic approximate aggregates
    in one subprocess run each: the HLL estimate with its exact-count
    error, MG heavy hitters with exact counts, and CMS upper bounds
    (an absent probe's bound is collision noise, never understated)."""

    def cli(*args):
        return subprocess.run(
            [sys.executable, "-m", "parallel_inverted_index_map_reduce_spark",
             "sketch", *args],
            cwd=REPO, capture_output=True, text=True, timeout=300,
        )

    res = cli("/root/testdata/sf0.001/lineitem.parquet",
              "--hll", "l_partkey", "--exact")
    assert res.returncode == 0, res.stderr[-2000:]
    line = [l for l in res.stdout.splitlines() if l.startswith("hll ")][0]
    # "hll l_partkey estimate E exact X err P%"
    parts = line.split()
    est, exact = float(parts[3]), int(parts[5])
    assert exact > 0 and abs(est - exact) / exact < 0.40

    res = cli("/root/testdata/sf0.001/documents.parquet",
              "--heavy", "60", "--cms", "join,nosuchwordxyz")
    assert res.returncode == 0, res.stderr[-2000:]
    heavies = [l for l in res.stdout.splitlines() if l.startswith("heavy ")]
    assert heavies, res.stdout
    cms = {l.split()[1]: int(l.split()[3])
           for l in res.stdout.splitlines() if l.startswith("cms ")}
    assert set(cms) == {"join", "nosuchwordxyz"}
    # one-sided error: the real word's bound is at least its heavy count
    heavy_counts = {l.split()[1]: int(l.split()[2]) for l in heavies}
    if "join" in heavy_counts:
        assert cms["join"] >= heavy_counts["join"]

    res = cli("/root/testdata/sf0.001/documents.parquet")
    assert res.returncode == 2  # nothing to do
