"""Reference-parity goldens (SURVEY.md §5 adaptation #1).

Runs the Spark index pipeline over the reference's own corpora
(/root/reference/checker/test_in_small and test_in) and compares the
emitted per-letter files against the shipped goldens
(checker/test_out_small, checker/test_out) with ``diff -w`` semantics
(whitespace-insensitive line compare, matching checker.sh:27).

This is the strongest correctness signal available: 33,262 golden lines
produced by the reference binary itself. Every index build in BUILDERS
must reproduce them byte-for-byte.
"""

from __future__ import annotations

import os
import string

import pytest

from parallel_inverted_index_map_reduce_spark.operators.index import build_index
from parallel_inverted_index_map_reduce_spark.sinks.text_index import (
    index_lines_per_letter,
    write_index_text,
)
from parallel_inverted_index_map_reduce_spark.sources.corpus import read_manifest_corpus

CHECKER = "/root/reference/checker"
BUILDERS = {"plain": build_index}


def _golden_lines(golden_dir: str, letter: str) -> list[str]:
    path = os.path.join(golden_dir, f"{letter}.txt")
    with open(path, encoding="utf-8", errors="replace") as fh:
        # diff -w semantics: collapse all whitespace runs
        return [" ".join(line.split()) for line in fh if line.strip()]


def _assert_parity(lines_by_letter: dict[str, list[str]], golden_dir: str):
    for letter in string.ascii_lowercase:
        ours = [" ".join(l.split()) for l in lines_by_letter[letter]]
        golden = _golden_lines(golden_dir, letter)
        assert ours == golden, (
            f"letter '{letter}': {len(ours)} vs {len(golden)} lines; "
            f"first diff: {next(((a, b) for a, b in zip(ours, golden) if a != b), (ours[:2], golden[:2]))}"
        )


@pytest.mark.skipif(not os.path.isdir(CHECKER), reason="reference checkout absent")
@pytest.mark.parametrize("variant", BUILDERS, ids=list(BUILDERS))
def test_small_corpus_golden(spark, variant):
    docs = read_manifest_corpus(spark, os.path.join(CHECKER, "test_small.txt"))
    idx = BUILDERS[variant](docs)  # doc_id already 1-based from the manifest
    _assert_parity(index_lines_per_letter(idx), os.path.join(CHECKER, "test_out_small"))


@pytest.mark.skipif(not os.path.isdir(CHECKER), reason="reference checkout absent")
@pytest.mark.parametrize("variant", BUILDERS, ids=list(BUILDERS))
def test_full_corpus_golden(spark, tmp_path, variant):
    docs = read_manifest_corpus(spark, os.path.join(CHECKER, "test.txt"))
    idx = BUILDERS[variant](docs)
    out = str(tmp_path / "index_out")
    write_index_text(idx, out)
    for letter in string.ascii_lowercase:
        with open(os.path.join(out, f"{letter}.txt"), encoding="utf-8") as fh:
            ours = [" ".join(l.split()) for l in fh if l.strip()]
        golden = _golden_lines(os.path.join(CHECKER, "test_out"), letter)
        assert ours == golden, (
            f"variant {variant}, letter '{letter}': {len(ours)} vs "
            f"{len(golden)} lines; first diff: "
            f"{next(((a, b) for a, b in zip(ours, golden) if a != b), None)}"
        )
