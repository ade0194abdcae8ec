"""Every package function is reached from an entry point, or is listed in
KEEP with the reason it stays.

Roots: the registered ``q_*`` queries, ``__main__.py``, ``perfbench/``,
``bench.py``, ``__spark_entry__.py`` and every module's top-level code.
A reached body reaches each package function it names — as a name, an
attribute, or a word inside a string literal (so a docstring mention
counts). Names are matched without their module. Both rules err toward
"reached", so what the closure reports unreached really is unreferenced
outside tests.

The set of unreached functions must EQUAL KEEP: a new dead function
fails this test, and so does a KEEP entry whose function was deleted or
has become reached.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "parallel_inverted_index_map_reduce_spark"
ROOT_FILES = (
    *sorted((REPO / "perfbench").glob("*.py")),
    REPO / "bench.py",
    REPO / "__spark_entry__.py",
)

KEEP = {
    # reference twins that tests compare the engine against
    "boolean_or": "twin of the stored boolean OR (test_boolean_search)",
    "boolean_not": "twin of the stored boolean NOT (test_boolean_search)",
    "attribution_batch": "batch twin of the stream-stream join (test_streaming_joins)",
    # stream sources and drains for tests of operators the roots reach
    "read_events_stream": "events file-stream source for the stateful-totals, "
    "exactly-once sink and stream-join tests",
    "_events_raw_schema": "helper of read_events_stream",
    "run_to_memory": "drains the bounded test streams into memory tables",
    "read_documents_stream": "documents file-stream source for the prep-pipeline tests",
    # observers of reached operators
    "ann_probe_order": "observes the stored ANN index's partition pruning",
    "packing_stats": "observes the sequence packer's fill",
    "read_training_shard": "reads back the training-shard writer's order",
    "index_lines_per_letter": "driver-side index lines for golden parity",
    # public entry points
    "register_views": "README's documented SQL entry point",
    "load_tables": "README's documented SQL entry point",
    "verify_ann_index": "public peer of verify_search_index",
    # maintenance
    "compact_ann_store": "ANN counterpart of compact_serving_store; without it "
    "streamed ANN delta chains could never be compacted",
}

_WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.update(_WORD.findall(n.value))
    return out


def unreached_functions() -> dict[str, list[str]]:
    """{function name: [defining files]} for every top-level package
    function no root reaches."""
    bodies: dict[str, list[ast.AST]] = {}
    where: dict[str, list[str]] = {}
    roots: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        whole_file_is_root = path.name == "__main__.py"
        for stmt in ast.parse(path.read_text(), str(path)).body:
            if not isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                roots |= _names(stmt)
                continue
            bodies.setdefault(stmt.name, []).append(stmt)
            where.setdefault(stmt.name, []).append(str(path.relative_to(PACKAGE)))
            decorators = set().union(*map(_names, stmt.decorator_list))
            roots |= decorators
            if whole_file_is_root or "register" in decorators:
                roots.add(stmt.name)
    for path in ROOT_FILES:
        roots |= _names(ast.parse(path.read_text(), str(path)))

    reached: set[str] = set()
    todo = [name for name in roots if name in bodies]
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for body in bodies[name]:
            todo.extend(n for n in _names(body) if n in bodies and n not in reached)
    return {name: files for name, files in where.items() if name not in reached}


def test_unreached_functions_are_exactly_the_kept_ones():
    unreached = unreached_functions()
    dead = {name: unreached[name] for name in sorted(set(unreached) - set(KEEP))}
    stale = sorted(set(KEEP) - set(unreached))
    assert not dead, (
        f"no query, CLI or benchmark reaches {dead}: delete them with the "
        "tests that exercise only them, or add each to KEEP with its reason"
    )
    assert not stale, (
        f"KEEP names functions that are gone or now reached: {stale}; "
        "drop their entries"
    )
