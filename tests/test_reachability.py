"""Every package definition is reached from an entry point, or is listed
in KEEP with the reason it stays.

Roots: the registered ``q_*`` queries, ``__main__.py``, ``perfbench/``,
``bench.py``, ``__spark_entry__.py`` and every module's top-level code.

Definitions: top-level functions and classes, and single-name
module-level assignments (``X = ...``, ``X: T = ...``). An assignment's
value is followed only once the assignment is reached, so a schema or a
constant that only dead code reads is dead too. Dunder assignments such
as ``__version__`` and assignments with more than one target stay
top-level code, that is, roots.

Only code reaches code. A reached body reaches each definition it names,
as a name or an attribute; names are matched without their module. A
word inside a string literal is not a reference: a docstring, an error
message or a registry ``doc=`` text that names a function documents it,
and prose kept a function alive that nothing calls.

KEEP names are extra roots, so a helper that only a kept definition
uses needs no entry of its own. The test asserts that nothing is defined
outside the closure of roots and KEEP, and that every KEEP name is
defined and not already reached from the roots alone.
"""

from __future__ import annotations

import ast
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
    "boolean_and": "twin of the stored boolean AND (test_boolean_search)",
    "boolean_or": "twin of the stored boolean OR (test_boolean_search)",
    "boolean_not": "twin of the stored boolean NOT (test_boolean_search)",
    "attribution_batch": "batch twin of the stream-stream join (test_streaming_joins)",
    # stream sources and drains for tests of operators the roots reach
    "read_events_stream": "events file-stream source for the exactly-once sink "
    "and stream-join tests",
    "run_to_memory": "drains the bounded test streams into memory tables",
    "read_documents_stream": "documents file-stream source for the prep-pipeline tests",
    # observers of reached operators
    "ann_probe_order": "observes the stored ANN index's partition pruning",
    "packing_stats": "observes the sequence packer's fill",
    "read_training_shard": "reads back the training-shard writer's order",
    "index_lines_per_letter": "driver-side index lines for golden parity",
    "dequantize": "observes quantize_int8's reconstruction error (test_quantization)",
    # what a public max_bucket cap drops, so a cap is never silent
    "lsh_bucket_overflow": "accounts for what lsh_candidate_pairs' max_bucket drops",
    "near_dup_bucket_overflow": "accounts for what near_dup_keep_list's max_bucket drops",
    "simhash_block_overflow": "accounts for what simhash_near_dups' max_bucket "
    "drops; its saturation error names it as the remedy",
    "bucketed_overflow": "accounts for what bucketed_near_dups' max_bucket drops",
    # public entry points
    "register_views": "README's documented SQL entry point",
    "load_tables": "README's documented SQL entry point",
    "verify_ann_index": "public peer of verify_search_index",
    # streamed-store maintenance: without these, delta chains grow without bound
    "compact_serving_store": "compacts the streamed text store (test_delta_protocol)",
    "prune_versions": "drops superseded streamed-store versions (test_delta_protocol)",
    "compact_ann_store": "compacts the streamed ANN store, as compact_serving_store "
    "does the text store",
}


def _names(node: ast.AST) -> set[str]:
    """Every name and attribute ``node`` mentions; string literals add none."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _defined_name(stmt: ast.stmt) -> str | None:
    """The name a top-level statement defines, or None for top-level code."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return stmt.name
    if isinstance(stmt, ast.Assign) and len(stmt.targets) == 1:
        target = stmt.targets[0]
    elif isinstance(stmt, ast.AnnAssign):
        target = stmt.target
    else:
        return None
    if not isinstance(target, ast.Name):
        return None
    name = target.id
    return None if name.startswith("__") and name.endswith("__") else name


def _scan(package: Path, root_files) -> tuple[dict, dict, set[str]]:
    """(bodies, where, roots): each definition's statements and defining
    files, and the names the roots mention."""
    bodies: dict[str, list[ast.stmt]] = {}
    where: dict[str, list[str]] = {}
    roots: set[str] = set()
    for path in sorted(package.rglob("*.py")):
        whole_file_is_root = path.name == "__main__.py"
        for stmt in ast.parse(path.read_text(), str(path)).body:
            name = _defined_name(stmt)
            if name is None:
                roots |= _names(stmt)
                continue
            bodies.setdefault(name, []).append(stmt)
            where.setdefault(name, []).append(str(path.relative_to(package)))
            decorators = set().union(*map(_names, getattr(stmt, "decorator_list", [])))
            roots |= decorators
            if whole_file_is_root or "register" in decorators:
                roots.add(name)
    for path in root_files:
        roots |= _names(ast.parse(path.read_text(), str(path)))
    return bodies, where, roots


def _closure(start: set[str], bodies: dict[str, list[ast.stmt]]) -> set[str]:
    reached: set[str] = set()
    todo = [name for name in start if name in bodies]
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for body in bodies[name]:
            todo.extend(n for n in _names(body) if n in bodies and n not in reached)
    return reached


def unreached(package: Path, root_files, keep) -> tuple[dict[str, list[str]], list[str]]:
    """(dead, stale): {name: [defining files]} for each definition outside
    the closure of the roots and ``keep``, and the ``keep`` names that are
    not defined or that the roots alone reach."""
    bodies, where, roots = _scan(package, root_files)
    from_roots = _closure(roots, bodies)
    with_keep = _closure(roots | set(keep), bodies)
    dead = {name: files for name, files in sorted(where.items()) if name not in with_keep}
    stale = sorted(name for name in keep if name not in bodies or name in from_roots)
    return dead, stale


def test_unreached_functions_are_exactly_the_kept_ones():
    dead, stale = unreached(PACKAGE, ROOT_FILES, KEEP)
    assert not dead, (
        f"no query, CLI or benchmark reaches {dead}: delete them with the "
        "tests that exercise only them, or add each to KEEP with its reason"
    )
    assert not stale, (
        f"KEEP names definitions that are gone or now reached: {stale}; "
        "drop their entries"
    )


def test_closure_rule_on_a_synthetic_package(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "mod.py").write_text(
        "__version__ = version_string()\n"
        "LIMIT = 3\n"
        "def version_string():\n"
        '    return "1.0"\n'
        "def entry():\n"
        '    """Unlike only_in_prose, this one is called."""\n'
        "    return used() + reached_kept()\n"
        "def used():\n"
        "    return 1\n"
        "def only_in_prose():\n"
        "    return 0\n"
        "def dead_reader():\n"
        "    return LIMIT\n"
        "def kept():\n"
        "    return kept_helper()\n"
        "def kept_helper():\n"
        "    return 2\n"
        "def reached_kept():\n"
        "    return 4\n"
    )
    root = tmp_path / "root.py"
    root.write_text("from pkg.mod import entry\nentry()\n")

    dead, stale = unreached(pkg, [root], {"kept": "", "reached_kept": ""})

    # only_in_prose: a docstring names it; LIMIT: only dead_reader reads it;
    # kept_helper: only a KEEP name calls it; version_string: __version__'s
    # value is top-level code
    assert set(dead) == {"only_in_prose", "dead_reader", "LIMIT"}
    assert stale == ["reached_kept"]
