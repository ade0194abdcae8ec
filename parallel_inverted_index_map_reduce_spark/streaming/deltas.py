"""Delta-versioned streaming store protocol (manifest + live deltas).

Through round 10 every streamed maintenance path (serving_stream /
ann_stream) wrote a COMPLETE snapshot per micro-batch —
O(store) per increment, measured at 560 s of sf10 ann_topk for the
streamed ANN build alone, where the BATCH extend paths
(operators/serving.py extend_search_index / extend_ann_index) are
already append-only O(batch). This module closes that gap: a version
becomes LOGICAL — its ``_MANIFEST.json`` lists, per artifact, the LIVE
DELTA directories whose composition IS the artifact at that version —
and each micro-batch writes only its own delta.

Composition modes:

- ``append``: version = union of the listed deltas (positions, doclen,
  docterms, vectors — artifacts where every row belongs to exactly one
  batch forever).
- ``full``: tiny O(1) artifacts rewritten per version (stats,
  centroids); the list is always exactly the owning version's copy.

Crash safety is UNCHANGED from streaming/sinks.py: deltas and manifest
land before the commit marker, so a version is complete-or-invisible;
a replayed batch rebuilds its delta and manifest from the latest
COMMITTED manifest and overwrites only its own directory.

Compaction (:func:`compact_marker` + per-store ``compact_*`` helpers)
is the offline maintenance step, run between stream runs like version
pruning: it materializes the latest committed version's composition
into one ``compact=V/`` directory (data first, marker second — the
protocol's visibility idiom), then atomically rewrites version V's
manifest to reference the compact instead of the deltas it covers
(``os.replace``; content-equal by construction, so readers before and
after the swap see identical rows). Later batches inherit the
compacted composition through the normal prev-manifest chain, and
:func:`prune_versions` deletes any directory no retained manifest
references.

At 100 TB this is the directory-layout equivalent of what a table
format's snapshot+manifest metadata does (log-structured appends,
background compaction); the protocol here is dependency-free but
shape-identical, so per-increment cost is bounded by the batch, never
the store.
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import DataFrame

from . import sinks as eo

MANIFEST = "_MANIFEST.json"


def manifest_path(version_dir: str) -> str:
    return os.path.join(version_dir, MANIFEST)


def write_manifest(version_dir: str, manifest: dict) -> None:
    """Atomically land ``manifest`` as the dir's manifest:
    ``{"version": N, "artifacts": {name: {"mode": ..., "deltas":
    [relpaths]}}}`` plus any store-level fields (the serving stream's
    ``layout``). os.replace keeps a crashed rewrite from leaving a torn
    manifest."""
    os.makedirs(version_dir, exist_ok=True)
    tmp = manifest_path(version_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, manifest_path(version_dir))


def read_manifest(version_dir: str) -> dict:
    with open(manifest_path(version_dir)) as f:
        return json.load(f)


def latest_committed_dir(store_dir: str) -> str | None:
    """The newest committed VERSION directory (batch_id=N), or None."""
    dirs = eo.committed_batch_dirs(store_dir)
    if not dirs:
        return None
    return max(dirs, key=lambda d: int(d.rsplit("=", 1)[1]))


def extend_deltas(
    prev_manifest: dict | None, name: str, own_rel: str, mode: str
) -> dict:
    """The manifest entry for ``name`` at the NEW version: the previous
    version's live-delta list (compaction rewrites flow through here
    unchanged — the chain simply inherits them) plus this batch's own
    delta. ``full`` artifacts never chain."""
    if mode == "full":
        return {"mode": "full", "deltas": [own_rel]}
    prev = (
        list(prev_manifest["artifacts"][name]["deltas"])
        if prev_manifest is not None
        else []
    )
    return {"mode": mode, "deltas": prev + [own_rel]}


def compose(frames: list[DataFrame], mode: str) -> DataFrame:
    """The artifact a manifest entry denotes, from its per-delta frames
    (in manifest list order): both modes are the union of the listed
    deltas (a ``full`` list holds exactly one)."""
    if not frames:
        raise ValueError("empty delta list")
    if mode not in ("append", "full"):
        raise ValueError(f"unknown compose mode {mode!r}")
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def read_artifact(
    store_dir: str, man: dict, name: str, read_one
) -> DataFrame:
    """Compose artifact ``name`` of manifest ``man``; ``read_one(path)``
    loads one delta directory (owns schema/inference policy)."""
    ent = man["artifacts"][name]
    frames = [read_one(os.path.join(store_dir, rel)) for rel in ent["deltas"]]
    return compose(frames, ent["mode"])


# ------------------------------------------------------------- compaction

def compact_dir(store_dir: str, version: int) -> str:
    return os.path.join(store_dir, f"compact={version}")


def compact_marker(store_dir: str, version: int) -> str:
    return os.path.join(store_dir, f"_compacted_{version}")


def finish_compaction(store_dir: str, version: int, rewrites: dict) -> None:
    """Commit a compaction: marker for ``compact=V`` first (data is
    already on disk), then atomically rewrite version V's manifest so
    each artifact in ``rewrites`` ({name: new relpath}) is served from
    the compact. Every window of this sequence is safe: compact dir
    without marker = invisible garbage; marker without manifest rewrite
    = unused-but-valid copy; after the rewrite, readers see the same
    rows from fewer directories (content-equal by construction)."""
    open(compact_marker(store_dir, version), "w").close()
    vdir = os.path.join(store_dir, f"batch_id={version}")
    man = read_manifest(vdir)
    for name, rel in rewrites.items():
        man["artifacts"][name]["deltas"] = [rel]
    write_manifest(vdir, man)


def prune_versions(store_dir: str, keep: int = 1) -> int:
    """Delete every committed batch/compact directory that no RETAINED
    version's manifest references (retained = newest ``keep`` committed
    versions, whose own directories always survive — they hold the
    manifest and any version-local full artifacts). Markers go first,
    data second (a crash between the two leaves an invisible
    directory, never a lying marker). Uncommitted
    directories are left for their replaying batch."""
    import shutil

    dirs = sorted(
        eo.committed_batch_dirs(store_dir),
        key=lambda d: int(d.rsplit("=", 1)[1]),
    )
    retained = dirs[-keep:] if keep else []
    referenced: set[str] = {os.path.basename(d) for d in retained}
    for d in retained:
        man = read_manifest(d)
        for ent in man["artifacts"].values():
            for rel in ent["deltas"]:
                referenced.add(rel.split("/", 1)[0])
    removed = 0
    for d in dirs:
        base = os.path.basename(d)
        if base in referenced:
            continue
        bid = int(base.rsplit("=", 1)[1])
        try:
            os.remove(eo.marker_path(store_dir, bid))
        except FileNotFoundError:
            pass
        shutil.rmtree(d, ignore_errors=True)
        removed += 1
    for d in glob.glob(os.path.join(store_dir, "compact=*")):
        base = os.path.basename(d)
        cid = int(base.rsplit("=", 1)[1])
        if base in referenced or not os.path.exists(
            compact_marker(store_dir, cid)
        ):
            continue
        try:
            os.remove(compact_marker(store_dir, cid))
        except FileNotFoundError:
            pass
        shutil.rmtree(d, ignore_errors=True)
        removed += 1
    return removed
