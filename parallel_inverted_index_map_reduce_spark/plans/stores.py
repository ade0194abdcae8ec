"""Session-scoped memoization for expensive built-store directories.

Several registry entries build a store at DataFrame-construction time
(streamed serving/ANN snapshots, the incremental prep pipeline's
committed output, the stateful-totals sink). Plan-only consumers —
registry-wide plan sweeps, repeated driver parts — construct those
DataFrames many times per session, and every rebuild costs a blocking
stream run and leaks a temp dir until process exit. This module is the
ONE implementation of the fix: memoize the built directory per
(kind, key) for the life of the process, building into a fresh
atexit-cleaned temp dir on first use. A fresh driver process always
rebuilds, so every layout stays re-proven per run.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
from collections.abc import Callable
from contextlib import contextmanager

_STORES: dict[tuple[str, str], str] = {}
# per-key build locks (guarded by _LOCKS_GUARD): two threads asking for
# the same store must not both miss the cache and run the expensive
# stream build twice; different keys still build concurrently
_LOCKS_GUARD = threading.Lock()
_LOCKS: dict[tuple[str, str], threading.Lock] = {}


def input_key(sf_dir: str, df) -> str:
    """Memoization key for a store built FROM ``df`` at ``sf_dir``:
    the path plus an order-independent content fingerprint (row count +
    xor of per-row xxhash64 over every column — the serving sidecars'
    fingerprint formula, serving._count_xor64, over all columns).
    Keying on the path alone would serve a STALE snapshot if the table
    at that path were regenerated within one session; folding content
    in makes the memo self-invalidating. One narrow scan per
    construction — trivial next to the stream build it guards, and xor
    is associative/commutative so partitioning cannot change the key."""
    from ..operators.serving import _count_xor64

    n, x = _count_xor64(df, df.columns)
    return f"{sf_dir}|n{n}x{x & 0xFFFFFFFFFFFFFFFF:016x}"


def fresh_tmpdir(prefix: str = "sparkgraft_store_") -> str:
    """A temp dir removed at interpreter exit (best-effort)."""
    tmp = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    return tmp


def session_store(kind: str, key: str, build: Callable[[str], str]) -> str:
    """Return the memoized store directory for ``(kind, key)``.

    On first use (or if the cached directory vanished), calls
    ``build(tmpdir)`` with a fresh atexit-cleaned temp dir; ``build``
    returns the store path to cache (usually a subdirectory of the
    temp dir it was given).
    """
    k = (kind, key)
    with _LOCKS_GUARD:
        lock = _LOCKS.setdefault(k, threading.Lock())
    with lock:
        got = _STORES.get(k)
        if got is not None and os.path.isdir(got):
            return got
        store = build(fresh_tmpdir(f"sparkgraft_{kind}_"))
        _STORES[k] = store
        return store


# tuned_shuffle is reference-counted: session_store deliberately lets
# DIFFERENT-key builds run concurrently, so a naive save/restore would
# let the first build's exit reset the conf to 200 mid-flight of an
# overlapping build (reintroducing the 200-wide stateful-stage slowdown
# the helper exists to fix — perf only, content is partition-invariant).
# The ORIGINAL value is captured by the first entrant and restored by
# the last exiter; one session per process, like everything here.
_TUNE_GUARD = threading.Lock()
_TUNE_DEPTH = 0
_TUNE_SAVED: str | None = None


@contextmanager
def tuned_shuffle(spark, n: int | None = None):
    """Temporarily pin spark.sql.shuffle.partitions to the machine's
    parallelism for the duration of a store build.

    The driver owns the session and leaves the 200-partition default;
    a streaming micro-batch then runs every stateful stage (join state
    stores, window state, HDFS-backed providers) 200-wide over
    kilobytes of data — measured 100 s vs ~20 s for the stream-joins
    build at sf0.01. The override is scoped and RESTORED BY THE LAST
    ACTIVE BLOCK (reference-counted — concurrent different-key builds
    overlap, see _TUNE_GUARD note): it applies to queries STARTED
    inside the block (each build uses its own fresh checkpoint, so the
    state-store partition count baked into it is consistent), and
    partition count never changes result CONTENT (pinned by
    tests/test_determinism.py's shuffle-partition matrix).
    """
    global _TUNE_DEPTH, _TUNE_SAVED
    key = "spark.sql.shuffle.partitions"
    n = n if n is not None else spark.sparkContext.defaultParallelism
    with _TUNE_GUARD:
        if _TUNE_DEPTH == 0:
            try:
                _TUNE_SAVED = spark.conf.get(key)
            except Exception:
                _TUNE_SAVED = None
        _TUNE_DEPTH += 1
        spark.conf.set(key, str(n))
    try:
        yield
    finally:
        with _TUNE_GUARD:
            _TUNE_DEPTH -= 1
            if _TUNE_DEPTH == 0:
                if _TUNE_SAVED is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, _TUNE_SAVED)


def drain(query, what: str, timeout_sec: int = 600) -> None:
    """Await a StreamingQuery's availableNow termination, raising (and
    stopping the query) on timeout — the shared build-time discipline
    for every in-session snapshot builder."""
    if not query.awaitTermination(timeout_sec):
        query.stop()
        raise TimeoutError(f"{what} did not finish in {timeout_sec}s")
