"""The benchmark's workloads, ``build`` and ``serve``, and their checks.

Both are closed loops driven by one Python process against the engine's
public functions on a session from ``session.get_spark`` with engine
defaults. Every answer is compared with a pure-Python twin; a wrong
answer or an exception counts as a failed operation.
"""

from __future__ import annotations

import math
import os
import resource
import sys
import threading
import time
import traceback
from dataclasses import dataclass
from statistics import mean, median

import pyarrow.parquet as pq

from . import gen, twins
from .trace import SpanWork, Tracer, read_event_log, subtree_work

QUERY_FNS = {
    "term": "stored_term_postings",
    "boolean": "boolean_search_stored",
    "bm25": "bm25_search_stored",
    "phrase": "phrase_search_stored",
    "prefix": "prefix_search_stored",
    "fuzzy": "fuzzy_term_search_stored",
    "mlt": "mlt_search_stored",
}
STORE_TABLES = ("positions", "chunks", "docterms", "doclen", "norms", "rwords")


@dataclass(frozen=True)
class Scale:
    docs: int  # documents per corpus
    mean_tokens: int
    cycle: int  # queries in one pass of the serve list


SCALES = {
    "full": Scale(docs=200, mean_tokens=900, cycle=50),
    # self-test only: every path, seconds instead of a minute
    "tiny": Scale(docs=30, mean_tokens=60, cycle=14),
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def quantile(xs, q: float) -> float:
    """Nearest-rank quantile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


class Bench:
    """State of one run: session, tracer, op accounting, the report."""

    def __init__(self, args, scale: Scale, work: str, cpus: int, t_start: float) -> None:
        self.args = args
        self.scale = scale
        self.work = work
        self.cpus = cpus
        self.t_start = t_start
        self.attempted = 0
        self.failed = 0
        self.rows_by_span: dict[int, int] = {}
        self.corrupt_next = bool(args.corrupt)
        self.report: dict[str, float] = {}
        self._lock = threading.Lock()
        self.spark = None
        self.tracer: Tracer | None = None
        self.sv = None

    # ---- session -------------------------------------------------------

    def start_session(self) -> None:
        """Start the session on a background thread, so the JVM launches
        while the inputs are generated; ``await_session`` joins it."""
        from parallel_inverted_index_map_reduce_spark.operators import serving
        from parallel_inverted_index_map_reduce_spark.session import get_spark

        def start() -> None:
            t0 = time.perf_counter()
            try:
                self.spark = get_spark(app_name="perfbench")
            except BaseException as e:  # re-raised on the main thread
                self._session_error = e
                return
            self.report["session.get_spark_s"] = time.perf_counter() - t0

        self.sv = serving
        self._session_error = None
        self._session_thread = threading.Thread(target=start, name="session")
        self._session_thread.start()

    def await_session(self) -> None:
        self._session_thread.join()
        if self._session_error is not None:
            raise self._session_error
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer = Tracer(self.spark, self.args.trace == 1)
        self.mark("session")

    def concurrently(self, fns) -> None:
        """Run set-up steps on parallel clients; a step that raises
        counts as a failed operation."""
        threads = [threading.Thread(target=_guarded, args=(self, "set-up step", fn)) for fn in fns]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    def mark(self, what: str) -> None:
        log(f"{time.perf_counter() - self.t_start:7.1f} s  {what}")

    def jvm_pid(self) -> int | None:
        gw = self.spark.sparkContext._gateway
        proc = getattr(gw, "proc", None)
        return proc.pid if proc is not None else None

    def peak_rss_mb(self) -> float:
        jvm_kb = 0
        pid = self.jvm_pid()
        if pid is not None:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024.0

    # ---- op accounting -------------------------------------------------

    def check(self, what: str, got, want) -> None:
        with self._lock:
            self.attempted += 1
            if self.corrupt_next:
                # self-test hook: damage exactly one answer
                self.corrupt_next = False
                got = ["corrupted", got]
            ok = got == want
            if not ok:
                self.failed += 1
        if not ok:
            log(f"WRONG ANSWER {what}: got {str(got)[:300]} want {str(want)[:300]}")

    def raised(self, what: str) -> None:
        with self._lock:
            self.attempted += 1
            self.failed += 1
        log(f"OPERATION RAISED {what}:\n{traceback.format_exc()}")

    # ---- engine calls --------------------------------------------------

    def paper_pipeline(self, manifest: str, out: str, prefixes: bool) -> float:
        """manifest -> documents -> index -> 26 files; returns wall s.
        With ``prefixes`` each lazy prefix is materialized through the
        noop sink inside its own span, so self time per layer is the
        difference between consecutive prefixes."""
        from parallel_inverted_index_map_reduce_spark.functions.text import tokens_df
        from parallel_inverted_index_map_reduce_spark.operators.index import build_index
        from parallel_inverted_index_map_reduce_spark.sinks.text_index import write_index_text
        from parallel_inverted_index_map_reduce_spark.sources.corpus import read_manifest_corpus

        tr, op = self.tracer, self.tracer.new_op()
        t0 = time.perf_counter()
        with tr.span("op.paper_pipeline", op):
            with tr.span("sources.corpus.read_manifest_corpus", op):
                docs = read_manifest_corpus(self.spark, manifest)
            if prefixes:
                with tr.span("prefix.docs", op):
                    _noop(docs)
                with tr.span("prefix.tokens", op):
                    _noop(tokens_df(docs))
            with tr.span("operators.index.build_index", op):
                index = build_index(docs)
            if prefixes:
                with tr.span("prefix.index", op):
                    _noop(index)
            with tr.span("sinks.text_index.write_index_text", op):
                write_index_text(index, out)
        return time.perf_counter() - t0

    def check_reference_files(self, what: str, out: str, want: dict[str, bytes]) -> None:
        got = {}
        for name in sorted(os.listdir(out)):
            with open(os.path.join(out, name), "rb") as fh:
                got[name] = fh.read()
        self.report["reference_output_bytes"] = sum(map(len, got.values()))
        self.check(what, got, want)

    def store(self, parquet: str, base: str, prefixes: bool) -> float:
        """store_search_index over the parquet documents; returns wall s."""
        from parallel_inverted_index_map_reduce_spark.operators.index import positional_postings

        tr, op = self.tracer, self.tracer.new_op()
        docs = self.spark.read.parquet(parquet)
        if prefixes:
            with tr.span("prefix.pq_docs", op):
                _noop(docs)
            with tr.span("prefix.positional", op):
                _noop(positional_postings(docs))
        t0 = time.perf_counter()
        with tr.span("operators.serving.store_search_index", op):
            self.sv.store_search_index(docs, base)
        return time.perf_counter() - t0

    def store_bytes(self, base: str) -> int:
        stats = self.sv.serving_store_stats(self.spark, base)
        return sum(t["bytes"] for t in stats["tables"].values())

    def store_table_report(self, base: str) -> None:
        stats = self.sv.serving_store_stats(self.spark, base)["tables"]
        for t in STORE_TABLES:
            self.report[f"operators.serving.store.{t}.files"] = stats[t]["n_files"]
            self.report[f"operators.serving.store.{t}.bytes"] = stats[t]["bytes"]

    def query(self, base: str, q: tuple) -> tuple[float, list]:
        """One stored query, timed from the call to the end of collect()."""
        sv, spark, tr = self.sv, self.spark, self.tracer
        kind = q[0]
        op = tr.new_op()
        t0 = time.perf_counter()
        with tr.span(f"operators.serving.{QUERY_FNS[kind]}", op) as sid:
            with tr.span("construct", op):
                if kind == "term":
                    df = sv.stored_term_postings(spark, base, [q[1]])
                elif kind == "boolean":
                    df = sv.boolean_search_stored(spark, base, q[1], q[2])
                elif kind == "bm25":
                    df = sv.bm25_search_stored(spark, base, q[1])
                elif kind == "phrase":
                    df = sv.phrase_search_stored(spark, base, q[1])
                elif kind == "prefix":
                    df = sv.prefix_search_stored(spark, base, q[1])
                elif kind == "fuzzy":
                    df = sv.fuzzy_term_search_stored(spark, base, q[1])
                else:
                    df = sv.mlt_search_stored(spark, base, q[1])
            with tr.span("execute", op):
                rows = df.collect()
            if sid is not None:
                self.rows_by_span[sid] = len(rows)
        return time.perf_counter() - t0, rows

    def mlt_expected(self, parquet: str, doc_ids) -> dict[int, list]:
        """more_like_this over the corpus scan, once per target document."""
        from parallel_inverted_index_map_reduce_spark.operators.index import more_like_this

        docs = self.spark.read.parquet(parquet)
        return {d: ranked(more_like_this(docs, d).collect()) for d in sorted(set(doc_ids))}

    def checked_query(self, base: str, q: tuple, want) -> float | None:
        try:
            dt, rows = self.query(base, q)
        except Exception:
            self.raised(f"query {q}")
            return None
        self.check(f"query {q}", normalize(q[0], rows), want)
        return dt


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def ranked(rows) -> list[tuple]:
    return sorted((r["rank"], r["doc_id"], r["score"]) for r in rows)


def normalize(kind: str, rows) -> list:
    if kind in ("term", "prefix", "fuzzy"):
        return sorted((r["word"], r["df"], list(r["postings"])) for r in rows)
    if kind == "boolean":
        return sorted((r["op"], r["term1"], r["term2"], list(r["doc_ids"])) for r in rows)
    if kind == "phrase":
        return sorted((r["doc_id"], list(r["match_positions"])) for r in rows)
    return ranked(rows)


def expected(twin: twins.Index, q: tuple, mlt: dict[int, list]) -> list:
    kind = q[0]
    if kind == "term":
        return twin.term(q[1])
    if kind == "boolean":
        return twin.boolean(q[1], q[2])
    if kind == "bm25":
        return sorted((r, d, s) for d, s, r in twin.bm25(q[1]))
    if kind == "phrase":
        return twin.phrase(q[1])
    if kind == "prefix":
        return twin.prefix(q[1])
    if kind == "fuzzy":
        return twin.fuzzy(q[1])
    return mlt[q[1]]


def input_bytes(docs) -> int:
    return sum(len(text.encode()) + 1 for _, text in docs)


def write_corpus(docs, root: str) -> tuple[str, str]:
    manifest = gen.write_text_corpus(docs, root)
    parquet = gen.write_parquet(docs, os.path.join(root, "docs.parquet"))
    return manifest, parquet


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------


def run_build(b: Bench) -> dict[str, float]:
    """Setup: inputs, twins, session, and a warm-up round: one run of
    the paper's pipeline on each of ``nproc`` parallel clients.
    Measured: more such rounds (manifest -> 26 files, each client into a
    directory of its own) for ``--seconds``; every run's files are
    compared byte for byte with the twin's. A traced run measures one
    client instead, and the store build (``trace_build``)."""
    s, seed, args = b.scale, b.args.seed, b.args
    b.start_session()
    vocab = gen.make_vocab(seed)
    docs = gen.make_docs(vocab, seed, "build", s.docs, s.mean_tokens)
    manifest, parquet = write_corpus(docs, os.path.join(b.work, "corpus"))
    twin = twins.Index(docs)
    want_files = twin.reference_files()
    tokens = sum(twin.dl.values())
    b.await_session()
    b.tracer.enabled = False

    def pipeline(client: int, what: str) -> float:
        out = os.path.join(b.work, f"out-{client}")
        dt = b.paper_pipeline(manifest, out, prefixes=False)
        b.check_reference_files(f"{what} reference files", out, want_files)
        return dt

    rounds(b, b.cpus, 0, pipeline)  # warm-up
    setup_s = time.perf_counter() - b.t_start
    log(f"build setup {setup_s:.1f} s (session {b.report['session.get_spark_s']:.1f} s)")
    b.report["input_tokens"] = tokens
    if args.trace:
        trace_build(b, vocab, docs, twin, manifest, parquet)
        return {}

    walls, window_s = rounds(b, b.cpus, args.seconds, pipeline)
    log(f"build: {len(walls)} pipeline runs on {b.cpus} clients in {window_s:.1f} s, "
        f"{[round(x, 1) for x in walls]} s")
    per_s = len(walls) / window_s
    b.report.update(
        ref_build_tokens_per_s=tokens * per_s,
        ref_build_runs=len(walls),
        clients=b.cpus,
        peak_rss_mb=b.peak_rss_mb(),
    )
    return {
        "setup_s": setup_s,
        "latency_ms": 1000 * mean(walls) if walls else 0.0,
        "throughput_per_s": tokens * per_s,
    }


def rounds(b: Bench, clients: int, seconds: float, op) -> tuple[list[float], float]:
    """Rounds of ``clients`` parallel calls ``op(client, what)``, one
    per client, until a round ends ``seconds`` or more after the first
    began; a call that raises counts as failed. Returns the wall time of
    every call that succeeded and the wall time of all rounds."""
    walls: list[float] = []
    lock = threading.Lock()
    t0 = time.perf_counter()
    k = 0

    def call(c: int) -> None:
        what = f"round {k} client {c}"
        try:
            dt = op(c, what)
        except Exception:
            b.raised(what)
            return
        with lock:
            walls.append(dt)

    while k == 0 or time.perf_counter() - t0 < seconds:
        threads = [threading.Thread(target=call, args=(c,), name=f"client-{c}") for c in range(clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        k += 1
    return walls, time.perf_counter() - t0


def trace_build(b: Bench, vocab, docs, twin: twins.Index, manifest: str, parquet: str) -> None:
    """One client: ``store_search_index`` over the documents as parquet,
    checked against the twin's positions; the paper's pipeline, untraced
    and traced in turn, for ``--seconds`` (the ratio of their medians is
    the tracing overhead); one query of each kind on the fresh store."""
    b.tracer.enabled = True
    _guarded(b, "store build", lambda: (
        b.store(parquet, "build", prefixes=True),
        check_positions(b, "build", twin),
    ))
    want_files = twin.reference_files()
    out = os.path.join(b.work, "out-0")
    walls: dict[bool, list[float]] = {False: [], True: []}
    rep = 0
    t0 = time.perf_counter()
    while rep < 2 or time.perf_counter() - t0 < b.args.seconds:
        traced = rep % 2 == 1
        b.tracer.enabled = traced
        try:
            walls[traced].append(b.paper_pipeline(manifest, out, prefixes=traced))
            b.check_reference_files(f"reference files rep {rep}", out, want_files)
        except Exception:
            b.raised(f"paper pipeline rep {rep}")
        rep += 1
    b.tracer.enabled = True
    qs = gen.make_queries(vocab, docs, b.args.seed, "build-queries", len(QUERY_FNS),
                          mix=tuple((k, 1) for k in QUERY_FNS))
    mlt = b.mlt_expected(parquet, [q[1] for q in qs if q[0] == "mlt"])
    for q in qs:
        b.checked_query("build", q, expected(twin, q, mlt))
    b.report["tracing.overhead_ratio"] = (
        median(walls[True]) / median(walls[False]) - 1.0 if walls[True] and walls[False] else 0.0
    )
    b.store_table_report("build")


def check_positions(b: Bench, base: str, twin: twins.Index) -> None:
    """The stored positions table (the source every other stored table
    derives from) and the stats row, read back without Spark."""
    from parallel_inverted_index_map_reduce_spark.operators.bucketing import table_location

    t = pq.read_table(table_location(b.spark, f"{base}_positions"),
                      columns=["word", "doc_id", "positions"])
    got = sorted(zip(t.column("word").to_pylist(), t.column("doc_id").to_pylist(),
                     map(tuple, t.column("positions").to_pylist())))
    want = sorted((w, d, tuple(ps)) for w, by_doc in twin.pos.items() for d, ps in by_doc.items())
    b.check(f"stored positions of {base}", got, want)
    st = pq.read_table(table_location(b.spark, f"{base}_stats")).to_pylist()
    avgdl = sum(twin.dl.values()) / len(twin.dl)
    b.check(f"stored stats of {base}", [(r["n_docs"], r["avgdl"]) for r in st], [(twin.n_docs, avgdl)])


def _guarded(b: Bench, what: str, fn) -> None:
    try:
        fn()
    except Exception:
        b.raised(what)


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------


def run_serve(b: Bench) -> dict[str, float]:
    """Setup: inputs, twins, session, the stored layout, more-like-this
    expectations, and a warm-up query of each kind on parallel clients.
    Measured: ``nproc`` clients share whole passes over the seeded query
    list for ``--seconds``, so the window always carries the exact query
    mix. A traced run runs one pass on one client in place of the
    warm-up, and then one pass on ``nproc`` clients."""
    s, seed, args = b.scale, b.args.seed, b.args
    traced = args.trace == 1
    b.start_session()
    vocab = gen.make_vocab(seed)
    docs = gen.make_docs(vocab, seed, "serve", s.docs, s.mean_tokens)
    manifest, parquet = write_corpus(docs, os.path.join(b.work, "corpus"))
    twin = twins.Index(docs)
    queries = gen.make_queries(vocab, docs, seed, "serve-queries", s.cycle)
    b.await_session()

    # the store itself is checked through every query answer below; the
    # more-like-this expectations come from the corpus scan, built
    # alongside it (one after the other in traced runs, for clean spans)
    mlt: dict[int, list] = {}
    steps = [
        lambda: b.store(parquet, "serve", prefixes=traced),
        lambda: mlt.update(b.mlt_expected(parquet, [q[1] for q in queries if q[0] == "mlt"])),
    ]
    if traced:
        for step in steps:
            step()
        # layer coverage: the paper's pipeline over the same corpus
        out = os.path.join(b.work, "out")
        _guarded(b, "paper pipeline", lambda: (
            b.paper_pipeline(manifest, out, prefixes=True),
            b.check_reference_files("reference files", out, twin.reference_files()),
        ))
    else:
        b.concurrently(steps)
    b.mark("store")
    want = [expected(twin, q, mlt) for q in queries]

    b.tracer.enabled = False
    n = len(queries)
    if traced:
        # one client, one pass: per-function latencies; every other
        # query is traced, the untraced ones give the tracing overhead
        timed: list[tuple[int, float]] = []
        untraced: list[tuple[int, float]] = []
        for i, (q, w) in enumerate(zip(queries, want)):
            b.tracer.enabled = i % 2 == 0
            dt = b.checked_query("serve", q, w)
            if dt is not None:
                (untraced if i % 2 else timed).append((i, dt))
        b.tracer.enabled = True
        b.report["tracing.overhead_ratio"] = overhead(queries, timed, untraced)
        warm = timed + untraced
    else:
        # warm-up, on parallel clients: one query of each kind
        firsts: dict[str, int] = {}
        for i, q in enumerate(queries):
            firsts.setdefault(q[0], i)
        warm = []
        b.concurrently([lambda i=i: warm.append((i, b.checked_query("serve", queries[i], want[i])))
                        for i in firsts.values()])
        warm = [(i, dt) for i, dt in warm if dt is not None]
    setup_s = time.perf_counter() - b.t_start
    log(f"serve setup {setup_s:.1f} s (session {b.report['session.get_spark_s']:.1f} s)")

    # measured passes, longest query kind first (by the warm-up
    # latencies), so a pass does not end on one client finishing a slow
    # query alone
    kind_s: dict[str, float] = {}
    for i, dt in warm:
        kind_s[queries[i][0]] = max(dt, kind_s.get(queries[i][0], 0.0))
    order = sorted(range(n), key=lambda i: -kind_s.get(queries[i][0], 0.0))
    phase_first_span = len(b.tracer.spans)
    # a traced run stays well inside its time limit with a single pass
    timed_lat, window_s = passes(b, queries, want, order, 0.0 if traced else args.seconds)
    lat = [dt for _, dt in timed_lat]
    qps = len(lat) / window_s
    log(f"serve: {len(lat)} queries on {b.cpus} clients in {window_s:.1f} s")

    b.report.update(
        query_mean_ms=1000 * mean(lat),
        query_p50_ms=1000 * median(lat),
        query_p90_ms=1000 * quantile(lat, 0.9),
        queries=len(lat),
        queries_per_s=qps,
        clients=b.cpus,
        store_bytes_per_input_byte=b.store_bytes("serve") / input_bytes(docs),
        peak_rss_mb=b.peak_rss_mb(),
    )
    if traced:
        b.store_table_report("serve")
        b.phase2_spans = {s.id for s in b.tracer.spans[phase_first_span:]}
    return {
        "setup_s": setup_s,
        "latency_ms": 1000 * mean(lat),
        "throughput_per_s": qps,
    }


def passes(b: Bench, queries, want, order: list[int], seconds: float) -> tuple[list[tuple[int, float]], float]:
    """``nproc`` clients, closed loop, share whole passes over
    ``queries`` in ``order`` until a pass ends ``seconds`` or more after
    the first began. Returns (query index, latency) of every query
    answered and the time from the start to the last answer."""
    n = len(order)
    state = {"next": 0, "t_last": 0.0}
    lat: list[tuple[int, float]] = []
    lock = threading.Lock()
    t0 = time.perf_counter()

    def client() -> None:
        while True:
            with lock:
                k = state["next"]
                if k % n == 0 and k > 0 and time.perf_counter() - t0 >= seconds:
                    return
                state["next"] = k + 1
            i = order[k % n]
            dt = b.checked_query("serve", queries[i], want[i])
            if dt is not None:
                with lock:
                    lat.append((i, dt))
                    state["t_last"] = time.perf_counter()

    threads = [threading.Thread(target=client, name=f"client-{k}") for k in range(b.cpus)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return lat, max(1e-9, state["t_last"] - t0)


def overhead(queries, traced: list, untraced: list) -> float:
    """Median over query kinds of (traced median / untraced median) - 1."""
    ratios = []
    for kind in QUERY_FNS:
        t = [dt for i, dt in traced if queries[i][0] == kind]
        u = [dt for i, dt in untraced if queries[i][0] == kind]
        if t and u:
            ratios.append(median(t) / median(u))
    return median(ratios) - 1.0 if ratios else 0.0


# ---------------------------------------------------------------------------
# per-layer metrics from spans + event log
# ---------------------------------------------------------------------------


def layer_metrics(b: Bench, event_dir: str) -> dict[str, float]:
    spans = b.tracer.spans
    work = read_event_log(event_dir)
    by_name: dict[str, list] = {}
    for sp in spans:
        by_name.setdefault(sp.name, []).append(sp)
    children: dict[int, list] = {}
    for sp in spans:
        children.setdefault(sp.parent, []).append(sp)

    def own(sp) -> SpanWork:
        return subtree_work(spans, work, sp.id)

    def med(xs) -> float:
        return median(xs) if xs else 0.0

    m = {"session.get_spark_s": b.report["session.get_spark_s"]}

    # paper pipeline prefixes, per op: self time = prefix difference
    per_op: dict[int, dict[str, object]] = {}
    for sp in spans:
        if sp.op is not None:
            per_op.setdefault(sp.op, {})[sp.name] = sp
    ref_ops = [o for o in per_op.values() if "prefix.index" in o]
    diffs = {k: [] for k in ("tok", "idx", "sink", "pp")}
    tasks_idx, shuffle_idx, spill_idx, scan_tasks = [], [], [], []
    for o in ref_ops:
        d, t, i, w = o["prefix.docs"], o["prefix.tokens"], o["prefix.index"], o["sinks.text_index.write_index_text"]
        diffs["tok"].append(t.s - d.s)
        diffs["idx"].append(i.s - t.s)
        diffs["sink"].append(w.s - i.s)
        # Spark work of materializing the index, its input scan included
        wi = own(i)
        tasks_idx.append(wi.tasks)
        shuffle_idx.append(wi.shuffle_write_bytes)
        spill_idx.append(wi.spill_bytes)
        scan_tasks.append(own(d).tasks)
    pp_ops = [o for o in per_op.values() if "prefix.positional" in o]
    for o in pp_ops:
        diffs["pp"].append(o["prefix.positional"].s - o["prefix.pq_docs"].s)
    m.update({
        "sources.corpus.read_manifest_corpus.construct_ms":
            1000 * med([sp.s for sp in by_name.get("sources.corpus.read_manifest_corpus", [])]),
        "sources.corpus.read_manifest_corpus.self_s": med([o["prefix.docs"].s for o in ref_ops]),
        "sources.corpus.read_manifest_corpus.scan_tasks": med(scan_tasks),
        "functions.text.tokens_df.self_s": med(diffs["tok"]),
        "operators.index.positional_postings.self_s": med(diffs["pp"]),
        "operators.index.build_index.self_s": med(diffs["idx"]),
        "operators.index.build_index.tasks": med(tasks_idx),
        "operators.index.build_index.shuffle_write_bytes": med(shuffle_idx),
        "operators.index.build_index.spill_bytes": med(spill_idx),
        "sinks.text_index.write_index_text.self_s": med(diffs["sink"]),
        "sinks.text_index.write_index_text.output_bytes": b.report.get("reference_output_bytes", 0),
    })
    stores = by_name.get("operators.serving.store_search_index", [])
    sw = [own(sp) for sp in stores]
    pre = "operators.serving.store_search_index"
    m.update({
        f"{pre}.s": med([sp.s for sp in stores]),
        f"{pre}.jobs": med([w.jobs for w in sw]),
        f"{pre}.tasks": med([w.tasks for w in sw]),
        f"{pre}.task_cpu_s": med([w.task_cpu_s for w in sw]),
        f"{pre}.shuffle_write_bytes": med([w.shuffle_write_bytes for w in sw]),
        f"{pre}.spill_bytes": med([w.spill_bytes for w in sw]),
        f"{pre}.bytes_written": med([w.bytes_written for w in sw]),
    })
    for t in STORE_TABLES:
        for k in ("files", "bytes"):
            m[f"operators.serving.store.{t}.{k}"] = b.report[f"operators.serving.store.{t}.{k}"]

    examined = results = 0
    delay_ms, delay_tasks = 0.0, 0
    phase2 = getattr(b, "phase2_spans", None)
    for fn in QUERY_FNS.values():
        calls = by_name.get(f"operators.serving.{fn}", [])
        ws = [own(sp) for sp in calls]
        cons = [c.s for sp in calls for c in children.get(sp.id, []) if c.name == "construct"]
        exe = [c.s for sp in calls for c in children.get(sp.id, []) if c.name == "execute"]
        pre = f"operators.serving.{fn}"
        m.update({
            f"{pre}.p50_ms": 1000 * med([sp.s for sp in calls]),
            f"{pre}.construct_ms": 1000 * med(cons),
            f"{pre}.execute_ms": 1000 * med(exe),
            f"{pre}.jobs": med([w.jobs for w in ws]),
            f"{pre}.tasks": med([w.tasks for w in ws]),
            f"{pre}.records_read": med([w.records_read for w in ws]),
        })
        for sp, w in zip(calls, ws):
            examined += w.records_read
            results += b.rows_by_span.get(sp.id, 0)
            if phase2 is None or sp.id in phase2:
                delay_ms += w.scheduler_delay_ms
                delay_tasks += w.tasks
    m["operators.serving.rows_examined_per_result"] = examined / max(1, results)
    m["operators.serving.scheduler_delay_ms"] = delay_ms / max(1, delay_tasks)
    m["tracing.overhead_ratio"] = b.report["tracing.overhead_ratio"]
    return m
