"""The benchmark's workloads. Each is one closed-loop client (the next
request waits for the previous reply) against the engine's public API:
``get_spark`` and ``RagEngine`` (``index_documents``, ``index_files``,
``ask``, ``retrieve``, ``recommend``).

- ``chat_large``: chat sessions on a prebuilt index of 10^5 short
  documents, past ``ann_threshold_rows``, so ``ask`` and ``recommend``
  probe the IVF layout and hybrid search reads the posting lists. One
  cycle is one session: a standalone ``ask``, two anaphoric follow-up
  ``ask``s (the history-aware rewrite fires), one hybrid ``retrieve``
  and one ``recommend``.
- ``ingest``: uploaded PDFs on the exact route. One cycle is a fresh
  ``index_files``, the first ``ask``, an unchanged re-index, then small
  appends, each followed by an ``ask`` (with the append: the time until
  the new files are searchable) and a ``recommend``, then three
  follow-up ``ask``s, each with a ``recommend``.

Cycles start while ``--seconds`` have not passed, so a run measures at
least that long; chat_large always runs two sessions, ingest one cycle.

End-to-end metrics (tracing off) are the same on both workloads; see
END_TO_END and ``_setup``. The per-layer metrics come from a traced run
(see ``trace.py`` and ``_layers``). The engine package is imported at
module level; ``run.py`` checks that it exists first."""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import sys
import time
from contextlib import nullcontext

import numpy as np
from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.engine import (
    RagEngine,
    history_aware_rewrite,
)
from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.functions.chunker import (
    DEFAULT_CHUNK_SIZE,
    split_text_recursive,
)
from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.functions.embedder import (
    embed_text,
    embed_texts,
)
from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.session import get_spark
from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.binary_docs import (
    path_doc_id,
    pdf_extractor,
)

from perfbench import checks, gen, stats
from perfbench.trace import Tracer

SETUP_REPS = 3
K = 4  # the engine's default top-k

CHAT_LARGE = {
    "corpus_seed": 1,  # fixed, so one prebuilt index serves every seed
    "docs": 100_000,
    "ann_threshold_rows": 50_000,
    "least_sessions": 2,  # per untraced run, whatever --seconds says
}
INGEST = {
    "files": 120,  # ~10 KB of text each, ~12 chunks per file
    "appends": 3,
    "append_files": 2,  # ~1.7 % of the upload per batch
    "dup_share": 0.5,  # of each batch: copies of uploaded texts
    # follow-up asks after each append's first ask, each followed by a
    # recommend: twelve asks and twelve recommends per cycle, so their
    # medians hold still between runs
    "follow_ups": 3,
    # The engine's default threshold, so ingest stays on the exact
    # route: file doc ids are 63-bit path hashes and the IVF route's
    # packed chunk id (doc_id * 2**20 + chunk_id) overflows on them
    # (NOTES.md, open question 4).
    "ann_threshold_rows": 1_000_000,
}

END_TO_END = (
    ("setup_s", "s"),
    ("ask_p50_ms", "ms"),
    ("recommend_p50_ms", "ms"),
    ("cycle_s", "s"),
)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class Context:
    """One run: its arguments, its Spark session and its check tally."""

    def __init__(self, seed: int, seconds: float, trace: bool, cache: str, scratch: str):
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.cache, self.scratch = cache, scratch
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.layer: dict[str, float] = {}
        self.setup_s = 0.0

    def start_spark(self):
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench")
        return self.spark

    def check(self, what: str, problems: list[str]) -> None:
        """Count one checked operation and record its problems."""
        self.attempted += 1
        self.failed += bool(problems)
        self.problems += [f"{what}: {p}" for p in problems]

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def _engine(ctx: Context, index_path: str, threshold: int):
    return RagEngine(
        ctx.spark, index_path, rewrite=history_aware_rewrite, ann_threshold_rows=threshold
    )


def _rows(rows) -> list[tuple[int, int, float]]:
    return [(int(r.doc_id), int(r.chunk_id), float(r.score)) for r in rows]


def _setup(ctx: Context, warm_up, open_engine):
    """Start the Spark session, run ``warm_up`` once, then SETUP_REPS
    times ``open_engine()`` opens an engine and serves its first
    request. setup_s is the session start plus the median open: the JVM
    launch cannot be repeated in one process, the open can. The warm-up
    takes the first use of each request path (JIT, Python workers), so
    it stays out of both the opens and the timed loop."""
    t0 = time.perf_counter()
    ctx.start_spark()
    start = time.perf_counter() - t0
    t0 = time.perf_counter()
    warm_up()
    ctx.layer["session.warmup_s"] = time.perf_counter() - t0
    opens = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        eng = open_engine()
        opens.append(time.perf_counter() - t0)
    ctx.layer["session.start_s"] = start
    ctx.layer["engine.open_s"] = statistics.median(opens)
    ctx.setup_s = start + statistics.median(opens)
    log(f"session start {start:.2f} s, warm-up {ctx.layer['session.warmup_s']:.2f} s, "
        f"opens {[round(t, 2) for t in opens]} s")
    return eng


class Client:
    """The closed-loop client: times each request (inside a traced
    operation when a tracer is given) and keeps what the checks need."""

    def __init__(self, eng, tracer: Tracer | None = None):
        self.eng, self.tracer = eng, tracer
        self.ms: dict[str, list[float]] = {}
        self.cycles: list[float] = []
        self.retrievals: list[dict] = []  # ask / recommend, checked against numpy
        self.hybrids: list[list] = []

    def call(self, kind: str, fn):
        with self.tracer.op(kind) if self.tracer else nullcontext():
            t0 = time.perf_counter()
            out = fn()
            ms = (time.perf_counter() - t0) * 1000.0
        self.ms.setdefault(kind, []).append(ms)
        return out

    def ask(self, q: str, sid: str, hide=(), kind: str = "ask") -> None:
        effective = history_aware_rewrite(q, self.eng.history(sid))
        out = self.call(kind, lambda: self.eng.ask(q, sid))
        self.retrievals.append({"kind": kind, "q": effective, "hide": hide,
                                "rows": _rows(out["retrieved"]), "answer": out["answer"]})

    def recommend(self, sid: str, hide=()) -> None:
        profile = " ".join(m["content"] for m in self.eng.history(sid) if m["role"] == "user")
        rows = self.call("recommend", lambda: self.eng.recommend(sid).collect())
        self.retrievals.append({"kind": "recommend", "q": profile, "hide": hide,
                                "rows": _rows(rows), "answer": None})

    def hybrid(self, q: str) -> None:
        rows = self.call("hybrid", lambda: self.eng.retrieve(q, search_type="hybrid").collect())
        self.hybrids.append(_rows(rows))

    def session(self, sid: str, script: dict) -> None:
        t0 = time.perf_counter()
        for q in script["asks"]:
            self.ask(q, sid)
        self.hybrid(script["hybrid"])
        self.recommend(sid)
        self.eng.clear_session(sid)
        self.cycles.append(time.perf_counter() - t0)

    def p50(self, kind: str) -> float:
        return stats.median(self.ms.get(kind, []))


def _check_retrievals(ctx: Context, clients: list[Client], index: str, exact: bool) -> float:
    """Checks every ask and recommend against a numpy exact top-k over
    the index parquet (restricted to the rows present at request time);
    returns recall_at_k. On the exact route each top-k must equal the
    reference and each answer the first line of the top chunk; on the
    IVF route each call must return k rows."""
    snap = checks.IndexSnapshot(index)
    keys = list(zip(snap.doc_id.tolist(), snap.chunk_id.tolist())) if exact else []
    position = {key: i for i, key in enumerate(keys)}
    recalls = []
    for i, req in enumerate(r for c in clients for r in c.retrievals):
        qvec = embed_text(req["q"])
        mask = ~np.isin(snap.doc_id, list(req["hide"])) if req["hide"] else None
        expected = snap.exact_topk(qvec, K, mask)
        recalls.append(checks.recall(req["rows"], expected))
        if not exact:
            problems = [] if len(req["rows"]) == K else [f"{len(req['rows'])} rows"]
        else:
            problems = checks.check_exact_topk(req["rows"], expected, snap.key_score(qvec))
            if req["answer"] is not None and expected:
                top = snap.text[position[expected[0][:2]]]
                if req["answer"] != checks.first_line(top):
                    problems.append("answer is not the first line of the top chunk")
        ctx.check(f"{req['kind']} {i}", problems)
    for i, rows in enumerate(r for c in clients for r in c.hybrids):
        scores = [s for _, _, s in rows]
        problems = [] if len(rows) == K else [f"{len(rows)} rows"]
        if scores != sorted(scores, reverse=True):
            problems.append("scores are not in descending order")
        ctx.check(f"hybrid {i}", problems)
    return statistics.mean(recalls) if recalls else 0.0


def _dump(ctx: Context, tracer: Tracer, name: str) -> None:
    out = os.path.join(os.path.dirname(ctx.cache), "traces")
    os.makedirs(out, exist_ok=True)
    tracer.dump(os.path.join(out, f"{name}-seed{ctx.seed}.jsonl"))


# -- chat_large -----------------------------------------------------------


def _chat_index(ctx: Context) -> str:
    """The prebuilt index with its IVF and posting-list layouts, built
    once per checkout (``READY`` marks a finished build)."""
    cfg = CHAT_LARGE
    root = os.path.join(ctx.cache, "chat_large")
    index = os.path.join(root, "index")
    if os.path.exists(os.path.join(root, "READY")):
        return index
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    log(f"building the chat_large index ({cfg['docs']} docs), once per checkout")
    spark = ctx.start_spark()
    docs = spark.createDataFrame(
        gen.corpus(cfg["corpus_seed"], cfg["docs"]), "doc_id long, text string"
    )
    eng = _engine(ctx, index, cfg["ann_threshold_rows"])
    eng.index_documents(docs.repartition(spark.sparkContext.defaultParallelism))
    # the first vector and hybrid retrievals build the derived layouts
    eng.retrieve("spark join").collect()
    eng.retrieve("spark join window", search_type="hybrid").collect()
    open(os.path.join(root, "READY"), "w").close()
    return index


def chat_large(ctx: Context) -> dict:
    index = _chat_index(ctx)
    warm = gen.sessions(10_000 + ctx.seed, 2)
    scripts = gen.sessions(ctx.seed, 1_000)

    def warm_up():
        # one whole session: a shorter warm-up left the JIT still warming
        # through the first timed session
        Client(_engine(ctx, index, CHAT_LARGE["ann_threshold_rows"])).session("warm", warm[0])

    def open_engine():
        eng = _engine(ctx, index, CHAT_LARGE["ann_threshold_rows"])
        eng.ask(warm[1]["asks"][0])
        return eng

    eng = _setup(ctx, warm_up, open_engine)
    plain = Client(eng)
    clients = [plain]
    if not ctx.trace:
        _chat_loop(plain, scripts, ctx.seconds, CHAT_LARGE["least_sessions"])
    else:
        # an untraced half, then a traced half: the ratio of their ask
        # medians is the tracing overhead
        _chat_loop(plain, scripts, ctx.seconds / 2, 1)
        tracer = Tracer(ctx.spark)
        tracer.install()
        traced = Client(eng, tracer)
        eng.rewrite = tracer.wrap(history_aware_rewrite, "engine.rewrite")
        try:
            _chat_loop(traced, scripts[len(plain.cycles):], ctx.seconds / 2, 1)
        finally:
            tracer.uninstall()
            eng.rewrite = history_aware_rewrite
        _dump(ctx, tracer, "chat_large")
        ctx.layer.update(_layers(tracer, traced, plain))
        ctx.layer["engine.hybrid_p50_ms"] = plain.p50("hybrid")
        clients.append(traced)
    ctx.layer["driver.peak_rss_mb"] = stats.peak_rss_mb()
    ctx.layer["engine.recall_at_k"] = _check_retrievals(ctx, clients, index, exact=False)
    return _result(ctx, {
        "setup_s": ctx.setup_s,
        "ask_p50_ms": plain.p50("ask"),
        "recommend_p50_ms": plain.p50("recommend"),
        "cycle_s": stats.median(plain.cycles),
    }, plain)


def _more(done: int, start: float, seconds: float, least: int = 1) -> bool:
    """Whether to start another cycle: the first ``least`` always run,
    later ones while ``seconds`` have not passed since ``start``."""
    return done < least or time.perf_counter() - start < seconds


def _chat_loop(client: Client, scripts: list[dict], seconds: float, least: int) -> None:
    start = time.perf_counter()
    for i, script in enumerate(scripts):
        if not _more(len(client.cycles), start, seconds, least):
            break
        client.session(f"s{i}", script)


# -- ingest ---------------------------------------------------------------


class Upload:
    """The run's generated PDF files: a base upload and append batches."""

    def __init__(self, ctx: Context):
        cfg = INGEST
        root = os.path.join(ctx.scratch, "upload")
        self.texts: dict[int, str] = {}  # doc_id -> generated text

        def write(name: str, texts: list[str]) -> list[int]:
            d = os.path.join(root, name)
            os.makedirs(d)
            ids = []
            for path, text in zip(gen.write_pdfs(d, texts, name, ctx.seed), texts):
                # binaryFile reports paths as file: URIs; the engine
                # hashes that string into the doc id
                ids.append(path_doc_id("file:" + path))
                self.texts[ids[-1]] = text
            return ids

        self.base_texts = gen.pdf_texts(ctx.seed, cfg["files"])
        self.base_dir = os.path.join(root, "base")
        write("base", self.base_texts)
        self.batches = []  # (directory, doc ids)
        for b in range(cfg["appends"]):
            texts = gen.append_texts(
                ctx.seed, b, cfg["append_files"], self.base_texts, cfg["dup_share"]
            )
            self.batches.append((os.path.join(root, f"append{b}"), write(f"append{b}", texts)))
        self.warm_dir = os.path.join(root, "warm")
        warm = gen.pdf_texts(20_000 + ctx.seed, 2)
        os.makedirs(self.warm_dir)
        gen.write_pdfs(self.warm_dir, warm, "warm", ctx.seed)


def ingest(ctx: Context) -> dict:
    up = Upload(ctx)
    questions = gen.sessions(ctx.seed, 2 + INGEST["appends"], INGEST["follow_ups"])

    warm_index = os.path.join(ctx.scratch, "warm", "index")

    def warm_up():
        # every write-path step once, on a two-file upload
        eng = _engine(ctx, warm_index, INGEST["ann_threshold_rows"])
        eng.index_files(up.warm_dir, "*.pdf", pdf_extractor)
        eng.ask(questions[0]["asks"][0], "warm")
        eng.index_files(up.warm_dir, "*.pdf", pdf_extractor)
        eng.recommend("warm").collect()

    def open_engine():
        eng = _engine(ctx, warm_index, INGEST["ann_threshold_rows"])
        eng.ask(questions[1]["asks"][0])
        return eng

    _setup(ctx, warm_up, open_engine)
    start = time.perf_counter()
    cycles = []  # (client, what the write steps returned, index path)
    # an untraced run repeats cycles while they fit in --seconds; a
    # traced run makes one untraced and one traced cycle
    while len(cycles) < 2 if ctx.trace else _more(len(cycles), start, ctx.seconds):
        # the second cycle of a traced run is the traced one
        tracer = Tracer(ctx.spark) if ctx.trace and cycles else None
        index = os.path.join(ctx.scratch, f"ingest{len(cycles)}", "index")
        client = Client(_engine(ctx, index, INGEST["ann_threshold_rows"]), tracer)
        if tracer is not None:
            tracer.install()
            client.eng.rewrite = tracer.wrap(history_aware_rewrite, "engine.rewrite")
        try:
            steps = _ingest_cycle(client, up, questions)
        finally:
            if tracer is not None:
                tracer.uninstall()
        cycles.append((client, steps, index))
        if tracer is not None:
            _dump(ctx, tracer, "ingest")
            plain, plain_steps, _ = cycles[0]
            ctx.layer.update(_layers(tracer, client, plain))
            ctx.layer.update(_ingest_layers(index, up, plain, plain_steps))
    ctx.layer["driver.peak_rss_mb"] = stats.peak_rss_mb()
    recalls = [_check_ingest(ctx, *cycle, up) for cycle in cycles]
    ctx.layer["engine.recall_at_k"] = statistics.mean(recalls)
    plain = Client(None)  # the untraced cycles' requests, pooled
    for c, _, _ in cycles[:1] if ctx.trace else cycles:
        for kind, values in c.ms.items():
            plain.ms.setdefault(kind, []).extend(values)
        plain.cycles += c.cycles
    return _result(ctx, {
        "setup_s": ctx.setup_s,
        "ask_p50_ms": plain.p50("ask"),
        "recommend_p50_ms": plain.p50("recommend"),
        "cycle_s": stats.median(plain.cycles),
    }, plain)


def _ingest_cycle(client: Client, up: Upload, questions: list[dict]) -> dict:
    """One upload cycle; returns what each write step returned."""
    eng = client.eng

    def index(d):
        return lambda: eng.index_files(d, "*.pdf", pdf_extractor)

    later = [i for _, ids in up.batches for i in ids]
    t0 = time.perf_counter()
    out = {"fresh": client.call("fresh", index(up.base_dir))}
    client.ask(questions[0]["asks"][0], "u", hide=later, kind="first")
    out["reindex"] = client.call("reindex", index(up.base_dir))
    out["appends"] = []
    for b, (d, _) in enumerate(up.batches):
        t1 = time.perf_counter()
        out["appends"].append(client.call("append", index(d)))
        later = [i for _, ids in up.batches[b + 1 :] for i in ids]
        question, *follow_ups = questions[2 + b]["asks"]
        client.ask(question, "u", hide=later)
        client.ms.setdefault("searchable", []).append((time.perf_counter() - t1) * 1000.0)
        client.recommend("u", hide=later)
        for follow_up in follow_ups:
            client.ask(follow_up, "u", hide=later)
            client.recommend("u", hide=later)
    client.cycles.append(time.perf_counter() - t0)
    return out


def _check_ingest(ctx: Context, client: Client, steps: dict, index: str, up: Upload) -> float:
    """Checks one cycle: its index against the uploaded texts, the
    counts each write step returned, and its requests; returns recall."""
    snap = checks.IndexSnapshot(index)
    ctx.check("index", checks.check_chunks(snap, up.texts, DEFAULT_CHUNK_SIZE))
    ctx.check("re-index", checks.check_count(steps["reindex"], 0))
    appended = []
    for b, (n, (_, ids)) in enumerate(zip(steps["appends"], up.batches)):
        want = int(np.isin(snap.doc_id, ids).sum())
        appended += ids
        ctx.check(f"append {b}", checks.check_count(n, want))
    base_rows = int((~np.isin(snap.doc_id, appended)).sum())
    ctx.check("fresh index", checks.check_count(steps["fresh"], base_rows))
    return _check_retrievals(ctx, [client], index, exact=True)


# -- per-layer metrics ------------------------------------------------------

PER_LAYER = (
    # session: set-up parts (setup_s)
    ("session.start_s", "s"),
    ("session.warmup_s", "s"),
    ("engine.open_s", "s"),
    # sources / functions: the write path's Python stages (ingest)
    ("sources.extract_ms_per_doc", "ms"),
    ("sources.empty_text_ratio", "ratio"),
    ("functions.chunk_ms_per_doc", "ms"),
    ("functions.embed_ms_per_chunk", "ms"),
    ("functions.embed_text_ms", "ms"),
    # engine: request phases and write steps
    ("engine.rewrite_ms", "ms"),
    ("engine.retrieve_build_ms", "ms"),
    ("engine.ask_plan_ms", "ms"),
    ("engine.ask_collect_ms", "ms"),
    ("engine.postprocess_ms", "ms"),
    ("engine.hybrid_p50_ms", "ms"),
    ("engine.recall_at_k", "ratio"),
    ("engine.index_chunks_per_s", "chunks/s"),
    ("engine.first_ask_s", "s"),
    ("engine.reindex_cached_s", "s"),
    ("engine.append_p50_s", "s"),
    ("engine.index_write_s", "s"),
    ("engine.index_bytes_per_chunk", "B"),
    # operators: plan construction and scan volume
    ("operators.topk_cosine_build_ms", "ms"),
    ("operators.exact_rows_scanned_per_result", "rows"),
    ("operators.nearest_cells_ms", "ms"),
    ("operators.ivf_knn_pruned_build_ms", "ms"),
    ("operators.ivf_files_scanned_per_ask", "files"),
    ("operators.ivf_rows_scanned_per_result", "rows"),
    ("operators.bm25_build_ms", "ms"),
    ("operators.rrf_fuse_build_ms", "ms"),
    # spark / driver: jobs per request, by job group
    ("spark.jobs_per_ask", "count"),
    ("spark.stages_per_ask", "count"),
    ("spark.tasks_per_ask", "count"),
    ("spark.job_ms_per_ask", "ms"),
    ("driver.outside_jobs_ms_per_ask", "ms"),
    ("spark.input_bytes_per_ask", "B"),
    ("spark.jobs_per_hybrid", "count"),
    ("spark.jobs_per_recommend", "count"),
    ("spark.ingest_shuffle_bytes", "B"),
    ("spark.ingest_executor_cpu_ms", "ms"),
    ("spark.ingest_gc_ms", "ms"),
    ("spark.ingest_output_files", "count"),
    ("spark.reindex_shuffle_bytes", "B"),
    ("spark.skipped_stages", "count"),
    ("driver.peak_rss_mb", "MB"),
    ("spark.unattributed_jobs", "count"),
    ("trace.overhead_ratio", "ratio"),
)


def _layers(tracer: Tracer, traced: Client, plain: Client) -> dict:
    """Per-layer values from the traced client's spans and operations;
    ``plain`` ran the same kind of requests untraced. A layer the
    workload does not exercise reads 0."""
    kind_of = {op.oid: op.kind for op in tracer.ops}
    by_kind: dict[str, list] = {}
    for op in tracer.ops:
        by_kind.setdefault(op.kind, []).append(op)
    n_ask = max(len(by_kind.get("ask", [])), 1)

    def span_ms(name: str, kind: str) -> float:
        """Mean total ms of ``name`` spans per ``kind`` operation."""
        n = max(len(by_kind.get(kind, [])), 1)
        return sum(s.ms for s in tracer.spans if s.name == name and kind_of.get(s.op) == kind) / n

    def per_op(kind: str, attr: str) -> float:
        ops = by_kind.get(kind, [])
        return sum(getattr(op, attr) for op in ops) / max(len(ops), 1)

    scans = [sc for s in tracer.spans if kind_of.get(s.op) == "ask" for sc in s.scans]
    ivf = any(s.name == "operators.ivf_knn_pruned" for s in tracer.spans)
    rows_per_result = sum(sc["numOutputRows"] for sc in scans) / (n_ask * K)
    files_per_ask = sum(sc["numFiles"] for sc in scans) / n_ask
    writes = by_kind.get("fresh", []) + by_kind.get("append", [])
    plain_ask = plain.p50("ask")
    return {
        "functions.embed_text_ms": span_ms("functions.embed_text", "ask"),
        "engine.rewrite_ms": span_ms("engine.rewrite", "ask"),
        "engine.retrieve_build_ms": span_ms("engine.retrieve", "ask"),
        "engine.ask_plan_ms": span_ms("spark.plan", "ask"),
        "engine.ask_collect_ms": span_ms("spark.collect", "ask"),
        "engine.postprocess_ms": span_ms("engine.postprocess", "ask")
        + span_ms("engine.postprocess.plan", "ask")
        + span_ms("engine.postprocess.collect", "ask"),
        "operators.topk_cosine_build_ms": span_ms("operators.topk_cosine", "ask"),
        "operators.exact_rows_scanned_per_result": 0.0 if ivf else rows_per_result,
        "operators.nearest_cells_ms": span_ms("operators.nearest_cells", "ask"),
        "operators.ivf_knn_pruned_build_ms": span_ms("operators.ivf_knn_pruned", "ask"),
        "operators.ivf_files_scanned_per_ask": files_per_ask if ivf else 0.0,
        "operators.ivf_rows_scanned_per_result": rows_per_result if ivf else 0.0,
        "operators.bm25_build_ms": span_ms("operators.bm25", "hybrid"),
        "operators.rrf_fuse_build_ms": span_ms("operators.rrf_fuse", "hybrid"),
        "spark.jobs_per_ask": per_op("ask", "jobs"),
        "spark.stages_per_ask": per_op("ask", "stages"),
        "spark.tasks_per_ask": per_op("ask", "tasks"),
        "spark.job_ms_per_ask": per_op("ask", "job_ms"),
        "driver.outside_jobs_ms_per_ask": per_op("ask", "ms") - per_op("ask", "job_ms"),
        "spark.input_bytes_per_ask": per_op("ask", "input_bytes"),
        "spark.jobs_per_hybrid": per_op("hybrid", "jobs"),
        "spark.jobs_per_recommend": per_op("recommend", "jobs"),
        "spark.ingest_shuffle_bytes": float(sum(op.shuffle_bytes for op in writes)),
        "spark.ingest_executor_cpu_ms": sum(op.executor_cpu_ms for op in writes),
        "spark.ingest_gc_ms": float(sum(op.gc_ms for op in writes)),
        "spark.reindex_shuffle_bytes": per_op("reindex", "shuffle_bytes"),
        "engine.index_write_s": span_ms("engine.index_write", "fresh") / 1000.0,
        "spark.skipped_stages": float(sum(op.skipped_stages for op in tracer.ops)),
        "spark.unattributed_jobs": float(tracer.unattributed_jobs()),
        "trace.overhead_ratio": traced.p50("ask") / plain_ask if plain_ask else 0.0,
    }


def _ingest_layers(index: str, up: Upload, plain: Client, steps: dict) -> dict:
    """Write-path values: step timings of the untraced cycle, the
    index's size on disk, and the Python stages timed driver-side on a
    sample of the uploaded files."""
    blobs = []
    for f in sorted(glob.glob(os.path.join(up.base_dir, "*.pdf")))[:20]:
        with open(f, "rb") as fh:
            blobs.append(fh.read())
    t0 = time.perf_counter()
    texts = [pdf_extractor(b) for b in blobs]
    t1 = time.perf_counter()
    chunks = [c for t in texts for c in split_text_recursive(t)]
    t2 = time.perf_counter()
    embed_texts(chunks)
    t3 = time.perf_counter()
    snap = checks.IndexSnapshot(index)
    parts = glob.glob(os.path.join(index, "*.parquet"))
    present = set(snap.doc_id.tolist())
    return {
        "sources.extract_ms_per_doc": (t1 - t0) * 1000.0 / len(blobs),
        "functions.chunk_ms_per_doc": (t2 - t1) * 1000.0 / len(blobs),
        "functions.embed_ms_per_chunk": (t3 - t2) * 1000.0 / max(len(chunks), 1),
        "sources.empty_text_ratio": sum(d not in present for d in up.texts) / len(up.texts),
        "engine.index_chunks_per_s": steps["fresh"] / (plain.ms["fresh"][0] / 1000.0),
        "engine.first_ask_s": plain.ms["first"][0] / 1000.0,
        "engine.reindex_cached_s": plain.ms["reindex"][0] / 1000.0,
        "engine.append_p50_s": stats.median(plain.ms["searchable"]) / 1000.0,
        "engine.index_bytes_per_chunk": sum(os.path.getsize(f) for f in parts) / max(len(snap), 1),
        "spark.ingest_output_files": float(len(parts)),
    }


def _result(ctx: Context, e2e: dict, client: Client) -> dict:
    for p in ctx.problems[:20]:
        log(f"check failed: {p}")
    asks = client.ms.get("ask", [])
    tail = stats.tail_percentile(len(asks))
    log(f"{len(client.cycles)} cycles, {len(asks)} asks"
        + (f", ask p{tail} {stats.percentile(asks, tail):.1f} ms" if tail else ""))
    for kind, values in client.ms.items():
        log(f"{kind} ms: {[round(v) for v in values]}")
    names, values = (PER_LAYER, ctx.layer) if ctx.trace else (END_TO_END, e2e)
    return {
        "correct": not ctx.problems,
        "attempted": max(ctx.attempted, 1),
        "failed": ctx.failed,
        "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names},
    }


WORKLOADS = {"chat_large": chat_large, "ingest": ingest}
