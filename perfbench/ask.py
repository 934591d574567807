"""ask_hot and ask_cold_upload: one closed-loop client on the
SemanticQueryEngine facade, and the independent check of every answer.

The engine is given a deterministic, prompt-sensitive `generate_fn`
(a digest of the prompt), so an answer identifies the prompt that
produced it.  After the timed loop, outside timing, the benchmark
replays the run with its own model of the service: exact top-3 by
cosine in numpy over the index as collected after each upload, the
reference's context/prompt format, and an LFU cache of its own with the
engine's capacity and threshold.  An ask is correct when its answer is
what that model predicts and it was generated (or served from the
cache) exactly when the model says so.
"""

from __future__ import annotations

import hashlib
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np

import cpu
import gen
import stats

CACHE_THRESHOLD = 0.96  # the reference's cache hit floor
TOP_K = 3
# ask_cold_upload: every 10th operation is an upload, the first one
# included, so every ask of a short run searches the same index shape
UPLOAD_EVERY = 10
# ask_cold_upload's cache capacity: a run makes only a few asks (each
# costs seconds), so with capacity 1 every put after the first evicts
# and the LFU put/evict path is on every ask
COLD_CACHE_CAPACITY = 1
HOT_WARM_QUESTIONS = 4  # hot pool questions asked once before timing
# ask_cold_upload: one distinct question asked before timing fills the
# cache (capacity 1) and runs the ask path once, so the timed asks all
# take the same path: probe one entry, miss, retrieve, put with eviction
COLD_WARM_QUESTIONS = 1
BUILDS = 3  # set-up repetitions; setup_s takes their median
# An ask's cost grows over a run (the cache plan lengthens with each
# put), so a run that stops on time alone would take the median over a
# number of asks that depends on the machine's speed: a run also
# measures at least MIN_ASKS asks.
MIN_ASKS = 3


class DigestModel:
    """generate_fn: answer = digest of the prompt; counts its calls."""

    def __init__(self):
        self.calls = 0

    def __call__(self, prompt: str) -> str:
        self.calls += 1
        return answer_of(prompt)


def answer_of(prompt: str) -> str:
    return "ANSWER " + hashlib.sha1(prompt.encode("utf-8")).hexdigest()


@dataclass
class Op:
    kind: str  # "ask" | "upload"
    arg: object
    latency: float = float("inf")
    cpu_s: float = float("inf")  # CPU seconds of this process tree
    ok: bool = False  # completed without raising
    answer: str | None = None
    generated: bool = False
    uploads_before: int = 0
    request: int | None = None
    error: str = ""


@dataclass
class IndexSnapshot:
    keys: list[str]
    doc_ids: list[str]
    texts: list[str]
    emb: np.ndarray
    # numpy arg order of rows by chunk_key, the search tie-break
    key_order: np.ndarray = field(init=False)

    def __post_init__(self):
        self.key_order = np.array(sorted(range(len(self.keys)), key=self.keys.__getitem__))


def snapshot(index) -> IndexSnapshot:
    rows = index.select("chunk_key", "doc_id", "chunk_text", "embedding").collect()
    return IndexSnapshot(
        [r.chunk_key for r in rows],
        [str(r.doc_id) for r in rows],
        [r.chunk_text for r in rows],
        np.array([r.embedding for r in rows], dtype=np.float64).reshape(len(rows), -1),
    )


# ----------------------------------------------------------------------
# the reference arithmetic, in numpy
# ----------------------------------------------------------------------


def seq_dot(m: np.ndarray, v: np.ndarray | None) -> np.ndarray:
    """Row-wise dot product with v (with itself when v is None), summed
    left to right from 0.0: the order Spark's aggregate(zip_with(...))
    uses, so scores are bit-identical to the engine's."""
    acc = np.zeros(m.shape[0])
    for j in range(m.shape[1]):
        acc = acc + m[:, j] * (m[:, j] if v is None else v[j])
    return acc


def cosine_rows(m: np.ndarray, v: np.ndarray) -> np.ndarray:
    nm = np.sqrt(seq_dot(m, None))
    nv = np.sqrt(seq_dot(v[None, :], None)[0])
    d = seq_dot(m, v)
    with np.errstate(divide="ignore", invalid="ignore"):
        s = d / (nm * nv)
    return np.where((nm == 0.0) | (nv == 0.0), 0.0, s)


def expected_topk(ix: IndexSnapshot, qvec: np.ndarray, k: int = TOP_K) -> list[int]:
    """Row numbers of the top-k: score desc, chunk_key asc."""
    scores = cosine_rows(ix.emb, qvec)
    rank_of_key = np.empty(len(ix.keys), dtype=np.int64)
    rank_of_key[ix.key_order] = np.arange(len(ix.keys))
    order = np.lexsort((rank_of_key, -scores))
    return order[:k].tolist()


def expected_prompt(query: str, ix: IndexSnapshot, rows: list[int], system_rules: str) -> str:
    by_doc: dict[str, list[str]] = {}
    for r in rows:
        by_doc.setdefault(ix.doc_ids[r], []).append(ix.texts[r])
    context = "\n".join(
        f"--- Document ID: {d} ---\n" + "\n".join(t) + "\n" for d, t in by_doc.items()
    )
    return "\n\n".join([system_rules, f"Context:\n{context}", f"Question: {query}"])


class CacheModel:
    """The semantic LFU cache: top-1 cosine >= threshold (ties: lowest
    entry id) bumps freq; a put at capacity evicts the lowest
    (freq, insert order) first."""

    def __init__(self, capacity: int, threshold: float):
        self.capacity = capacity
        self.threshold = threshold
        self.ids: list[int] = []
        self.vecs: list[np.ndarray] = []
        self.answers: list[str] = []
        self.freq: list[int] = []
        self.seq = 0
        self.evictions = 0

    def probe(self, q: np.ndarray) -> str | None:
        if not self.ids:
            return None
        s = cosine_rows(np.array(self.vecs), q)
        ok = np.flatnonzero(s >= self.threshold)
        if ok.size == 0:
            return None
        best = min(ok, key=lambda i: (-s[i], self.ids[i]))
        self.freq[best] += 1
        return self.answers[best]

    def put(self, q: np.ndarray, answer: str) -> None:
        self.seq += 1
        n = len(self.ids)
        if n >= self.capacity:
            drop = sorted(range(n), key=lambda i: (self.freq[i], self.ids[i]))[: n - self.capacity + 1]
            self.evictions += len(drop)
            for i in sorted(drop, reverse=True):
                for lst in (self.ids, self.vecs, self.answers, self.freq):
                    del lst[i]
        self.ids.append(self.seq)
        self.vecs.append(q)
        self.answers.append(answer)
        self.freq.append(1)


# ----------------------------------------------------------------------
# the workload
# ----------------------------------------------------------------------


def _ops(workload: str, inputs: gen.AskInputs):
    """Endless operation stream: ('ask', question) / ('upload', k)."""
    if workload == "ask_hot":
        while True:
            for q in inputs.hot_stream(64):
                yield "ask", q
    uploads = 0
    i = 0
    while True:
        if i % UPLOAD_EVERY == 0:
            yield "upload", uploads
            uploads += 1
        else:
            yield "ask", next(inputs.cold)
        i += 1


def _instrument(engine, tracer, api_mod, cache_mod, retrieval_hits: dict):
    """Wrap, from outside, each call ask/upload_text make into a layer."""

    class _Collect:
        def __init__(self, df):
            self.df = df

        def collect(self):
            with tracer.span("operators.retrieval.collect"):
                rows = self.df.collect()
            retrieval_hits[tracer.request] = [r.chunk_key for r in rows]
            return rows

    tracer.wrap(engine, "_embed_query", "ml.embedder.query")
    tracer.wrap(engine, "_cache_probe", "operators.cache.probe")
    tracer.wrap(engine, "search", "operators.retrieval.search", post=_Collect)
    tracer.wrap(engine, "_assemble_context", "api.assemble")
    tracer.wrap(engine, "_build_prompt", "api.assemble")
    tracer.wrap(engine, "generate", "api.generate")
    tracer.wrap(engine, "_cache_put", "operators.cache.put")
    tracer.wrap(engine, "upload_text", "api.upload")
    tracer.wrap(cache_mod, "put", "operators.cache.put")
    tracer.wrap(cache_mod, "evict_lfu", "operators.cache.evict")
    # api.py binds truncate_eager by name at import
    tracer.wrap(api_mod, "truncate_eager", "functions.plan.truncate")


def run(spark, workload: str, seed: int, seconds: float, work_dir: str, tracer=None) -> dict:
    from semantic_query_engine_spark import api as api_mod
    from semantic_query_engine_spark.api import SemanticQueryEngine
    from semantic_query_engine_spark.operators import cache as cache_mod
    from semantic_query_engine_spark.plans.rag import SYSTEM_RULES

    inputs = gen.ask_inputs(seed)
    corpus = f"{work_dir}/corpus"
    gen.write_corpus(inputs.docs, corpus)
    capacity = COLD_CACHE_CAPACITY if workload == "ask_cold_upload" else 1000

    model = DigestModel()
    builds = []
    engine = None
    for _ in range(BUILDS):
        if engine is not None:
            engine.index.unpersist()
        t0 = time.perf_counter()
        engine = SemanticQueryEngine(spark, generate_fn=model, cache_capacity=capacity)
        engine.build_from_corpus_dir(corpus)
        engine.index.count()  # the cached index, materialized before timing
        builds.append(time.perf_counter() - t0)

    ops: list[Op] = []
    snapshots = [snapshot(engine.index)]
    retrieval_hits: dict[int, list[str]] = {}
    if tracer is not None:
        # the warm-up asks are traced too: they are the only asks that
        # search before the first upload
        _instrument(engine, tracer, api_mod, cache_mod, retrieval_hits)
    warm = []
    t0 = time.perf_counter()
    warm_questions = (
        inputs.hot_pool[:HOT_WARM_QUESTIONS]
        if workload == "ask_hot"
        else [next(inputs.cold) for _ in range(COLD_WARM_QUESTIONS)]
    )
    for q in warm_questions:
        ops.append(_traced(engine, model, Op("ask", q, request=len(ops)), inputs, tracer))
        warm.append(ops[-1])
    warm_s = time.perf_counter() - t0
    if tracer is not None:
        tracer.resolve_jobs()

    timed: list[Op] = []
    uploads = 0
    stream = _ops(workload, inputs)
    deadline = time.perf_counter() + seconds
    try:
        while sum(o.kind == "ask" for o in timed) < MIN_ASKS or time.perf_counter() < deadline:
            kind, arg = next(stream)
            op = _traced(engine, model, Op(kind, arg, uploads_before=uploads, request=len(ops)), inputs, tracer)
            ops.append(op)
            timed.append(op)
            t_untimed = time.perf_counter()
            if tracer is not None:
                tracer.resolve_jobs()
            if kind == "upload" and op.ok:
                uploads += 1
                snapshots.append(snapshot(engine.index))
            deadline += time.perf_counter() - t_untimed
    finally:
        if tracer is not None:
            tracer.restore()

    cache_entries = engine.cache_stats()["entries"]
    checks = verify(spark, engine, ops, snapshots, capacity, SYSTEM_RULES)
    return {
        "builds": builds,
        "warm_s": warm_s,
        "ops": timed,
        "checks": checks,
        "cache_entries": cache_entries,
        "index_rows": len(snapshots[-1].keys),
        "capacity": capacity,
        "retrieval_hits": retrieval_hits,
        "warm": warm,
    }


def _traced(engine, model, op: Op, inputs: gen.AskInputs, tracer) -> Op:
    """_do, inside a root span for asks when tracing (an upload's root
    span is the wrapped upload_text itself)."""
    if tracer is None:
        return _do(engine, model, op, inputs)
    tracer.request = op.request
    with tracer.span("api.ask") if op.kind == "ask" else nullcontext():
        _do(engine, model, op, inputs)
    tracer.request = None
    return op


def _do(engine, model, op: Op, inputs: gen.AskInputs) -> Op:
    calls = model.calls
    c0 = cpu.tree_cpu()
    t0 = time.perf_counter()
    try:
        if op.kind == "ask":
            op.answer = engine.ask(op.arg)
        else:
            engine.upload_text(*inputs.upload(op.arg))
        op.latency = time.perf_counter() - t0
        op.cpu_s = cpu.tree_cpu() - c0
        op.ok = True
    except Exception as e:  # noqa: BLE001 - one failed operation must not end the run
        op.error = f"{type(e).__name__}: {str(e)[:300]}"
    op.generated = model.calls > calls
    return op


def verify(spark, engine, ops: list[Op], snapshots: list[IndexSnapshot], capacity: int, system_rules: str) -> dict:
    """Replay every operation against the benchmark's own model."""
    questions = sorted({o.arg for o in ops if o.kind == "ask"})
    emb = {}
    if questions:
        df = spark.createDataFrame([(q,) for q in questions], "chunk_text string")
        for r in engine._embedder.transform(df).select("chunk_text", "embedding").collect():
            emb[r.chunk_text] = np.array(r.embedding, dtype=np.float64)
    cache = CacheModel(capacity, CACHE_THRESHOLD)
    version = 0
    per_op: dict[int, dict] = {}
    for i, o in enumerate(ops):
        if o.kind == "upload":
            version += o.ok
            continue
        if not o.ok:
            per_op[i] = {"ok": False}
            continue
        q = emb[o.arg]
        cached = cache.probe(q)
        if cached is not None:
            per_op[i] = {"ok": (not o.generated) and o.answer == cached, "hit": True}
            continue
        ix = snapshots[version]
        rows = expected_topk(ix, q)
        want = answer_of(expected_prompt(o.arg, ix, rows, system_rules))
        per_op[i] = {
            "ok": o.generated and o.answer == want,
            "hit": False,
            "top": [ix.keys[r] for r in rows],
        }
        cache.put(q, want)
    return {"per_op": per_op, "evictions": cache.evictions, "entries": len(cache.ids)}


def report(res: dict, tracer=None) -> tuple[dict, dict, list[str]]:
    """(end-to-end metrics, per-layer metrics, human-readable lines)."""
    ops: list[Op] = res["ops"]
    per_op = res["checks"]["per_op"]
    n_warm = len(res["warm"])
    asks = [o for o in ops if o.kind == "ask"]
    ups = [o for o in ops if o.kind == "upload"]
    lat = [o.latency for o in asks]  # failed ops read inf: they miss any limit
    busy = sum(o.latency for o in ops if o.ok)
    done = sum(o.ok for o in asks)
    hits = [o.latency for o in asks if o.ok and not o.generated]
    misses = [o.latency for o in asks if o.ok and o.generated]
    ok = sum(per_op[o.request]["ok"] for o in asks) + sum(o.ok for o in ups)
    failed = sum(not o.ok for o in ops)
    e2e = {
        "setup_s": res["spark_start_s"] + stats.median(res["builds"]) + res["warm_s"],
        "op_cpu_s": stats.median([o.cpu_s for o in asks]),
    }
    tail, pct = stats.tail(lat)
    lines = [
        f"attempted={len(ops)} (asks={len(asks)} uploads={len(ups)}) failed={failed}",
        f"setup_s={e2e['setup_s']:.4f} s  (spark start {res['spark_start_s']:.3f} s, build median of {res['builds']}, warm-up {res['warm_s']:.3f} s)",
        f"ask_cpu_s={e2e['op_cpu_s']:.4f} s  (median CPU seconds of an ask, this process and its children)",
        f"ask_qps={done / busy if busy else 0.0:.4f} 1/s  (completed asks per second of the timed run's busy time)",
        f"ask_p50_s={stats.median(lat):.4f} s",
        f"ask_tail_s={'n/a' if tail is None else f'{tail:.4f}'} s  (p{pct if pct is not None else '-'}, n={len(lat)}; needs >= 11 samples)",
        f"hit_p50_s={_fmt(stats.median(hits))} s  (n={len(hits)})",
        f"miss_p50_s={_fmt(stats.median(misses))} s  (n={len(misses)})",
        f"upload_p50_s={_fmt(stats.median([o.latency for o in ups]))} s  (n={len(ups)})",
        f"fail_frac={failed / max(len(ops), 1):.4f} ratio",
        f"answer_ok_frac={ok / max(len(ops), 1):.4f} ratio",
        f"cache_capacity={res['capacity']} warm-up asks={n_warm}",
        "latencies: " + " ".join(f"{o.kind[0]}{o.latency:.3f}" for o in ops),
        "cpu seconds: " + " ".join(f"{o.kind[0]}{o.cpu_s:.3f}" for o in ops),
    ]
    for o in ops:
        if not o.ok:
            lines.append(f"FAILED {o.kind}: {o.error}")
    layer = {}
    if tracer is not None:
        layer, more = layers(res, tracer)
        lines += more
    res["answer_ok"] = ok
    res["failed"] = failed
    # the warm-up asks are checked too, though not timed
    res["warm_ok"] = all(per_op[i]["ok"] for i in range(n_warm))
    if not res["warm_ok"]:
        lines.append("WRONG warm-up answer")
    return e2e, layer, lines


def _fmt(x):
    return "n/a" if x is None else f"{x:.4f}"


def layers(res: dict, tracer) -> tuple[dict, list[str]]:
    ops: list[Op] = res["ops"]
    per_op = res["checks"]["per_op"]
    roots = {s.request: s for s in tracer.spans if s.name == "api.ask"}
    asks = [o for o in ops if o.kind == "ask" and o.ok]

    timed = [s for o in asks for s in tracer.subtree(roots[o.request])]

    def per_call(name):
        return stats.median([tracer.self_time(s) for s in timed if s.name == name]) or 0.0

    def per_request(names: tuple[str, ...]):
        """Median over the asks that entered the layer of its self time."""
        vals = []
        for o in asks:
            t = [tracer.self_time(s) for s in tracer.subtree(roots[o.request]) if s.name in names]
            if t:
                vals.append(sum(t))
        return stats.median(vals) or 0.0

    n_asks = max(len(asks), 1)
    embeds = sum(
        1 for o in asks for s in tracer.subtree(roots[o.request]) if s.name == "ml.embedder.query"
    )
    hits = [o for o in asks if not o.generated]
    recall_num = recall_den = 0
    for o in asks:
        got = res["retrieval_hits"].get(o.request)
        want = per_op[o.request].get("top")
        if got is not None and want is not None:
            recall_num += len(set(got) & set(want))
            recall_den += len(want)
    search = [
        (o.uploads_before, sum(
            tracer.self_time(s) for s in tracer.subtree(roots[o.request])
            if s.name in ("operators.retrieval.search", "operators.retrieval.collect")
        ))
        for o in res["warm"] + asks if o.ok and o.generated
    ]
    slope = stats.slope(search)
    jobs = sum(s.jobs for s in timed)
    tasks = sum(s.tasks for s in timed)
    m = {
        "ml.embedder.query_s": per_call("ml.embedder.query"),
        "ml.embedder.query_calls_per_ask": embeds / n_asks,
        "operators.cache.probe_s": per_call("operators.cache.probe"),
        "operators.cache.hit_ratio": len(hits) / n_asks,
        "operators.cache.entries": res["cache_entries"],
        "operators.cache.put_s": per_request(("operators.cache.put", "operators.cache.evict")),
        "operators.cache.evictions": sum(s.name == "operators.cache.evict" for s in timed),
        "functions.plan.truncations": sum(s.name == "functions.plan.truncate" for s in timed),
        "operators.retrieval.search_s": per_request(
            ("operators.retrieval.search", "operators.retrieval.collect")
        ),
        "operators.retrieval.index_rows": res["index_rows"],
        "operators.retrieval.recall_at_3": recall_num / recall_den if recall_den else 0.0,
        "operators.retrieval.search_s_per_upload": slope,
        "api.assemble_s": per_request(("api.assemble",)),
        "api.generate_s": per_request(("api.generate",)),
        "api.ask_self_s": per_request(("api.ask",)),
        "api.upload_s": stats.median([s.dur for s in tracer.by_name("api.upload")]) or 0.0,
        "spark.jobs_per_ask": jobs / n_asks,
        "spark.tasks_per_ask": tasks / n_asks,
    }
    lines = tracer.table()
    # self times of an ask's spans add up to its wall time
    worst = max(
        (abs(sum(tracer.self_time(s) for s in tracer.subtree(roots[o.request])) - o.latency)
         for o in asks),
        default=0.0,
    )
    lines.append(f"ask self-time sum vs ask wall: worst gap {worst * 1e3:.3f} ms over {len(asks)} asks")
    bins: dict[int, list[float]] = {}
    for u, t in search:
        bins.setdefault(u, []).append(t)
    lines.append(
        "operators.retrieval.search_s by uploads so far (warm-up asks included): "
        + ", ".join(f"{u}:{stats.median(v):.4f}s(n={len(v)})" for u, v in sorted(bins.items()))
    )
    return m, lines
