"""curate_index: the batch curation pipeline over a generated corpus.

scan -> exact dedup -> MinHash-LSH near-dup pairs -> connected
components -> keep one representative per component -> chunk -> TF-IDF
fit/transform -> L2-normalize -> parquet write, composed from the
package's public operators the way a user would: lazy, with no caching
between them.  The traced run materializes each layer's output at its
boundary, so time lands in the layer that did the work.

Checks (outside timing, on the written index): exactly the planted
exact duplicates are removed, planted near-duplicate recall is at least
NEAR_RECALL_FLOOR with no other document removed, the chunk count is
sum(ceil(words / 512)) over the survivors, and every embedding has unit
L2 norm.
"""

from __future__ import annotations

import math
import os
import shutil
import time

import numpy as np

import cpu
import gen
import stats

# at least 1 of the 2 planted pairs; one pair is missed with p ~2e-4
NEAR_RECALL_FLOOR = 0.5
CHUNK = 512
# setup_s takes the median (here: the mean) of the set-up passes; two,
# not three, to keep 22 runs of both workloads within the time budget
SETUP_PASSES = 2
# Pass times keep falling for several passes after the first (the JVM
# is still compiling) and move with hypervisor steal: a run measures at
# least MIN_PASSES passes, so its median is always taken over the same
# pass positions and one disturbed pass does not move it.
MIN_PASSES = 3


def _materialize(df):
    return df.localCheckpoint(eager=True)


def _pipeline(spark, corpus: str, out: str) -> None:
    from pyspark.sql import functions as F

    from semantic_query_engine_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
    from semantic_query_engine_spark.operators.graph import connected_components
    from semantic_query_engine_spark.plans.index_build import build_index, write_index
    from semantic_query_engine_spark.sources.text_corpus import read_text_corpus

    docs = read_text_corpus(spark, corpus)
    kept = exact_dedup(docs)
    # the near-dup operators key documents by a bigint id
    num = kept.withColumn("num", F.regexp_extract("doc_id", r"(\d+)$", 1).cast("long"))
    pairs = minhash_lsh_pairs(num, id_col="num")
    comp = connected_components(pairs)
    dropped = comp.filter(F.col("node") != F.col("component")).select(F.col("node").alias("num"))
    survivors = num.join(dropped, "num", "left_anti").drop("num")
    index = build_index(survivors, chunk_size=CHUNK)
    write_index(index, out)


def _instrument(tracer, captured: dict):
    """Wrap each operator call of the pipeline into a layer span and
    materialize the DataFrame it returns inside that span.  The
    materialized outputs of the scan, dedup and graph layers are kept in
    `captured` so their counts can be read after the pass."""
    from semantic_query_engine_spark.ml import embedder
    from semantic_query_engine_spark.operators import dedup, graph
    from semantic_query_engine_spark.plans import index_build
    from semantic_query_engine_spark.sources import text_corpus

    def keep(key):
        def post(df):
            captured[key] = _materialize(df)
            return captured[key]

        return post

    # _pipeline imports the operators at call time, so patching the
    # module attributes reaches it
    tracer.wrap(text_corpus, "read_text_corpus", "sources.read", post=keep("docs"))
    tracer.wrap(dedup, "exact_dedup", "operators.dedup.exact", post=keep("kept"))
    tracer.wrap(dedup, "minhash_lsh_pairs", "operators.dedup.minhash", post=keep("pairs"))
    tracer.wrap(graph, "connected_components", "operators.graph.cc", post=keep("comp"))
    tracer.wrap(index_build, "chunk_documents", "operators.chunking.chunk", post=_materialize)
    tracer.wrap(embedder.TfIdfEmbedder, "fit", "ml.embedder.fit")
    tracer.wrap(embedder.TfIdfEmbedder, "transform", "ml.embedder.transform", post=_materialize)
    tracer.wrap(index_build, "write_index", "plans.index_build.write")


def run(spark, seed: int, seconds: float, work_dir: str, tracer=None) -> dict:
    inputs = gen.curate_inputs(seed)
    corpus = f"{work_dir}/corpus"
    gen.write_corpus(inputs.docs, corpus)
    out = f"{work_dir}/index"

    # the set-up passes run on the timed corpus: they also warm the JVM
    # for the data the timed passes process
    builds = []
    for _ in range(SETUP_PASSES):
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        _pipeline(spark, corpus, out)
        builds.append(time.perf_counter() - t0)

    captured: dict = {}
    probe: dict = {}
    if tracer is not None:
        _instrument(tracer, captured)
    passes: list[dict] = []
    deadline = time.perf_counter() + seconds
    try:
        while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
            shutil.rmtree(out, ignore_errors=True)
            p = {"request": len(passes), "ok": False, "latency": float("inf"), "cpu_s": float("inf"), "error": ""}
            c0 = cpu.tree_cpu()
            t0 = time.perf_counter()
            try:
                if tracer is not None:
                    tracer.request = p["request"]
                    with tracer.span("curate.pass"):
                        _pipeline(spark, corpus, out)
                else:
                    _pipeline(spark, corpus, out)
                p["latency"] = time.perf_counter() - t0
                p["cpu_s"] = cpu.tree_cpu() - c0
                p["ok"] = True
            except Exception as e:  # noqa: BLE001 - a failed pass is counted, the run goes on
                p["error"] = f"{type(e).__name__}: {str(e)[:300]}"
            t_untimed = time.perf_counter()
            if tracer is not None:
                tracer.request = None
                tracer.resolve_jobs()
                if p["ok"]:
                    probe = {
                        "n_docs": captured["docs"].count(),
                        "n_kept": captured["kept"].count(),
                        "pairs": [(r.id_a, r.id_b) for r in captured["pairs"].collect()],
                        "components": captured["comp"].select("component").distinct().count(),
                    }
            p["check"] = verify(spark, inputs, out) if p["ok"] else {"ok": False}
            passes.append(p)
            deadline += time.perf_counter() - t_untimed
    finally:
        if tracer is not None:
            tracer.restore()
    return {"builds": builds, "passes": passes, "inputs": inputs, "probe": probe}


def verify(spark, inputs: gen.CurateInputs, out: str) -> dict:
    from pyspark.sql import functions as F

    from semantic_query_engine_spark.plans.index_build import check_count_invariant

    index = spark.read.parquet(out)
    check_count_invariant(None, index, CHUNK)
    rows = index.select("doc_id", F.col("embedding")).collect()
    words = {d.doc_id: d.n_words for d in inputs.docs}
    survivors = {r.doc_id for r in rows}
    exact_drop = {max(a, b) for a, b in inputs.exact_of.items()}
    near_drop = {max(a, b) for a, b in inputs.near_of.items()}
    removed = set(words) - survivors
    near_found = len(removed & near_drop)
    recall = near_found / len(near_drop) if near_drop else 1.0
    chunks_want = sum(math.ceil(words[d] / CHUNK) for d in survivors if d in words)
    norms = np.array([math.sqrt(sum(x * x for x in r.embedding)) for r in rows])
    checks = {
        "exact_removed": exact_drop <= removed,
        "exact_rep_kept": {min(a, b) for a, b in inputs.exact_of.items()} <= survivors,
        "near_recall": recall >= NEAR_RECALL_FLOOR,
        "no_false_removal": removed <= exact_drop | near_drop,
        "unknown_docs": survivors <= set(words),
        "chunk_count": len(rows) == chunks_want,
        "unit_norm": bool(np.all(np.abs(norms - 1.0) < 1e-6)),
    }
    return {
        "ok": all(checks.values()),
        "checks": checks,
        "recall": recall,
        "chunks": len(rows),
        "bytes": sum(
            os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(out) for f in fs
        ),
    }


def report(res: dict, tracer=None) -> tuple[dict, dict, list[str]]:
    passes = res["passes"]
    inputs = res["inputs"]
    n_docs = len(inputs.docs)
    lat = [p["latency"] for p in passes]
    cpus = [p["cpu_s"] for p in passes]
    done = [p for p in passes if p["ok"]]
    busy = sum(p["latency"] for p in done)
    failed = sum(not p["ok"] for p in passes)
    ok = sum(p["check"]["ok"] for p in passes)
    e2e = {
        "setup_s": res["spark_start_s"] + stats.median(res["builds"]),
        "op_cpu_s": stats.median(cpus),
    }
    lines = [
        f"attempted={len(passes)} passes of {n_docs} documents failed={failed}",
        f"setup_s={e2e['setup_s']:.4f} s  (spark start {res['spark_start_s']:.3f} s, set-up passes {[round(b, 3) for b in res['builds']]})",
        f"docs_per_s={n_docs * len(done) / busy if busy else 0.0:.4f} docs/s",
        f"pass_p50_s={stats.median(lat):.4f} s  (n={len(lat)}; {' '.join(f'{x:.3f}' for x in lat)})",
        f"pass_cpu_s={e2e['op_cpu_s']:.4f} s  ({' '.join(f'{c:.3f}' for c in cpus)})",
        f"fail_frac={failed / len(passes):.4f} ratio",
        f"answer_ok_frac={ok / len(passes):.4f} ratio",
    ]
    for p in passes:
        if not p["ok"]:
            lines.append(f"FAILED pass: {p['error']}")
        elif not p["check"]["ok"]:
            lines.append(f"WRONG pass output: {p['check']['checks']}")
    res["answer_ok"] = ok
    res["failed"] = failed
    layer = {}
    if tracer is not None and res["probe"]:
        layer = layers(res, tracer)
    if tracer is not None:
        lines += tracer.table()
    return e2e, layer, lines


def layers(res: dict, tracer) -> dict:
    inputs = res["inputs"]
    probe = res["probe"]
    last = res["passes"][-1]["check"]

    def per_pass(name):
        vals = []
        for root in tracer.by_name("curate.pass"):
            t = [tracer.self_time(s) for s in tracer.subtree(root) if s.name == name]
            if t:
                vals.append(sum(t))
        return stats.median(vals) or 0.0

    planted = {(min(a, b), max(a, b)) for a, b in inputs.near_of.items()}
    num = lambda d: int(d[3:])  # noqa: E731 - PMC000123 -> 123
    found = {(min(a, b), max(a, b)) for a, b in probe["pairs"]}
    planted_num = {(num(a), num(b)) for a, b in planted}
    roots = tracer.by_name("curate.pass")
    n = max(len(roots), 1)
    return {
        "sources.read_s": per_pass("sources.read"),
        "operators.dedup.exact_s": per_pass("operators.dedup.exact"),
        "operators.dedup.exact_removed": probe["n_docs"] - probe["n_kept"],
        "operators.dedup.minhash_s": per_pass("operators.dedup.minhash"),
        "operators.dedup.pairs": len(found),
        "operators.dedup.planted_recall": len(found & planted_num) / max(len(planted_num), 1),
        "operators.graph.cc_s": per_pass("operators.graph.cc"),
        "operators.graph.components": probe["components"],
        "operators.chunking.chunk_s": per_pass("operators.chunking.chunk"),
        "operators.chunking.chunks": last.get("chunks", 0),
        "ml.embedder.fit_s": per_pass("ml.embedder.fit"),
        "ml.embedder.transform_s": per_pass("ml.embedder.transform"),
        "plans.index_build.write_s": per_pass("plans.index_build.write"),
        "plans.index_build.bytes_written": last.get("bytes", 0),
        "spark.jobs_per_pass": sum(s.jobs for r in roots for s in tracer.subtree(r)) / n,
        "spark.tasks_per_pass": sum(s.tasks for r in roots for s in tracer.subtree(r)) / n,
    }
