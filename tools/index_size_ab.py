"""A/B of the facade's ask path on an index above Spark's file open cost.

Usage: python tools/index_size_ab.py PARENT_DIR CHANGE_DIR --docs 1300 --seeds 1 2 3 ...
       [--asks 23] [--work DIR]

perfbench's ask index (60 documents, 174 chunks) is far below
spark.sql.files.openCostInBytes (4 MiB), where the facade keeps its
base in one partition.  This tool reaches the sizes above it: per seed
it writes --docs documents from perfbench's text model (perfbench's
word-length range, so about 2.9 chunks of 512 words per document), and
in each checkout, in a fresh process from the checkout's root, builds
the facade at perfbench's settings (chunk_size 512, dim 64, a cache of
one entry so that every ask misses), counts the index and runs --asks
distinct asks.  The parent runs first in even pairs, second in odd ones.

Per run: build_s (build and count), the index's partitions and rows,
the bytes the count stored (the materialized index; Spark's storage
status) against the facade's estimate rows x (8 dim + 8 chunk_size),
and, over the asks after the first three, the median CPU seconds of the
process tree (perfbench/cpu.py), the median wall seconds and the tasks
per ask; a digest of the prompts shows both sides retrieved the same.
Over the pairs: both medians, the parent's interquartile range and the
pairs the change wins (lower is better).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

WARM_ASKS = 3
METRICS = ("build_s", "ask_cpu_s", "ask_s", "tasks_per_ask")


def _inputs(gen, seed: int, n_docs: int, n_asks: int):
    model = gen.TextModel(seed)
    lengths = model.lengths(n_docs, *gen.ASK_WORDS)
    docs = [model.doc(f"PMC{i:06d}", n) for i, n in enumerate(lengths)]
    questions: list[str] = []
    i = 0
    while len(questions) < n_asks:
        q = model.question(docs[i % len(docs)])
        i += 1
        if q not in questions:
            questions.append(q)
    return docs, questions


def _stored_bytes(sc) -> int:
    return sum(i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo())


def run_here(corpus: str, seed: int, n_docs: int, n_asks: int) -> dict:
    """One run in the checkout at the working directory."""
    root = os.getcwd()
    sys.path[:0] = [root, os.path.join(root, "perfbench")]
    import cpu
    import gen
    from semantic_query_engine_spark.api import SemanticQueryEngine
    from semantic_query_engine_spark.session import get_spark

    _, questions = _inputs(gen, seed, n_docs, n_asks)
    spark = get_spark("index_size_ab")
    sc = spark.sparkContext
    try:
        # the prompt's digest as the answer: it holds the retrieved chunks
        eng = SemanticQueryEngine(
            spark, cache_capacity=1, generate_fn=lambda p: hashlib.sha256(p.encode()).hexdigest()
        )
        t0 = time.perf_counter()
        eng.build_from_corpus_dir(corpus)
        before = _stored_bytes(sc)
        rows = eng.index.count()
        build_s = time.perf_counter() - t0
        stored = _stored_bytes(sc) - before
        tracker = sc.statusTracker()
        cpus, walls, tasks, answers = [], [], [], hashlib.sha256()
        for n, q in enumerate(questions):
            group = f"ask-{n}"
            sc.setJobGroup(group, group)
            c0, t0 = cpu.tree_cpu(), time.perf_counter()
            answers.update(eng.ask(q).encode())
            walls.append(time.perf_counter() - t0)
            cpus.append(cpu.tree_cpu() - c0)
            sc.setLocalProperty("spark.jobGroup.id", None)
            tasks.append(sum(
                tracker.getStageInfo(s).numTasks
                for j in tracker.getJobIdsForGroup(group)
                for s in tracker.getJobInfo(j).stageIds
            ))
        return {
            "build_s": build_s,
            "ask_cpu_s": statistics.median(cpus[WARM_ASKS:]),
            "ask_s": statistics.median(walls[WARM_ASKS:]),
            "tasks_per_ask": statistics.median(tasks[WARM_ASKS:]),
            "partitions": eng.index.rdd.getNumPartitions(),
            "rows": rows,
            "stored_bytes": stored,
            "estimated_bytes": rows * (8 * eng.dim + 8 * eng.chunk_size),
            "answers_sha": answers.hexdigest()[:16],
        }
    finally:
        spark.stop()


def run_in(checkout: str, corpus: str, work: str, seed: int, n_docs: int, n_asks: int) -> dict:
    env = dict(os.environ, SPARK_LOCAL_DIRS=work, TMPDIR=work)
    env.setdefault("SPARK_DRIVER_MEM", "3g")  # perfbench's heap on a 16 GB machine
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--run", corpus, "--seed", str(seed),
         "--docs", str(n_docs), "--asks", str(n_asks)],
        cwd=checkout, capture_output=True, text=True, env=env,
    )
    try:
        return json.loads(out.stdout.strip().splitlines()[-1])
    except (IndexError, ValueError):
        return {"tail": out.stdout[-500:] + out.stderr[-2000:]}


def _fmt(r: dict) -> str:
    if "tail" in r:
        return "no result JSON on the last line:\n" + r["tail"]
    return (
        "  ".join(f"{k} {r[k]:7.3f}" for k in METRICS)
        + f"  partitions {r['partitions']}  rows {r['rows']}"
        + f"  stored/estimated {r['stored_bytes'] / max(r['estimated_bytes'], 1):.2f}"
        + f"  answers {r['answers_sha']}"
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent", nargs="?")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--docs", type=int, default=1300)
    ap.add_argument("--asks", type=int, default=23)
    ap.add_argument("--seeds", type=int, nargs="+", default=[1])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--work", default=None)
    ap.add_argument("--run", metavar="CORPUS", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.run:
        print(json.dumps(run_here(args.run, args.seed, args.docs, args.asks)))
        return 0
    if not (args.parent and args.change):
        ap.error("PARENT_DIR and CHANGE_DIR are required")

    sys.path.insert(0, os.path.join(os.path.abspath(args.change), "perfbench"))
    import gen

    work = tempfile.mkdtemp(prefix="index_size_ab-", dir=args.work)
    pairs = []
    try:
        for i, seed in enumerate(args.seeds):
            corpus = os.path.join(work, f"corpus-{seed}")
            gen.write_corpus(_inputs(gen, seed, args.docs, 0)[0], corpus)
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            pair = {}
            for side in order:
                pair[side] = run_in(getattr(args, side), corpus, work, seed, args.docs, args.asks)
            shutil.rmtree(corpus)
            pairs.append(pair)
            print(f"seed {seed} ({order[0]} first)", flush=True)
            for side in ("parent", "change"):
                print(f"  {side:6s} {_fmt(pair[side])}", flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    clean = [p for p in pairs if all("tail" not in r for r in p.values())]
    same = sum(p["parent"]["answers_sha"] == p["change"]["answers_sha"] for p in clean)
    print(f"{args.docs} docs: {len(clean)} of {len(pairs)} pairs summarized, "
          f"answers equal in {same}/{len(clean)}")
    for k in METRICS:
        if not clean:
            break
        a = [p["parent"][k] for p in clean]
        b = [p["change"][k] for p in clean]
        q = statistics.quantiles(a, n=4) if len(a) > 1 else [a[0], a[0], a[0]]
        ma, mb = statistics.median(a), statistics.median(b)
        wins = sum(y < x for x, y in zip(a, b))
        print(f"  {k}: median {ma:.4f} -> {mb:.4f} ({(mb - ma) / ma:+.1%}), "
              f"parent IQR {q[2] - q[0]:.4f}, change lower in {wins}/{len(clean)} pairs")
    return 0 if len(clean) == len(pairs) and same == len(clean) else 1


if __name__ == "__main__":
    raise SystemExit(main())
