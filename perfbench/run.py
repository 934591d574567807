"""Serving-path benchmark of semantic_query_engine_spark.

    python3 perfbench/run.py --workload ask_hot --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout.  Workloads:

- ask_hot          closed-loop asks, Zipf over a small question pool:
                   mostly semantic-cache hits
- ask_cold_upload  closed-loop asks that are all distinct (all misses),
                   small cache (puts evict), every 10th operation an
                   upload_text by one of 4 tenants
- curate_index     scan -> exact dedup -> MinHash-LSH -> components ->
                   chunk -> TF-IDF -> parquet write over a corpus with
                   planted exact and near duplicates

One process, one client, Spark pinned to local[<cores>] with a JVM heap
well under physical memory.  Inputs come from --seed only.  Every
output is checked (see ask.py / curate.py).  --trace 0 prints the
end-to-end metrics, --trace 1 wraps every layer call in spans and prints
the per-layer metrics.  Human-readable lines come first; the last line
of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = ("ask_hot", "ask_cold_upload", "curate_index")

# Gated: set-up wall time, and the median CPU seconds of one operation
# (an ask, or a whole curation pass) over this process and its children.
# Wall latency and throughput are printed above the result line but not
# gated: on a host whose hypervisor steals CPU, a curation pass's wall
# time moves with the steal by far more than the largest bound allows.
END_TO_END = {"setup_s": "s", "op_cpu_s": "s"}

ASK_LAYERS = {
    "ml.embedder.query_s": "s",
    "ml.embedder.query_calls_per_ask": "count",
    "operators.cache.probe_s": "s",
    "operators.cache.hit_ratio": "ratio",
    "operators.cache.entries": "count",
    "operators.cache.put_s": "s",
    "operators.cache.evictions": "count",
    "functions.plan.truncations": "count",
    "operators.retrieval.search_s": "s",
    "operators.retrieval.index_rows": "count",
    "operators.retrieval.recall_at_3": "ratio",
    "operators.retrieval.search_s_per_upload": "s",
    "api.assemble_s": "s",
    "api.generate_s": "s",
    "api.ask_self_s": "s",
    "api.upload_s": "s",
    "spark.jobs_per_ask": "count",
    "spark.tasks_per_ask": "count",
}
CURATE_LAYERS = {
    "sources.read_s": "s",
    "operators.dedup.exact_s": "s",
    "operators.dedup.exact_removed": "count",
    "operators.dedup.minhash_s": "s",
    "operators.dedup.pairs": "count",
    "operators.dedup.planted_recall": "ratio",
    "operators.graph.cc_s": "s",
    "operators.graph.components": "count",
    "operators.chunking.chunk_s": "s",
    "operators.chunking.chunks": "count",
    "ml.embedder.fit_s": "s",
    "ml.embedder.transform_s": "s",
    "plans.index_build.write_s": "s",
    "plans.index_build.bytes_written": "bytes",
    "spark.jobs_per_pass": "count",
    "spark.tasks_per_pass": "count",
}
TRACE_LAYERS = {"trace.span_cost_s": "s", "trace.overhead_frac": "ratio"}
PER_LAYER = {**ASK_LAYERS, **CURATE_LAYERS, **TRACE_LAYERS}


def _cores() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count() or 1


def _jvm_heap() -> str:
    """A quarter of physical memory, at most 4 GiB: the package default
    (48g) can outgrow a small machine's memory."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        total = 16 << 30
    return f"{max(1, min(4, total // 4 >> 30))}g"


# -- load stamp ------------------------------------------------------------


def _steal_ticks() -> int:
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, ValueError, IndexError):
        return -1


def _foreign_jvms() -> int:
    """JVMs on the machine that are not descendants of this process."""
    me = os.getpid()
    count = 0
    for pid in filter(str.isdigit, os.listdir("/proc") if os.path.isdir("/proc") else ()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() != "java":
                    continue
            p = int(pid)
            while p > 1 and p != me:
                with open(f"/proc/{p}/stat") as f:
                    p = int(f.read().rsplit(")", 1)[1].split()[1])
            count += p != me
        except (OSError, ValueError, IndexError):
            continue
    return count


class LoadStamp:
    def __init__(self):
        self.load0 = os.getloadavg()
        self.jvms0 = _foreign_jvms()
        self.steal0 = _steal_ticks()
        self.t0 = time.time()

    def lines(self) -> list[str]:
        wall = time.time() - self.t0
        s1 = _steal_ticks()
        tck = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100
        steal = 0.0
        if self.steal0 >= 0 and s1 >= 0 and wall > 0:
            steal = (s1 - self.steal0) / (wall * tck * (os.cpu_count() or 1))
        load1 = os.getloadavg()
        return [
            f"load: loadavg before {[round(x, 2) for x in self.load0]} after {[round(x, 2) for x in load1]}, "
            f"foreign JVMs before {self.jvms0} after {_foreign_jvms()}, steal fraction {steal:.4f}, "
            f"cores {_cores()}, JVM heap {os.environ['SPARK_DRIVER_MEM']}"
        ]


# -- the run ---------------------------------------------------------------


def _pin_environment(work: str) -> None:
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["SPARK_DRIVER_MEM"] = _jvm_heap()
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # keep Spark's and Python's scratch files inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM this process launched, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort: do not leave it running
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, root)
    # the program under test is the package in this checkout
    from semantic_query_engine_spark.session import get_spark

    import ask
    import curate

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _pin_environment(work)
    stamp = LoadStamp()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        spark.range(1).count()  # the session is usable
        spark_start = time.perf_counter() - t0

        tracer = None
        span_cost = 0.0
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark.sparkContext)
            span_cost = tracer.span_cost()

        if args.workload == "curate_index":
            res = curate.run(spark, args.seed, args.seconds, work, tracer)
            mod = curate
        else:
            res = ask.run(spark, args.workload, args.seed, args.seconds, work, tracer)
            mod = ask
        res["spark_start_s"] = spark_start
        e2e, layer, lines = mod.report(res, tracer)
        if tracer is not None:
            spans = len(tracer.spans)
            layer["trace.span_cost_s"] = span_cost
            layer["trace.overhead_frac"] = span_cost * spans / max(
                sum(s.dur for s in tracer.spans if s.parent is None), 1e-9
            )
            lines.append(
                f"tracing overhead: {spans} spans x {span_cost * 1e6:.1f} us = "
                f"{layer['trace.overhead_frac']:.4%} of traced time; compare the latencies with a --trace 0 run "
                f"for the measured difference"
            )
            tracer.dump(os.path.join(root, ".perfbench_work", f"spans-{args.workload}-{args.seed}.jsonl"))
        attempted = len(res["ops"]) if "ops" in res else len(res["passes"])
        failed = res["failed"]
        correct = res["answer_ok"] == attempted and failed == 0 and res.get("warm_ok", True)
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    lines += stamp.lines()
    if args.trace:
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
        for k, v in layer.items():
            if k not in PER_LAYER:
                raise KeyError(f"unlisted per-layer metric {k}")
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    for line in [f"workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}", *lines]:
        print(line)
    for k, m in metrics.items():
        print(f"  {k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": bool(correct), "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
