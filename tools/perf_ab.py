"""A/B of perfbench between two checkouts, in alternating order.

Usage: python tools/perf_ab.py PARENT_DIR CHANGE_DIR --workload W --seeds 42 43 ...
       [--seconds 10] [--trace 0|1]

For every seed, runs `python3 perfbench/run.py --workload W --seed S
--seconds N --trace T` once in each checkout, from the checkout's root.
The parent runs first in even pairs and second in odd ones, so a drift
of the machine's load falls on both sides.  Prints each pair's metrics
and Spark start, then over the pairs: both medians, the parent's
interquartile range and the pairs the change wins (lower is better for
every metric).  The metrics are the end-to-end `setup_s` and
`op_cpu_s` with --trace 0 (the default), and the per-layer
`spark.tasks_per_ask` and `operators.retrieval.search_s` of a traced
run with --trace 1.

A run whose Spark start wrote the JVM class archive (a new archive
appeared in the cache of semantic_query_engine_spark.session during
the run) is marked `wrote-archive`; its pair is listed but left out of
the summary, since that cost is paid once per machine.  A run whose
last output line is not perfbench's result JSON, or whose result is not
correct, is marked too and exits 1 at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from semantic_query_engine_spark.session import cache_dir  # noqa: E402

# perfbench prints the end-to-end metrics untraced, the per-layer ones traced
METRICS = {0: ("setup_s", "op_cpu_s"), 1: ("spark.tasks_per_ask", "operators.retrieval.search_s")}


def _archives() -> set[str]:
    d = cache_dir()
    return {n for n in os.listdir(d) if n.endswith(".jsa")} if os.path.isdir(d) else set()


def run_once(checkout: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    before = _archives()
    out = subprocess.run(
        [
            "python3", "perfbench/run.py", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
        ],
        cwd=checkout, capture_output=True, text=True,
    )
    lines = out.stdout.strip().splitlines()
    run = {"wrote_archive": bool(_archives() - before)}
    try:
        result = json.loads(lines[-1])
        run.update({k: result["metrics"][k]["value"] for k in METRICS[trace]})
        run["correct"] = result["correct"] and result["failed"] == 0
    except (IndexError, ValueError, KeyError, TypeError):
        run["correct"] = False
        run["tail"] = out.stdout[-500:] + out.stderr[-1500:]
    m = re.search(r"spark start ([0-9.]+) s", out.stdout)
    run["spark_start_s"] = float(m.group(1)) if m else None
    return run


def _quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def _fmt(run: dict, metrics: tuple[str, ...]) -> str:
    if "tail" in run:
        return "no result JSON on the last line:\n" + run["tail"]
    start = run["spark_start_s"]
    text = "  ".join(f"{k} {run[k]:7.3f}" for k in metrics)
    text += f"  start {'-' if start is None else f'{start:6.3f}'}"
    if run["wrote_archive"]:
        text += "  wrote-archive"
    if not run["correct"]:
        text += "  NOT CORRECT"
    return text


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=sorted(METRICS), default=0)
    args = ap.parse_args(argv)
    metrics = METRICS[args.trace]

    pairs = []
    for i, seed in enumerate(args.seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {}
        for side in order:
            pair[side] = run_once(getattr(args, side), args.workload, seed, args.seconds, args.trace)
        pairs.append(pair)
        print(f"seed {seed} ({order[0]} first)", flush=True)
        for side in ("parent", "change"):
            print(f"  {side:6s} {_fmt(pair[side], metrics)}", flush=True)

    clean = [
        p for p in pairs
        if all(r["correct"] and not r["wrote_archive"] for r in p.values())
    ]
    print(f"{args.workload}: {len(clean)} of {len(pairs)} pairs summarized "
          f"(left out: runs that wrote the archive or are not correct)")
    for k in metrics:
        if not clean:
            break
        a = [p["parent"][k] for p in clean]
        b = [p["change"][k] for p in clean]
        q1, q3 = _quartiles(a)
        ma, mb = statistics.median(a), statistics.median(b)
        wins = sum(y < x for x, y in zip(a, b))
        print(f"  {k}: median {ma:.4f} -> {mb:.4f} ({(mb - ma) / ma:+.1%}), "
              f"parent IQR {q3 - q1:.4f}, change lower in {wins}/{len(clean)} pairs")
    return 0 if all(r["correct"] for p in pairs for r in p.values()) else 1


if __name__ == "__main__":
    raise SystemExit(main())
