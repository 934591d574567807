"""Repo-wide physical-plan red-flag audit: build EVERY registered
query's plan and flag the shapes that kill 100 TB runs —

- UNPART_WINDOW: a window with no PARTITION BY (moves the whole input
  to one partition; the class of bug pack_sequences had in round 1)
- CARTESIAN: CartesianProduct (all-pairs on two distributed sides)
- BNLJ: BroadcastNestedLoopJoin — only acceptable when one side is
  PROVABLY tiny/bounded (a broadcast 1-row query vector, a <=#shards
  totals table, a post-limit top-k leg); every acceptance is recorded
  in ALLOWED_BNLJ with its justification
- ROW_PYTHON: BatchEvalPython (row-at-a-time Python in the plan; the
  Arrow-batched nodes — ArrowEvalPython, MapInPandas, FlatMapGroupsIn
  Pandas — are fine and NOT flagged)
- TOKENIZE_IN_LAMBDA: a `split(` inside a higher-order function's
  lambda body.  A tokenizer over the whole document placed inside a
  per-element lambda (an n-gram `transform` slicing an inline words
  array) re-splits the document once per element — O(words^2) per
  document; the words array belongs in its own projection
- ROW_AGGREGATE_IN_LAMBDA: an `aggregate(` inside a lambda body whose
  array operand contains no variable of an enclosing lambda.  A fold
  over the row's own array (a norm) placed inside a per-element lambda
  (a normalize `transform`) re-runs once per element — O(dim^2) per
  row; Spark does not hoist it, so the fold must sit outside every
  lambda
- AGGREGATE_IN_JOIN_AND_PROJECT: the same `aggregate(` call in a join
  condition and in the Project directly above the join.  A filter
  pushed into the join condition (a threshold on a cosine, say)
  evaluates the fold there, and the projection evaluates it again for
  every pair that passes

Usage: python tools/plan_audit.py [sf_dir] [--markdown]
Exit code 1 if any query has a flag not covered by an allowlist entry,
so CI/tests can gate on it.  `--markdown` prints the PLAN_AUDIT.md
report body.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from semantic_query_engine_spark.queries import REGISTRY  # noqa: E402
from semantic_query_engine_spark.session import get_spark  # noqa: E402

# Every acceptance is one provably-bounded side.  Anything new that
# shows a BNLJ must either justify itself here or restructure the join.
ALLOWED_BNLJ: dict[str, str] = {
    "semantic_topk": "broadcast 1-row query-vector side",
    "semantic_topk_dim1024": "broadcast 1-row query-vector side",
    "semantic_topk_docs": "broadcast 1-row query-vector side",
    "rag_ask_flagship": "broadcast 1-row query-vector side",
    "cache_probe": "broadcast 1-row probe vs <=1000-row cache",
    "knn_join": "broadcast bounded probe set vs index scan",
    "retrieval_eval_srp": "broadcast 8-probe side vs index scan (kNN-"
    "shaped gold ranking); the candidate join is a key equi-join",
    "ann_ivf_knn_join": "broadcast probes x #clusters centroid table "
    "+ 1-row recall_ok flag",
    "dedup_minhash_lsh": "broadcast 1-row recall_ok flag onto exact pairs",
    "ann_lsh_topk": "broadcast 1-row query + 1-row recall_ok flag",
    "ann_ivf_topk": "broadcast 1-row query + 1-row recall_ok flag",
    "ann_ivf_topk_partitioned": "broadcast 1-row query + 1-row recall_ok "
    "flag (same gate as ann_ivf_topk, probed via the partitioned layout)",
    "ann_pq_topk": "broadcast 1-row query + 1-row recall_ok flag",
    "ann_ivfpq_topk": "broadcast 1-row query + 1-row recall_ok flag",
    "bm25_topk": "broadcast 1-row corpus-stats side",
    "unigram_perplexity": "broadcast 1-row total-token-count side",
    "bigram_perplexity": "broadcast 1-row vocab-size side",
    "boilerplate_line_removal": "broadcast 1-row corpus-count side onto "
    "the line-df table for the integer threshold compare",
    "dsir_importance": "broadcast 1-row corpus-total sides; the lambda "
    "feature table is a bounded 256-bucket broadcast equi-join",
    "cms_frequency": "broadcast 1-row total-count side vs 20-row probe",
    "tfidf_keywords": "broadcast 1-row pool-size side",
    "tfidf_cosine_pairs": "broadcast 1-row pool-size side; the pair "
    "stage itself is a term-keyed equi-join (pytest-pinned)",
    "embedding_binarize_hamming": "broadcast 5 two-long signatures vs scan",
    "semantic_mmr_rerank": "broadcast 1-row query + bounded 20-row pool pairs",
    "contrastive_pairs": "broadcast 20-anchor side vs index scan (kNN shape)",
    "hybrid_rrf": "broadcast 1-row stats + 20-row post-limit rank legs",
    "timeseries_gapfill": "tiny generated time-grid side",
    "join_cross": "intentional CROSS JOIN demo on two bounded dims",
    "decontaminate_semantic": "broadcast fixed-size eval set (benchmark "
    "suites are thousands of rows vs a billion-row train corpus); train "
    "side streams map-only",
    "join_range_bands": "intentional theta/range-join demo, banded sides",
    "source_datacard": "broadcast 1-row corpus-token-total side onto the "
    "per-source aggregate for the share/epoch floor divisions",
    "dedup_eval_lsh": "two broadcast crosses of 1-row COUNT aggregates "
    "(n_candidates, true_positives) onto the 1-row n_truth side for the "
    "recall/precision divisions",
    "dedup_eval_sweep": "same shape as dedup_eval_lsh per banding "
    "config: broadcast crosses of 1-row COUNT aggregates onto the "
    "shared 1-row n_truth side (3 configs x 2 crosses)",
    "join_skew_profile": "broadcast 1-row totals aggregate onto the "
    "count-of-counts histogram for the mass_micro division",
    "ann_ivfpq_topk_indexed": "broadcast 1-row query + limit(refine) "
    "re-rank candidates + 1-row recall_ok flag (same gate shape as "
    "ann_ivfpq_topk, probed via the persisted layout)",
    "ann_ivfpq_knn_join_indexed": "broadcast probes x #clusters "
    "centroid table + limit(refine)-per-probe re-rank + 1-row "
    "recall_ok flag (same shape as ann_ivf_knn_join)",
    "dedup_semdedup_built": "broadcast crosses of 1-row aggregates "
    "(pool count, planted/detected counts, keep-rule gate) plus the "
    "nlist-row built-centroid equi-join",
    "ann_ivfpq_append_probe": "broadcast 1-row query + limit(refine) "
    "re-rank candidates + 1-row recall_ok flag (same gate shape as "
    "ann_ivfpq_topk_indexed, probed after the incremental add)",
    "ann_ivf_topk_filtered": "broadcast 1-row query vector onto the "
    "predicate+cluster-pruned candidates + 1-row recall_ok flag "
    "(same gate shape as ann_ivf_topk)",
}
ALLOWED_ROW_PYTHON: dict[str, str] = {
    "udtf_word_index": "Python UDTF surface demo (BatchEvalPythonUDTF); "
    "the production tokenizers are pure expressions",
}
# A window with no partition spec moves its whole INPUT to one
# partition — fatal when the input is the data, fine when the input is
# provably bounded.  Same contract as ALLOWED_BNLJ: every acceptance
# names the bound.
ALLOWED_UNPART_WINDOW: dict[str, str] = {
    "pack_sequences": "prefix-sum base case: <= width^2 (16k) shard-totals "
    "rows by the size-adaptive check (operators/prefix.py); above that the "
    "hierarchy recurses and every window is partitioned",
    "weighted_sample_es": "rank window runs on the 50-row post-LIMIT "
    "result only; the corpus-wide step is TakeOrderedAndProject",
}
# Streaming queries execute availableNow on build (slow, not just
# planning) — the audit covers them when run via the CLI; the pytest
# gate skips them to keep the suite fast.
STREAM_PREFIXES = ("stream_", "session_window")

# Source-level allowlist for `Window.orderBy(` (a window spec with no
# partition clause) in the package — same contract as the plan-level
# list: every acceptance names the bound on the window's input.
ALLOWED_SOURCE_UNPART_WINDOW: dict[str, str] = {
    "operators/cache.py": "LFU evict ranks the cache table, capacity-"
    "bounded at 1000 rows by cache_put",
    "queries/mlpipeline_q.py": "weighted_sample_es ranks the 50-row "
    "post-LIMIT sample only (plan-level allowlist names the same bound)",
}


def audit_sources() -> list[str]:
    """Source-level sweep for unpartitioned window SPECS anywhere in the
    package — catches SETUP-SIDE windows that execute while a query
    function builds its inputs (writing replay files, planting
    fixtures) and therefore never appear in the RETURNED plan that
    audit_one inspects.  That exact class shipped in round 5:
    stream_watermark_append chunked the whole events table through one
    partition with ntile(4) OVER (ORDER BY ts) while writing its replay
    files, and the plan audit missed it (VERDICT r5 #3).  Returns
    unexcused 'path:line' hits; convention makes the grep sound: every
    partitioned window in this codebase is written
    Window.partitionBy(...).orderBy(...)."""
    flags = []
    pkg = os.path.join(REPO, "semantic_query_engine_spark")
    for root, _dirs, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, pkg)
            with open(path) as fh:
                for i, line in enumerate(fh, 1):
                    if "Window.orderBy(" in line and (
                        rel not in ALLOWED_SOURCE_UNPART_WINDOW
                    ):
                        flags.append(f"{rel}:{i}")
    return flags


def audit_forced_broadcasts() -> tuple[list[str], int]:
    """Source-level sweep of every forced `F.broadcast(` hint in the
    package (VERDICT r11 #1): a forced hint on a DATA-DEPENDENT-SIZE
    side OOMs every executor at 100 TB where an un-hinted plan would
    let AQE broadcast at demo scale and shuffle-join at corpus scale
    (the jaccard_pairs rule, operators/dedup.py).  Convention: every
    `F.broadcast(` site must carry a justification comment containing
    'bounded:' naming the bound — on the same line or within the 3
    lines above.  Returns (unexcused 'path:line' hits, total sites);
    unannotated == unexcused, so a new forced hint must argue its
    bound or be removed."""
    flags: list[str] = []
    total = 0
    pkg = os.path.join(REPO, "semantic_query_engine_spark")
    for root, _dirs, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, pkg)
            with open(path) as fh:
                lines = fh.readlines()
            for i, line in enumerate(lines):
                if "F.broadcast(" not in line:
                    continue
                total += 1
                window = lines[max(0, i - 3): i + 1]
                if not any("bounded:" in w for w in window):
                    flags.append(f"{rel}:{i + 1}")
    return flags, total


_SORT_ITEM = re.compile(r"(ASC|DESC) NULLS (FIRST|LAST)$")


def _has_unpartitioned_window(plan: str) -> bool:
    """True when any windowspecdefinition has NO partition columns.
    The spec prints `windowspecdefinition(part..., ord ASC NULLS FIRST,
    specifiedwindowframe(...))`; partition columns are the leading args
    that are NOT sort items.  (The old `], [`-counting heuristic
    false-positived on partitioned windows with no ORDER BY, which
    print only one trailing list.)"""
    for m in re.finditer(r"windowspecdefinition\((.*?)specifiedwindowframe", plan):
        args = [a.strip() for a in m.group(1).split(",") if a.strip()]
        if not any(not _SORT_ITEM.search(a) for a in args):
            return True
    return False


def _lambda_functions(plan: str):
    """The text of every `lambdafunction(...)` in the plan string,
    matched by paren depth; it ends early at `...`, where the plan
    printer abbreviates a long scan-metadata string (a pushed-down
    filter) mid-expression."""
    start = plan.find("lambdafunction(")
    while start != -1:
        i = start + len("lambdafunction(")
        depth = 1
        while i < len(plan) and depth and not plan.startswith("...", i):
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
        yield plan[start:i]
        start = plan.find("lambdafunction(", start + 1)


def _tokenizes_in_lambda(plan: str) -> bool:
    """True when the body of any `lambdafunction(...)` in the plan
    string contains `split(`."""
    return any("split(" in fn for fn in _lambda_functions(plan))


_LAMBDA_VAR = re.compile(r"lambda \w+#\d+")


def _call_args(text: str, i: int) -> list[str] | None:
    """Top-level arguments of the call whose `(` ends just before
    `text[i]`, split by paren depth; None when the text ends or is cut
    at `...` before the call closes."""
    args, depth, begin = [], 1, i
    while i < len(text) and not text.startswith("...", i):
        ch = text[i]
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if not depth:
                return args + [text[begin:i]]
        elif ch == "," and depth == 1:
            args.append(text[begin:i])
            begin = i + 1
        i += 1
    return None


def _aggregates_row_in_lambda(plan: str) -> bool:
    """True when a lambda body holds an `aggregate(` whose array
    operand has no free lambda variable: the variables it uses are all
    bound by lambdas inside the operand itself (a zip_with's own
    (x, y)), so it folds the same row array for every element of the
    enclosing lambda."""
    for fn in _lambda_functions(plan):
        for m in re.finditer(r"\baggregate\(", fn):
            args = _call_args(fn, m.end())
            if args is None:
                continue
            operand = args[0]
            bound = set()
            for inner in re.finditer(r"lambdafunction\(", operand):
                for param in (_call_args(operand, inner.end()) or [])[1:]:
                    bound.update(_LAMBDA_VAR.findall(param))
            if set(_LAMBDA_VAR.findall(operand)) <= bound:
                return True
    return False


_TREE_PREFIX = re.compile(r"[\s:+\-]*(?:\*\(\d+\) )?")


def _aggregates_in_join_and_project(plan: str) -> bool:
    """True when a join node's line and the Project line directly above
    it (its parent in the printed tree) hold the same `aggregate(...)`
    call text; the printed expression ids make equal text the same
    expression."""
    nodes = []
    for line in plan.splitlines():
        m = _TREE_PREFIX.match(line)
        nodes.append((m.end(), line[m.end():]))
    for i, (depth, text) in enumerate(nodes):
        node = text.split(" ", 1)[0]
        if "Join" not in node and node != "CartesianProduct":
            continue
        parent = next((t for d, t in reversed(nodes[:i]) if d < depth), "")
        if not parent.startswith("Project "):
            continue
        for m in re.finditer(r"\baggregate\(", text):
            args = _call_args(text, m.end())
            if args is not None and "aggregate(" + ",".join(args) + ")" in parent:
                return True
    return False


def audit_one(spark, name: str, sf_dir: str) -> list[str]:
    df = REGISTRY[name].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    flags = []
    if _has_unpartitioned_window(plan) and name not in ALLOWED_UNPART_WINDOW:
        flags.append("UNPART_WINDOW")
    if "CartesianProduct" in plan:
        flags.append("CARTESIAN")
    if "BroadcastNestedLoopJoin" in plan and name not in ALLOWED_BNLJ:
        flags.append("BNLJ")
    if "BatchEvalPython" in plan and name not in ALLOWED_ROW_PYTHON:
        flags.append("ROW_PYTHON")
    if _tokenizes_in_lambda(plan):
        flags.append("TOKENIZE_IN_LAMBDA")
    if _aggregates_row_in_lambda(plan):
        flags.append("ROW_AGGREGATE_IN_LAMBDA")
    if _aggregates_in_join_and_project(plan):
        flags.append("AGGREGATE_IN_JOIN_AND_PROJECT")
    return flags


def run_audit(spark, sf_dir: str, names=None) -> dict[str, list[str]]:
    """{query: [unexcused flags]} — empty dict = clean repo."""
    out: dict[str, list[str]] = {}
    for name in sorted(names or REGISTRY):
        try:
            flags = audit_one(spark, name, sf_dir)
        except Exception as e:  # a query that cannot even plan is a flag
            flags = [f"BUILD_ERROR:{type(e).__name__}"]
        if flags:
            out[name] = flags
    return out


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--markdown"]
    markdown = "--markdown" in sys.argv
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    spark = get_spark("plan-audit")
    bad = run_audit(spark, sf_dir)
    src_bad = audit_sources()
    if src_bad:
        bad["__setup_side_sources__"] = [
            f"SOURCE_UNPART_WINDOW:{h}" for h in src_bad
        ]
    bc_bad, bc_total = audit_forced_broadcasts()
    if bc_bad:
        bad["__forced_broadcasts__"] = [
            f"UNJUSTIFIED_FORCED_BROADCAST:{h}" for h in bc_bad
        ]
    if markdown:
        # stamp the commit the audit ran at (VERDICT r8 #2: the
        # artifact must be checkable against HEAD, not "probably
        # regenerated recently")
        try:
            head = subprocess.check_output(
                ["git", "rev-parse", "--short", "HEAD"], cwd=REPO, text=True
            ).strip()
            dirty = bool(subprocess.check_output(
                ["git", "status", "--porcelain",
                 "--", "semantic_query_engine_spark", "__spark_entry__.py"],
                cwd=REPO, text=True,
            ).strip())
        except Exception:
            head, dirty = "unknown", True
        print("# PLAN_AUDIT — repo-wide physical-plan red-flag sweep\n")
        print(f"Audited at commit: `{head}`"
              f"{' (engine sources DIRTY at audit time)' if dirty else ''}\n")
        print(f"Queries audited: {len(REGISTRY)} (sf_dir={sf_dir}); "
              "plus a source-level sweep for setup-side unpartitioned "
              "windows (audit_sources)\n")
        print("## Hard flags (must be empty)\n")
        if bad:
            for k, v in bad.items():
                print(f"- **{k}**: {', '.join(v)}")
        else:
            print(
                "NONE — no unpartitioned window (plan-level or "
                "setup-side source-level), no CartesianProduct, no "
                "row-at-a-time Python, no tokenizer (split) inside a "
                "lambda, no row aggregate inside a lambda, no array "
                "aggregate in both a join condition and its projection, "
                "no unexcused "
                "BroadcastNestedLoopJoin in any registered query plan."
            )
        print("\n## Accepted bounded nested-loop joins\n")
        print("| Query | Why the loop side is bounded |\n|---|---|")
        for k, v in sorted(ALLOWED_BNLJ.items()):
            print(f"| `{k}` | {v} |")
        print("\n## Accepted Python-eval nodes\n")
        print("| Query | Why |\n|---|---|")
        for k, v in sorted(ALLOWED_ROW_PYTHON.items()):
            print(f"| `{k}` | {v} |")
        print("\n## Accepted single-partition windows\n")
        print("| Query | Why the window input is bounded |\n|---|---|")
        for k, v in sorted(ALLOWED_UNPART_WINDOW.items()):
            print(f"| `{k}` | {v} |")
        print("\n## Accepted source-level unpartitioned window specs\n")
        print("| File | Why the window input is bounded |\n|---|---|")
        for k, v in sorted(ALLOWED_SOURCE_UNPART_WINDOW.items()):
            print(f"| `{k}` | {v} |")
        print("\n## Forced broadcast hints\n")
        print(
            f"{bc_total} `F.broadcast(` sites in the package; "
            f"{bc_total - len(bc_bad)} carry an inline `bounded:` "
            "justification naming a data-INDEPENDENT bound (1-row "
            "aggregates, constant-size dims, limit(k) candidate sets, "
            "nprobe/nlist index slices, per-batch/benchmark sets); "
            f"{len(bc_bad)} unexcused.  NO registered plan forces a "
            "broadcast on a data-dependent-size side — corpus-scaling "
            "sides (distinct words, filtered customer/supplier, hot "
            "shingles, user profiles) are un-hinted so AQE broadcasts "
            "at demo scale and shuffle-joins at 100 TB."
        )
    else:
        for k, v in sorted(bad.items()):
            print("FLAG", k, v)
        print(f"{len(bad)} flagged of {len(REGISTRY)}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
