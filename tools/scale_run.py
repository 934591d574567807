"""Scale-evidence harness: time a set of headline queries at two scale
factors and report the wall-clock ratio per query.

The sf1 fixtures are generated from the driver's sf0.1 parquet by
replicating rows 10x with id offsets (text/vectors perturbed per
replica so exact/near-dedup stages see distinct content) — see
SCALE.md for the construction.  A query whose input scales 10x should
show time growth well under 10x on the session's machine-sized
local[<cores>] master (partial aggregation, pushdown, bounded
shuffles); a query bounded by construction (doc_id < K filters) should
stay flat because the filter reaches the scan.

Usage: python tools/scale_run.py [sf_small_dir] [sf_big_dir]
Prints one JSON line: {query: {"small": s, "big": s, "ratio": r}, ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from semantic_query_engine_spark.queries import REGISTRY  # noqa: E402
from semantic_query_engine_spark.queries.dedup_q import (  # noqa: E402
    ivfpq_indexed_probe_bench,
    minhash_lsh_pairs_bench,
)
from semantic_query_engine_spark.session import get_spark  # noqa: E402
from tools.harness_util import release_persistent_rdds  # noqa: E402
from semantic_query_engine_spark.streaming.jobs import drop_live_sinks  # noqa: E402

# The 6 most expensive headline queries (VERDICT r4) + the unbounded
# full-corpus pipelines that best expose scaling behavior.
QUERIES = [
    "training_data_prep",      # full corpus: quality+dedup+split+pack
    "training_data_prep_neardup",  # bounded pool (<200 docs) by construction
    "pack_sequences",          # full corpus: windows + prefix sum
    "dedup_exact",             # full corpus x2: digest agg + semi join
    "ann_ivfpq_topk",          # full embeddings: IVF-PQ build + scan
    "dedup_cluster",           # bounded (<100 docs) by construction
    "stream_dedup",            # full events x2 through the state store
    # r7: time the raw LSH operator, not the registered row (which
    # since r6 also runs the exact all-pairs join for its recall
    # gate — timing that measures the join LSH avoids; ADVICE r6)
    "minhash_lsh_pairs",       # bounded (<100 docs) by construction
    "hybrid_rrf",              # full corpus BM25 + full embeddings cosine
    "dedup_semantic",          # bounded (<100 vecs) by construction
    "semantic_topk_dim1024",   # full embeddings at the reference's width
    "substring_dedup",         # full corpus: one digest per token position
    "merge_upsert",            # key-band CDC over orders (broadcast anti)
    "events_funnel",           # full events: per-user staged min-ts
    "events_retention",        # full events: cohort triangle
    "substring_dedup_capped",  # full corpus + boilerplate, freq valve on
    "stream_cdc_compact",      # full events through streaming max_by state
    # round-5 session-2 additions
    "bitmap_distinct",         # full orders: two-level bitmap agg
    "cms_frequency",           # full events: fixed 2048-cell sketch agg
    "bloom_prune_join",        # full orders vs selective dim prune
    "tfidf_keywords",          # bounded pool (<200 docs) by construction
    "tfidf_cosine_pairs",      # bounded pool (<300 docs) by construction
    "decontaminate_semantic",  # bounded pool (<400 vecs) by construction
    "url_canonical_dedup",     # full corpus: map-only canon + hash agg
    "fuzzy_match_join",        # bounded (<1000 custs) by construction
    "stream_watermark_append", # full events through 4 watermark batches
    "graph_pagerank",          # bounded (<200 vecs) by construction
    # round 9: the flagship itself at 100x — the one query with a
    # published reference baseline (BASELINE.md <3.5 s)
    "rag_ask_flagship",        # full embeddings brute-force top-k + RAG
    # round 10: all new operators run UNBOUNDED (full corpus)
    "winnow_fingerprints",     # full corpus: window-min + (doc,pos) join
    "embedding_project_srp",   # full embeddings: map-only 1024 mul-adds
    "bigram_perplexity",       # full corpus: 2 ngram aggs + scoring join
    "dsir_importance",         # full corpus: 256-bucket broadcast scoring
    "retrieval_eval_srp",      # full embeddings gold scan + bucket join
    "weighted_sample_es",      # full corpus: map + TakeOrderedAndProject
    "mixture_token_budget",    # full corpus: per-source running sum
    # round 12 session 2
    "html_extract",            # full corpus: pure map, scan-bound
    "paragraph_dedup",         # full corpus: hash agg + hash join + reassembly
    "multimodal_phash_dedup",  # bounded (<1200 docs) by construction
    "multimodal_audio_dedup",  # bounded (<1200 docs) by construction
    "imagetext_alignment",     # bounded (<1200 pairs) by construction
    "video_scene_detect",      # bounded (<1200 clips) by construction
    "dataset_manifest",        # full corpus: split + hash + one agg
    "join_skew_profile",       # full lineitem: two combining aggs
    "shard_skew_report",       # full corpus x2 epochs: one agg + tiny window
    # round 13: the r12 session-2 rows VERDICT r12 #3 asked for
    "multimodal_dedup_stats",  # 3 bounded pair pipelines + combining aggs
    "dedup_eval_lsh",          # banded candidates vs capped exact truth
    "stream_phash_dedup",      # stream-static anti join, availableNow
    "video_keyframe_sample",   # bounded (<1200 clips) by construction
    "multimodal_quality_filter",  # full corpus: fused encode+parse, map-only
    "multimodal_real_decode",  # bounded (<500) container parse
    "embedding_drift",         # full embeddings x2 snapshots, array join
    "source_datacard",         # full corpus: per-source mixture plan
    "bpe_roundtrip",           # full corpus collapse + 3 merge rounds
    "dedup_incremental_indexed",  # bucketed index write + probe
    # round 13 additions
    "dedup_eval_sweep",        # 3 banding configs over shared sigs/truth
    "dedup_semdedup_clustered",  # cluster-confined pairs + centroid rule
    "dedup_semdedup_built",    # same recipe, k-means-built clusters (r14)
    "curation_attrition",      # full corpus: funnel flags + one agg
    # round 14: the persisted IVF-PQ serving index — the probe row's
    # scaling vs ann_ivfpq_topk's is the build/probe decoupling evidence
    "ann_ivfpq_topk_indexed",  # gate row over the persisted layout
    "ivfpq_indexed_probe",     # probe-only serving latency (no gate)
    "ann_ivfpq_knn_join_indexed",  # batch kNN over the persisted layout
    "ann_ivfpq_append_probe",  # probe after the incremental add
    "ann_ivf_topk_filtered",   # predicate-filtered probe, one shared index
]

RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

# Materialization instrument (collect-vs-noop split + the .count()
# pruning rationale) now lives in tools/harness_util.py, shared with
# bench.py since r14 adopted the honest instrument there too.
from tools.harness_util import materialize as _materialize_shared  # noqa: E402

# timing-only rows with no registry entry (see QUERIES comments)
BENCH_ONLY = {
    "minhash_lsh_pairs": minhash_lsh_pairs_bench,
    "ivfpq_indexed_probe": ivfpq_indexed_probe_bench,
}


def _q_fn(name):
    return REGISTRY[name].fn if name in REGISTRY else BENCH_ONLY[name]


def _materialize(name: str, df) -> None:
    _materialize_shared(name, df)


def _median_time(spark, name: str, sf_dir: str) -> float:
    # one untimed warmup: the first execution of a plan pays
    # whole-stage-codegen javac for that plan (same hygiene as bench.py)
    _materialize(name, _q_fn(name)(spark, sf_dir))
    drop_live_sinks(spark)
    release_persistent_rdds(spark)
    samples = []
    for _ in range(RUNS):
        t0 = time.time()
        _materialize(name, _q_fn(name)(spark, sf_dir))
        samples.append(time.time() - t0)
        drop_live_sinks(spark)
        release_persistent_rdds(spark)
    return round(sorted(samples)[len(samples) // 2], 3)


def main() -> None:
    small = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    big = sys.argv[2] if len(sys.argv) > 2 else os.path.join(REPO, ".scale_data/sf1")
    names = [n for n in QUERIES if n in REGISTRY or n in BENCH_ONLY]
    only = os.environ.get("SPARK_GRAFT_SCALE_QUERIES")
    if only:
        wanted = {w.strip() for w in only.split(",") if w.strip()}
        names = [n for n in names if n in wanted]
    if os.environ.get("SPARK_GRAFT_SUBPROCESS") == "1" and len(names) > 1:
        # TRUE JVM isolation (round 13): the context-reset note below is
        # not enough across a 54-query sweep — the shared JVM develops
        # multi-second pauses that inflated late rows up to 11x (measured:
        # dedup_semantic 30.1 s in-sweep vs 2.7 s in a fresh process, on
        # a quiet machine).  One subprocess per query costs ~8 s of JVM
        # startup each, outside the timed region.
        import json as _json
        import subprocess

        merged = {}
        for name in names:
            env = dict(os.environ)
            env["SPARK_GRAFT_SCALE_QUERIES"] = name
            env.pop("SPARK_GRAFT_SUBPROCESS")
            res = subprocess.run(
                [sys.executable, os.path.abspath(__file__), small, big],
                capture_output=True, text=True, env=env,
            )
            # a crashed child must FAIL LOUDLY, not silently vanish from
            # the published sweep (ADVICE r13): surface its stderr and
            # emit an explicit error row so the JSON's key set always
            # equals the requested query set
            if res.returncode != 0 or not res.stdout.strip():
                sys.stderr.write(res.stderr or "")
                print(
                    f"# {name}: CHILD FAILED rc={res.returncode}",
                    file=sys.stderr,
                )
                merged[name] = {"error": f"child rc={res.returncode}"}
                continue
            line = res.stdout.strip().splitlines()[-1]
            row = _json.loads(line)
            merged.update(row)
            for n, v in row.items():
                print(f"# {n}: {v['small']}s -> {v['big']}s ({v['ratio']}x)",
                      file=sys.stderr)
        print(json.dumps(merged))
        return
    out = {}
    for name in names:
        # fresh SparkContext per query: a long-lived local session (heap
        # sized by session.resources) develops multi-second pauses after
        # a few hundred heavy jobs (measured with a 48g heap: the same
        # query 1.4s fresh, 11s late in a sweep,
        # with all persistent RDDs released).  NOTE this is context-
        # level isolation only — spark.stop() + getOrCreate reuses the
        # same JVM through the persistent py4j gateway, so block-manager
        # /listener/codegen-cache state resets but heap aging and JIT
        # state carry over (ADVICE r5); resetting the context is what
        # restored the fresh-session timings in practice.  True JVM
        # isolation would need a subprocess per query at ~8s startup
        # each.
        spark = get_spark("scale-run")
        s = _median_time(spark, name, small)
        b = _median_time(spark, name, big)
        spark.stop()
        out[name] = {"small": s, "big": b, "ratio": round(b / s, 2) if s else None}
        print(f"# {name}: {s}s -> {b}s ({out[name]['ratio']}x)", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
