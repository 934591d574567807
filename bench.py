"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

`value` is the flagship RAG pipeline's end-to-end latency (embed-in-plan
-> cache probe -> top-3 retrieval -> context assembly -> prompt ->
generation), the direct analog of the reference's published "< 3.5 s
end-to-end query latency" (BASELINE.md).  Per-query timings for the
wider operator surface ride along in "queries".

Instrument (round 14, VERDICT r13 #1): the default is the pair of
instruments tools/scale_run.py proved honest in round 13 —
  * FULL materialization: small-output queries .collect(); everything
    else writes to the noop sink, which consumes every column of every
    row.  .count() is NOT full materialization: on a small-group
    Aggregate, Catalyst prunes the aggregate expressions, and upstream
    of a join it prunes payload columns, so count() timings measure a
    gutted plan (moved ann_ivfpq_topk 3.6 -> 14.2 s at sf1 once
    honestly materialized — SCALE.md).
  * PER-QUERY SUBPROCESS isolation: a shared JVM develops multi-second
    pauses across a ~80-query sweep that inflated LATE rows up to 11x
    (measured: dedup_semantic 30.1 s in-sweep vs 2.7 s fresh), which is
    why BENCH_r13's tail looked like a regression while same-HEAD
    isolated runs were flat.  One JVM per query costs ~8 s of startup
    each, all OUTSIDE the timed region.
The rounds-1-13 shared-JVM .count() harness is gone; its bridge to
this instrument is committed in BENCH_COMPARE_r14.md.
SPARK_GRAFT_BENCH_BATCH=N shares one JVM across N consecutive queries
to trade isolation for wall-clock.

Each query runs $SPARK_GRAFT_BENCH_RUNS times (default 3) and reports
the MEDIAN after $SPARK_GRAFT_BENCH_WARMUP (default 1) untimed
warmups: single-run timings showed ±25% noise on sub-second queries
across rounds 1-2, and a plan's first execution pays whole-stage-
codegen javac for that plan.

Hypervisor steal guard (round 14): a timed sample whose /proc/stat
steal fraction exceeds $SPARK_GRAFT_BENCH_STEAL_MAX (default 0.05) is
retaken up to $SPARK_GRAFT_BENCH_STEAL_RETAKES (default 2) times — an
oversubscribed host showed steal storms that inflated single rows up
to 70x (winnow_fingerprints 0.82 s quiet vs 56.3 s mid-storm, same
commit).  The worst accepted fraction and the retake count are stamped
into the JSON's load block so a poisoned run is self-identifying.

Round 15 (VERDICT r14 #1): a row that EXHAUSTS its retakes mid-storm —
so its median contains poisoned samples — is RE-QUEUED once at the end
of the sweep (storms pass; the r14 driver run had 4 rows 2-6x off
their quiet twins from exactly this).  Rows still poisoned after the
re-queue are listed per-name in load.steal_poisoned so downstream
comparisons can exclude them instead of reading storm noise as a
regression.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

FLAGSHIP = "rag_ask_flagship"

# Hypervisor steal-time guard (round 14): this sandbox's host is
# oversubscribed and shows intermittent steal STORMS — tens of seconds
# where the guest's runnable vCPUs are simply not scheduled.  A sample
# that lands in a storm measures the host, not the plan (observed:
# winnow_fingerprints 0.82 s in a quiet window vs 56.3 s mid-storm,
# same commit).  Each timed sample therefore reads /proc/stat's steal
# counter around the run and is RETAKEN (bounded, default 2 retakes)
# when steal exceeded SPARK_GRAFT_BENCH_STEAL_MAX (default 5%) of the
# machine's tick budget during the window; the emitted JSON stamps the
# worst accepted steal fraction and the retake count so a poisoned run
# is self-identifying, the same honesty contract as the foreign-JVM
# stamp below.
_CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def _steal_ticks() -> int:
    """Cumulative machine-wide steal ticks (-1 where unreadable)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return int(parts[8])
    except (OSError, ValueError, IndexError):
        return -1


def _steal_frac(s0: int, s1: int, wall: float) -> float:
    """Steal ticks as a fraction of the machine's tick budget over a
    wall-clock window; 0.0 when counters are unavailable."""
    if s0 < 0 or s1 < 0 or wall <= 0:
        return 0.0
    return (s1 - s0) / (wall * _CLK_TCK * (os.cpu_count() or 1))


def _merge_requeue(
    old_t: float, old_frac: float, retry_t: float, retry_frac: float | None
) -> tuple[float, float | None]:
    """Merge a steal-poisoned row's original median with its end-of-
    sweep re-queue result: a CLEAN retry (retry_frac None) replaces the
    row outright; a still-poisoned retry keeps the FASTER median (both
    are storm-inflated upper bounds) and the worst accepted fraction.
    Returns (timing, poisoned_frac_or_None)."""
    if retry_frac is None:
        return retry_t, None
    return min(old_t, retry_t), max(old_frac, retry_frac)


def _foreign_jvms() -> int:
    """Count JVMs on this machine that are NOT descendants of this process.

    BENCH_r09 was produced while another Spark JVM ran concurrently and
    showed a uniform ~1.2-1.5x inflation across 21 rows with zero
    improvements — the fingerprint of a loaded machine, not a
    regression (VERDICT r9).  Stamping the count into the JSON makes a
    poisoned run self-identifying instead of requiring a quiet re-run
    to adjudicate.  Ancestry is walked via /proc/<pid>/stat ppid chains
    so our own local[*] JVM (a child of this process) never counts.
    """
    me = os.getpid()
    count = 0
    try:
        pids = [p for p in os.listdir("/proc") if p.isdigit()]
    except OSError:
        return -1  # non-procfs platform: unknown, not zero
    for pid_s in pids:
        try:
            with open(f"/proc/{pid_s}/comm") as f:
                if f.read().strip() != "java":
                    continue
        except OSError:
            continue
        p = int(pid_s)
        ours = False
        for _ in range(64):  # bounded walk; init has ppid 0
            try:
                with open(f"/proc/{p}/stat") as f:
                    # comm may contain spaces/parens: split after last ')'
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                break
            if ppid == me:
                ours = True
                break
            if ppid <= 1:
                break
            p = ppid
        if not ours:
            count += 1
    return count

HEADLINE = [
    FLAGSHIP,            # the reference's core read path (A20)
    "semantic_topk",     # brute-force ANN (A15)
    "semantic_topk_dim1024",  # ANN at the reference's 1024-dim width
    "knn_join",          # batch kNN join
    "cache_probe",       # semantic cache (A12)
    "doc_chunk",         # chunking (A2)
    "context_assembly",  # group-concat (A16)
    "text_stats",        # text analysis extension
    "doc_fingerprint",   # hashing/dedup key
    "winnow_fingerprints",  # MOSS window-min k-gram selection (r10)
    "embedding_project_srp",  # signed random-projection 64->16 dims (r10)
    "dedup_exact",       # exact dedup at 2x corpus
    "dedup_jaccard",     # shingle-join near-dup
    "dedup_cluster",     # connected-components dup grouping
    "dedup_semantic",    # embedding pairs -> CC -> representatives
    "decontaminate",     # eval-set n-gram overlap check
    "decontaminate_semantic",  # eval-set embedding-cosine check (r9)
    "tfidf_cosine_pairs",  # weighted lexical near-dup, inverted index (r9)
    "bm25_topk",         # full-text keyword retrieval
    "hybrid_rrf",        # BM25 + cosine rank fusion
    "q1_pricing_summary",  # agg workhorse
    "join_q5_region",    # 6-table star join
    "window_topk_per_group",
    "events_sessionize",
    # LLM-pipeline breadth (round 2): regressions here must be visible
    "pack_sequences",    # per-shard greedy packing
    "hash_split",        # reproducible train/val/test buckets
    "weighted_sample_es",  # one-pass weighted sample w/o replacement (r10)
    "mixture_token_budget",  # per-source token-budget mixture (r10)
    "span_corruption_masks",  # T5 denoising mask plan (r10)
    "vocab_coverage",    # tokenizer OOV-rate eval vs top-1k vocab (r10)
    "boilerplate_line_removal",  # C4 line-frequency strip + reassembly (r11)
    "bpe_pair_counts",   # BPE merge-candidate kernel over word table (r11)
    "bpe_merges",        # 3 driver-coordinated BPE training steps (r11)
    "bpe_encode_fertility",  # apply merges via un-hinted vocab join (r11)
    "bpe_merges_n10",    # 10-round parameterized trainer, early-stop (r12)
    "dedup_incremental",  # new-batch vs historical asymmetric dedup (r11)
    "dedup_incremental_indexed",  # probe via persisted bucketed index (r12)
    "neardup_keep_longest",  # keep-longest policy over CC clusters (r11)
    "dup_cluster_stats",  # cluster-size histogram monitor (r11)
    "epoch_shuffle",     # deterministic per-epoch shard/order plan (r11)
    "fim_transform",     # fill-in-middle PSM objective plan, map-only (r11)
    "multimodal_decode_meta",  # Arrow mapInPandas binary decode (r11)
    "multimodal_byte_features",  # pandas-UDF payload featurization (r11)
    "multimodal_real_decode",  # genuine BMP/WAV header parsing (r12)
    "embedding_drift",   # two-snapshot per-dim drift monitor (r12)
    "source_datacard",   # per-source mixing report + epoch plan (r12)
    "bpe_roundtrip",     # detokenize(encode(w)) == w corpus gate (r12)
    # renamed r7: rounds <=5 timed the LSH pipeline under
    # "dedup_minhash_lsh"; since r6 that registered row ALSO runs the
    # exact all-pairs join for its recall gate, so the bench times the
    # raw operator via a bench-only callable to keep cross-round ratios
    # meaningful (ADVICE r6).  r6's dedup_minhash_lsh=2.13s measured
    # LSH + exact join and is not comparable to either series.
    "minhash_lsh_pairs",  # banded minhash near-dup (LSH only)
    "lsh_bucket_stats",  # pre-join bucket-occupancy monitor (r10)
    "ann_ivf_knn_join",  # partition-pruned IVF batch kNN (gate + operator)
    "retrieval_eval_srp",  # recall@3/MRR eval harness, SRP vs exact (r10)
    "ivf_knn_join_op",   # same operator WITHOUT the recall gate's exact
    #                      ground-truth side — comparable to rounds <= 5
    #                      and the row that sees a production regression
    "ivfpq_topk_op",     # per-query IVF-PQ probe over a process-cached
    #                      built index (r9): the registered row's ~3 s is
    #                      build-dominated; at scale the index is built
    #                      once and probed millions of times
    "ivf_topk_partitioned",  # probe over the write_ivf_index partitioned
    #                      layout: times the partition-pruned scan (r9); a
    #                      jump toward ann_ivf_topk means the pruning broke
    "stream_dedup",      # exactly-once streaming dedup (state store)
    "training_data_prep",  # composed clean->dedup->split->pack pipeline
    "training_data_prep_neardup",  # + capped-jaccard near-dedup + CC stage
    "ann_ivfpq_topk",    # IVF-PQ: cluster-pruned 8-byte-code ADC scan
    "unigram_perplexity",  # corpus-LM quality scoring
    "bigram_perplexity",  # order-sensitive LM quality scoring (r10)
    "dsir_importance",   # hashed-ngram importance weights, DSIR (r10)
    "substring_dedup",   # repeated k-token span detection (Lee et al.)
    "merge_upsert",      # CDC MERGE as broadcast anti-join + union
    "curation_verdict",  # composed per-doc keep/drop audit table
    # round-5 session-2 additions (cheap rows only; the heavy new ones
    # — stream_watermark_append, graph_pagerank — are scale-sweep rows)
    "bitmap_distinct",   # two-level bitmap exact distinct
    "cms_frequency",     # declarative count-min heavy hitters
    "bloom_prune_join",  # broadcast bloom bit-position join prune
    "tfidf_keywords",    # per-doc top-3 TF-IDF keyword extraction
    "url_canonical_dedup",  # crawl URL canonicalize + keep-min dedup
    # round-12 session-2 additions
    "html_extract",      # crawl front door: markup strip, one map stage
    "paragraph_dedup",   # corpus-wide keep-first paragraph rule (r12)
    "multimodal_phash_dedup",  # image dHash + banded-Hamming join (r12)
    "multimodal_audio_dedup",  # PCM frame-energy fingerprint dedup (r12)
    "multimodal_dedup_stats",  # cross-modality pair-volume monitor (r12)
    "imagetext_alignment",     # CLIP-filter-shaped pair scoring (r12)
    "video_scene_detect",      # per-clip dHash scene segmentation (r12)
    "video_keyframe_sample",   # one keyframe per detected scene (r12)
    "stream_phash_dedup",      # streaming exact perceptual dedup (r12)
    "multimodal_quality_filter",  # decode -> rule -> verdict gates (r12)
    "dataset_manifest",        # per-split release checksum row (r12)
    "join_skew_profile",       # pre-join key-distribution monitor (r12)
    "shard_skew_report",       # trainer-shard token-balance monitor (r12)
    "dedup_eval_lsh",    # sketch recall/precision confusion report (r12)
    # round-14 additions
    "ann_ivfpq_topk_indexed",  # gate row: probe over the PERSISTED
    #                      IVF-PQ index + accuracy gate (exact side)
    "ivfpq_indexed_probe",     # serving latency alone: statically-
    #                      pruned probe of the persisted layout, no
    #                      gate — THE per-query serving number
    "ann_ivfpq_knn_join_indexed",  # batch kNN through the persisted
    #                      index: the bulk-pipeline serving shape
]


def _bench_fns():
    """Registry + bench-only callables (import deferred: the parent
    process resolves names without paying package import at CLI parse
    time)."""
    from semantic_query_engine_spark.queries import REGISTRY
    from semantic_query_engine_spark.queries.dedup_q import (
        ivf_knn_join_bench,
        ivf_topk_partitioned_bench,
        ivfpq_indexed_probe_bench,
        ivfpq_topk_bench,
        minhash_lsh_pairs_bench,
    )

    bench_only = {
        "minhash_lsh_pairs": minhash_lsh_pairs_bench,
        "ivf_knn_join_op": ivf_knn_join_bench,
        "ivf_topk_partitioned": ivf_topk_partitioned_bench,
        "ivfpq_topk_op": ivfpq_topk_bench,
        "ivfpq_indexed_probe": ivfpq_indexed_probe_bench,
    }
    return REGISTRY, bench_only


def _time_queries(
    names: list[str], sf_dir: str
) -> tuple[dict[str, float], float, int, dict[str, float]]:
    """Time a list of queries in THIS process's Spark session with the
    honest instrument (full materialization via tools/harness_util).
    Under the default per-query isolation the list has one element and
    the JVM is fresh; under SPARK_GRAFT_BENCH_BATCH=N it has up to N."""
    os.environ.setdefault(
        "PYSPARK_SUBMIT_ARGS",
        "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    )
    from semantic_query_engine_spark.session import get_spark
    from semantic_query_engine_spark.streaming.jobs import drop_live_sinks
    from tools.harness_util import materialize, release_persistent_rdds

    registry, bench_only = _bench_fns()

    def q_fn(name):
        return registry[name].fn if name in registry else bench_only[name]

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    warmup = max(0, int(os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1")))
    steal_max = float(os.environ.get("SPARK_GRAFT_BENCH_STEAL_MAX", "0.05"))
    retake_budget = max(
        0, int(os.environ.get("SPARK_GRAFT_BENCH_STEAL_RETAKES", "2"))
    )
    timings: dict[str, float] = {}
    steal_worst = 0.0
    retakes = 0
    # queries whose MEDIAN-contributing sample set had to ACCEPT a
    # poisoned sample because the retake budget ran out (r15, VERDICT
    # r14 #1: the r14 driver run burned 58 retakes against a storm and
    # silently medianed storm samples — 4 rows came out 2-6x off their
    # quiet twins).  The parent re-queues these once at end-of-sweep
    # and stamps any that stay poisoned so PERF can exclude them.
    poisoned: dict[str, float] = {}
    for name in names:
        # untimed warmup: first execution pays whole-stage-codegen javac
        # for this plan (and JVM/class/parquet-footer first-touch in the
        # fresh-process default) — measured 6.8s -> 2.5s on
        # training_data_prep
        for _ in range(warmup):
            materialize(name, q_fn(name)(spark, sf_dir))
            drop_live_sinks(spark)
            release_persistent_rdds(spark)
        samples = []
        for _ in range(runs):
            attempt = 0
            while True:
                s0 = _steal_ticks()
                t0 = time.time()
                materialize(name, q_fn(name)(spark, sf_dir))
                dt = time.time() - t0
                frac = _steal_frac(s0, _steal_ticks(), dt)
                # a streaming query's memory sink / checkpointed CC
                # intermediates would otherwise pin blocks across samples
                drop_live_sinks(spark)
                release_persistent_rdds(spark)
                if frac <= steal_max or attempt >= retake_budget:
                    break
                attempt += 1  # steal-poisoned sample: retake (bounded)
                retakes += 1
            steal_worst = max(steal_worst, frac)
            if frac > steal_max:
                poisoned[name] = max(poisoned.get(name, 0.0), round(frac, 4))
            samples.append(dt)
        timings[name] = round(sorted(samples)[len(samples) // 2], 4)
    return timings, steal_worst, retakes, poisoned


def _emit(
    timings: dict[str, float],
    sf_dir: str,
    load_before: list[float],
    jvms_before: int,
    instrument: str,
    steal: dict | None = None,
) -> None:
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    cpus = os.cpu_count() or 1
    load_after = list(os.getloadavg())
    jvms_after = _foreign_jvms()
    # "loaded": another JVM was present, or the 1-min load BEFORE our
    # first JVM started was already a nontrivial fraction of the
    # machine.  A True here means the timings are inflated and must not
    # be read as a regression signal (the r9 driver run would have
    # flagged True).
    loaded = (
        jvms_before > 0
        or jvms_after > 0
        or load_before[0] > 0.25 * cpus
    )
    line = json.dumps(
        {
            "metric": "flagship_rag_e2e_latency",
            "value": timings.get(FLAGSHIP),
            "unit": "sec",
            "queries": timings,
            "total_sec": round(sum(timings.values()), 4),
            "sf": float(sf) if sf else None,
            "instrument": instrument,
            "load": {
                "loadavg_before": [round(x, 2) for x in load_before],
                "loadavg_after": [round(x, 2) for x in load_after],
                "foreign_jvms_before": jvms_before,
                "foreign_jvms_after": jvms_after,
                "cpus": cpus,
                "loaded_machine": loaded,
                **(steal or {}),
            },
        }
    )
    # own line + explicit flush: the JSON must be the last clean stdout
    # line even if a library wrote a partial line before it
    sys.stdout.write("\n" + line + "\n")
    sys.stdout.flush()


def _quiet_wait() -> None:
    """Quiet-machine wait (VERDICT r11 #6): when a foreign JVM is still
    running (e.g. a gate run winding down) or the pre-JVM loadavg has
    not decayed, WAIT — bounded — instead of stamping a loaded run.
    Parent-only: between isolated children our own just-exited JVMs
    keep loadavg high, so children never wait."""
    cpus = os.cpu_count() or 1
    quiet_budget = float(
        os.environ.get("SPARK_GRAFT_BENCH_QUIET_WAIT_SEC", "360")
    )
    waited = 0.0
    while waited < quiet_budget and (
        _foreign_jvms() > 0 or os.getloadavg()[0] > 0.25 * cpus
    ):
        if waited == 0.0:
            sys.stderr.write(
                "bench: machine not quiet (foreign JVM or loadavg); "
                f"waiting up to {quiet_budget:.0f}s\n"
            )
        time.sleep(15)
        waited += 15


def _child_main() -> None:
    """Isolated child: time the queries named in
    SPARK_GRAFT_BENCH_QUERIES and print one partial-JSON line."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = [
        n.strip()
        for n in os.environ["SPARK_GRAFT_BENCH_QUERIES"].split(",")
        if n.strip()
    ]
    timings, steal_worst, retakes, poisoned = _time_queries(names, sf_dir)
    sys.stdout.write(
        "\n"
        + json.dumps(
            {
                "timings": timings,
                "steal_worst": round(steal_worst, 4),
                "steal_retakes": retakes,
                "poisoned": poisoned,
            }
        )
        + "\n"
    )
    sys.stdout.flush()


def _requeue_poisoned(
    timings: dict[str, float], poisoned: dict[str, float], run_group
) -> tuple[int, int, float]:
    """End-of-sweep re-queue (r15, VERDICT r14 #1): a row whose sample
    set ACCEPTED a steal-poisoned sample (retake budget exhausted
    mid-storm) gets ONE fresh isolated retry after the sweep — by then
    the storm has usually passed.  A clean retry replaces the row; a
    still-poisoned retry keeps the FASTER of the two medians (both are
    storm-inflated upper bounds) and the row stays stamped in
    `poisoned` so PERF/judges can exclude it instead of reading it as a
    regression.  A retry child that FAILS leaves the original row and
    its poisoned stamp as they were and the sweep goes on: the row was
    measured once already, so one failed retry must not discard the
    whole sweep.  Updates `timings`/`poisoned` in place; returns
    (requeues completed, their retakes, their worst steal fraction)."""
    requeued, retakes, worst = 0, 0, 0.0
    if poisoned:
        sys.stderr.write(
            f"# re-queueing {len(poisoned)} steal-poisoned row(s): "
            f"{sorted(poisoned)}\n"
        )
    for name in sorted(poisoned):
        row = run_group([name])
        if row is None:
            sys.stderr.write(
                f"# {name}: {timings[name]}s (requeue failed, kept "
                f"poisoned row, steal {poisoned[name]})\n"
            )
            continue
        requeued += 1
        retakes += row.get("steal_retakes", 0)
        worst = max(worst, row.get("steal_worst", 0.0))
        retry_frac = row.get("poisoned", {}).get(name)
        t, frac = _merge_requeue(
            timings[name], poisoned[name], row["timings"][name], retry_frac
        )
        timings[name] = t
        if frac is None:
            del poisoned[name]
            sys.stderr.write(f"# {name}: {t}s (requeue, clean)\n")
        else:
            poisoned[name] = frac
            sys.stderr.write(
                f"# {name}: {t}s (requeue still poisoned, steal {frac})\n"
            )
    return requeued, retakes, worst


def _parent_main() -> int:
    """Default instrument: per-query subprocess isolation.  Spawns one
    child (fresh JVM) per batch of SPARK_GRAFT_BENCH_BATCH queries
    (default 1), merges timings, prints the single JSON line.  A failed
    child FAILS THE RUN loudly (its stderr replayed) — a silently
    missing row is how sweeps lie (ADVICE r13).  A failed end-of-sweep
    re-queue child does not: see _requeue_poisoned."""
    import subprocess
    import tempfile

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry, bench_only = _bench_fns()
    names = [n for n in HEADLINE if n in registry or n in bench_only]
    only = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if only:
        wanted = {w.strip() for w in only.split(",") if w.strip()}
        names = [n for n in names if n in wanted]
    batch = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_BATCH", "1")))

    _quiet_wait()
    load_before = list(os.getloadavg())
    jvms_before = _foreign_jvms()

    timings: dict[str, float] = {}
    steal_worst = 0.0
    steal_retakes = 0
    poisoned: dict[str, float] = {}

    def run_group(group: list[str]) -> dict | None:
        env = dict(os.environ)
        env["SPARK_GRAFT_BENCH_CHILD"] = "isolated"
        env["SPARK_GRAFT_BENCH_QUERIES"] = ",".join(group)
        with tempfile.NamedTemporaryFile(
            mode="w+", prefix="bench_stderr_", suffix=".log", delete=False
        ) as errf:
            res = subprocess.run(
                [sys.executable, os.path.abspath(__file__)],
                stdout=subprocess.PIPE,
                stderr=errf,
                env=env,
                text=True,
            )
            if res.returncode != 0 or not res.stdout.strip():
                errf.seek(0)
                sys.stderr.write(errf.read())
                sys.stderr.write(
                    f"\n[bench] child for {group} failed "
                    f"rc={res.returncode}; stderr at {errf.name}\n"
                )
                return None
        os.unlink(errf.name)
        return json.loads(res.stdout.strip().splitlines()[-1])

    for i in range(0, len(names), batch):
        group = names[i : i + batch]
        row = run_group(group)
        if row is None:
            return 1
        timings.update(row["timings"])
        steal_worst = max(steal_worst, row.get("steal_worst", 0.0))
        steal_retakes += row.get("steal_retakes", 0)
        poisoned.update(row.get("poisoned", {}))
        for n in group:
            sys.stderr.write(f"# {n}: {timings[n]}s\n")
    steal_requeued, retry_retakes, retry_worst = _requeue_poisoned(
        timings, poisoned, run_group
    )
    steal_retakes += retry_retakes
    steal_worst = max(steal_worst, retry_worst)
    instrument = (
        "isolated-noop" if batch == 1 else f"isolated-noop-batch{batch}"
    )
    # grace wait: a just-exited child's JVM reparents to init while it
    # shuts down and would read as "foreign" in the after-sample,
    # spuriously flagging loaded_machine on every isolated run
    deadline = time.time() + 30
    while _foreign_jvms() > 0 and time.time() < deadline:
        time.sleep(2)
    _emit(
        timings,
        sf_dir,
        load_before,
        jvms_before,
        instrument,
        steal={
            "steal_frac_worst": round(steal_worst, 4),
            "steal_retakes": steal_retakes,
            "steal_requeues": steal_requeued,
            # rows whose reported median STILL contains a sample taken
            # above the steal threshold after retakes + one re-queue:
            # name -> worst accepted steal fraction.  Exclude these from
            # regression reads; {} means every row's samples were clean.
            "steal_poisoned": poisoned,
        },
    )
    return 0


if __name__ == "__main__":
    if os.environ.get("SPARK_GRAFT_BENCH_CHILD") == "isolated":
        _child_main()
    else:
        raise SystemExit(_parent_main())
