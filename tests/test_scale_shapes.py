"""Plan-shape assertions: the physical strategies that matter at 100 TB
must actually appear in the plans — broadcast joins for small dims,
partition pruning on cluster-partitioned ANN layouts, bucketed joins
without exchanges."""

from __future__ import annotations

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().toString()


def test_broadcast_join_plan(spark, sf_dir):
    from semantic_query_engine_spark.queries.scale_q import broadcast_dim_join

    plan = _plan(broadcast_dim_join(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_topk_is_take_ordered(spark, sf_dir):
    from semantic_query_engine_spark.queries.relational import topk_orders

    plan = _plan(topk_orders(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # never a global sort


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    from semantic_query_engine_spark.sources.fixtures import load_table

    df = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") < "1996-01-01"
    ).select("l_orderkey")
    plan = _optimized(df)
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    # column pruning: scan schema must not include unused columns
    assert "l_extendedprice" not in plan.split("ReadSchema")[1][:400]


def test_ivf_partition_pruning(spark, sf_dir, tmp_path):
    """The IVF layout promise: cluster_id is a partition column, so a
    probe of nprobe clusters prunes every other partition at plan time."""
    from semantic_query_engine_spark.operators.ann import build_ivf
    from semantic_query_engine_spark.sources.fixtures import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, _ = build_ivf(emb, n_clusters=5)
    out = str(tmp_path / "ivf")
    assigned.write.partitionBy("cluster_id").parquet(out)

    probe = spark.read.parquet(out).filter(F.col("cluster_id").isin([1, 3]))
    plan = _optimized(probe)
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters")[1][:200]
    assert "cluster_id" in seg
    # and the pruned read returns only the probed clusters
    assert {r.cluster_id for r in probe.select("cluster_id").distinct().collect()} <= {1, 3}


def test_dedup_embedding_has_no_cartesian(spark, sf_dir):
    """The declared embedding near-dup query must generate candidates
    via the SRP band EQUALITY join — never an all-pairs cross join."""
    from semantic_query_engine_spark.queries.dedup_q import dedup_embedding

    plan = _plan(dedup_embedding(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Bucketed co-located join: both sides bucketed by the join key ->
    sort-merge join with NO shuffle exchange on either side.  This is
    the 'pre-shuffle once, join many times' layout for repeated joins
    over 100 TB facts."""
    from semantic_query_engine_spark.sources.fixtures import load_table

    import shutil

    spark.sql("CREATE DATABASE IF NOT EXISTS bucketdemo")
    spark.sql("DROP TABLE IF EXISTS bucketdemo.orders_b")
    spark.sql("DROP TABLE IF EXISTS bucketdemo.lineitem_b")
    # the in-memory catalog forgets tables across sessions but their
    # files persist; clear the stale locations too
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{warehouse}/bucketdemo.db", ignore_errors=True)
    load_table(spark, sf_dir, "orders").write.bucketBy(8, "o_orderkey").sortBy(
        "o_orderkey"
    ).mode("overwrite").saveAsTable("bucketdemo.orders_b")
    load_table(spark, sf_dir, "lineitem").write.bucketBy(8, "l_orderkey").sortBy(
        "l_orderkey"
    ).mode("overwrite").saveAsTable("bucketdemo.lineitem_b")

    # at fixture scale Catalyst would broadcast the small side; disable
    # broadcasts so the plan shows what a 100-TB fact-fact join would do
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        o = spark.table("bucketdemo.orders_b")
        li = spark.table("bucketdemo.lineitem_b")
        joined = li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "o_totalprice"
        )
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan  # buckets co-located
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        if prev_aqe:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prev_aqe)
        else:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")

def test_shingle_index_bucketed_probe(spark, sf_dir):
    """The persisted historical shingle index (VERDICT r11 #2): the
    daily probe's shingle equi-join must read the bucketed historical
    side with NO Exchange (only the increment shuffles to match the
    buckets), and the indexed query must return exactly the in-plan
    twin's rows."""
    from semantic_query_engine_spark.queries.dedup_q import (
        _bigram_rows,
        _ensure_shingle_index,
        _incr_hist_newb,
        dedup_incremental,
        dedup_incremental_indexed,
    )

    names = _ensure_shingle_index(spark, sf_dir)
    sh_t = names[0]

    # the raw equi-join shape (broadcasts disabled so the plan shows the
    # 100-TB fact-fact strategy): bucketed side scans with no Exchange
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        _, newb = _incr_hist_newb(spark, sf_dir)
        probe = _bigram_rows(newb).withColumnRenamed("id", "new_id")
        joined = probe.join(spark.table(sh_t), "shingle")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        # exactly ONE exchange: the probe side repartitioning to the
        # bucket count; a second would mean the historical side shuffled
        assert plan.count("Exchange hashpartitioning") == 1
        assert "Bucketed: true" in _optimized(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        if prev_aqe:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prev_aqe)
        else:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")

    # value equivalence with the in-plan twin
    a = sorted(map(tuple, dedup_incremental(spark, sf_dir).collect()))
    b = sorted(map(tuple, dedup_incremental_indexed(spark, sf_dir).collect()))
    assert a == b and a


def test_minhash_lsh_no_cartesian_all_codegen(spark, sf_dir):
    """The native MinHash+LSH path must be equality joins end-to-end (no
    CartesianProduct/BroadcastNestedLoop) and stay out of Python: no
    BatchEvalPython / ArrowEvalPython nodes — signatures are codegen
    expressions, not UDFs.  (Audits the raw operator: the registered
    query wrapper adds a 1-row broadcast recall_ok flag, which is an
    allowed BNLJ.)"""
    from semantic_query_engine_spark.operators.dedup import minhash_lsh_pairs
    from semantic_query_engine_spark.queries.dedup_q import (
        _docs_with_truncated_copies,
    )

    plan = _plan(
        minhash_lsh_pairs(
            _docs_with_truncated_copies(spark, sf_dir), threshold=0.5, n=2
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


def test_jaccard_capped_has_stop_shingle_semi_join(spark, sf_dir, monkeypatch):
    """The skew valve must materialize as a semi-join pruning hot
    shingle keys BEFORE the candidate self-join: LeftSemi on shingle in
    the optimized plan, and the valve actually removes rows (the
    synthetic corpus has bigrams above the cap).  The operator
    truncates the valved shingle table behind a localCheckpoint (r14),
    which hides the LeftSemi behind a Scan ExistingRDD — so the plan
    class is pinned with the truncation replaced by the identity, on
    the operator shape the checkpoint materializes."""
    from pyspark.sql import functions as F

    from semantic_query_engine_spark.operators import dedup
    from semantic_query_engine_spark.queries.dedup_q import (
        _STOP_SHINGLE_CAP,
        _docs_with_truncated_copies,
    )

    docs = _docs_with_truncated_copies(spark, sf_dir)
    monkeypatch.setattr(dedup, "truncate_plan", lambda df: df)
    plan = _optimized(
        dedup.jaccard_pairs(docs, n=2, max_shingle_freq=_STOP_SHINGLE_CAP)
    )
    assert "LeftSemi" in plan
    # the cap must bite on this corpus, else the test proves nothing
    hot = (
        dedup.shingle_table(docs, n=2)
        .groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > _STOP_SHINGLE_CAP)
        .count()
    )
    assert hot > 0


def test_range_join_is_equality_join(spark, sf_dir):
    """The bucketed interval join must plan as an equality join on the
    time cell — the naive BETWEEN theta join would be a
    BroadcastNestedLoopJoin (quadratic)."""
    from semantic_query_engine_spark.queries.events import range_join

    plan = _plan(range_join(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_repo_wide_plan_audit_clean(spark, sf_dir):
    """No registered (non-streaming) query may plan an unpartitioned
    window, a CartesianProduct, row-at-a-time Python, or an unexcused
    BroadcastNestedLoopJoin — the invariant PLAN_AUDIT.md records.
    Streaming queries execute on build; the CLI audit covers them."""
    from semantic_query_engine_spark.queries import REGISTRY
    from tools.plan_audit import STREAM_PREFIXES, run_audit

    names = [n for n in REGISTRY if not n.startswith(STREAM_PREFIXES)]
    bad = run_audit(spark, sf_dir, names)
    assert bad == {}, bad


def test_no_setup_side_unpartitioned_windows():
    """Source-level sweep: no `Window.orderBy(` (unpartitioned window
    spec) anywhere in the package outside the bounded allowlist — this
    catches SETUP-SIDE windows that run while a query builds its inputs
    and never appear in the returned plan (VERDICT r5 #3)."""
    from tools.plan_audit import audit_sources

    assert audit_sources() == []


def test_merge_upsert_is_broadcast_anti_join(spark, sf_dir):
    """MERGE must stay the broadcast-anti + union shape, never a
    full-outer shuffle join of target and changes."""
    from semantic_query_engine_spark.queries.curation_q import merge_upsert

    plan = _plan(merge_upsert(spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "FullOuter" not in plan and "SortMergeJoin" not in plan


def test_substring_dedup_no_allpairs(spark, sf_dir):
    """The span detector joins on the k-gram digest — no cartesian or
    nested-loop stage may appear even though it self-compares docs."""
    from semantic_query_engine_spark.queries.curation_q import substring_dedup

    plan = _plan(substring_dedup(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_stratified_sample_map_only(spark, sf_dir, monkeypatch):
    """Per-stratum hash sampling must be a pure scan+filter — any
    Exchange means the sample shuffled 100 TB for a row-local decision.
    Asserted with the local scan-spread disabled: at scale the scan is
    already >= core-count partitions and the spread is a no-op, so the
    production plan class is the spread-free one."""
    from semantic_query_engine_spark.queries.curation_q import stratified_sample

    monkeypatch.setenv("SPARK_GRAFT_SCAN_SPREAD", "0")
    plan = _plan(stratified_sample(spark, sf_dir))
    assert "Exchange" not in plan


def test_events_funnel_single_partitioning(spark, sf_dir):
    """Every stage keys on user_id; the plan must not sort the full
    event stream (no unpartitioned window/global sort)."""
    from semantic_query_engine_spark.queries.events import events_funnel

    plan = _plan(events_funnel(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "GlobalSort" not in plan and "Sort [ts" not in plan


def test_zorder_layout_narrows_rowgroups(spark, sf_dir, tmp_path):
    """Writing orders sorted by the Morton key must leave each parquet
    row group with a narrow o_custkey min/max span (data skipping on
    the SECOND column), where a single-column o_orderkey sort leaves
    custkey spans near the full range."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from semantic_query_engine_spark.queries.scale_q import morton_key
    from semantic_query_engine_spark.sources.fixtures import load_table

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # normalize both dimensions to ~8 significant bits before
    # interleaving — with unequal widths the top sort bits all come
    # from the wider column and the curve degrades to its single-column
    # sort (at scale: quantile-bucket each column first, Delta-style)
    zkey = morton_key(
        F.shiftright("o_orderkey", 3) % 256, F.col("o_custkey") % 256, bits=8
    )

    def avg_custkey_span(path: str) -> float:
        spans = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            lo, hi = None, None
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                for c in range(rg.num_columns):
                    col = rg.column(c)
                    if col.path_in_schema == "o_custkey":
                        st = col.statistics
                        lo = st.min if lo is None else min(lo, st.min)
                        hi = st.max if hi is None else max(hi, st.max)
            if lo is not None:
                spans.append(hi - lo)
        assert spans, f"no file stats under {path}"
        return sum(spans) / len(spans)

    base = str(tmp_path / "by_orderkey")
    zord = str(tmp_path / "by_zorder")
    # range-partition into 20 files: each FILE is one skipping unit
    # (file-level min/max pruning — the same mechanism at cluster scale)
    orders.repartitionByRange(20, "o_orderkey").write.parquet(base)
    orders.withColumn("zkey", zkey).repartitionByRange(20, "zkey").drop(
        "zkey"
    ).write.parquet(zord)

    span_base = avg_custkey_span(base)
    span_z = avg_custkey_span(zord)
    # z-order must at least halve the per-file custkey span
    assert span_z < 0.5 * span_base, (span_z, span_base)


def test_aqe_skew_join_splits_hot_partition(spark):
    """The runtime half of the skew story (salting is the manual half):
    with one key holding 300x the median rows, AQE must replan the
    shuffle join with skew=true (hot partition split across tasks)."""
    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:  # noqa: BLE001
            saved[k] = None
        spark.conf.set(k, v)
    try:
        left = spark.range(100).select(
            F.col("id").alias("k"),
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.when(F.col("id") == 0, 300_000).otherwise(1_000),
                )
            ).alias("v"),
        )
        right = spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right, "k").select(F.sum("v").alias("s"))
        [row] = j.collect()
        plan = _plan(j)
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, "AQE did not split the skewed partition"
        # the replan must not change the answer
        assert row["s"] == sum(
            (300_000 if k == 0 else 1_000) * (300_001 if k == 0 else 1_001) // 2
            for k in range(100)
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_v4_fixture_diag_signs_distinct_and_engine_identical(tmp_path):
    """The v4 scale-fixture extension (SCALE.md round-10 ceiling lift)
    must give every replica k >= 128 a diagonal ±1 pattern that is
    (a) DISTINCT from every other pattern in its rotation class and
    from both v3 patterns — else two replicas of one base vector are
    bit-identical vectors and the exactly-N× answer accounting breaks;
    (b) sign-balanced so same-base cross-replica cosines stay far from
    ±1; (c) reproduced bit-for-bit by the DuckDB md5 expression the
    generator actually runs."""
    import sys

    import duckdb

    sys.path.insert(0, "tools")
    from make_scale_fixtures import (
        EMB_DIM,
        assert_sign_diversity,
        diag_signs,
    )

    # pinned first values: determinism across environments/versions
    assert diag_signs(128)[:8] == (-1, 1, 1, -1, 1, 1, 1, -1)
    assert diag_signs(999)[:8] == (-1, 1, -1, -1, -1, 1, 1, -1)
    # (a)+(b) for a full sf100 replica count — raises on violation
    assert_sign_diversity(1000)
    # (c) the generator's SQL expression == the Python twin
    con = duckdb.connect()
    for k in (128, 257, 999):
        got = con.execute(
            "SELECT list_transform(range(64), i -> "
            "CASE WHEN substr(md5(? || ':' || i), 1, 1) >= '8' "
            "THEN -1 ELSE 1 END)",
            [str(k)],
        ).fetchone()[0]
        assert tuple(got) == diag_signs(k, EMB_DIM)


def test_fim_transform_is_map_only(spark, sf_dir, monkeypatch):
    """The FIM objective plan must be bounded by the scan: no Exchange,
    no join, no generator — a single projection.  Asserted with the
    local scan-spread disabled (no-op at scale, see
    test_stratified_sample_map_only)."""
    from semantic_query_engine_spark.queries.mlpipeline_q import fim_transform

    monkeypatch.setenv("SPARK_GRAFT_SCAN_SPREAD", "0")
    df = fim_transform(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan
    rows = df.collect()
    assert rows
    for r in rows[:50]:
        assert r.prefix_len >= 0 and r.middle_len >= 0 and r.suffix_len >= 0
        words = (r.prefix_len or 0) + (r.middle_len or 0) + (r.suffix_len or 0)
        # segment lengths reconstruct the doc: psm_text is the 3 marker
        # tokens plus every word exactly once (split() collapses the
        # double spaces an empty segment leaves behind)
        assert len(r.psm_text.split()) == words + 3


def test_bpe_pair_counts_take_ordered(spark, sf_dir):
    from semantic_query_engine_spark.queries.textops import bpe_pair_counts

    df = bpe_pair_counts(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_epoch_shuffle_deterministic_and_partitioned(spark, sf_dir):
    """Two builds must produce identical orderings (pure hash of
    (doc_id, epoch)), positions must be 1..shard_size per (epoch,
    shard), and the rank window must be PARTITIONED (no single-task
    global sort)."""
    from pyspark.sql import functions as F

    from semantic_query_engine_spark.queries.mlpipeline_q import epoch_shuffle

    a = sorted(map(tuple, epoch_shuffle(spark, sf_dir).collect()))
    b = sorted(map(tuple, epoch_shuffle(spark, sf_dir).collect()))
    assert a == b and a
    df = epoch_shuffle(spark, sf_dir)
    chk = df.groupBy("epoch", "shard").agg(
        F.count("*").alias("n"), F.max("pos").alias("mx"), F.min("pos").alias("mn")
    )
    for r in chk.collect():
        assert r.mn == 1 and r.mx == r.n
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re
    for m in re.finditer(r"windowspecdefinition\((.*?)specifiedwindowframe", plan):
        assert "epoch" in m.group(1) and "shard" in m.group(1)


def test_monitor_invariants_skew_and_shards(spark, sf_dir):
    """The r12 monitors' defining identities hold on the fixture:
    join_skew_profile's mass shares cover the corpus (sum within
    integer-floor slack of 1e6) with exactly one heaviest bucket
    marked; shard_skew_report's milli-loads average ~1000 per epoch
    (md5 uniformity) and its token totals reconcile with the corpus."""
    from semantic_query_engine_spark.queries.mlpipeline_q import (
        shard_skew_report,
    )
    from semantic_query_engine_spark.queries.relational import (
        join_skew_profile,
    )

    hist = join_skew_profile(spark, sf_dir).collect()
    assert hist
    mass = sum(r.mass_micro for r in hist)
    assert 1_000_000 - len(hist) <= mass <= 1_000_000  # floor-div slack
    heaviest = [r for r in hist if r.is_heaviest]
    assert len(heaviest) == 1
    assert heaviest[0].rows_per_key == max(r.rows_per_key for r in hist)

    shards = shard_skew_report(spark, sf_dir).collect()
    by_epoch = {}
    for r in shards:
        by_epoch.setdefault(r.epoch, []).append(r)
    assert set(by_epoch) == {0, 1}
    for epoch, rows in by_epoch.items():
        assert len(rows) == 8  # all shards populated
        loads = [r.load_milli for r in rows]
        # integer floor of n*1000*cnt/tot averages just under 1000
        assert 900 <= sum(loads) / len(loads) <= 1000, (epoch, loads)
        # uniform hash: no shard carries 2x the mean token load
        assert max(loads) < 2000, (epoch, loads)


def test_text_heuristics_tokenize_once(spark, sf_dir):
    """The tokenize-once contract (functions/text.py:stopword_count_ws):
    queries composing several text heuristics must pre-project the words
    array into a real column, because each words_of() instantiation
    carries fresh lambda exprIds and Catalyst CSE cannot unify the
    regex-split trees.  Pin the plan property directly: the optimized
    plan of curation_verdict (quality + lang-ID + repetition +
    fingerprint in one row) contains exactly ONE whitespace tokenization
    — regressing to per-heuristic splits re-runs the regex ~10x per row
    (measured 5.3-7.4 s -> 1.25 s at sf0.1)."""
    from semantic_query_engine_spark.queries.textops import (
        curation_verdict,
        text_stats,
    )

    for q in (curation_verdict, text_stats):
        df = q(spark, sf_dir)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        n_splits = plan.count("split(")
        assert n_splits == 1, (q.__name__, n_splits)
