"""Recall/semantics tests for the sketch-based dedup + ANN operators
(the rows-only queries): they must recover the planted duplicates and
agree with brute force."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T


def test_minhash_lsh_recovers_planted_pairs(spark, sf_dir):
    """The production xxhash64 LSH pipeline (the raw operator, not the
    accuracy-gated query wrapper) recovers the planted pairs."""
    from semantic_query_engine_spark.operators.dedup import minhash_lsh_pairs
    from semantic_query_engine_spark.queries.dedup_q import (
        _docs_with_truncated_copies,
        dedup_minhash_lsh,
    )

    docs = _docs_with_truncated_copies(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs, threshold=0.5, n=2).collect()
    planted = {(r.id_a, r.id_b) for r in pairs if r.id_b == r.id_a + 10000}
    # 100 planted 80%-prefix copies; LSH with 5 tables at jaccard>=0.5
    # should recover the large majority
    assert len(planted) >= 80, len(planted)
    # and no pair it reports may have distance above the threshold
    assert all(r.jaccard_dist <= 0.5 for r in pairs)
    # the registered checked query gates LSH recall vs exact ground truth
    gated = dedup_minhash_lsh(spark, sf_dir).collect()
    assert gated and all(r.recall_ok for r in gated)


def test_simhash_identical_and_perturbed(spark):
    from semantic_query_engine_spark.operators.simhash import simhash

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "the quick brown fox jumps over the lazy cat"),
            (4, "completely different words here entirely unrelated tokens"),
        ],
        T.StructType(
            [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
        ),
    )
    sigs = {r.doc_id: r.sig for r in df.select("doc_id", simhash(F.col("text")).alias("sig")).collect()}
    assert sigs[1] == sigs[2]  # identical text -> identical signature
    ham_13 = bin((sigs[1] ^ sigs[3]) & ((1 << 64) - 1)).count("1")
    ham_14 = bin((sigs[1] ^ sigs[4]) & ((1 << 64) - 1)).count("1")
    assert ham_13 < ham_14  # one-word edit is closer than unrelated text

    # the fast-to-build SQL-string form (r15: one F.expr parse instead
    # of ~1.4 s of py4j Column composition per plan) must produce the
    # exact same signatures as the Column form, in both hash modes
    from semantic_query_engine_spark.operators.simhash import (
        simhash_from_hashes_named,
        word_hashes,
    )

    for portable in (False, True):
        base = df.select(
            "doc_id", word_hashes(F.col("text"), portable).alias("_wh")
        )
        col_form = {
            r.doc_id: r.sig
            for r in df.select(
                "doc_id", simhash(F.col("text"), portable).alias("sig")
            ).collect()
        }
        sql_form = {
            r.doc_id: r.sig
            for r in base.select(
                "doc_id", simhash_from_hashes_named("_wh").alias("sig")
            ).collect()
        }
        assert col_form == sql_form, (portable, col_form, sql_form)


def test_ivf_matches_bruteforce(spark, sf_dir):
    from semantic_query_engine_spark.operators.ann import build_ivf, ivf_topk
    from semantic_query_engine_spark.operators.retrieval import topk_similar
    from semantic_query_engine_spark.sources.fixtures import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).head().embedding
    index = emb.filter(F.col("vec_id") != 0)
    exact = [r.vec_id for r in topk_similar(index, qvec, k=3).collect()]
    assigned, centroids = build_ivf(index, n_clusters=10)
    # probing ALL clusters must equal brute force exactly
    approx_all = [
        r.vec_id for r in ivf_topk(assigned, centroids, qvec, k=3, nprobe=10).collect()
    ]
    assert approx_all == exact
    # probing 2/10 clusters: vectors are uniform-random so recall may
    # drop, but the result must be a valid subset of the index
    approx2 = [
        r.vec_id for r in ivf_topk(assigned, centroids, qvec, k=3, nprobe=2).collect()
    ]
    assert len(approx2) == 3 and 0 not in approx2


def test_jaccard_stop_shingle_valve(spark, sf_dir):
    """The skew valve must be a no-op when no shingle exceeds the cap,
    and must reduce candidate volume when tight."""
    from semantic_query_engine_spark.operators.dedup import jaccard_pairs
    from semantic_query_engine_spark.queries.dedup_q import (
        _docs_with_truncated_copies,
    )

    docs = _docs_with_truncated_copies(spark, sf_dir)
    base = {(r.id_a, r.id_b) for r in jaccard_pairs(docs, 0.5, n=2).collect()}
    generous = {
        (r.id_a, r.id_b)
        for r in jaccard_pairs(docs, 0.5, n=2, max_shingle_freq=10_000).collect()
    }
    assert base == generous and len(base) >= 90
    tight = jaccard_pairs(docs, 0.5, n=2, max_shingle_freq=3).count()
    assert tight < len(base)


def test_ivf_knn_join_full_probe_equals_bruteforce(spark, sf_dir):
    """The batch IVF kNN join probing ALL clusters must reproduce the
    exact kNN join bit-for-bit (same ids, same ranks)."""
    from semantic_query_engine_spark.operators.ann import build_ivf, ivf_knn_join
    from semantic_query_engine_spark.operators.retrieval import knn_join
    from semantic_query_engine_spark.sources.fixtures import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    index = emb.filter(F.col("vec_id") >= 8)
    exact = {
        (r.probe_id, r.vec_id, r.knn_rank)
        for r in knn_join(probes, index, k=5).collect()
    }
    assigned, centroids = build_ivf(index, n_clusters=6)
    approx = {
        (r.probe_id, r.vec_id, r.knn_rank)
        for r in ivf_knn_join(probes, assigned, centroids, k=5, nprobe=6).collect()
    }
    assert approx == exact


def test_connected_components_chain_and_isolated(spark):
    """A 3-node chain collapses to one component (transitivity), an
    isolated node keeps its own label."""
    from semantic_query_engine_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], ["id_a", "id_b"]
    )
    nodes = spark.createDataFrame([(1,), (2,), (3,), (5,), (7,), (8,)], ["node"])
    got = {
        r.node: r.component
        for r in connected_components(edges, nodes=nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 7: 7, 8: 7}


def test_connected_components_long_chain_converges(spark):
    """Adversarial diameter: a 60-node path (plus reversed/odd edge
    orientations) far exceeds the old min-label 25-round cap; the
    large-star/small-star loop must converge in O(log n) rounds and
    label the whole path with its min id."""
    from semantic_query_engine_spark.operators.graph import connected_components

    n = 60
    # alternate edge orientation so neither endpoint order is special
    pairs = [(i, i + 1) if i % 2 == 0 else (i + 1, i) for i in range(n - 1)]
    edges = spark.createDataFrame(pairs, ["id_a", "id_b"])
    # driver_cc_threshold=0 forces the distributed star loop — the
    # default would solve this size driver-side
    got = {
        r.node: r.component
        for r in connected_components(edges, driver_cc_threshold=0).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_connected_components_two_cliques_bridge(spark):
    """Two 5-cliques joined by one bridge edge form a single component;
    removing the bridge gives two."""
    from itertools import combinations

    from semantic_query_engine_spark.operators.graph import connected_components

    c1 = list(combinations(range(5), 2))
    c2 = list(combinations(range(10, 15), 2))
    bridge = [(4, 10)]
    edges = spark.createDataFrame(c1 + c2 + bridge, ["id_a", "id_b"])
    # exercise the distributed star loop on one case...
    got = {
        r.node: r.component
        for r in connected_components(edges, driver_cc_threshold=0).collect()
    }
    assert set(got.values()) == {0}
    # ...and the driver-side union-find path on the other (default
    # threshold); both must produce the identical labeling scheme
    edges2 = spark.createDataFrame(c1 + c2, ["id_a", "id_b"])
    got2 = {
        r.node: r.component for r in connected_components(edges2).collect()
    }
    assert {got2[i] for i in range(5)} == {0}
    assert {got2[i] for i in range(10, 15)} == {10}


def test_connected_components_paths_agree_at_threshold_boundary(spark):
    """The driver union-find path and the distributed star loop must
    produce the IDENTICAL (node, component) map on the same graph —
    pinned on a mixed graph (chain + clique + singleton + self-loop)
    run once just under and once just over the threshold."""
    from itertools import combinations

    from semantic_query_engine_spark.operators.graph import connected_components

    pairs = (
        [(i, i + 1) for i in range(20)]            # 21-node chain
        + list(combinations(range(100, 105), 2))   # 5-clique
        + [(200, 200), (300, 301)]                 # self-loop + pair
    )
    edges = spark.createDataFrame(pairs, ["id_a", "id_b"])
    nodes = spark.createDataFrame([(999,)], ["node"])  # isolated vertex
    driver = {
        r.node: r.component
        for r in connected_components(
            edges, nodes=nodes, driver_cc_threshold=10_000
        ).collect()
    }
    dist = {
        r.node: r.component
        for r in connected_components(
            edges, nodes=nodes, driver_cc_threshold=0
        ).collect()
    }
    assert driver == dist
    assert driver[20] == 0 and driver[104] == 100 and driver[999] == 999


def test_connected_components_empty_edge_set(spark):
    """Only self-loops (filtered out) -> every node is its own
    singleton component; the empty driver-side label frame must not
    break the Arrow createDataFrame path."""
    from semantic_query_engine_spark.operators.graph import connected_components

    edges = spark.createDataFrame([(1, 1), (2, 2)], ["id_a", "id_b"])
    nodes = spark.createDataFrame([(1,), (2,), (3,)], ["node"])
    got = {
        r.node: r.component
        for r in connected_components(edges, nodes=nodes).collect()
    }
    assert got == {1: 1, 2: 2, 3: 3}


def test_dedup_cluster_groups_three_generations(spark, sf_dir):
    """Every doc's two prefix copies land in ITS component (label = base
    id), even when A~A64 only connects through A80."""
    from semantic_query_engine_spark.queries.dedup_q import dedup_cluster

    comp = {r.doc_id: r.component for r in dedup_cluster(spark, sf_dir).collect()}
    base_ids = [i for i in comp if i < 10000]
    full_chains = sum(
        1
        for i in base_ids
        if comp.get(i + 10000) == comp[i] and comp.get(i + 20000) == comp[i]
    )
    # the large majority of planted chains must fully collapse
    assert full_chains >= 0.8 * len(base_ids), (full_chains, len(base_ids))


def test_training_prep_neardup_removes_planted_near_dups(spark, sf_dir):
    """Every planted 80%-prefix copy whose ORIGINAL survives the
    quality filter must be removed by the near-dup stage (the original
    is the cluster's min-id representative); survivors at id+10000 are
    only legitimate when their original was quality-filtered away."""
    from semantic_query_engine_spark.functions.text import quality_score
    from semantic_query_engine_spark.queries.mlpipeline_q import (
        training_data_prep_neardup,
    )
    from semantic_query_engine_spark.sources.fixtures import load_table

    kept = {
        r.doc_id for r in training_data_prep_neardup(spark, sf_dir).collect()
    }
    orig_quality_ok = {
        r.doc_id
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", quality_score("text").alias("q"))
        .filter(F.col("q") >= 0.6)
        .collect()
    }
    # no planted copy may survive alongside its surviving original
    bad = {d - 10000 for d in kept if d >= 10000} & orig_quality_ok
    assert not bad, f"planted near-dups kept despite surviving originals: {bad}"
    # and the pipeline must actually keep something from the originals
    assert any(d < 200 for d in kept)


def test_decontaminate_flags_planted_docs(spark, sf_dir):
    """Each planted half-prefix (id+30000) with >=8 words must be
    flagged against its own eval source; clean train docs stay clean."""
    from semantic_query_engine_spark.queries.dedup_q import decontaminate

    rows = decontaminate(spark, sf_dir).collect()
    hits = {(r.doc_id, r.eval_id) for r in rows}
    planted_ids = {t for t, _ in hits if t >= 30000}
    # every planted doc that surfaces must pair back to its OWN source
    # (it may additionally hit other eval docs — the fixture corpus
    # contains natural duplicates)
    assert all((t, t - 30000) in hits for t in planted_ids)
    assert len(planted_ids) >= 15
    assert all(r.shared_grams >= 1 for r in rows)


def test_decontaminate_semantic_exact_plants_and_broadcast(spark, sf_dir):
    """Every planted scaled copy (id+40000) pairs back to exactly its
    own eval source at sim 1.0; no clean train vector is flagged (max
    unrelated cosine in the fixture is ~0.46 vs the 0.98 threshold).
    The plan must broadcast the eval side — a shuffled or unbroadcast
    eval set would shuffle the (billion-row at scale) train side."""
    from semantic_query_engine_spark.queries.dedup_q import (
        decontaminate_semantic,
    )

    df = decontaminate_semantic(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan and "BroadcastExchange" in plan
    rows = df.collect()
    assert rows, "planted contamination must be detected"
    assert all(r.train_id >= 40000 for r in rows)
    assert {(r.train_id, r.eval_id) for r in rows} == {
        (r.train_id, r.train_id - 40000) for r in rows
    }
    assert all(abs(r.sim - 1.0) < 1e-6 for r in rows)


def test_ivf_recall_dim1024_clustered(spark):
    """IVF quality gate at the reference's embedding width (1024-dim,
    /root/reference/app/main.py:272-277): on a clustered corpus — the
    geometry real text embeddings have — probing 2/10 cells must reach
    recall@3 >= 0.9 vs exact brute force."""
    from tools.ann_recall import clustered_vectors, recall, topk_sets
    from semantic_query_engine_spark.operators.ann import build_ivf, ivf_knn_join
    from semantic_query_engine_spark.operators.retrieval import knn_join

    allv = clustered_vectors(spark, 510, dim=1024, n_centers=10, sigma=0.35, seed=7)
    probes = allv.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    index = allv.filter(F.col("vec_id") >= 10).localCheckpoint()
    exact = topk_sets(knn_join(probes, index, k=3), 3)
    assigned, centroids = build_ivf(index, n_clusters=10)
    approx = topk_sets(ivf_knn_join(probes, assigned, centroids, k=3, nprobe=2), 3)
    assert recall(exact, approx) >= 0.9


def test_minhash_pairs_subset_of_exact_jaccard(spark):
    """Cross-operator consistency: every pair MinHash+LSH reports must
    also be an exact-Jaccard pair at the same threshold with the SAME
    distance (banding prunes candidates; the confirm step makes
    precision exact), on an adversarial mix of near-dups, partial
    overlaps, and unrelated docs."""
    from semantic_query_engine_spark.operators.dedup import (
        jaccard_pairs,
        minhash_lsh_pairs,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    rows = [
        (1, base),
        (2, base),                                # exact dup of 1
        (3, base[: len(base) * 3 // 4]),          # 75% prefix of 1
        (4, "totally different words " * 10),
        (5, "alpha beta " + "unrelated tail " * 15),  # small overlap
        (6, base.replace("delta", "DELTA")),      # near dup, case diff
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    mh = {
        (r.id_a, r.id_b): r.jaccard_dist
        for r in minhash_lsh_pairs(docs, threshold=0.5, n=2).collect()
    }
    jc = {
        (r.id_a, r.id_b): round(1.0 - r.jaccard, 6)
        for r in jaccard_pairs(docs, threshold=0.5, n=2).collect()
    }
    assert set(mh) <= set(jc), (set(mh) - set(jc))
    for pair, dist in mh.items():
        assert abs(dist - jc[pair]) < 1e-6, (pair, dist, jc[pair])
    # the planted exact dup must be found
    assert (1, 2) in mh and mh[(1, 2)] == 0.0


def test_pq_recall_and_exactness(spark):
    """PQ gates: (a) on dim-1024 clustered geometry, ADC top-50 + exact
    re-rank reaches recall@3 >= 0.9 vs brute force; (b) refine >= index
    size reproduces exact brute force bit-for-bit (ADC only prunes)."""
    from semantic_query_engine_spark.operators.pq import (
        build_pq,
        pq_encode,
        pq_topk,
    )
    from semantic_query_engine_spark.operators.retrieval import knn_join
    from tools.ann_recall import clustered_vectors, topk_sets

    allv = clustered_vectors(spark, 510, dim=1024, n_centers=10, sigma=0.35, seed=7)
    probes = allv.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    index = allv.filter(F.col("vec_id") >= 10).localCheckpoint()
    books = build_pq(index, m=8, k=16)
    enc = pq_encode(index, books).localCheckpoint()
    exact = topk_sets(knn_join(probes, index, k=3), 3)
    hits = denom = 0
    first_probe = None
    for p in probes.collect():
        if first_probe is None:
            first_probe = p
        got = {
            r.vec_id
            for r in pq_topk(enc, index, books, p.probe_vec, k=3, refine=50).collect()
        }
        hits += len(exact[p.probe_id] & got)
        denom += 3
    assert hits / denom >= 0.9, hits / denom
    # exactness: refine >= index size degrades to brute force
    full = [
        (r.vec_id, r.score)
        for r in pq_topk(
            enc, index, books, first_probe.probe_vec, k=3, refine=1000
        ).collect()
    ]
    from semantic_query_engine_spark.operators.retrieval import topk_similar

    brute = [
        (r.vec_id, round(r.score, 6))
        for r in topk_similar(index, first_probe.probe_vec, k=3).collect()
    ]
    assert full == brute, (full, brute)


def test_ivfpq_recall_dim1024_clustered(spark):
    """IVF-PQ (the composed billion-scale path) holds recall@3 >= 0.9
    on the same dim-1024 clustered geometry as the IVF and PQ gates,
    while scanning only nprobe/n_clusters of the codes."""
    from semantic_query_engine_spark.operators.ann import build_ivf
    from semantic_query_engine_spark.operators.pq import (
        build_pq,
        ivfpq_topk,
        pq_encode,
    )
    from semantic_query_engine_spark.operators.retrieval import knn_join
    from tools.ann_recall import clustered_vectors, topk_sets

    allv = clustered_vectors(spark, 510, dim=1024, n_centers=10, sigma=0.35, seed=7)
    probes = allv.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    index = allv.filter(F.col("vec_id") >= 10).localCheckpoint()
    assigned, centroids = build_ivf(index, n_clusters=10)
    assigned = assigned.localCheckpoint()
    books = build_pq(index, m=8, k=16)
    enc = pq_encode(index, books).localCheckpoint()
    exact = topk_sets(knn_join(probes, index, k=3), 3)
    hits = denom = 0
    for p in probes.collect():
        got = {
            r.vec_id
            for r in ivfpq_topk(
                assigned, centroids, enc, index, books, p.probe_vec,
                k=3, nprobe=2, refine=50,
            ).collect()
        }
        hits += len(exact[p.probe_id] & got)
        denom += 3
    assert hits / denom >= 0.9, hits / denom


def test_attach_recall_flag_flips_on_missing_pairs(spark):
    """The accuracy gate must be falsifiable: recall_ok is True when the
    approx side covers >= 90% of the exact side and False when it
    doesn't — a regression in any ANN path flips the hash-checked
    column instead of passing silently."""
    from semantic_query_engine_spark.queries.dedup_q import _attach_recall

    exact = spark.createDataFrame([(i,) for i in range(10)], "vec_id long")
    full = _attach_recall(exact, exact, ("vec_id",))
    assert all(r.recall_ok for r in full.collect())
    missing_two = spark.createDataFrame([(i,) for i in range(8)], "vec_id long")
    degraded = _attach_recall(exact, missing_two, ("vec_id",))
    assert not any(r.recall_ok for r in degraded.collect())


def test_checked_ann_rows_hold_recall_gate(spark, sf_dir):
    """Every accuracy-gated ANN row must return its exact top-k payload
    with recall_ok=True on the fixtures — the same claim the DuckDB
    oracle hash-checks, pinned here so a probe/assignment regression
    (or an unlucky fixture regeneration) fails fast in pytest too."""
    from semantic_query_engine_spark.queries.dedup_q import (
        _PLANT_BASE,
        ann_ivf_knn_join,
        ann_ivf_topk,
        ann_ivfpq_topk,
        ann_lsh_topk,
        ann_pq_topk,
    )
    from semantic_query_engine_spark.sources.fixtures import load_table

    # Planted ids must be DISJOINT from every real fixture id, or the
    # recall join counts an ANN hit on an unrelated real vector as
    # recovering the plant (ADVICE r6: a 1e6 base aliased onto the
    # scale fixtures' vec_id + k*1e6 replica offsets).
    max_vec = load_table(spark, sf_dir, "embeddings").agg(
        F.max("vec_id")
    ).head()[0]
    assert max_vec < _PLANT_BASE, (max_vec, _PLANT_BASE)

    for fn, n_rows in (
        (ann_lsh_topk, 3),
        (ann_ivf_topk, 3),
        (ann_pq_topk, 3),
        (ann_ivfpq_topk, 3),
        (ann_ivf_knn_join, 24),
    ):
        rows = fn(spark, sf_dir).collect()
        assert len(rows) == n_rows, (fn.__name__, len(rows))
        assert all(r.recall_ok for r in rows), fn.__name__
        # the planted near-copies must BE the exact answer (wide margin)
        planted = {r.vec_id for r in rows if r.vec_id >= _PLANT_BASE}
        assert len(planted) == n_rows, (fn.__name__, len(planted))

def test_connected_components_fused_large_star_identical(spark):
    """The fused 3-shuffle round (large-star output distinct dropped,
    round 10) must label the SAME graph identically to the historical
    4-shuffle round — duplicate edges cannot change a window min, and
    small-star's terminal distinct restores set semantics before the
    convergence fingerprint.  Pinned on a graph shaped to produce
    duplicate large-star outputs: two stars sharing spokes plus a long
    chain (multiple (v, m) collisions per round)."""
    from semantic_query_engine_spark.operators.graph import connected_components

    pairs = (
        [(0, i) for i in range(2, 10)]      # star at 0
        + [(1, i) for i in range(2, 10)]    # star at 1 sharing all spokes
        + [(i, i + 1) for i in range(50, 70)]  # 21-node chain
    )
    edges = spark.createDataFrame(pairs, ["id_a", "id_b"])
    fused = {
        r.node: r.component
        for r in connected_components(
            edges, driver_cc_threshold=0, fuse_large_star=True
        ).collect()
    }
    unfused = {
        r.node: r.component
        for r in connected_components(
            edges, driver_cc_threshold=0, fuse_large_star=False
        ).collect()
    }
    assert fused == unfused
    assert fused[9] == 0 and fused[70] == 50


def test_retrieval_eval_srp_metric_bounds(spark, sf_dir):
    """Eval-harness sanity: one row per probe; recall@3 and MRR in
    [0, 1]; MRR > 0 exactly when recall > 0 (a hit implies a rank);
    candidates can only produce hits (recall*3 <= n_candidates)."""
    from semantic_query_engine_spark.queries.dedup_q import retrieval_eval_srp

    rows = retrieval_eval_srp(spark, sf_dir).collect()
    assert len(rows) == 8
    for r in rows:
        assert 0.0 <= r.recall_at_3 <= 1.0
        assert 0.0 <= r.mrr <= 1.0
        assert (r.mrr > 0) == (r.recall_at_3 > 0)
        assert round(r.recall_at_3 * 3) <= r.n_candidates


def test_lsh_bucket_stats_consistency(spark, sf_dir):
    """The stats row must agree with the band table it summarizes:
    per band, n_buckets/max_occupancy/candidate_pairs recomputed
    directly from minhash_band_table match; and the planted 80%-prefix
    copies guarantee at least one band has a bucket of >= 2 (a shared
    minhash signature slot group)."""
    from collections import Counter

    from semantic_query_engine_spark.operators.dedup import minhash_band_table
    from semantic_query_engine_spark.queries.dedup_q import (
        _docs_with_truncated_copies,
        lsh_bucket_stats,
    )

    stats = {r.band: r for r in lsh_bucket_stats(spark, sf_dir).collect()}
    assert len(stats) == 16
    bands = minhash_band_table(
        _docs_with_truncated_copies(spark, sf_dir), portable=True
    ).collect()
    per_band: dict[int, Counter] = {}
    for r in bands:
        per_band.setdefault(r.band, Counter())[r.key] += 1
    for b, c in per_band.items():
        s = stats[b]
        assert s.n_buckets == len(c)
        assert s.max_occupancy == max(c.values())
        assert s.candidate_pairs == sum(v * (v - 1) // 2 for v in c.values())
    assert any(s.max_occupancy >= 2 for s in stats.values())


def test_dup_cluster_stats_planted_histogram(spark, sf_dir):
    """Every component contains whole A/A80/A64 families, so sizes are
    multiples of 3 summing to the 300-doc pool, and the dominant size
    is 3 (at sf0.001 a few SHORT docs genuinely near-dup each other and
    merge families — exactly the fat-tail signal the monitor exists to
    surface, so the test pins the invariants, not one histogram)."""
    from semantic_query_engine_spark.queries.dedup_q import dup_cluster_stats

    rows = dup_cluster_stats(spark, sf_dir).collect()
    assert rows
    assert sum(r.cluster_size * r.n_clusters for r in rows) == 300
    assert all(r.cluster_size % 3 == 0 for r in rows)
    dominant = max(rows, key=lambda r: r.n_clusters)
    assert dominant.cluster_size == 3 and dominant.n_clusters >= 90


def test_dedup_eval_lsh_confusion_counts(spark, sf_dir):
    """The sketch-accuracy report is internally consistent and the
    64-perm/16-band configuration hits the banding-theory range on the
    planted 80%-prefix pool: recall >= 0.9 (theory ~0.9998 at s~0.8),
    candidate precision above zero, tp bounded by both margins."""
    from semantic_query_engine_spark.queries.dedup_q import dedup_eval_lsh

    r = dedup_eval_lsh(spark, sf_dir).collect()[0]
    assert r.n_truth > 0 and r.n_candidates > 0
    assert 0 <= r.true_positives <= min(r.n_truth, r.n_candidates)
    assert r.recall_milli == r.true_positives * 1000 // r.n_truth
    assert r.precision_milli == r.true_positives * 1000 // r.n_candidates
    assert r.recall_milli >= 900


def test_dedup_eval_sweep_tradeoff_is_monotone(spark, sf_dir):
    """The banding sweep's defining property: recall is non-increasing
    and candidate count non-decreasing as bands get wider (more bands
    of fewer rows = higher detect probability = fatter candidate
    list), the theory column matches the closed form, and every row's
    counts are internally consistent."""
    from semantic_query_engine_spark.queries.dedup_q import (
        _banding_theory_milli,
        dedup_eval_sweep,
    )

    rows = sorted(dedup_eval_sweep(spark, sf_dir).collect(),
                  key=lambda r: r.n_bands)
    assert [r.n_bands for r in rows] == [8, 16, 32]
    assert [r.rows_per_band for r in rows] == [8, 4, 2]
    assert len({r.n_truth for r in rows}) == 1  # shared truth set
    for r in rows:
        assert 0 <= r.true_positives <= min(r.n_truth, r.n_candidates)
        assert r.recall_milli == r.true_positives * 1000 // r.n_truth
        assert r.precision_milli == (
            r.true_positives * 1000 // r.n_candidates
        )
        assert r.theory_recall_milli == _banding_theory_milli(
            r.rows_per_band, r.n_bands
        )
    # more bands -> recall and candidates both rise (or hold)
    assert rows[0].recall_milli <= rows[1].recall_milli <= rows[2].recall_milli
    assert rows[0].n_candidates <= rows[1].n_candidates <= rows[2].n_candidates
    # theory at the design point is monotone the same way
    ths = [r.theory_recall_milli for r in rows]
    assert ths == sorted(ths)


def test_dedup_semdedup_clustered_keep_rule(spark, sf_dir):
    """Cluster-confined SemDeDup: every planted (base, +0.1-perturbed
    copy) pair lands in one component; exactly one keep per component;
    the kept member is the component's (cent_sim, vec_id) minimum —
    the least-centroid-similar representative; and no component spans
    two cluster labels (pairs are confined by construction)."""
    from collections import defaultdict

    from semantic_query_engine_spark.queries.dedup_q import (
        dedup_semdedup_clustered,
    )

    rows = dedup_semdedup_clustered(spark, sf_dir).collect()
    assert rows
    by_comp = defaultdict(list)
    by_id = {}
    for r in rows:
        by_comp[r.component].append(r)
        by_id[r.vec_id] = r
    for base_id in [r.vec_id for r in rows if r.vec_id < 10000]:
        assert by_id[base_id].component == by_id[base_id + 10000].component
    for comp, members in by_comp.items():
        keeps = [r for r in members if r.keep]
        assert len(keeps) == 1, (comp, members)
        best = min(members, key=lambda r: (r.cent_sim, r.vec_id))
        assert keeps[0].vec_id == best.vec_id
        assert len({r.label for r in members}) == 1


def test_semdedup_built_gates_on_synthetic_clusters(spark, tmp_path):
    """The BUILT-centroid SemDeDup (registered dedup_semdedup_built)
    on well-separated synthetic geometry: write a scratch embeddings
    table of 240 clustered unit vectors, run the registered callable,
    and require the in-plan gates to be EARNED — every gate column
    True, pool arithmetic exact.  On separated clusters the planted
    (base, +0.1-copy) pairs must be co-assigned by the seeded k-means
    without exception, so planted_recall_ok here certifies 100%
    detection, not just the >= 90% registry gate."""
    from tools.ann_recall import clustered_vectors

    from semantic_query_engine_spark.queries import REGISTRY

    allv = clustered_vectors(
        spark, 240, dim=64, n_centers=6, sigma=0.25, seed=11
    )
    allv.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    row = REGISTRY["dedup_semdedup_built"].fn(spark, str(tmp_path)).collect()
    assert len(row) == 1
    r = row[0]
    assert r.n_pool == 480 and r.n_planted_pairs == 240
    assert r.planted_recall_ok and r.one_keep_per_component_ok


def test_semdedup_built_coassigns_planted_copies(spark):
    """The gate's load-bearing assumption, isolated: build_ivf's seeded
    k-means co-assigns a vector and its +0.1-on-dim-1 near-copy (cosine
    ~0.995+) on clustered geometry — 100%, not probabilistically.  A
    normalization bug in the assignment UDF or a non-deterministic
    centroid fit would break this before it broke the registry gate."""
    from pyspark.sql import functions as F

    from semantic_query_engine_spark.operators.ann import build_ivf
    from tools.ann_recall import clustered_vectors

    base = clustered_vectors(spark, 180, dim=64, n_centers=6, sigma=0.25, seed=3)
    variants = base.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1) + F.lit(0.1)),
            F.slice("embedding", 2, 10_000_000),
        ).alias("embedding"),
    )
    pool = base.unionByName(variants)
    assigned, _ = build_ivf(pool, n_clusters=6)
    a = {r.vec_id: r.cluster_id for r in assigned.collect()}
    split = [i for i in range(180) if a[i] != a[i + 10000]]
    assert split == [], f"planted copies split across clusters: {split}"


def test_ivfpq_knn_join_exact_at_full_breadth(spark):
    """Batch IVF-PQ kNN join collapses to EXACT kNN when approximation
    is disabled structurally: nprobe = n_clusters (no cluster pruning)
    and refine >= |index| (every candidate exact-re-ranked) must equal
    knn_join bit-for-bit on clustered geometry — the same
    nprobe=all/refine=all exactness contract the single-query ladder
    pins, now for the declarative batch path (per-probe in-plan ADC
    tables, no driver collect)."""
    from pyspark.sql import functions as F

    from semantic_query_engine_spark.operators.ann import (
        build_ivf,
        sample_vectors,
    )
    from semantic_query_engine_spark.operators.pq import (
        build_pq,
        ivfpq_knn_join,
        pq_encode,
    )
    from semantic_query_engine_spark.operators.retrieval import knn_join
    from tools.ann_recall import clustered_vectors

    allv = clustered_vectors(spark, 160, dim=64, n_centers=5, sigma=0.3, seed=9)
    probes = allv.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    index = allv.filter(F.col("vec_id") >= 6)
    X = sample_vectors(index)
    assigned, centroids = build_ivf(index, n_clusters=5, sample_X=X)
    books = build_pq(index, m=8, k=16, sample_X=X)
    codes = assigned.select("vec_id", "cluster_id").join(
        pq_encode(index, books), "vec_id"
    )
    got = ivfpq_knn_join(
        probes, codes, centroids, index, books, k=3, nprobe=5, refine=1000
    ).collect()
    want = knn_join(probes, index, k=3).collect()
    assert sorted(
        [(r["probe_id"], r["knn_rank"], r["vec_id"], round(r["score"], 6)) for r in got]
    ) == sorted(
        [(r["probe_id"], r["knn_rank"], r["vec_id"], round(r["score"], 6)) for r in want]
    )
