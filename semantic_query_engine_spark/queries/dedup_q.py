"""Deduplication + ANN queries (north-star training-data-pipeline
operators, BASELINE.json:6).  The fixture corpus has no natural
duplicates (documents are synthetic-random; max pairwise embedding
cosine ≈ 0.46), so each query constructs deterministic near-duplicates
IN-PLAN (truncated copies / perturbed vectors) — expressible in both
engines, so exact methods stay oracle-checked.  MinHash+LSH and SimHash
run in portable-hash mode (md5-derived hashes with generated SQL twins)
and are FULLY oracle-checked; the KMeans/random-projection ANN rungs are
accuracy-gated (`recall_ok` over planted near-copies, exact payload
hash-checked), with recall tests on clustered data in
tests/test_dedup.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import words_of
from ..operators.dedup import exact_dedup, jaccard_pairs
from ..sources.fixtures import load_table
from .registry import fmt_doc, register
from ..functions.plan import truncate_plan, truncate_eager

_CLEAN = "trim(regexp_replace(text, chr(10), ' ', 'g'))"
_WORDS = f"regexp_split_to_array({_CLEAN}, '\\s+')"


def _docs_with_truncated_copies(
    spark: SparkSession, sf_dir: str, limit: int = 100, spread: bool = False
) -> DataFrame:
    """documents[:limit] plus an 80%-prefix copy of each at id+10000.

    `spread=True` is passed by map-dominated consumers (lsh_bucket_stats:
    64-perm signature build then one agg); join-heavy consumers
    (dedup_eval_lsh, minhash_lsh_pairs) measured FASTER unspread — see
    sources/fixtures.load_table."""
    docs = load_table(spark, sf_dir, "documents", spread=spread).filter(
        F.col("doc_id") < limit
    ).select(
        "doc_id", "text"
    )
    ws = words_of("text")
    keep = F.ceil(F.size(ws) * 0.8).cast("int")
    variants = docs.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.array_join(F.slice(ws, 1, keep), " ").alias("text"),
    )
    return docs.unionByName(variants)


@register(
    "dedup_exact",
    oracle=f"""
    WITH alldocs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000, text FROM documents),
    fp AS (
      SELECT doc_id,
             md5(lower(array_to_string({_WORDS}, ' '))) AS f
      FROM alldocs)
    SELECT doc_id FROM (
      SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY f ORDER BY doc_id) AS rn FROM fp
    ) WHERE rn = 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5-fingerprint groups, keep lowest id.  The corpus
    is unioned with a full copy of itself (ids +10000); dedup must
    return exactly the original ids.  The shuffle carries a 16-byte
    digest, never the document bodies."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    return exact_dedup(docs.unionByName(copies)).select("doc_id")


@register(
    "dedup_jaccard",
    oracle=f"""
    WITH base AS (
      SELECT doc_id AS id, {_WORDS} AS ws FROM documents WHERE doc_id < 100),
    alldocs AS (
      SELECT id, ws FROM base
      UNION ALL
      SELECT id + 10000, ws[1:CAST(ceil(0.8 * len(ws)) AS BIGINT)] FROM base),
    sh AS (
      SELECT id, unnest(list_distinct(list_transform(
               range(CAST(greatest(len(ws) - 1, 1) AS BIGINT)),
               i -> array_to_string(ws[i + 1:i + 2], ' ')))) AS shingle
      FROM alldocs),
    sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2)
    SELECT id_a, id_b, jaccard FROM (
      SELECT id_a, id_b,
             ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.id = inter.id_a
      JOIN sizes sb ON sb.id = inter.id_b)
    WHERE jaccard >= 0.5
    """,
)
def dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by word-bigram Jaccard >= 0.5 over the corpus plus
    80%-prefix copies.  Candidate pairs come from a shingle-keyed
    self-join (pairs must share a shingle) — never all-pairs."""
    return jaccard_pairs(
        _docs_with_truncated_copies(spark, sf_dir), threshold=0.5, n=2
    )


_STOP_SHINGLE_CAP = 20


@register(
    "dedup_jaccard_capped",
    oracle=f"""
    WITH base AS (
      SELECT doc_id AS id, {_WORDS} AS ws FROM documents WHERE doc_id < 100),
    alldocs AS (
      SELECT id, ws FROM base
      UNION ALL
      SELECT id + 10000, ws[1:CAST(ceil(0.8 * len(ws)) AS BIGINT)] FROM base),
    sh0 AS (
      SELECT id, unnest(list_distinct(list_transform(
               range(CAST(greatest(len(ws) - 1, 1) AS BIGINT)),
               i -> array_to_string(ws[i + 1:i + 2], ' ')))) AS shingle
      FROM alldocs),
    freq AS (SELECT shingle, COUNT(*) AS df FROM sh0 GROUP BY shingle),
    sh AS (
      SELECT sh0.id, sh0.shingle FROM sh0
      JOIN freq ON freq.shingle = sh0.shingle
      WHERE freq.df <= {_STOP_SHINGLE_CAP}),
    sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2)
    SELECT id_a, id_b, jaccard FROM (
      SELECT id_a, id_b,
             ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.id = inter.id_a
      JOIN sizes sb ON sb.id = inter.id_b)
    WHERE jaccard >= 0.5
    """,
)
@fmt_doc(cap=_STOP_SHINGLE_CAP)
def dedup_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_jaccard with the skew valve ENGAGED: shingles appearing in
    more than {cap} documents are stop-shingles (boilerplate at corpus
    scale) and are dropped from both the candidate join and the per-doc
    set sizes BEFORE pairing — a boilerplate-heavy shingle would
    otherwise contribute O(freq²) candidate pairs on one join key.  The
    oracle applies the identical cap, so the gate checks the capped
    SEMANTICS, not just that the valve exists.  This is the declared
    scale path; plain dedup_jaccard is the exact-Jaccard reference."""
    return jaccard_pairs(
        _docs_with_truncated_copies(spark, sf_dir),
        threshold=0.5,
        n=2,
        max_shingle_freq=_STOP_SHINGLE_CAP,
    )


@register(
    "dedup_embedding",
    oracle="""
    WITH base AS (
      SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 100),
    alle AS (
      SELECT id, v FROM base
      UNION ALL
      SELECT id + 10000, list_concat([v[1] + 0.1], v[2:]) FROM base)
    SELECT id_a, id_b, sim FROM (
      SELECT a.id AS id_a, b.id AS id_b,
             ROUND(list_cosine_similarity(a.v, b.v), 6) AS sim
      FROM alle a JOIN alle b ON a.id < b.id)
    WHERE sim >= 0.98
    """,
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (>= 0.98) over vectors plus
    slightly-perturbed copies, via sign-random-projection LSH banding:
    candidates come from an EQUALITY join on (band, key) — never a cross
    join — then the exact cosine confirms.  8 bands x 4 bits gives
    ~1e-5 miss probability per true pair at 0.98; the oracle is the
    exact all-pairs ground truth, so the gate also checks recall."""
    from ..operators.dedup import embedding_near_dups

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    base = emb.select(F.col("vec_id").alias("vec_id"), as_double.alias("embedding"))
    variants = base.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1) + F.lit(0.1)),
            F.slice("embedding", 2, 10_000_000),
        ).alias("embedding"),
    )
    return embedding_near_dups(
        base.unionByName(variants), threshold=0.98, srp_bands=8, srp_bits=4
    )


@register(
    "dedup_semantic",
    oracle="""
    WITH RECURSIVE
    base AS (
      SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 100),
    alle AS (
      SELECT id, v FROM base
      UNION ALL
      SELECT id + 10000, list_concat([v[1] + 0.1], v[2:]) FROM base),
    edges AS (
      SELECT id_a, id_b FROM (
        SELECT a.id AS id_a, b.id AS id_b,
               ROUND(list_cosine_similarity(a.v, b.v), 6) AS sim
        FROM alle a JOIN alle b ON a.id < b.id)
      WHERE sim >= 0.98),
    sym AS (
      SELECT id_a AS s, id_b AS d FROM edges
      UNION SELECT id_b, id_a FROM edges),
    reach AS (
      SELECT id AS node, id AS r FROM alle
      UNION
      SELECT sym.d, reach.r FROM reach JOIN sym ON sym.s = reach.node),
    comp AS (SELECT node AS vec_id, MIN(r) AS component FROM reach GROUP BY node)
    SELECT vec_id, component, (vec_id = component) AS keep FROM comp
    """,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023): embedding
    near-dup PAIRS (cosine >= 0.98 via SRP-LSH banded candidates +
    exact confirm) -> connected components -> per-cluster min-id
    representative.  Output labels every vector with its duplicate
    cluster and a keep flag — the "drop semantic duplicates before
    training" pass, which catches paraphrases exact/shingle dedup
    cannot.  Near-dups are planted as first-component perturbations at
    id+10000 (same construction as dedup_embedding, whose oracle is the
    exact all-pairs ground truth — so this gate also checks LSH
    recall end-to-end through the clustering).

    Scale: candidate pairs come from an equality join on (band, key) —
    8-byte keys, never all-pairs, vectors leave the scan only for the
    bounded confirm; clustering is the size-adaptive CC operator
    (star rounds above the driver threshold)."""
    from ..operators.dedup import embedding_near_dups
    from ..operators.graph import connected_components

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    base = emb.select("vec_id", as_double.alias("embedding"))
    variants = base.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1) + F.lit(0.1)),
            F.slice("embedding", 2, 10_000_000),
        ).alias("embedding"),
    )
    pool = base.unionByName(variants)
    pairs = embedding_near_dups(pool, threshold=0.98, srp_bands=8, srp_bits=4)
    # eager checkpoint: connected_components consumes its edge input
    # more than once (size probe + node derivation + loop seed); without
    # this the SRP-LSH pair generation re-runs per consumption
    # (measured 3.9s -> 2.9s at sf0.1)
    pairs = pairs.select("id_a", "id_b").transform(truncate_eager)
    cc = connected_components(pairs, nodes=pool.select("vec_id"))
    return cc.select(
        F.col("node").alias("vec_id"),
        "component",
        (F.col("node") == F.col("component")).alias("keep"),
    )


def _md5_poly(start: int) -> str:
    """Hex-digit polynomial: parse 8 hex chars of a column `m` (an md5
    string) starting at 1-based `start` into a BIGINT — the DuckDB twin
    of Spark's conv(substring(m, start, 8), 16, 10)."""
    hexd = "0123456789abcdef"
    return " + ".join(
        f"(strpos('{hexd}', substr(m, {start + i}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )


# unsigned HUGEINT in [0, 2^64) -> the signed BIGINT with the same bit
# pattern (Java long semantics, matching Spark's shiftleft packing)
_SIGNED64 = (
    "CAST(h - CASE WHEN h >= 9223372036854775808 "
    "THEN 18446744073709551616 ELSE 0 END AS BIGINT)"
)


def _minhash_bands_sql(num_perm: int = 64, n_bands: int = 16) -> str:
    """Shared DuckDB CTE prefix of the portable-hash MinHash+LSH
    pipeline, through the `bands` (id, band, key) table: permutation i
    = signed 64-bit md5 hash of "i|shingle", conditional-MIN signature
    slots, string band keys.  Consumed by _minhash_oracle (candidate
    join + exact-Jaccard confirm) and the lsh_bucket_stats oracle
    (occupancy aggregation)."""
    r = num_perm // n_bands
    mins = ",\n           ".join(
        f"MIN(CASE WHEN i = {i} THEN s END) AS mh_{i}" for i in range(num_perm)
    )
    band_rows = "\n      UNION ALL ".join(
        "SELECT id, {b} AS band, {key} AS key FROM sig".format(
            b=b,
            key=" || ',' || ".join(
                f"CAST(mh_{b * r + j} AS VARCHAR)" for j in range(r)
            ),
        )
        for b in range(n_bands)
    )
    return f"""
    WITH base AS (
      SELECT doc_id AS id, {_WORDS} AS ws FROM documents WHERE doc_id < 100),
    alldocs AS (
      SELECT id, ws FROM base
      UNION ALL
      SELECT id + 10000, ws[1:CAST(ceil(0.8 * len(ws)) AS BIGINT)] FROM base),
    sh0 AS (
      SELECT id, unnest(list_distinct(list_transform(
               range(CAST(greatest(len(ws) - 1, 1) AS BIGINT)),
               i -> array_to_string(ws[i + 1:i + 2], ' ')))) AS shingle
      FROM alldocs),
    hm AS (
      SELECT id, i, md5(CAST(i AS VARCHAR) || '|' || shingle) AS m
      FROM (SELECT id, shingle, unnest(range({num_perm})) AS i FROM sh0)),
    hv AS (SELECT id, i,
                  CAST({_md5_poly(1)} AS HUGEINT) * 4294967296 + ({_md5_poly(9)}) AS h
           FROM hm),
    hs AS (SELECT id, i, {_SIGNED64} AS s FROM hv),
    sig AS (SELECT id, {mins}
            FROM hs GROUP BY id),
    bands AS (
      {band_rows})"""


def _minhash_oracle(num_perm: int = 64, n_bands: int = 16) -> str:
    """Generate the full DuckDB twin of the MinHash+LSH pipeline in
    portable-hash mode: the shared band-table prefix plus the
    band-keyed candidate join and the exact-Jaccard confirm over the
    same md5-hashed shingle sets."""
    return f"""{_minhash_bands_sql(num_perm, n_bands)},
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.id < b.id),
    shm AS (SELECT id, md5(shingle) AS m FROM sh0),
    shv AS (SELECT id,
                   CAST({_md5_poly(1)} AS HUGEINT) * 4294967296 + ({_md5_poly(9)}) AS h
            FROM shm),
    shh AS (SELECT id, {_SIGNED64} AS sh FROM shv),
    sizes AS (SELECT id, COUNT(*) AS ns FROM shh GROUP BY id),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS i
      FROM cand c
      JOIN shh a ON a.id = c.id_a
      JOIN shh b ON b.id = c.id_b AND b.sh = a.sh
      GROUP BY c.id_a, c.id_b)
    SELECT id_a, id_b, jaccard_dist FROM (
      SELECT id_a, id_b,
             ROUND(1.0 - CAST(i AS DOUBLE) / (sa.ns + sb.ns - i), 6) AS jaccard_dist
      FROM inter
      JOIN sizes sa ON sa.id = inter.id_a
      JOIN sizes sb ON sb.id = inter.id_b)
    WHERE jaccard_dist <= 0.5
    """


def _attach_recall(
    exact: DataFrame,
    approx: DataFrame,
    id_cols: tuple[str, ...],
    threshold: float = 0.9,
) -> DataFrame:
    """Attach an in-plan accuracy gate to an exact result set: mark each
    exact row found by the approximate method (left join on the id
    columns), aggregate hits/total into one boolean `recall_ok`
    (recall >= threshold), and broadcast the 1-row flag onto every
    exact row.  The exact payload stays fully value-hash-checkable by
    the DuckDB oracle (which asserts TRUE); if the approximate path
    regresses below the recall floor the flag flips and the hash gate
    fails loudly — the same *_checked pattern as
    approx_percentile_checked / distinct_count_checked.  No collect:
    the flag is a 1-row broadcast cross join."""
    ids = list(id_cols)
    # NOT truncated (r14 A/B): checkpointing `exact` here looked like a
    # win on paper (its brute-force lineage feeds both the recall mark
    # and the payload) but measured +1.5 s on ann_ivfpq_topk at sf0.1 —
    # the toRdd form of the global top-k adds a single-partition
    # materialization per run, while the duplicated lineage below is
    # cheap once the planted index itself is truncated upstream.
    marked = exact.select(*ids).join(
        approx.select(*ids).distinct().withColumn("__hit", F.lit(1)), ids, "left"
    )
    flag = marked.agg(
        (
            F.coalesce(F.sum("__hit"), F.lit(0))
            >= F.count("*") * F.lit(threshold)
        ).alias("recall_ok")
    )
    # bounded: 1-row recall flag
    return exact.crossJoin(F.broadcast(flag))


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH base AS (
      SELECT doc_id AS id, {_WORDS} AS ws FROM documents WHERE doc_id < 100),
    alldocs AS (
      SELECT id, ws FROM base
      UNION ALL
      SELECT id + 10000, ws[1:CAST(ceil(0.8 * len(ws)) AS BIGINT)] FROM base),
    sh AS (
      SELECT id, unnest(list_distinct(list_transform(
               range(CAST(greatest(len(ws) - 1, 1) AS BIGINT)),
               i -> array_to_string(ws[i + 1:i + 2], ' ')))) AS shingle
      FROM alldocs),
    sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2)
    SELECT id_a, id_b, jaccard, TRUE AS recall_ok FROM (
      SELECT id_a, id_b,
             ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.id = inter.id_a
      JOIN sizes sb ON sb.id = inter.id_b)
    WHERE jaccard >= 0.5
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup join in PRODUCTION xxhash64 mode (shingle ->
    64-perm minhash signature -> 16-band bucket join -> exact-Jaccard
    confirm, all whole-stage codegen, operators/dedup.py:
    minhash_lsh_pairs), accuracy-gated against the exact shingle-join
    ground truth: the payload is the exact Jaccard >= 0.5 pair set
    (value-hash-checked against the DuckDB twin) and `recall_ok`
    asserts the LSH candidate pipeline recovered >= 90% of those true
    pairs.  Measured recall on the planted 80%-prefix fixture is 100/100
    at every SF (each planted pair sits at jaccard ~0.8, where a 16-band
    x 4-row sketch misses with p ~ 2e-4); the 0.9 floor leaves headroom
    for pairs near the 0.5 threshold, whose single-band hit rate is
    ~0.64.  The gate is probabilistic by construction — deterministic
    for a fixed fixture + seed, but it must be re-validated after any
    fixture regeneration (ADVICE r5).  The md5-portable twin
    dedup_minhash_lsh_portable below additionally hash-checks the
    SKETCH internals end-to-end; tests pin both hash modes."""
    from ..operators.dedup import minhash_lsh_pairs

    docs = _docs_with_truncated_copies(spark, sf_dir)
    lsh = minhash_lsh_pairs(docs, threshold=0.5, n=2)
    exact = jaccard_pairs(docs, threshold=0.5, n=2)
    return _attach_recall(exact, lsh, ("id_a", "id_b")).select(
        "id_a", "id_b", "jaccard", "recall_ok"
    )


def minhash_lsh_pairs_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT registered — the bench/scale timing twin of
    dedup_minhash_lsh.  Since round 6 the registered row also executes
    the exact all-pairs shingle join (the ground truth its recall gate
    compares against), so timing IT would measure the O(n^2) join LSH
    exists to avoid and break cross-round comparability (ADVICE r6).
    This runs ONLY the production LSH pipeline (shingle -> 64-perm
    minhash -> 16-band bucket join -> exact-Jaccard confirm on
    candidates) over the same planted corpus — the work rounds <= 5
    timed under the name dedup_minhash_lsh; bench.py reports it as
    `minhash_lsh_pairs`."""
    from ..operators.dedup import minhash_lsh_pairs

    docs = _docs_with_truncated_copies(spark, sf_dir)
    return minhash_lsh_pairs(docs, threshold=0.5, n=2)


def ivf_knn_join_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT registered — the bench timing twin of ann_ivf_knn_join
    (same pattern as minhash_lsh_pairs_bench, VERDICT r6 #3): the
    registered row also executes the exact brute-force kNN join (its
    recall gate's ground truth), so its timing measures gate + operator
    and can hide a production-operator regression.  This runs ONLY the
    production IVF path — build_ivf + centroid-rank -> cluster-keyed
    candidate join -> per-probe top-k — over the plain fixture (no
    plants, no exact side), i.e. the work rounds <= 5 timed under
    ann_ivf_knn_join; bench.py reports it as `ivf_knn_join_op`."""
    from ..operators.ann import build_ivf, ivf_knn_join

    emb = _emb_double(spark, sf_dir)
    probes = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    index = emb.filter(F.col("vec_id") >= 8)
    assigned, centroids = build_ivf(index, n_clusters=8)
    return ivf_knn_join(probes, assigned, centroids, k=3, nprobe=2)


# sf_dir -> (layout path, centroid parquet path, query vector); the
# layout is written once per bench process (warmup pays it), so the
# timed runs below measure ONLY the DPP-pruned probe.
_IVF_LAYOUT_CACHE: dict[str, tuple[str, str, list[float]]] = {}


def ivf_topk_partitioned_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT registered — the bench twin of the write_ivf_index
    cluster-partitioned layout (VERDICT r8 #4).  The measured
    dynamic-partition-pruning win lived only in pytest
    (tests/test_ivf_partition_pruning.py); this row makes BENCH track
    the pruned-scan cost, so a future regression in the DPP trigger
    (the coalesce(csim,-1) >= -1 no-op filter, operators/ann.py) shows
    up as a timing jump toward the unpartitioned ann_ivf_topk twin,
    not just a test failure.  Build + partitionBy write happen once
    per process (bench warmup); timed runs probe the read-back layout
    only — the 100-TB read path, where each query touches
    ~nprobe/n_clusters of the index files."""
    import os

    from ..operators.ann import (
        build_ivf,
        ivf_topk,
        read_ivf_index,
        write_ivf_index,
    )
    from ..scratch import scratch_path

    key = os.path.abspath(sf_dir)
    if key not in _IVF_LAYOUT_CACHE:
        emb = _emb_double(spark, sf_dir)
        qvec = [
            float(x)
            for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]
        ]
        assigned, centroids = build_ivf(
            emb.filter(F.col("vec_id") >= 8), n_clusters=8
        )
        path = scratch_path("ivf_layout_" + key.replace("/", "_"))
        write_ivf_index(assigned, path)
        cpath = path + "_centroids"
        centroids.write.mode("overwrite").parquet(cpath)
        _IVF_LAYOUT_CACHE[key] = (path, cpath, qvec)
    path, cpath, qvec = _IVF_LAYOUT_CACHE[key]
    return ivf_topk(
        read_ivf_index(spark, path),
        spark.read.parquet(cpath),
        qvec,
        k=3,
        nprobe=2,
    )


# sf_dir -> (assigned/codes parquet, centroid parquet, codebooks, qvec);
# training + encode happen once per bench process (warmup pays them), so
# the timed runs below measure ONLY the per-query probe.
_IVFPQ_CACHE: dict[str, tuple[str, str, list, list]] = {}


def ivfpq_topk_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT registered — the bench timing twin of ann_ivfpq_topk.  The
    registered row's ~3 s times gate + operator + INDEX BUILD (k-means
    + PQ training + encode), and a head-to-head showed the build
    dominates (twin-with-build 2.99 s vs registered 3.15 s) — but at
    100 TB the index is built once and probed millions of times, so
    the number worth tracking round-over-round is the PER-QUERY probe:
    centroid rank (driver-side, kilobytes) -> cluster-pruned ADC scan
    over the 8-byte code table -> exact re-rank of the refine window.
    Build + encode are cached to parquet once per process (the bench
    warmup pays them, same pattern as ivf_topk_partitioned_bench);
    bench.py reports this as `ivfpq_topk_op`."""
    import os

    from ..operators.ann import build_ivf, sample_vectors
    from ..operators.pq import build_pq, ivfpq_topk, pq_encode
    from ..scratch import scratch_path

    key = os.path.abspath(sf_dir)
    if key not in _IVFPQ_CACHE:
        emb = _emb_double(spark, sf_dir)
        qvec = [
            float(x)
            for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]
        ]
        index = emb.filter(F.col("vec_id") >= 8)
        X = sample_vectors(index)
        assigned, centroids = build_ivf(index, n_clusters=8, sample_X=X)
        books = build_pq(index, m=8, k=16, sample_X=X)
        enc = pq_encode(index, books)
        path = scratch_path("ivfpq_" + key.replace("/", "_"))
        assigned.select("vec_id", "cluster_id").join(enc, "vec_id").write.mode(
            "overwrite"
        ).parquet(path)
        cpath = path + "_centroids"
        centroids.write.mode("overwrite").parquet(cpath)
        _IVFPQ_CACHE[key] = (path, cpath, books, qvec)
    path, cpath, books, qvec = _IVFPQ_CACHE[key]
    built = spark.read.parquet(path)
    return ivfpq_topk(
        built.select("vec_id", "cluster_id"),
        spark.read.parquet(cpath),
        built.select("vec_id", "codes"),
        _emb_double(spark, sf_dir).filter(F.col("vec_id") >= 8),
        books,
        qvec,
        k=3,
        nprobe=4,
        refine=100,
    )


@register("dedup_minhash_lsh_portable", oracle=_minhash_oracle())
def dedup_minhash_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_minhash_lsh in portable-hash mode: permutation i is the
    signed 64-bit md5 hash of "i|shingle", band keys are the raw
    signature slots, and the Jaccard confirm hashes shingles with the
    same md5 parse — every piece DuckDB can reproduce, so the ENTIRE
    sketch (signatures, banding, candidate join, exact confirm) is
    value-hash-checked against a generated SQL twin.  ~2.7x the hash
    cost of the xxhash64 mode above, which is why the production row
    keeps xxhash64; structure and recall are identical by construction
    (same builder, one flag)."""
    from ..operators.dedup import minhash_lsh_pairs

    docs = _docs_with_truncated_copies(spark, sf_dir)
    return minhash_lsh_pairs(docs, threshold=0.5, n=2, portable=True)


def _simhash_oracle() -> str:
    """Generate the full DuckDB twin of the banded SimHash pipeline in
    portable-hash mode: md5-derived 64-bit word hashes (two 8-hex-char
    halves parsed with the strpos polynomial), the 64 unrolled bit
    votes, HUGEINT signature packing, 16-bit banding, and band-wise
    xor/bit_count Hamming — bit-for-bit the operator's arithmetic."""
    poly = _md5_poly

    votes = ",\n             ".join(
        f"SUM(CASE WHEN (h // {2 ** j}) % 2 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(64)
    )
    sig_sum = " + ".join(
        f"CASE WHEN v{j} > 0 THEN CAST('{2 ** j}' AS HUGEINT) "
        f"ELSE CAST(0 AS HUGEINT) END"
        for j in range(64)
    )
    shifts = [1, 65536, 4294967296, 281474976710656]
    band_val = (
        "CAST((sig // CASE band_idx WHEN 0 THEN 1 WHEN 1 THEN 65536 "
        "WHEN 2 THEN 4294967296 ELSE 281474976710656 END) % 65536 AS BIGINT)"
    )
    ham = " + ".join(
        f"bit_count(xor(CAST((sig_a // {s}) % 65536 AS BIGINT), "
        f"CAST((sig_b // {s}) % 65536 AS BIGINT)))"
        for s in shifts
    )
    return f"""
    WITH base AS (
      SELECT doc_id AS id, {_WORDS} AS ws FROM documents WHERE doc_id < 100),
    alldocs AS (
      SELECT id, ws FROM base
      UNION ALL
      SELECT id + 10000, ws[1:CAST(ceil(0.8 * len(ws)) AS BIGINT)] FROM base),
    words AS (SELECT id, unnest(ws) AS w FROM alldocs),
    hw AS (SELECT id, md5(w) AS m FROM words),
    hv AS (SELECT id,
                  CAST({poly(1)} AS HUGEINT) * 4294967296 + ({poly(9)}) AS h
           FROM hw),
    votes AS (SELECT id, {votes}
              FROM hv GROUP BY id),
    sigs AS (SELECT id, {sig_sum} AS sig FROM votes),
    bands AS (
      SELECT id, sig, band_idx, {band_val} AS band_val
      FROM (SELECT id, sig, unnest([0, 1, 2, 3]) AS band_idx FROM sigs)),
    cands AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sig AS sig_a, b.sig AS sig_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.id < b.id)
    SELECT id_a, id_b, hamming FROM (
      SELECT id_a, id_b, CAST({ham} AS INTEGER) AS hamming FROM cands)
    WHERE hamming <= 8
    """


@register("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded near-dup pairs (64-bit signatures, 4 bands,
    hamming <= 8) over the corpus plus 80%-prefix copies, in
    portable-hash mode: word hashes derive from md5 (which DuckDB
    shares), so the ENTIRE sketch pipeline — signature votes, banding,
    candidate join, Hamming verify — is value-hash-checked against a
    generated SQL twin, not rows-only.  `portable=False` swaps in
    xxhash64 word hashes (one codegen instruction instead of an md5)
    with zero structural change — the documented production default
    at 100 TB; tests pin the semantics of both modes."""
    from ..operators.simhash import simhash_pairs

    return simhash_pairs(
        _docs_with_truncated_copies(spark, sf_dir), max_hamming=8, portable=True
    )


# --- accuracy-gated ANN rows -------------------------------------------
# The fixture embeddings are uniform-random (max pairwise cosine ~0.46 at
# sf0.1), where "nearest neighbor" is statistical noise and ANN recall is
# data-luck (measured 0.0-1.0 across SFs for identical code).  So, as with
# the dedup rows' 80%-prefix copies, each checked ANN row PLANTS its
# ground truth in-plan: three near-copies of the query vector (element-
# wise x + 0.01*k, cosine ~0.995+ vs a <=~0.5 random background) become
# the exact top-3 by a wide margin, and the gate asserts the ANN path
# recovered them.  The perturbation is pure double arithmetic both
# engines share (Spark transform / DuckDB list_transform), so the exact
# payload stays value-hash-checked; the recall flag is deterministic for
# a fixed fixture + seed but must be re-validated after any fixture
# regeneration (ADVICE r5).

_PLANT_KS = (1, 2, 3)
# Plant ids must never collide with ANY fixture id at ANY scale: the
# scale fixtures replicate vec_id + k*1e6 (tools/make_scale_fixtures.py),
# so a 1e6 base would alias planted ids onto real replica-1 vectors at
# sf>=1 and the recall join would count a hit on an unrelated real
# vector as recovering the plant (ADVICE r6).  1e9 clears the replica
# range up to 1000 replicas (sf100); test_checked_ann_rows_hold_recall
# _gate asserts disjointness against the live fixture directly.
_PLANT_BASE = 10**9


def _shift_by(k: int):
    """Single-arg transform lambda x -> x + 0.01*k.  (A two-parameter
    lambda with a bound default would be called as (element, index) by
    F.transform — the index silently replaces k.)"""

    def f(x):
        return x + F.lit(0.01) * F.lit(k)

    return f


def _emb_double(spark: SparkSession, sf_dir: str, spread: bool = False) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings", spread=spread)
    return emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )


def _planted_query_index(spark: SparkSession, sf_dir: str, spread: bool = False):
    """(index, query_vec): every non-query vector plus 3 planted
    near-copies of vec 0 at ids _PLANT_BASE+1..+3 (x + 0.01*k).

    `spread=True` is passed by the consumers that run a HEAVY in-plan
    build over every index row (ann_ivfpq_topk's k-means sample + PQ
    train + encode) — the measured winners of the scan-spread A/B in
    sources/fixtures.load_table; probe-style consumers leave it off."""
    emb = _emb_double(spark, sf_dir, spread=spread)
    q = emb.filter(F.col("vec_id") == 0)
    index = emb.filter(F.col("vec_id") != 0)
    for k in _PLANT_KS:
        index = index.unionByName(
            q.select(
                (F.lit(_PLANT_BASE) + F.lit(k)).cast("bigint").alias("vec_id"),
                F.transform("embedding", _shift_by(k)).alias("embedding"),
            )
        )
    # Truncate the 4-branch planted union (r14, guide §3.3/§5): every
    # checked ANN row feeds `index` to 3-6 consumers (exact gold side,
    # training-sample pull, cluster assignment, encode, exact re-rank),
    # and the planted transform's lambda exprIds defeat CSE exactly like
    # the words_of trees (commit 839e1a5), so each consumer re-derived
    # the union — ann_ivfpq_topk's plan was 281 operators with the
    # ArrowEvalPython assignment subtree appearing 4x.  The table is
    # SF-bounded (the embeddings fixture + 3 rows); at corpus scale the
    # index is a real table read from storage, where each consumer's
    # scan IS this materialization.  Coalesced first for the same
    # union-times-spread reason as _planted_knn_pool (4 branches x the
    # vector table's spread width; narrow merge, no shuffle).
    index = index.coalesce(8).transform(truncate_plan)
    qvec = [float(x) for x in q.head().embedding]
    return index, qvec


_ANN_TOPK_ORACLE = f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    planted AS (
      SELECT CAST({_PLANT_BASE} + g.k AS BIGINT) AS vec_id,
             list_transform((SELECT qv FROM q), x -> x + 0.01 * g.k) AS v
      FROM (SELECT unnest([1, 2, 3]) AS k) g),
    idx AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id <> 0
      UNION ALL
      SELECT vec_id, v FROM planted)
    SELECT vec_id,
           ROUND(list_cosine_similarity(v, (SELECT qv FROM q)), 6) AS score,
           TRUE AS recall_ok
    FROM idx
    ORDER BY list_cosine_similarity(v, (SELECT qv FROM q)) DESC, vec_id
    LIMIT 3
    """


def _checked_ann_topk(index: DataFrame, qvec, approx: DataFrame) -> DataFrame:
    """exact top-3 payload + recall_ok gate vs the approx id set."""
    from ..operators.retrieval import topk_similar

    exact = topk_similar(index, qvec, k=3).select(
        "vec_id", F.round("score", 6).alias("score")
    )
    return _attach_recall(exact, approx, ("vec_id",)).select(
        "vec_id", "score", "recall_ok"
    )


@register("ann_lsh_topk", oracle=_ANN_TOPK_ORACLE)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection LSH top-3 for the vec-0 query (SURVEY §4.3
    rung 2, the reference's cosinesimil HNSW intent,
    /root/reference/app/main.py:347-373).  Accuracy-gated: the payload
    is the exact brute-force top-3 over the planted index (hash-checked
    vs DuckDB list_cosine_similarity) and `recall_ok` asserts
    approxNearestNeighbors recovered >= 90% of it — identical vectors
    hash into identical buckets, so the planted near-copies make the
    gate margin structural, not data-luck.  Recall tests on clustered
    synthetic data live in tests/test_dedup.py."""
    from ..operators.ann import lsh_topk

    index, qvec = _planted_query_index(spark, sf_dir)
    approx = lsh_topk(index, qvec, k=3).select("vec_id")
    return _checked_ann_topk(index, qvec, approx)


@register("ann_ivf_topk", oracle=_ANN_TOPK_ORACLE)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF partition-pruned top-3 (SURVEY §4.3 rung 3): seeded-sample
    Lloyd centroids, probe the 2 nearest of 10 clusters, exact search
    inside — accuracy-gated like ann_lsh_topk.  The planted near-copies
    of the query land in the query's own nearest cluster (identical
    direction -> identical assignment), so nprobe=2 recovers them by
    construction and `recall_ok` guards the probe/assignment machinery
    (an off-by-one in centroid ranking or cluster pruning flips it)."""
    from ..operators.ann import build_ivf, ivf_topk

    index, qvec = _planted_query_index(spark, sf_dir)
    assigned, centroids = build_ivf(index, n_clusters=10)
    approx = ivf_topk(assigned, centroids, qvec, k=3, nprobe=2).select("vec_id")
    return _checked_ann_topk(index, qvec, approx)


@register("ann_ivf_topk_partitioned", oracle=_ANN_TOPK_ORACLE)
def ann_ivf_topk_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann_ivf_topk probed through the `write_ivf_index`
    cluster-partitioned PHYSICAL layout (VERDICT r9 #2): the planted
    index is written `partitionBy('cluster_id')`, read back, and the
    probe's cluster filter prunes at the FILE level (the 100-TB serving
    path — each query touches ~nprobe/n_clusters of the index files;
    operators/ann.py:156).  Same accuracy gate and oracle as
    ann_ivf_topk, so the layout round-trip (partition-column type
    rewrite on read-back, DPP-triggering filter shape) sits inside the
    full oracle gate rather than resting only on
    tests/test_ivf_partition_pruning.py; the bench timing twin
    (`ivf_topk_partitioned`, queries/dedup_q.py ivf_topk_partitioned_bench)
    continues to time the probe alone over a cached layout."""
    import os

    from ..operators.ann import (
        build_ivf,
        ivf_topk,
        read_ivf_index,
        write_ivf_index,
    )
    from ..scratch import scratch_path

    index, qvec = _planted_query_index(spark, sf_dir)
    assigned, centroids = build_ivf(index, n_clusters=10)
    path = scratch_path(
        "ivf_gate_layout_" + os.path.abspath(sf_dir).replace("/", "_")
    )
    write_ivf_index(assigned, path)
    approx = ivf_topk(
        read_ivf_index(spark, path), centroids, qvec, k=3, nprobe=2
    ).select("vec_id")
    return _checked_ann_topk(index, qvec, approx)


_ANN_KNN_ORACLE = f"""
    WITH p AS (
      SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pv
      FROM embeddings WHERE vec_id < 8),
    planted AS (
      SELECT CAST({_PLANT_BASE} + p.probe_id * 10 + g.k AS BIGINT) AS vec_id,
             list_transform(p.pv, x -> x + 0.01 * g.k) AS v
      FROM p CROSS JOIN (SELECT unnest([1, 2, 3]) AS k) g),
    idx AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 8
      UNION ALL
      SELECT vec_id, v FROM planted),
    s AS (
      SELECT p.probe_id, i.vec_id,
             list_cosine_similarity(i.v, p.pv) AS c
      FROM p CROSS JOIN idx i),
    r AS (
      SELECT probe_id, vec_id, c,
             ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY c DESC, vec_id) AS rk
      FROM s)
    SELECT probe_id, vec_id, ROUND(c, 6) AS score,
           CAST(rk AS INTEGER) AS knn_rank, TRUE AS recall_ok
    FROM r WHERE rk <= 3
    """


def _planted_knn_pool(spark: SparkSession, sf_dir: str):
    """(probes, index) for the batch-kNN gates: probes = vecs 0..7,
    index = everything else plus 3 planted near-copies PER probe at
    ids _PLANT_BASE + probe_id*10 + k."""
    emb = _emb_double(spark, sf_dir)
    probes_raw = emb.filter(F.col("vec_id") < 8)
    probes = probes_raw.select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    index = emb.filter(F.col("vec_id") >= 8)
    for k in _PLANT_KS:
        index = index.unionByName(
            probes_raw.select(
                (F.lit(_PLANT_BASE) + F.col("vec_id") * 10 + F.lit(k))
                .cast("bigint")
                .alias("vec_id"),
                F.transform("embedding", _shift_by(k)).alias("embedding"),
            )
        )
    # Truncated for the same multi-consumer reason as
    # _planted_query_index: the kNN gate rows feed `index` to the exact
    # gold join, the IVF/PQ build-and-probe chain, and the re-rank.
    # Coalesce first: the 4-branch union concatenates each branch's
    # scan-spread partitioning (4 x 8 at sf0.1) and the checkpoint PINS
    # it for every downstream stage of a dozen-stage pipeline; 2,000
    # vector rows need the source table's width, not 4x it (bench
    # 4.2 -> 15.9 s when the full-core spread landed, from task
    # scheduling alone).  Narrow merge, no shuffle.
    return probes, index.coalesce(8).transform(truncate_plan)


@register("ann_ivf_knn_join", oracle=_ANN_KNN_ORACLE)
def ann_ivf_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch IVF kNN join: many probes at once through the
    centroid-rank -> cluster-keyed candidate join -> per-probe top-k
    pipeline (operators/ann.py:ivf_knn_join), accuracy-gated: each of
    the 8 probes gets 3 planted near-copies in the index (ids
    _PLANT_BASE + probe_id*10 + k), the payload is the exact kNN join
    (hash-checked per-probe top-3) and `recall_ok` asserts the IVF path
    recovered >= 90% of the 24 true pairs.  Each probe's planted twins
    share its cluster assignment, so nprobe=2 finds them structurally;
    tests additionally prove nprobe=all equals exact kNN bit-for-bit."""
    from ..operators.ann import build_ivf, ivf_knn_join
    from ..operators.retrieval import knn_join

    probes, index = _planted_knn_pool(spark, sf_dir)
    exact = knn_join(probes, index, k=3).select(
        "probe_id", "vec_id", F.round("score", 6).alias("score"), "knn_rank"
    )
    assigned, centroids = build_ivf(index, n_clusters=8)
    approx = ivf_knn_join(probes, assigned, centroids, k=3, nprobe=2).select(
        "probe_id", "vec_id"
    )
    return _attach_recall(exact, approx, ("probe_id", "vec_id")).select(
        "probe_id", "vec_id", "score", "knn_rank", "recall_ok"
    )


# sf_dir -> persisted IVF-PQ layout over the batch-kNN planted pool
# (distinct from _IVFPQ_SERVING_CACHE: different plant scheme)
_IVFPQ_KNN_IDX_CACHE: dict[str, str] = {}


def _ensure_ivfpq_knn_index(spark: SparkSession, sf_dir: str):
    """Build-once/probe-many layout over the batch-kNN pool — same
    parameters as the single-query serving index (n_clusters=8, m=8,
    k=16, shared sample pull)."""
    import os

    from ..operators.ann import build_ivf, sample_vectors
    from ..operators.pq import build_pq, pq_encode, read_ivfpq_index, write_ivfpq_index
    from ..scratch import scratch_path

    key = os.path.abspath(sf_dir)
    if key not in _IVFPQ_KNN_IDX_CACHE:
        _, index = _planted_knn_pool(spark, sf_dir)
        X = sample_vectors(index)
        assigned, centroids = build_ivf(index, n_clusters=8, sample_X=X)
        books = build_pq(index, m=8, k=16, sample_X=X)
        enc = pq_encode(index, books)
        path = scratch_path("ivfpq_knn_" + key.replace("/", "_"))
        write_ivfpq_index(assigned, enc, centroids, books, path)
        _IVFPQ_KNN_IDX_CACHE[key] = path
    return read_ivfpq_index(spark, _IVFPQ_KNN_IDX_CACHE[key])


@register("ann_ivfpq_knn_join_indexed", oracle=_ANN_KNN_ORACLE)
def ann_ivfpq_knn_join_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch kNN join through the PERSISTED IVF-PQ serving index — the
    bulk-pipeline shape (a dedup or enrichment job probing a built
    index with millions of vectors at once), completing the serving
    ladder: ann_ivfpq_topk (in-plan build) -> ann_ivfpq_topk_indexed
    (persisted, single query) -> this row (persisted, batch).  Unlike
    the single-query probe there is NO driver-side centroid collect:
    operators/pq.py ivfpq_knn_join ranks the broadcast centroid table
    per probe, computes each probe's m x k ADC table once as a
    codebook-literal expression, scores candidates with m array
    lookups over the ~8-byte codes, and exact-cosine re-ranks only the
    refine window.  Same oracle and >= 90%-of-24-planted-pairs
    `recall_ok` gate as ann_ivf_knn_join; nprobe=4/refine=100 absorb
    the quantization error exactly as in ann_ivfpq_topk."""
    from ..operators.pq import ivfpq_knn_join
    from ..operators.retrieval import knn_join

    probes, index = _planted_knn_pool(spark, sf_dir)
    codes, centroids, books = _ensure_ivfpq_knn_index(spark, sf_dir)
    exact = knn_join(probes, index, k=3).select(
        "probe_id", "vec_id", F.round("score", 6).alias("score"), "knn_rank"
    )
    approx = ivfpq_knn_join(
        probes, codes, centroids, index, books, k=3, nprobe=4, refine=100
    ).select("probe_id", "vec_id")
    return _attach_recall(exact, approx, ("probe_id", "vec_id")).select(
        "probe_id", "vec_id", "score", "knn_rank", "recall_ok"
    )


def _trunc_80(df: DataFrame, id_shift: int = 10000) -> DataFrame:
    """id+shift copy of each doc keeping the first 80% of its words."""
    ws = words_of("text")
    keep = F.ceil(F.size(ws) * 0.8).cast("int")
    return df.select(
        (F.col("doc_id") + id_shift).alias("doc_id"),
        F.array_join(F.slice(ws, 1, keep), " ").alias("text"),
    )


@register(
    "dedup_cluster",
    oracle=f"""
    WITH RECURSIVE
    base AS (
      SELECT doc_id AS id, {_WORDS} AS ws FROM documents WHERE doc_id < 100),
    alldocs AS (
      SELECT id, ws FROM base
      UNION ALL
      SELECT id + 10000, ws[1:CAST(ceil(0.8 * len(ws)) AS BIGINT)] FROM base
      UNION ALL
      SELECT id + 20000,
             ws[1:CAST(ceil(0.8 * ceil(0.8 * len(ws))) AS BIGINT)] FROM base),
    sh AS (
      SELECT id, unnest(list_distinct(list_transform(
               range(CAST(greatest(len(ws) - 1, 1) AS BIGINT)),
               i -> array_to_string(ws[i + 1:i + 2], ' ')))) AS shingle
      FROM alldocs),
    sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
    edges AS (
      SELECT id_a, id_b FROM (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY 1, 2) e
      JOIN sizes sa ON sa.id = e.id_a
      JOIN sizes sb ON sb.id = e.id_b
      WHERE ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.7),
    sym AS (
      SELECT id_a AS s, id_b AS d FROM edges
      UNION SELECT id_b, id_a FROM edges),
    reach AS (
      SELECT id AS node, id AS r FROM alldocs
      UNION
      SELECT sym.d, reach.r FROM reach JOIN sym ON sym.s = reach.node)
    SELECT node AS doc_id, MIN(r) AS component FROM reach GROUP BY node
    """,
)
def dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUPS, not just pairs: bigram-Jaccard >= 0.7 edges over
    the corpus plus two generations of 80%-prefix copies (A, A80, A64 —
    A~A80 and A80~A64 clear the floor, A~A64 sometimes only connects
    transitively), then connected components (iterative min-label
    propagation, operators/graph.py) labels every doc with the min id of
    its duplicate cluster.  The oracle recomputes components with a
    recursive reachability CTE.  This is the step that turns pairwise
    similarity into "keep one per group" at corpus scale."""
    from ..operators.graph import connected_components

    base = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", "text")
    )
    v1 = _trunc_80(base)
    v2 = _trunc_80(v1)
    # The 3-branch union concatenates each branch's scan-spread
    # partitioning (3 x 20 at sf0.1) for a 300-row pool whose per-row
    # work is light (bigram shingles + xxhash, no md5 ladder), so the
    # CC loop's many stages paid ~60 task schedulings each for nothing
    # (bench 2.0 -> 5.6 s when the spread first landed).  Narrow
    # coalesce — no shuffle — restores a work-proportionate width.
    pool = base.unionByName(v1).unionByName(v2).coalesce(4)
    edges = jaccard_pairs(pool, threshold=0.7, n=2)
    # eager checkpoint: same multi-consumption pattern as dedup_semantic
    edges = edges.select("id_a", "id_b").transform(truncate_eager)
    cc = connected_components(edges, nodes=pool.select("doc_id"))
    return cc.select(F.col("node").alias("doc_id"), "component")


@register(
    "decontaminate",
    oracle=f"""
    WITH pool AS (
      SELECT doc_id AS id, {_WORDS} AS ws FROM documents WHERE doc_id < 200),
    evalset AS (SELECT id, ws FROM pool WHERE id % 10 = 0),
    trainset AS (
      SELECT id, ws FROM pool WHERE id % 10 <> 0
      UNION ALL
      SELECT id + 30000, ws[1:CAST(ceil(0.5 * len(ws)) AS BIGINT)] FROM evalset),
    tg AS (
      SELECT id, unnest(list_distinct(list_transform(
               range(CAST(greatest(len(ws) - 7, 1) AS BIGINT)),
               i -> array_to_string(ws[i + 1:i + 8], ' ')))) AS gram
      FROM trainset),
    eg AS (
      SELECT id, unnest(list_distinct(list_transform(
               range(CAST(greatest(len(ws) - 7, 1) AS BIGINT)),
               i -> array_to_string(ws[i + 1:i + 8], ' ')))) AS gram
      FROM evalset)
    SELECT tg.id AS doc_id, eg.id AS eval_id, COUNT(*) AS shared_grams
    FROM tg JOIN eg ON tg.gram = eg.gram
    GROUP BY 1, 2
    """,
)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    8-word n-gram with a held-out eval split (docs with id % 10 == 0),
    the standard pretraining hygiene check.  Contamination is planted
    in-plan (50%-prefixes of eval docs added as train ids +30000).
    Output: (train doc_id, eval_id, count of shared distinct 8-grams).

    Scale shape: the eval side is always tiny relative to a 100 TB
    train corpus, so its distinct-gram table is BROADCAST — the train
    side streams map-only through gram explode + broadcast-hash join
    with zero shuffle of train data; only matched (id, eval_id) pairs
    enter the final count aggregation.  Bigger eval sets swap the
    broadcast for a bloom-filter pre-pass, same plan otherwise."""
    from ..operators.dedup import word_shingles

    pool = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )
    evalset = pool.filter(F.col("doc_id") % 10 == 0)
    ws = words_of("text")
    keep = F.ceil(F.size(ws) * 0.5).cast("int")
    planted = evalset.select(
        (F.col("doc_id") + 30000).alias("doc_id"),
        F.array_join(F.slice(ws, 1, keep), " ").alias("text"),
    )
    trainset = pool.filter(F.col("doc_id") % 10 != 0).unionByName(planted)

    def grams(df: DataFrame, id_alias: str) -> DataFrame:
        # tokenize once per document, in its own projection: the
        # explode keeps it apart from the per-shingle slice lambda
        return df.select(
            F.col("doc_id").alias(id_alias), words_of("text").alias("__ws")
        ).select(id_alias, F.explode(word_shingles("__ws", 8)).alias("gram"))

    tg = grams(trainset, "doc_id")
    eg = grams(evalset, "eval_id")
    return (
        # bounded: eval-benchmark shingles — sized by the benchmark suite, not the corpus
        tg.join(F.broadcast(eg), "gram")
        .groupBy("doc_id", "eval_id")
        .agg(F.count("*").alias("shared_grams"))
    )


@register(
    "decontaminate_semantic",
    oracle="""
    WITH pool AS (
      SELECT vec_id AS id, embedding::DOUBLE[] AS v
      FROM embeddings WHERE vec_id < 400),
    evalset AS (SELECT id, v FROM pool WHERE id % 25 = 0),
    trainset AS (
      SELECT id, v FROM pool WHERE id % 25 <> 0
      UNION ALL
      SELECT id + 40000, list_transform(v, x -> x * 1.001) FROM evalset)
    SELECT train_id, eval_id, sim FROM (
      SELECT t.id AS train_id, e.id AS eval_id,
             ROUND(list_cosine_similarity(t.v, e.v), 6) AS sim
      FROM trainset t, evalset e)
    WHERE sim >= 0.98
    """,
)
def decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine decontamination: flag training vectors whose
    cosine against ANY held-out eval vector is >= 0.98 — the semantic
    complement of the 8-gram `decontaminate` (catches paraphrased /
    reformatted contamination that shares no verbatim n-gram, the
    check modern pretraining pipelines run alongside exact-match).
    Contamination is planted in-plan: each eval vector re-enters the
    train split scaled x1.001 (cosine exactly 1) at id + 40000.
    Output: (train_id, eval_id, sim) per contaminated pair.

    Scale shape: the eval set is tiny and FIXED-SIZE relative to a
    100 TB train corpus (benchmarks are thousands of rows, the corpus
    is billions), so the eval side is BROADCAST and the train side
    streams map-only through |eval| codegen'd dot products per row —
    zero shuffle of train data, embarrassingly parallel across
    executors.  The BroadcastNestedLoopJoin this plan shows is the
    bounded-by-construction kind (loop side = the broadcast eval set);
    for eval sets too big to broadcast, swap in the SRP-banded
    candidate join of `dedup_semantic` (operators/dedup.py) — same
    output contract."""
    pool = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 400)
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
    )
    evalset = pool.filter(F.col("vec_id") % 25 == 0)
    planted = evalset.select(
        (F.col("vec_id") + 40000).alias("vec_id"),
        F.transform("v", lambda x: x * F.lit(1.001)).alias("v"),
    )
    trainset = pool.filter(F.col("vec_id") % 25 != 0).unionByName(planted)
    from ..functions.vectors import l2_norm, with_cosine

    ev = evalset.select(
        F.col("vec_id").alias("eval_id"),
        F.col("v").alias("ev"),
        # eval-side norms once per eval vector, not twice per scored
        # pair (r14, with_cosine plan class)
        l2_norm("v").alias("__evn"),
    )
    # train-side norm pre-projected per row; the sim>=0.98 filter gets
    # pushed below the scoring projection (bm25 plan class) but then
    # re-evaluates one dot, not the norms
    train = trainset.select(
        F.col("vec_id").alias("train_id"), "v", l2_norm("v").alias("__tn")
    )
    # bounded: eval-benchmark vectors — sized by the suite, not the corpus
    pairs = train.crossJoin(F.broadcast(ev))
    return (
        with_cosine(pairs, "v", "ev", "sim", norm_a="__tn", norm_b="__evn")
        .select("train_id", "eval_id", F.round("sim", 6).alias("sim"))
        .filter(F.col("sim") >= 0.98)
    )


@register("ann_pq_topk", oracle=_ANN_TOPK_ORACLE)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization top-3 (SURVEY §4.3 memory rung,
    operators/pq.py): sample-trained codebooks -> codegen encode (8
    bytes/vector) -> ADC scoring over (id, codes) only -> exact re-rank
    of the top-100 candidates.  Accuracy-gated like ann_lsh_topk: the
    planted near-copies quantize to (near-)identical codes as the
    query, so they dominate the ADC ranking and survive into the
    refine-100 exact re-rank; the payload is the exact top-3
    (hash-checked) and `recall_ok` guards the encode/ADC/refine chain.
    Codebook internals stay SQL-free; tests additionally gate recall on
    clustered data and exactness at refine >= index size."""
    from ..operators.pq import build_pq, pq_encode, pq_topk

    index, qvec = _planted_query_index(spark, sf_dir)
    books = build_pq(index, m=8, k=16)
    enc = pq_encode(index, books)
    approx = pq_topk(enc, index, books, qvec, k=3, refine=100).select("vec_id")
    return _checked_ann_topk(index, qvec, approx)


@register("ann_ivfpq_topk", oracle=_ANN_TOPK_ORACLE)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composition (operators/pq.py:ivfpq_topk): KMeans cells
    prune the scan to nprobe clusters, PQ-ADC ranks the survivors from
    8-byte codes, exact cosine re-ranks the short list.  The Spark
    answer to FAISS IndexIVFPQ / the reference's HNSW memory-speed
    tradeoff (/root/reference/app/main.py:272-277).  Accuracy-gated
    like ann_pq_topk (planted near-copies cluster AND quantize with the
    query, so cell pruning + ADC + refine must all cooperate to keep
    `recall_ok` true); recall on clustered data gated in
    tests/test_dedup.py."""
    from ..operators.ann import build_ivf, sample_vectors
    from ..operators.pq import build_pq, ivfpq_topk, pq_encode

    # spread=True: the in-plan PQ train + encode is the heaviest per-row
    # map work in the ANN family (measured 3.08 s spread vs 4.35 s not).
    index, qvec = _planted_query_index(spark, sf_dir, spread=True)
    X = sample_vectors(index)  # one pull feeds both trainers
    assigned, centroids = build_ivf(index, n_clusters=8, sample_X=X)
    books = build_pq(index, m=8, k=16, sample_X=X)
    enc = pq_encode(index, books)
    approx = ivfpq_topk(
        assigned, centroids, enc, index, books, qvec, k=3, nprobe=4, refine=100
    ).select("vec_id")
    return _checked_ann_topk(index, qvec, approx)


# sf_dir -> persisted IVF-PQ serving-layout path; the build (k-means +
# PQ training + encode + partitionBy(cluster_id) write) happens ONCE
# per process — a gate/bench warmup pays it — and every subsequent call
# is probe-only, the build-once/serve-many cost model of the
# reference's HNSW index (/root/reference/app/main.py:262-283).
_IVFPQ_SERVING_CACHE: dict[str, str] = {}


def _ensure_ivfpq_serving_index(spark: SparkSession, sf_dir: str):
    """Build-and-persist (first call) or read back (every other call)
    the IVF-PQ serving layout over the planted index — SAME build
    parameters as ann_ivfpq_topk (n_clusters=8, m=8, k=16, one shared
    sample pull), so the two rows differ ONLY in where the build cost
    lives."""
    import os

    from ..operators.ann import build_ivf, sample_vectors
    from ..operators.pq import build_pq, pq_encode, read_ivfpq_index, write_ivfpq_index
    from ..scratch import scratch_path

    key = os.path.abspath(sf_dir)
    if key not in _IVFPQ_SERVING_CACHE:
        index, _ = _planted_query_index(spark, sf_dir)
        X = sample_vectors(index)
        assigned, centroids = build_ivf(index, n_clusters=8, sample_X=X)
        books = build_pq(index, m=8, k=16, sample_X=X)
        enc = pq_encode(index, books)
        path = scratch_path("ivfpq_serving_" + key.replace("/", "_"))
        write_ivfpq_index(assigned, enc, centroids, books, path)
        _IVFPQ_SERVING_CACHE[key] = path
    return read_ivfpq_index(spark, _IVFPQ_SERVING_CACHE[key])


@register("ann_ivfpq_topk_indexed", oracle=_ANN_TOPK_ORACLE)
def ann_ivfpq_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann_ivfpq_topk through the PERSISTED serving index (VERDICT r13
    #2): codebooks + cluster-partitioned code table are built ONCE into
    a parquet layout (operators/pq.py write_ivfpq_index — the
    write_ivf_index physical contract at ~8 bytes/vector) and the
    registered query PROBES it — centroid rank driver-side, literal
    isin() cluster filter pruning the partitioned scan at plan time,
    ADC over probed codes only, exact re-rank of the refine window.
    Same accuracy gate and oracle as ann_ivfpq_topk (the exact top-3
    payload is hash-checked and `recall_ok` guards the probe chain);
    the partition-pruning physical claim is pinned by
    tests/test_ivf_partition_pruning.py::test_ivfpq_serving_layout_*.
    At 100 TB this is the difference between re-training k-means per
    query and reading nprobe/n_clusters of an 8-byte-per-vector
    table."""
    from ..operators.pq import ivfpq_probe

    index, qvec = _planted_query_index(spark, sf_dir)
    codes, centroids, books = _ensure_ivfpq_serving_index(spark, sf_dir)
    approx = ivfpq_probe(
        codes, centroids, index, books, qvec, k=3, nprobe=4, refine=100
    ).select("vec_id")
    return _checked_ann_topk(index, qvec, approx)


def ivfpq_indexed_probe_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT registered — the serving-latency twin of
    ann_ivfpq_topk_indexed, WITHOUT the recall gate's exact brute-force
    side (which scans the full raw-vector table and would mask the
    probe cost the row exists to track).  Times exactly what a
    deployment pays per query: centroid rank (kilobytes, driver-side)
    -> statically-pruned partitioned scan of ~nprobe/n_clusters of the
    8-byte code table -> ADC -> exact re-rank of refine=100 vectors.
    bench.py reports this as `ivfpq_indexed_probe`; compare with
    `ivfpq_topk_op` (process-cached unpartitioned codes) to see the
    file-pruning delta and with the registered `ann_ivfpq_topk` to see
    build-vs-probe decoupling."""
    from ..operators.pq import ivfpq_probe

    index, qvec = _planted_query_index(spark, sf_dir)
    codes, centroids, books = _ensure_ivfpq_serving_index(spark, sf_dir)
    return ivfpq_probe(
        codes, centroids, index, books, qvec, k=3, nprobe=4, refine=100
    )


_IVFPQ_APPEND_CACHE: dict[str, str] = {}


def _ensure_ivfpq_append_index(spark: SparkSession, sf_dir: str):
    """Serving layout trained on the BASE corpus only (NO plants in the
    training set or the initial code table), then the 3 planted
    near-copies APPENDED through operators/pq.py:append_ivfpq_index
    with the frozen codebooks + centroids — the reference's live-index
    add (app/main.py:309-345 add_embeddings).  The exact top-3 the
    recall gate demands live ONLY in the appended segment, so the gate
    certifies the whole append path: encode-with-frozen-codebooks,
    nearest-existing-centroid assignment, and the mode('append')
    partitioned write all have to land for the probe to find them."""
    import os

    from ..operators.ann import build_ivf, sample_vectors
    from ..operators.pq import (
        append_ivfpq_index,
        build_pq,
        pq_encode,
        read_ivfpq_index,
        write_ivfpq_index,
    )
    from ..scratch import scratch_path

    key = os.path.abspath(sf_dir)
    if key not in _IVFPQ_APPEND_CACHE:
        base = _emb_double(spark, sf_dir).filter(F.col("vec_id") != 0)
        X = sample_vectors(base)
        assigned, centroids = build_ivf(base, n_clusters=8, sample_X=X)
        books = build_pq(base, m=8, k=16, sample_X=X)
        enc = pq_encode(base, books)
        path = scratch_path("ivfpq_append_" + key.replace("/", "_"))
        write_ivfpq_index(assigned, enc, centroids, books, path)
        index, _ = _planted_query_index(spark, sf_dir)
        append_ivfpq_index(index.filter(F.col("vec_id") >= _PLANT_BASE), path)
        _IVFPQ_APPEND_CACHE[key] = path
    return read_ivfpq_index(spark, _IVFPQ_APPEND_CACHE[key])


@register("ann_ivfpq_append_probe", oracle=_ANN_TOPK_ORACLE)
def ann_ivfpq_append_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe AFTER an incremental add: the persisted IVF-PQ index is
    built over the base corpus WITHOUT the planted near-copies, the
    plants are then appended with frozen codebooks/centroids
    (append_ivfpq_index — the reference's add_embeddings live-index
    path, /root/reference/app/main.py:309-345), and the standard top-3
    probe must surface them.  Same oracle and recall gate as the ANN
    ladder: the exact top-3 ARE the appended vectors (cosine ~1), so a
    broken encode, a wrong centroid assignment, or an append that
    missed the partitioned layout flips `recall_ok` and hash-fails the
    row.  At 100 TB this is the ingest contract: new data is probeable
    immediately, per-batch cost rides the batch, and the index build is
    never repeated."""
    from ..operators.pq import ivfpq_probe

    index, qvec = _planted_query_index(spark, sf_dir)
    codes, centroids, books = _ensure_ivfpq_append_index(spark, sf_dir)
    approx = ivfpq_probe(
        codes, centroids, index, books, qvec, k=3, nprobe=4, refine=100
    ).select("vec_id")
    return _checked_ann_topk(index, qvec, approx)


_ANN_TOPK_FILTERED_ORACLE = f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    planted AS (
      SELECT CAST({_PLANT_BASE} + g.k AS BIGINT) AS vec_id,
             list_transform((SELECT qv FROM q), x -> x + 0.01 * g.k) AS v
      FROM (SELECT unnest([1, 2, 3]) AS k) g),
    idx AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id <> 0
      UNION ALL
      SELECT vec_id, v FROM planted
      UNION ALL
      -- the decoy: an EXACT copy of the query (cosine 1, beats every
      -- plant) at an id the predicate REJECTS — if the engine's filter
      -- is missing or misplaced the decoy tops the list and the value
      -- hash fails
      SELECT CAST({2 * _PLANT_BASE} AS BIGINT) AS vec_id,
             (SELECT qv FROM q) AS v)
    SELECT vec_id,
           ROUND(list_cosine_similarity(v, (SELECT qv FROM q)), 6) AS score,
           TRUE AS recall_ok
    FROM idx
    WHERE vec_id % 4 <> 0
    ORDER BY list_cosine_similarity(v, (SELECT qv FROM q)) DESC, vec_id
    LIMIT 3
    """


@register("ann_ivf_topk_filtered", oracle=_ANN_TOPK_FILTERED_ORACLE)
def ann_ivf_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-FILTERED ANN — the serving problem every production
    vector store hits (OpenSearch's knn filter, FAISS IDSelector):
    top-3 among vectors satisfying a predicate, served from ONE shared
    IVF index with the predicate applied to the cluster-pruned
    candidates (post-filter), NOT by building a per-predicate index.
    The predicate (vec_id % 4 != 0) keeps all 3 planted near-copies
    (plant ids are _PLANT_BASE+1..3 and 1e9 % 4 == 0, so they sit at
    1,2,3 mod 4) — the exact filtered top-3 is structural, not
    data-luck.  The filter itself is VALUE-checked, not just asserted:
    a decoy EXACT copy of the query (cosine 1.0 — beats every plant)
    is planted at id 2e9, which the predicate rejects; a missing or
    misplaced filter surfaces the decoy in the top-3 on either engine
    side and fails the hash.  Scale shape: same as ann_ivf_topk — the
    predicate rides INTO the pruned scan as a pushable conjunct (at a
    partitioned layout it prunes files alongside the cluster filter);
    nprobe=4 of 8 clusters bounds the scanned fraction."""
    from ..operators.ann import build_ivf, sample_vectors
    from ..operators.pq import _probe_cluster_ids
    from ..operators.retrieval import topk_similar

    index, qvec = _planted_query_index(spark, sf_dir)
    q = _emb_double(spark, sf_dir).filter(F.col("vec_id") == 0)
    decoy = q.select(
        F.lit(2 * _PLANT_BASE).cast("bigint").alias("vec_id"),
        F.col("embedding"),
    )
    full = index.unionByName(decoy)
    pred = (F.col("vec_id") % 4) != 0

    X = sample_vectors(full)
    assigned, centroids = build_ivf(full, n_clusters=8, sample_X=X)
    probe_ids = _probe_cluster_ids(centroids, qvec, nprobe=4)
    cands = assigned.filter(F.col("cluster_id").isin(probe_ids)).filter(pred)
    approx = topk_similar(cands, qvec, k=3).select("vec_id")
    return _checked_ann_topk(full.filter(pred), qvec, approx)


def _srp_key_duck(vexpr: str) -> str:
    """DuckDB 16-bit SRP bucket key of a DOUBLE[] expression: sign bits
    of the literal ±1 projection (semantic.py's _SRP_MAT) over the
    1e-6-quantized vector — integer dot products, so every sign
    decision is exact and engine-identical."""
    return (
        "list_sum(list_transform(range(1, 17), j -> CASE WHEN "
        "list_sum(list_transform(range(1, 65), d -> "
        f"(m.mat[j])[d] * CAST(round(({vexpr})[d] * 1000000) AS BIGINT)"
        ")) >= 0 THEN (CAST(1 AS BIGINT) << (j - 1)) ELSE 0 END))"
    )


def _retrieval_eval_oracle() -> str:
    from .semantic import _SRP_MAT_DUCK

    return f"""
    WITH p0 AS (
      SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pv
      FROM embeddings WHERE vec_id < 8),
    planted AS (
      SELECT CAST({_PLANT_BASE} + p.probe_id * 10 + g.k AS BIGINT) AS vec_id,
             list_transform(p.pv, x -> x + 0.01 * g.k) AS v
      FROM p0 p CROSS JOIN (SELECT unnest([1, 2, 3]) AS k) g),
    idx AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 8
      UNION ALL SELECT vec_id, v FROM planted),
    m AS (SELECT {_SRP_MAT_DUCK} AS mat),
    ik AS (SELECT i.vec_id, i.v, {_srp_key_duck('i.v')} AS key FROM idx i, m),
    pk AS (SELECT p.probe_id, p.pv, {_srp_key_duck('p.pv')} AS key FROM p0 p, m),
    grk AS (
      SELECT p.probe_id, i.vec_id,
             ROW_NUMBER() OVER (PARTITION BY p.probe_id
                 ORDER BY list_cosine_similarity(i.v, p.pv) DESC, i.vec_id) AS rk
      FROM p0 p CROSS JOIN idx i),
    gold AS (SELECT probe_id, vec_id FROM grk WHERE rk <= 3),
    cand AS (
      SELECT pk.probe_id, ik.vec_id,
             list_cosine_similarity(ik.v, pk.pv) AS c
      FROM pk JOIN ik USING (key)),
    ark AS (
      SELECT probe_id, vec_id,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY c DESC, vec_id) AS rk
      FROM cand),
    nc AS (SELECT probe_id, COUNT(*)::BIGINT AS n_candidates
           FROM cand GROUP BY probe_id),
    hit AS (
      SELECT a.probe_id, a.rk
      FROM ark a JOIN gold g ON a.probe_id = g.probe_id AND a.vec_id = g.vec_id
      WHERE a.rk <= 3),
    met AS (
      SELECT probe_id, ROUND(COUNT(*) / 3.0, 6) AS recall_at_3,
             ROUND(1.0 / MIN(rk), 6) AS mrr
      FROM hit GROUP BY probe_id)
    SELECT p.probe_id, COALESCE(n_candidates, 0) AS n_candidates,
           COALESCE(recall_at_3, 0.0) AS recall_at_3,
           COALESCE(mrr, 0.0) AS mrr
    FROM (SELECT probe_id FROM p0) p
    LEFT JOIN nc USING (probe_id) LEFT JOIN met USING (probe_id)
    """


@register("retrieval_eval_srp", oracle=_retrieval_eval_oracle())
def retrieval_eval_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval EVALUATION harness — recall@3 and MRR of an
    approximate retriever against exact gold, per probe, fully
    value-hash-checked.  The evaluated retriever is single-bucket SRP
    retrieval: vectors hash to a 16-bit sign-pattern key under the
    literal ±1 projection shared with `embedding_project_srp`
    (integer-quantized dot products make every sign decision exact in
    both engines, so the approximate path itself is DETERMINISTIC and
    SQL-reproducible — unlike the KMeans-based ann_* rows whose gates
    are accuracy-booleans, every metric digit here is oracle-checked).
    Gold is the exact brute-force top-3 per probe (8 probes, each with
    3 planted near-copies in the index); candidates are index vectors
    in the probe's exact bucket; recall@3 = |approx top-3 ∩ gold|/3,
    MRR = 1/rank of the first gold item in the approx list (0 when the
    bucket misses entirely — an honest miss, reported not hidden).
    The operator a retrieval pipeline runs CONTINUOUSLY in production:
    sample queries, compare the ANN path to brute force, alert on
    recall drift.

    Scale shape: bucketing is map-only (the matrix is a plan
    constant); the candidate join is an equality join on the 16-bit
    key; gold ranking broadcasts the bounded probe set against one
    index scan (kNN shape); metrics are per-probe aggregates over
    ≤ k rows.  Evaluation cost is independent of corpus size except
    the one gold scan — which is the point of sampling probes."""
    from ..functions.vectors import _micro
    from .semantic import _srp_project

    # spread=True: the 16-plane SRP projection over every vector is
    # heavy per-row map work (measured 1.95 s spread vs 3.46 s not).
    emb = _emb_double(spark, sf_dir, spread=True)
    probes_raw = emb.filter(F.col("vec_id") < 8)
    index = emb.filter(F.col("vec_id") >= 8)
    for k in _PLANT_KS:
        index = index.unionByName(
            probes_raw.select(
                (F.lit(_PLANT_BASE) + F.col("vec_id") * 10 + F.lit(k))
                .cast("bigint")
                .alias("vec_id"),
                F.transform("embedding", _shift_by(k)).alias("embedding"),
            )
        )
    # Truncate the 4-branch planted union (r14, same CSE class as
    # _planted_query_index): `index` feeds the gold kNN scan AND the
    # SRP bucketing scan, each of which re-derived the union + planted
    # transform.  SF-bounded table; at corpus scale each consumer's
    # storage scan is the materialization.
    index = index.transform(truncate_plan)
    powers = "array(" + ", ".join(str(1 << j) + "L" for j in range(16)) + ")"

    def srp_key(vcol: str):
        return F.expr(
            f"aggregate(zip_with({_srp_project(_micro(vcol))}, {powers}, "
            "(s, w) -> IF(s >= 0L, w, 0L)), 0L, (k, b) -> k + b)"
        )

    from ..functions.vectors import cosine
    from ..operators.retrieval import knn_join

    probes = probes_raw.select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    gold = knn_join(probes, index, k=3).select("probe_id", "vec_id")
    pk = probes.select(
        "probe_id", "probe_vec", srp_key("probe_vec").alias("key")
    )
    ik = index.select("vec_id", "embedding", srp_key("embedding").alias("key"))
    cand = pk.join(ik, "key").select(
        "probe_id", "vec_id", cosine("embedding", "probe_vec").alias("c")
    )
    # cand feeds BOTH the ranked-hits leg and the per-probe candidate
    # count; without truncation each leg re-runs the SRP bucketing scan
    # over the whole index plus the bucket join.  Bounded: single-bucket
    # collisions for 8 probes (hundreds of rows).
    cand = cand.transform(truncate_plan)
    wrk = Window.partitionBy("probe_id").orderBy(F.desc("c"), F.asc("vec_id"))
    ark = cand.withColumn("rk", F.row_number().over(wrk))
    nc = cand.groupBy("probe_id").agg(F.count("*").alias("n_candidates"))
    hit = (
        ark.filter(F.col("rk") <= 3)
        .join(gold, ["probe_id", "vec_id"])
        .groupBy("probe_id")
        .agg(
            F.round(F.count("*") / 3.0, 6).alias("recall_at_3"),
            F.round(1.0 / F.min("rk"), 6).alias("mrr"),
        )
    )
    return (
        probes.select("probe_id")
        .join(nc, "probe_id", "left")
        .join(hit, "probe_id", "left")
        .select(
            "probe_id",
            F.coalesce(F.col("n_candidates"), F.lit(0)).alias("n_candidates"),
            F.coalesce(F.col("recall_at_3"), F.lit(0.0)).alias("recall_at_3"),
            F.coalesce(F.col("mrr"), F.lit(0.0)).alias("mrr"),
        )
    )


@register(
    "lsh_bucket_stats",
    oracle=f"""{_minhash_bands_sql()},
    occ AS (
      SELECT band, key, COUNT(*)::BIGINT AS sz
      FROM bands GROUP BY band, key)
    SELECT CAST(band AS INT) AS band,
           COUNT(*)::BIGINT AS n_buckets,
           MAX(sz) AS max_occupancy,
           CAST(SUM(sz * (sz - 1) / 2) AS BIGINT) AS candidate_pairs
    FROM occ GROUP BY band
    """,
)
def lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket-occupancy monitor — per band: bucket count, maximum
    occupancy, and the exact candidate-pair volume the band join WOULD
    emit (sum of C(size, 2) over its buckets).  This is the diagnostic
    a 100-TB dedup pipeline runs BEFORE the candidate join: SCALE.md's
    v2-fixture post-mortem showed sign/key-identical vector families
    piling ~200 ids into single buckets and turning the band join into
    a ~3x10^8-row cross product that no key widening could fix — this
    operator surfaces exactly that (max_occupancy and candidate_pairs
    explode while n_buckets stalls) for the cost of one count
    aggregate, so the pipeline can widen keys, pre-block, or cap BEFORE
    paying for the join.  Runs the same portable-hash band table the
    fully-checked dedup_minhash_lsh_portable pipeline uses, over the
    same planted pool, so every stat is value-hash-checked.

    Scale shape: map-only signatures (the shuffle carries one
    (id, band, key) row per band per doc), one (band, key) count agg
    with map-side combine, one 16-group rollup.  Strictly cheaper than
    the join it de-risks, at any scale."""
    from ..operators.dedup import minhash_band_table

    # spread=True: map-only signature build then one agg — the exact
    # shape the scan spread pays for (measured 1.80 s vs 2.38 s not).
    docs = _docs_with_truncated_copies(spark, sf_dir, spread=True)
    bands = minhash_band_table(docs, portable=True)
    occ = bands.groupBy("band", "key").agg(F.count("*").alias("sz"))
    return occ.groupBy(F.col("band").cast("int").alias("band")).agg(
        F.count("*").alias("n_buckets"),
        F.max("sz").alias("max_occupancy"),
        F.sum(F.col("sz") * (F.col("sz") - 1) / 2).cast("long").alias(
            "candidate_pairs"
        ),
    )


_INCR_CAP = 20

# Shared by dedup_incremental (in-plan historical tables) and
# dedup_incremental_indexed (persisted bucketed historical tables):
# identical semantics, identical output, so both hash against this one
# oracle and therefore against each other.
_INCR_ORACLE = f"""
    WITH hist AS (
      SELECT doc_id AS id, {_WORDS} AS ws FROM documents WHERE doc_id < 200),
    newb AS (
      SELECT id + 20000 AS id, ws[1:CAST(ceil(0.8 * len(ws)) AS BIGINT)] AS ws
      FROM hist WHERE id % 8 = 0
      UNION ALL
      SELECT id + 30000, list_transform(ws, w -> 'nw' || w)
      FROM hist WHERE id % 8 = 1),
    hsh0 AS (
      SELECT id, unnest(list_distinct(list_transform(
               range(CAST(greatest(len(ws) - 1, 1) AS BIGINT)),
               i -> array_to_string(ws[i + 1:i + 2], ' ')))) AS shingle
      FROM hist),
    nsh0 AS (
      SELECT id, unnest(list_distinct(list_transform(
               range(CAST(greatest(len(ws) - 1, 1) AS BIGINT)),
               i -> array_to_string(ws[i + 1:i + 2], ' ')))) AS shingle
      FROM newb),
    hot AS (SELECT shingle FROM hsh0 GROUP BY shingle
            HAVING COUNT(*) > {_INCR_CAP}),
    hsh AS (SELECT h.* FROM hsh0 h LEFT JOIN hot USING (shingle)
            WHERE hot.shingle IS NULL),
    nsh AS (SELECT n.* FROM nsh0 n LEFT JOIN hot USING (shingle)
            WHERE hot.shingle IS NULL),
    hsz AS (SELECT id, COUNT(*)::BIGINT AS n FROM hsh GROUP BY id),
    nsz AS (SELECT id, COUNT(*)::BIGINT AS n FROM nsh GROUP BY id),
    inter AS (
      SELECT n.id AS new_id, h.id AS hist_id, COUNT(*)::BIGINT AS i
      FROM nsh n JOIN hsh h ON n.shingle = h.shingle
      GROUP BY 1, 2),
    dups AS (
      SELECT new_id, hist_id
      FROM inter JOIN nsz ON nsz.id = inter.new_id
      JOIN hsz ON hsz.id = inter.hist_id
      WHERE 2 * i >= nsz.n + hsz.n - i),
    rollup_ AS (
      SELECT new_id, COUNT(*)::BIGINT AS n_matches,
             MIN(hist_id) AS matched_hist
      FROM dups GROUP BY new_id)
    SELECT b.id AS new_id,
           r.new_id IS NOT NULL AS is_dup,
           COALESCE(r.n_matches, 0) AS n_matches,
           r.matched_hist
    FROM newb b LEFT JOIN rollup_ r ON r.new_id = b.id
    """


def _incr_hist_newb(spark: SparkSession, sf_dir: str):
    """(historical corpus, planted NEW batch) for the incremental-dedup
    pair: 80%-prefix copies of every 8th historical doc (must flag as
    dups) and 'nw'-prefixed variants of every 8th+1 doc (share no
    shingles — must pass as new)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    hist = docs.select(
        F.col("doc_id").alias("id"), words_of("text").alias("ws")
    )
    keep = F.ceil(F.size("ws") * 0.8).cast("int")
    newb = hist.filter(F.col("id") % 8 == 0).select(
        (F.col("id") + 20000).alias("id"), F.slice("ws", 1, keep).alias("ws")
    ).unionByName(
        hist.filter(F.col("id") % 8 == 1).select(
            (F.col("id") + 30000).alias("id"),
            F.transform("ws", lambda w: F.concat(F.lit("nw"), w)).alias("ws"),
        )
    )
    return hist, newb


def _bigram_rows(df: DataFrame) -> DataFrame:
    """(id, ws) -> one row per distinct word-bigram shingle."""
    count = F.greatest(F.lit(1), F.size("ws") - 1)
    sh = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), count - 1),
            lambda i: F.array_join(F.slice("ws", i + 1, 2), " "),
        )
    )
    return df.select("id", F.explode(sh).alias("shingle"))


def _incr_probe(
    newb: DataFrame, hsh: DataFrame, hsz: DataFrame, hot: DataFrame
) -> DataFrame:
    """The daily probe: new-batch shingles vs a historical shingle index
    (hsh: hot-capped (id, shingle); hsz: per-doc capped sizes (id, nh);
    hot: over-cap stop-shingles).  Integer Jaccard >= 0.5 via
    2i >= nn + nh - i; output one verdict row per new doc."""
    nsh0 = _bigram_rows(newb)
    nsh = nsh0.join(hot, "shingle", "left_anti")
    nsz = nsh.groupBy("id").agg(F.count("*").alias("nn"))
    inter = (
        nsh.select(F.col("id").alias("new_id"), "shingle")
        .join(hsh.select(F.col("id").alias("hist_id"), "shingle"), "shingle")
        .groupBy("new_id", "hist_id")
        .agg(F.count("*").alias("i"))
    )
    dups = (
        inter.join(nsz.select(F.col("id").alias("new_id"), "nn"), "new_id")
        .join(hsz.select(F.col("id").alias("hist_id"), "nh"), "hist_id")
        .filter(2 * F.col("i") >= F.col("nn") + F.col("nh") - F.col("i"))
    )
    roll = dups.groupBy("new_id").agg(
        F.count("*").alias("n_matches"),
        F.min("hist_id").alias("matched_hist"),
    )
    return (
        newb.select(F.col("id").alias("new_id"))
        .join(roll, "new_id", "left")
        .select(
            "new_id",
            F.col("n_matches").isNotNull().alias("is_dup"),
            F.coalesce("n_matches", F.lit(0)).cast("long").alias("n_matches"),
            "matched_hist",
        )
    )


@register("dedup_incremental", oracle=_INCR_ORACLE)
@fmt_doc(cap=_INCR_CAP)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental deduplication — the daily-crawl shape: a NEW batch is
    checked against the HISTORICAL corpus only (never against itself,
    never historical-vs-historical), via an asymmetric shingle-keyed
    join + exact word-bigram Jaccard >= 0.5.  The batch is planted
    in-plan: 80%-prefix copies of every 8th historical doc (must flag
    as dups with their source as the match) and 'nw'-prefixed variants
    of every 8th+1 doc (share no shingles — must pass as new).  The
    Jaccard threshold is the INTEGER comparison 2i >= nA + nH - i, so
    no float boundary exists anywhere in the decision.

    Scale shape: this is the operator that makes dedup affordable as a
    RECURRING job — cost is keyed by the increment: the new batch's
    shingles join against the (pre-computable, re-usable) historical
    shingle table, so each day pays O(increment x matches), not
    O(corpus^2); the historical-df cap (> {cap} docs) is the same
    boilerplate skew valve as dedup_jaccard_capped, computed on the
    historical side where the hot keys live.  The hot-set anti joins
    are UN-HINTED (the jaccard_pairs rule: never force a broadcast on a
    data-dependent-size side — the number of over-cap shingles is
    bounded only by total-shingles/cap, which at 100 TB can exceed
    executor memory); AQE broadcasts when the set is actually small.
    At 100 TB the historical shingle table is a bucketed layout the
    daily join co-partitions against (see dedup_incremental_indexed for
    the persisted-index twin)."""
    from ..operators.shingle_index import build_shingle_index

    hist, newb = _incr_hist_newb(spark, sf_dir)
    hsh, hsz, hot = build_shingle_index(_bigram_rows(hist), cap=_INCR_CAP)
    return _incr_probe(newb, hsh, hsz, hot)


# sf_dir -> persisted shingle-index table names; the index build +
# bucketed write happen once per process (gate/bench warmup pays them),
# so repeated probes measure ONLY the daily read path — exactly how the
# index amortizes in production.
_SHINGLE_IDX_CACHE: dict[str, tuple[str, str, str]] = {}


def _ensure_shingle_index(spark: SparkSession, sf_dir: str):
    import os

    from ..operators.shingle_index import write_shingle_index

    key = os.path.abspath(sf_dir)
    if key not in _SHINGLE_IDX_CACHE:
        hist, _ = _incr_hist_newb(spark, sf_dir)
        _SHINGLE_IDX_CACHE[key] = write_shingle_index(
            spark, _bigram_rows(hist), cap=_INCR_CAP, key=key
        )
    return _SHINGLE_IDX_CACHE[key]


@register("dedup_incremental_indexed", oracle=_INCR_ORACLE)
@fmt_doc(cap=_INCR_CAP)
def dedup_incremental_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_incremental probed through the PERSISTED bucketed
    historical shingle index (VERDICT r11 #2): the docstring promise
    'at 100 TB the historical shingle table is a bucketed layout the
    daily join co-partitions against' made physical.
    `write_shingle_index` (operators/shingle_index.py) computes the
    hot-capped (id, shingle) table ONCE, writes it
    `bucketBy(shingle)` + sortBy alongside the per-doc size and
    stop-shingle tables, and every daily batch thereafter probes the
    read-back layout: the shingle equi-join reads the historical side
    straight from its buckets with NO Exchange (only the
    increment-sized new side shuffles to match) — pytest-pinned in
    tests/test_scale_shapes.py.  Same oracle as dedup_incremental, so
    the persisted round-trip (bucket layout, table types, hot-cap
    semantics) value-hash-matches the in-plan twin inside the full
    gate.

    Scale shape: the index is built once per corpus epoch and
    amortized over every daily increment; a probe pays
    O(increment shingles + matched buckets), never a historical-side
    shuffle.  The historical-df cap (> {cap} docs) is baked into the
    persisted tables, so the probe inherits the skew valve for free."""
    from ..operators.shingle_index import read_shingle_index

    names = _ensure_shingle_index(spark, sf_dir)
    hsh, hsz, hot = read_shingle_index(spark, names)
    _, newb = _incr_hist_newb(spark, sf_dir)
    return _incr_probe(newb, hsh, hsz, hot)


@register(
    "neardup_keep_longest",
    oracle=f"""
    WITH RECURSIVE
    base AS (
      SELECT doc_id AS id, {_WORDS} AS ws FROM documents WHERE doc_id < 100),
    alldocs AS (
      SELECT id, ws FROM base
      UNION ALL
      SELECT id + 10000, ws[1:CAST(ceil(0.8 * len(ws)) AS BIGINT)] FROM base
      UNION ALL
      SELECT id + 20000,
             ws[1:CAST(ceil(0.8 * ceil(0.8 * len(ws))) AS BIGINT)] FROM base),
    sh AS (
      SELECT id, unnest(list_distinct(list_transform(
               range(CAST(greatest(len(ws) - 1, 1) AS BIGINT)),
               i -> array_to_string(ws[i + 1:i + 2], ' ')))) AS shingle
      FROM alldocs),
    sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
    edges AS (
      SELECT id_a, id_b FROM (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY 1, 2) e
      JOIN sizes sa ON sa.id = e.id_a
      JOIN sizes sb ON sb.id = e.id_b
      WHERE ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.7),
    sym AS (
      SELECT id_a AS s, id_b AS d FROM edges
      UNION SELECT id_b, id_a FROM edges),
    reach AS (
      SELECT id AS node, id AS r FROM alldocs
      UNION
      SELECT sym.d, reach.r FROM reach JOIN sym ON sym.s = reach.node),
    comp AS (SELECT node AS doc_id, MIN(r) AS component FROM reach GROUP BY node),
    wc AS (SELECT id AS doc_id, CAST(len(ws) AS BIGINT) AS n_words FROM alldocs)
    SELECT c.doc_id, c.component, w.n_words,
           ROW_NUMBER() OVER (PARTITION BY c.component
                              ORDER BY w.n_words DESC, c.doc_id) = 1 AS keep
    FROM comp c JOIN wc w ON w.doc_id = c.doc_id
    """,
)
def neardup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation POLICY on top of dedup_cluster's groups: within each
    near-dup connected component, KEEP the longest member (word count,
    tiebreak min id) and drop the rest — the RefinedWeb/Gopher choice
    (the longest member is usually the superset the truncated variants
    were cut from), versus training_data_prep_neardup's keep-min-id.
    On the planted A / A80 / A64 generations the kept doc is provably
    the original A in every 3-member cluster.

    Scale shape: identical cluster machinery to dedup_cluster (shingle
    equi-join edges, checkpointed, alternating-star CC), plus one
    word-count projection and ONE window partitioned by component —
    components are near-dup families (small by construction; a huge
    component means your threshold is wrong, which lsh_bucket_stats
    flags first), so the rank window never sees a heavy partition."""
    from ..operators.graph import connected_components

    base = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", "text")
    )
    v1 = _trunc_80(base)
    v2 = _trunc_80(v1)
    # The 3-branch union concatenates each branch's scan-spread
    # partitioning (3 x 20 at sf0.1) for a 300-row pool whose per-row
    # work is light (bigram shingles + xxhash, no md5 ladder), so the
    # CC loop's many stages paid ~60 task schedulings each for nothing
    # (bench 2.0 -> 5.6 s when the spread first landed).  Narrow
    # coalesce — no shuffle — restores a work-proportionate width.
    pool = base.unionByName(v1).unionByName(v2).coalesce(4)
    edges = jaccard_pairs(pool, threshold=0.7, n=2)
    edges = edges.select("id_a", "id_b").transform(truncate_eager)
    cc = connected_components(edges, nodes=pool.select("doc_id"))
    wc = pool.select(
        "doc_id", F.size(words_of("text")).cast("long").alias("n_words")
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("n_words"), F.asc("doc_id")
    )
    return (
        cc.select(F.col("node").alias("doc_id"), "component")
        .join(wc, "doc_id")
        .select(
            "doc_id",
            "component",
            "n_words",
            (F.row_number().over(w) == 1).alias("keep"),
        )
    )


@register(
    "dup_cluster_stats",
    oracle=f"""
    WITH RECURSIVE
    base AS (
      SELECT doc_id AS id, {_WORDS} AS ws FROM documents WHERE doc_id < 100),
    alldocs AS (
      SELECT id, ws FROM base
      UNION ALL
      SELECT id + 10000, ws[1:CAST(ceil(0.8 * len(ws)) AS BIGINT)] FROM base
      UNION ALL
      SELECT id + 20000,
             ws[1:CAST(ceil(0.8 * ceil(0.8 * len(ws))) AS BIGINT)] FROM base),
    sh AS (
      SELECT id, unnest(list_distinct(list_transform(
               range(CAST(greatest(len(ws) - 1, 1) AS BIGINT)),
               i -> array_to_string(ws[i + 1:i + 2], ' ')))) AS shingle
      FROM alldocs),
    sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
    edges AS (
      SELECT id_a, id_b FROM (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY 1, 2) e
      JOIN sizes sa ON sa.id = e.id_a
      JOIN sizes sb ON sb.id = e.id_b
      WHERE ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.7),
    sym AS (
      SELECT id_a AS s, id_b AS d FROM edges
      UNION SELECT id_b, id_a FROM edges),
    reach AS (
      SELECT id AS node, id AS r FROM alldocs
      UNION
      SELECT sym.d, reach.r FROM reach JOIN sym ON sym.s = reach.node),
    comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
    csz AS (SELECT component, COUNT(*)::BIGINT AS cluster_size
            FROM comp GROUP BY component)
    SELECT cluster_size,
           COUNT(*)::BIGINT AS n_clusters,
           MIN(component) AS min_component
    FROM csz GROUP BY cluster_size
    """,
)
def dup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The post-clustering monitor (the CC-side sibling of
    lsh_bucket_stats' pre-join check): the histogram of duplicate-
    cluster SIZES plus an example component per size.  The number a
    dedup operator reads before trusting its own output — a fat tail
    (one giant component) means the similarity threshold or banding is
    wrong and the keep-one-per-cluster step is about to delete half
    the corpus; on the planted A/A80/A64 generations the histogram is
    exactly {{3: 100}}.

    Scale shape: two combining aggregates over the component labels —
    strictly cheaper than the CC that produced them; never touches
    text."""
    from ..operators.graph import connected_components

    base = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", "text")
    )
    v1 = _trunc_80(base)
    v2 = _trunc_80(v1)
    # The 3-branch union concatenates each branch's scan-spread
    # partitioning (3 x 20 at sf0.1) for a 300-row pool whose per-row
    # work is light (bigram shingles + xxhash, no md5 ladder), so the
    # CC loop's many stages paid ~60 task schedulings each for nothing
    # (bench 2.0 -> 5.6 s when the spread first landed).  Narrow
    # coalesce — no shuffle — restores a work-proportionate width.
    pool = base.unionByName(v1).unionByName(v2).coalesce(4)
    edges = jaccard_pairs(pool, threshold=0.7, n=2)
    edges = edges.select("id_a", "id_b").transform(truncate_eager)
    cc = connected_components(edges, nodes=pool.select("doc_id"))
    csz = cc.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return csz.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"),
        F.min("component").alias("min_component"),
    )


@register(
    "dedup_eval_lsh",
    oracle=f"""{_minhash_bands_sql()},
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.id < b.id),
    shm AS (SELECT id, md5(shingle) AS m FROM sh0),
    shv AS (SELECT id,
                   CAST({_md5_poly(1)} AS HUGEINT) * 4294967296
                     + ({_md5_poly(9)}) AS h
            FROM shm),
    shh AS (SELECT id, {_SIGNED64} AS sh FROM shv),
    sizes AS (SELECT id, COUNT(*) AS ns FROM shh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
      FROM shh a JOIN shh b ON a.sh = b.sh AND a.id < b.id
      GROUP BY 1, 2),
    truth AS (
      SELECT inter.id_a, inter.id_b
      FROM inter
      JOIN sizes sa ON sa.id = inter.id_a
      JOIN sizes sb ON sb.id = inter.id_b
      WHERE 2 * i >= sa.ns + sb.ns - i),
    tp AS (SELECT COUNT(*)::BIGINT AS c
           FROM truth JOIN cand USING (id_a, id_b)),
    nt AS (SELECT COUNT(*)::BIGINT AS c FROM truth),
    nc AS (SELECT COUNT(*)::BIGINT AS c FROM cand)
    SELECT nt.c AS n_truth, nc.c AS n_candidates, tp.c AS true_positives,
           tp.c * 1000 // nt.c AS recall_milli,
           tp.c * 1000 // nc.c AS precision_milli
    FROM nt, nc, tp
    """,
)
def dedup_eval_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED recall AND candidate precision of the MinHash-LSH
    sketch against exact-Jaccard ground truth — the dedup family's
    analog of the ANN ladder's retrieval_eval_srp: not a boolean
    recall_ok gate (dedup_minhash_lsh already carries one) but the
    full confusion counts an operator of a 100-TB dedup run publishes
    before committing to a (num_perm, n_bands) configuration.  Ground
    truth: ALL pairs at word-bigram Jaccard >= 0.5 over documents[:100]
    plus 80%-prefix copies, decided by the integer rule
    2*inter >= nA+nB-inter (no float boundary).  Candidates: the
    portable-hash 64-perm/16-band table BEFORE the confirm step, so
    the numbers measure the SKETCH itself (banding theory at s=0.8:
    detect p ~ 1-(1-s^4)^16 ~ 0.9998; candidate precision is what the
    confirm join must pay for).  Everything derives from md5 hashes
    both engines share; the oracle recomputes signatures, bands,
    candidates, truth, and the three counts bit-for-bit.

    Scale shape: the truth side's shared-shingle self-join is the only
    quadratic-risk stage and exists ONLY in this eval (production uses
    the banded path it certifies); run it on a sampled slice — the
    registered demo caps the pool at 100 docs the same way
    lsh_bucket_stats' monitor bounds its probe.  One final 3-way
    cross of 1-row aggregates; no collect."""
    from ..operators.dedup import minhash_band_table, shingle_table

    pool = _docs_with_truncated_copies(spark, sf_dir)
    bt = minhash_band_table(pool, num_perm=64, n_bands=16, n=2, portable=True)
    # Truncate the two shared tiny tables: bt feeds BOTH sides of the
    # self-join (without the checkpoint AQE shares its signature
    # exchange, one job fewer, but each side re-runs the final
    # aggregate and band Generate: measured slower, as in
    # minhash_lsh_pairs) and sh feeds ea/eb/sizes (three shingle
    # derivations); downstream, truth/cand each feed multiple 1-row
    # aggregates.  The pool is capped at ~200 rows, so materializing is
    # microseconds while the saved re-derivations dominate the query's
    # cost.
    bt = bt.transform(truncate_plan)
    a, b = bt.alias("a"), bt.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
        .transform(truncate_plan)
    )
    from ..operators.simhash import portable_word_hash_sql

    sh = (
        shingle_table(pool, n=2)
        .selectExpr("id", f"{portable_word_hash_sql('shingle')} AS sh")
        .transform(truncate_plan)
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("ns"))
    ea = sh.select(F.col("id").alias("id_a"), "sh")
    eb = sh.select(F.col("id").alias("id_b"), "sh")
    inter = (
        ea.join(eb, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("i"))
    )
    truth = (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("ns").alias("na")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("ns").alias("nb")), "id_b")
        .filter(2 * F.col("i") >= F.col("na") + F.col("nb") - F.col("i"))
        .select("id_a", "id_b")
        .transform(truncate_plan)
    )
    tp = truth.join(cand, ["id_a", "id_b"]).agg(
        F.count("*").alias("c")
    )
    nt = truth.agg(F.count("*").alias("c"))
    nc = cand.agg(F.count("*").alias("c"))
    j = (
        nt.select(F.col("c").alias("n_truth"))
        # bounded: 1-row candidate-count aggregate
        .crossJoin(F.broadcast(nc.select(F.col("c").alias("n_candidates"))))
        # bounded: 1-row true-positive-count aggregate
        .crossJoin(F.broadcast(tp.select(F.col("c").alias("true_positives"))))
    )
    return j.select(
        "n_truth",
        "n_candidates",
        "true_positives",
        F.expr("true_positives * 1000 DIV n_truth").alias("recall_milli"),
        F.expr("true_positives * 1000 DIV n_candidates").alias("precision_milli"),
    )


def _banding_theory_milli(r: int, b: int, s: float = 0.8) -> int:
    """floor(1000 * P(detect)) under classic LSH banding theory
    (Leskovec/Rajaraman/Ullman, Mining of Massive Datasets ch.3):
    P(candidate | Jaccard s) = 1 - (1 - s^r)^b for b bands of r rows.
    Evaluated at the plant's DESIGN similarity s=0.8 (an 80%-prefix
    copy), in Python at registration time and inlined as a literal in
    BOTH engines — so no cross-engine pow() ulp can move the hash."""
    return int(1000 * (1 - (1 - s**r) ** b))


_SWEEP_BANDS = (8, 16, 32)  # r = 8 / 4 / 2 rows per band over 64 perms


def _eval_sweep_oracle(num_perm: int = 64) -> str:
    """Generate the DuckDB twin of dedup_eval_sweep: ONE materialized
    signature table (the 64 per-doc minhash slots) and ONE materialized
    exact-Jaccard truth set, then per banding config a band table,
    candidate join, and confusion-count row.  AS MATERIALIZED is
    load-bearing: sig is referenced by 8+16+32 band-table legs and
    inlining would recompute the shingle/hash pipeline 56x (the same
    re-expansion class the generated BPE oracle documents)."""
    mins = ",\n           ".join(
        f"MIN(CASE WHEN i = {i} THEN s END) AS mh_{i}" for i in range(num_perm)
    )
    parts = [
        f"""
    WITH base AS (
      SELECT doc_id AS id, {_WORDS} AS ws FROM documents WHERE doc_id < 100),
    alldocs AS (
      SELECT id, ws FROM base
      UNION ALL
      SELECT id + 10000, ws[1:CAST(ceil(0.8 * len(ws)) AS BIGINT)] FROM base),
    sh0 AS (
      SELECT id, unnest(list_distinct(list_transform(
               range(CAST(greatest(len(ws) - 1, 1) AS BIGINT)),
               i -> array_to_string(ws[i + 1:i + 2], ' ')))) AS shingle
      FROM alldocs),
    hm AS (
      SELECT id, i, md5(CAST(i AS VARCHAR) || '|' || shingle) AS m
      FROM (SELECT id, shingle, unnest(range({num_perm})) AS i FROM sh0)),
    hv AS (SELECT id, i,
                  CAST({_md5_poly(1)} AS HUGEINT) * 4294967296
                    + ({_md5_poly(9)}) AS h
           FROM hm),
    hs AS (SELECT id, i, {_SIGNED64} AS s FROM hv),
    sig AS MATERIALIZED (SELECT id, {mins}
                         FROM hs GROUP BY id),
    shm AS (SELECT id, md5(shingle) AS m FROM sh0),
    shv AS (SELECT id,
                   CAST({_md5_poly(1)} AS HUGEINT) * 4294967296
                     + ({_md5_poly(9)}) AS h
            FROM shm),
    shh AS (SELECT id, {_SIGNED64} AS sh FROM shv),
    sizes AS (SELECT id, COUNT(*) AS ns FROM shh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
      FROM shh a JOIN shh b ON a.sh = b.sh AND a.id < b.id
      GROUP BY 1, 2),
    truth AS MATERIALIZED (
      SELECT inter.id_a, inter.id_b
      FROM inter
      JOIN sizes sa ON sa.id = inter.id_a
      JOIN sizes sb ON sb.id = inter.id_b
      WHERE 2 * i >= sa.ns + sb.ns - i)"""
    ]
    legs = []
    for nb in _SWEEP_BANDS:
        r = num_perm // nb
        band_rows = "\n      UNION ALL ".join(
            "SELECT id, {b} AS band, {key} AS key FROM sig".format(
                b=b,
                key=" || ',' || ".join(
                    f"CAST(mh_{b * r + j} AS VARCHAR)" for j in range(r)
                ),
            )
            for b in range(nb)
        )
        parts.append(
            f""",
    bands{nb} AS MATERIALIZED (
      {band_rows}),
    cand{nb} AS MATERIALIZED (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bands{nb} a JOIN bands{nb} b
        ON a.band = b.band AND a.key = b.key AND a.id < b.id)"""
        )
        legs.append(
            f"""
    SELECT CAST({nb} AS INT) AS n_bands, CAST({r} AS INT) AS rows_per_band,
           n_truth, n_candidates, true_positives,
           true_positives * 1000 // n_truth AS recall_milli,
           true_positives * 1000 // n_candidates AS precision_milli,
           CAST({_banding_theory_milli(r, nb)} AS INT) AS theory_recall_milli
    FROM (
      SELECT (SELECT COUNT(*)::BIGINT FROM truth) AS n_truth,
             (SELECT COUNT(*)::BIGINT FROM cand{nb}) AS n_candidates,
             (SELECT COUNT(*)::BIGINT
              FROM truth t JOIN cand{nb} c USING (id_a, id_b))
               AS true_positives) s{nb}"""
        )
    return "".join(parts) + "\n" + "\n    UNION ALL".join(legs)


@register("dedup_eval_sweep", oracle=_eval_sweep_oracle())
def dedup_eval_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding-config SWEEP for the MinHash sketch (VERDICT r12 #5):
    dedup_eval_lsh certifies ONE (num_perm=64, n_bands=16) point; the
    operator a 100-TB dedup run needs compares candidate recall AND
    precision across configs in one pass before committing — banding
    theory trades them monotonically (more bands of fewer rows = higher
    recall, fatter candidate list for the confirm join to pay for).
    This sweep shares ONE signature table (the 64 portable-hash minhash
    slots, computed once and checkpointed) and ONE exact-Jaccard truth
    set across n_bands in {8, 16, 32} (r = 8/4/2), and emits one
    confusion-count row per config plus the closed-form
    `theory_recall_milli` = floor(1000*(1-(1-s^r)^b)) at the plant's
    design similarity s=0.8 — so the measured-vs-theory gap is itself
    value-hash-checked (measured recall runs ABOVE the s=0.8 theory
    row when the truth set's similarity mass sits above 0.8, below it
    when banding luck misses borderline pairs).  The theory constants
    are computed in Python at registration time and inlined as
    literals in BOTH engines, so no cross-engine pow() ulp can move
    the hash.

    Scale shape: signatures are ONE map-side-combined agg over the
    shingle table, shared by all configs (the checkpoint is the
    operator's honest cost statement: a production sweep persists the
    signature table once — num_perm longs per doc — and each config
    re-bands it with zero re-hashing; band tables and candidate joins
    are the same bounded equality joins the production path runs).
    The exact-truth self-join is the eval-only quadratic-risk stage,
    pool-capped at 100 docs exactly like dedup_eval_lsh."""
    from functools import reduce

    from ..operators.dedup import shingle_table
    from ..operators.simhash import portable_word_hash_sql

    num_perm = 64
    pool = _docs_with_truncated_copies(spark, sf_dir)
    sh = shingle_table(pool, n=2)
    slot = "concat('{}|', shingle)".format
    perm = [
        F.expr(f"min({portable_word_hash_sql(slot(i))}) AS mh_{i}") for i in range(num_perm)
    ]
    # tiny (200 rows x 65 cols); checkpointing makes the sharing real —
    # three band tables derive from ONE computed signature relation
    sig = sh.groupBy("id").agg(*perm).transform(truncate_eager)

    shp = sh.selectExpr("id", f"{portable_word_hash_sql('shingle')} AS sh")
    sizes = shp.groupBy("id").agg(F.count("*").alias("ns"))
    ea = shp.select(F.col("id").alias("id_a"), "sh")
    eb = shp.select(F.col("id").alias("id_b"), "sh")
    inter = (
        ea.join(eb, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("i"))
    )
    truth = (
        inter.join(
            sizes.select(F.col("id").alias("id_a"), F.col("ns").alias("na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("id").alias("id_b"), F.col("ns").alias("nb")),
            "id_b",
        )
        .filter(2 * F.col("i") >= F.col("na") + F.col("nb") - F.col("i"))
        .select("id_a", "id_b")
        .transform(truncate_eager)  # shared by every config's tp join
    )
    nt = truth.agg(F.count("*").alias("n_truth"))

    legs = []
    for nb in _SWEEP_BANDS:
        r = num_perm // nb
        key_of = lambda b: F.concat_ws(  # noqa: E731
            ",", *[F.col(f"mh_{b * r + j}").cast("string") for j in range(r)]
        )
        bands = F.array(
            *[
                F.struct(F.lit(b).alias("band"), key_of(b).alias("key"))
                for b in range(nb)
            ]
        )
        bt = sig.select("id", F.explode(bands).alias("bb")).select(
            "id", F.col("bb.band").alias("band"), F.col("bb.key").alias("key")
        )
        a, b = bt.alias("a"), bt.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.key") == F.col("b.key"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
        nc = cand.agg(F.count("*").alias("n_candidates"))
        tp = truth.join(cand, ["id_a", "id_b"]).agg(
            F.count("*").alias("true_positives")
        )
        legs.append(
            nt
            # bounded: 1-row candidate-count aggregate
            .crossJoin(F.broadcast(nc))
            # bounded: 1-row true-positive-count aggregate
            .crossJoin(F.broadcast(tp))
            .select(
                F.lit(nb).cast("int").alias("n_bands"),
                F.lit(r).cast("int").alias("rows_per_band"),
                "n_truth",
                "n_candidates",
                "true_positives",
                F.expr("true_positives * 1000 DIV n_truth").alias(
                    "recall_milli"
                ),
                F.expr("true_positives * 1000 DIV n_candidates").alias(
                    "precision_milli"
                ),
                F.lit(_banding_theory_milli(num_perm // nb, nb))
                .cast("int")
                .alias("theory_recall_milli"),
            )
        )
    return reduce(lambda x, y: x.unionByName(y), legs)


_SEMDEDUP_CAP = 500  # demo pool bound (oracle tractability; the block
# join itself is uncapped and its cost is sum of per-cluster sizes^2)


@register(
    "dedup_semdedup_clustered",
    oracle=f"""
    WITH RECURSIVE
    base AS (
      SELECT vec_id AS id, CAST(label AS INT) AS label,
             embedding::DOUBLE[] AS v
      FROM embeddings WHERE vec_id < {_SEMDEDUP_CAP}),
    alle AS (
      SELECT id, label, v FROM base
      UNION ALL
      SELECT id + 10000, label, list_concat([v[1] + 0.1], v[2:]) FROM base),
    expl AS (
      SELECT label, generate_subscripts(v, 1) AS dim,
             CAST(round(unnest(v) * 1000000) AS BIGINT) AS m
      FROM alle),
    cent0 AS (SELECT label, dim, SUM(m) AS s FROM expl GROUP BY label, dim),
    cent AS (SELECT label, list(CAST(s AS DOUBLE) ORDER BY dim) AS c
             FROM cent0 GROUP BY label),
    edges AS (
      SELECT id_a, id_b FROM (
        SELECT a.id AS id_a, b.id AS id_b,
               ROUND(list_cosine_similarity(a.v, b.v), 6) AS sim
        FROM alle a JOIN alle b ON a.label = b.label AND a.id < b.id)
      WHERE sim >= 0.98),
    sym AS (
      SELECT id_a AS s, id_b AS d FROM edges
      UNION SELECT id_b, id_a FROM edges),
    reach AS (
      SELECT id AS node, id AS r FROM alle
      UNION
      SELECT sym.d, reach.r FROM reach JOIN sym ON sym.s = reach.node),
    comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
    scored AS (
      SELECT alle.id AS vec_id, alle.label, comp.component,
             ROUND(list_cosine_similarity(alle.v, cent.c), 6) AS cent_sim
      FROM alle
      JOIN comp ON comp.node = alle.id
      JOIN cent ON cent.label = alle.label)
    SELECT vec_id, label, component, cent_sim,
           (ROW_NUMBER() OVER (PARTITION BY component
                               ORDER BY cent_sim ASC, vec_id ASC) = 1) AS keep
    FROM scored
    """,
)
def dedup_semdedup_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-confined semantic dedup with the centroid keep-rule —
    the full SemDeDup recipe (Abbas et al. 2023 §3): k-means first,
    pairwise cosine ONLY within each cluster (here the fixture's
    precomputed `label` plays the cluster id, so the whole pipeline is
    value-hash-checked end to end — the kmeans-built variant of the
    same confinement is the accuracy-gated IVF path), near-dup groups
    by connected components, and per group KEEP THE EXAMPLE LEAST
    SIMILAR TO ITS CLUSTER CENTROID (SemDeDup keeps low-centroid-
    similarity representatives to preserve diversity; ties break by
    id).  dedup_semantic is the LSH-banded sibling with keep-min-id;
    this one registers the operator's `block_col` mode, which existed
    unexercised.  Centroids are component-wise SUMS of micro-quantized
    coordinates (exact BIGINTs — cosine is scale-invariant, so the
    sum IS the centroid direction and no float division enters);
    per-vector centroid similarity is emitted, so the keep-rule's
    input is itself hash-checked.

    Scale shape: the pair join is an equality join on the cluster id —
    candidate volume is sum of per-cluster sizes squared, the quantity
    SemDeDup's clustering exists to bound (nlist ~ n/target at 100 TB;
    the demo caps the pool at {_SEMDEDUP_CAP} for oracle tractability
    but the block join itself is uncapped).  Centroids are one
    map-side-combined agg over (label, dim) micro rows; the broadcast
    is bounded by the cluster count, not the corpus."""
    from ..functions.vectors import cosine
    from ..operators.dedup import embedding_near_dups
    from ..operators.graph import connected_components

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _SEMDEDUP_CAP
    )
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    base = emb.select(
        "vec_id",
        F.col("label").cast("int").alias("label"),
        as_double.alias("embedding"),
    )
    variants = base.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        "label",
        F.concat(
            F.array(F.element_at("embedding", 1) + F.lit(0.1)),
            F.slice("embedding", 2, 10_000_000),
        ).alias("embedding"),
    )
    pool = base.unionByName(variants)
    pairs = embedding_near_dups(pool, threshold=0.98, block_col="label")
    # eager checkpoint: connected_components consumes its edge input
    # more than once (same rationale as dedup_semantic)
    pairs = pairs.select("id_a", "id_b").transform(truncate_eager)
    cc = connected_components(pairs, nodes=pool.select("vec_id"))
    cent = (
        pool.select(
            "label",
            F.posexplode(
                F.transform(
                    "embedding", lambda x: F.round(x * 1000000).cast("long")
                )
            ).alias("dim", "m"),
        )
        .groupBy("label", "dim")
        .agg(F.sum("m").alias("s"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "s"))),
                lambda t: t["s"].cast("double"),
            ).alias("c")
        )
    )
    scored = (
        pool.join(cc.select(F.col("node").alias("vec_id"), "component"), "vec_id")
        # bounded: one row per cluster label (10 in the fixture; nlist
        # at production scale — never corpus-sized)
        .join(F.broadcast(cent), "label")
        .select(
            "vec_id",
            "label",
            "component",
            F.round(cosine("embedding", "c"), 6).alias("cent_sim"),
        )
    )
    w = Window.partitionBy("component").orderBy(
        F.asc("cent_sim"), F.asc("vec_id")
    )
    return scored.select(
        "vec_id",
        "label",
        "component",
        "cent_sim",
        (F.row_number().over(w) == 1).alias("keep"),
    )


@register(
    "dedup_semdedup_built",
    oracle=f"""
    WITH base AS (SELECT vec_id FROM embeddings WHERE vec_id < {_SEMDEDUP_CAP})
    SELECT CAST(2 * COUNT(*) AS BIGINT) AS n_pool,
           CAST(COUNT(*) AS BIGINT) AS n_planted_pairs,
           TRUE AS planted_recall_ok,
           TRUE AS one_keep_per_component_ok
    FROM base
    """,
)
def dedup_semdedup_built(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with BUILT clusters (VERDICT r13 #3) — closes the gap
    between dedup_semdedup_clustered (which borrows the fixture `label`
    as cluster id for oracle tractability) and the paper's actual
    recipe (Abbas et al. 2023 §3): seeded k-means over the pool
    (operators/ann.py build_ivf — the ann_ivf_topk machinery), pairwise
    cosine confined to each BUILT cluster, connected components, and
    per component KEEP THE EXAMPLE LEAST SIMILAR TO ITS BUILT K-MEANS
    CENTROID (the clustered variant scores against exact label-sum
    centroids; here the centroid is the trained one, as in the paper).

    The clustering itself is not SQL-twinnable, so the row is
    accuracy-gated like the ANN ladder (recall_ok pattern): the oracle
    pins the pool arithmetic and hardcodes the gates TRUE, and the
    Spark side EARNS them in-plan —
    - `planted_recall_ok`: every base vector has a planted near-copy
      (+0.1 on dim 1, cosine ~0.9997); >= 90% of those (base, copy)
      pairs must be detected, i.e. k-means must co-assign them and the
      confined join + exact cosine confirm must surface them.  A
      clustering that splits near-identical vectors, a broken
      assignment UDF, or a confinement bug flips the gate and
      hash-fails the row.
    - `one_keep_per_component_ok`: the keep-rule emits exactly one
      keeper per duplicate group.
    Deeper recall/keep-rule semantics on clustered synthetic data are
    pinned in tests/test_dedup.py::test_semdedup_built_*.

    Scale shape: identical to dedup_semdedup_clustered — candidate
    volume is sum of per-cluster sizes squared (the quantity the
    clustering exists to bound), centroids broadcast at nlist rows,
    assignment is a map-only Arrow-batched matmul; no all-pairs stage
    anywhere."""
    from ..functions.vectors import cosine
    from ..operators.ann import build_ivf
    from ..operators.dedup import embedding_near_dups
    from ..operators.graph import connected_components

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _SEMDEDUP_CAP
    )
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    base = emb.select("vec_id", as_double.alias("embedding"))
    variants = base.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1) + F.lit(0.1)),
            F.slice("embedding", 2, 10_000_000),
        ).alias("embedding"),
    )
    pool = base.unionByName(variants)
    assigned, centroids = build_ivf(pool, n_clusters=10)
    # assignment feeds the confined join AND the planted-pair gate;
    # without the checkpoint the seeded-but-stateful pandas-UDF
    # assignment recomputes per consumer (3 full passes)
    assigned = assigned.transform(truncate_eager)
    pairs = embedding_near_dups(assigned, threshold=0.98, block_col="cluster_id")
    pairs = pairs.select("id_a", "id_b").transform(truncate_eager)
    cc = connected_components(pairs, nodes=pool.select("vec_id"))
    scored = (
        assigned.join(
            cc.select(F.col("node").alias("vec_id"), "component"), "vec_id"
        )
        # bounded: nlist rows (10 here) — never corpus-sized
        .join(F.broadcast(centroids), "cluster_id")
        .select(
            "vec_id",
            "component",
            F.round(cosine("embedding", "centroid"), 6).alias("cent_sim"),
        )
    )
    w = Window.partitionBy("component").orderBy(
        F.asc("cent_sim"), F.asc("vec_id")
    )
    kept = scored.select(
        "component", (F.row_number().over(w) == 1).cast("int").alias("k")
    )
    keep_ok = (
        kept.groupBy("component")
        .agg(F.sum("k").alias("nk"))
        .agg(
            (F.min("nk") == 1).cast("boolean").alias("kmin"),
            (F.max("nk") == 1).cast("boolean").alias("kmax"),
        )
        .select((F.col("kmin") & F.col("kmax")).alias("one_keep_per_component_ok"))
    )
    planted = base.select(
        F.col("vec_id").alias("id_a"),
        (F.col("vec_id") + 10000).alias("id_b"),
    )
    recall = (
        planted.agg(F.count("*").alias("n_planted_pairs"))
        # bounded: 1-row detected-pair-count aggregate
        .crossJoin(
            F.broadcast(
                planted.join(pairs, ["id_a", "id_b"]).agg(
                    F.count("*").alias("nd")
                )
            )
        )
    )
    return (
        pool.agg(F.count("*").alias("n_pool"))
        # bounded: 1-row planted/detected aggregate
        .crossJoin(F.broadcast(recall))
        # bounded: 1-row keep-rule gate
        .crossJoin(F.broadcast(keep_ok))
        .select(
            "n_pool",
            "n_planted_pairs",
            (F.col("nd") * 10 >= F.col("n_planted_pairs") * 9).alias(
                "planted_recall_ok"
            ),
            "one_keep_per_component_ok",
        )
    )
