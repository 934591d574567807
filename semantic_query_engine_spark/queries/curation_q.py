"""Corpus-curation operators beyond the basic dedup suite: repeated
k-token span detection (substring-level dedup signal, Lee et al. 2022
"Deduplicating Training Data Makes Language Models Better" — the k-gram
fingerprint approximation of their suffix-array ExactSubstr, plus the
frequency-capped variant with planted boilerplate), shingle containment
(doc-in-doc / quotation detection, complementing Jaccard which misses
subset relations), deterministic stratified sampling, CDC-style
MERGE/upsert, and snapshot diffing.  Every query here is fully
oracle-checked.

Like dedup_q, the fixture corpus has no natural duplicates, so the span
and containment queries plant 80%-prefix copies IN-PLAN (ids +10000) —
the identical construction runs in the DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import words_of
from ..operators.dedup import shingle_table
from ..sources.fixtures import load_table
from .mlpipeline_q import _bucket_expr
from .registry import register
from ..functions.plan import truncate_plan

_CLEAN = "trim(regexp_replace(text, chr(10), ' ', 'g'))"
_WORDS = f"regexp_split_to_array({_CLEAN}, '\\s+')"

# Span length (words) for the repeated-substring detector.  The fixture
# documents run 10-99 words; 8 keeps every 80%-prefix copy sharing at
# least one span with its original.  Real pretraining corpora use ~50
# BPE tokens (Lee et al. §4) — the plan is length-agnostic.
_K = 8


def _prefix_copy_pool(
    spark: SparkSession, sf_dir: str, limit: int | None = 150
) -> DataFrame:
    """documents (all of them when limit is None) as word arrays, plus an
    80%-prefix copy of documents[:150] at id+10000 (same planted-dup
    construction as dedup_q's oracle pool)."""
    docs = load_table(spark, sf_dir, "documents")
    if limit is not None:
        docs = docs.filter(F.col("doc_id") < limit)
    base = docs.select("doc_id", words_of("text").alias("w"))
    planted = base.filter(F.col("doc_id") < 150)
    keep = F.ceil(F.size("w") * 0.8).cast("int")
    copies = planted.select(
        (F.col("doc_id") + 10000).alias("doc_id"), F.slice("w", 1, keep).alias("w")
    )
    return base.unionByName(copies)


def _pool_sql(where: str) -> str:
    return f"""
    base AS (
      SELECT doc_id, {_WORDS} AS w FROM documents {where}),
    pool AS (
      SELECT doc_id, w FROM base
      UNION ALL
      SELECT doc_id + 10000, w[1:CAST(ceil(0.8 * len(w)) AS BIGINT)]
      FROM base WHERE doc_id < 150)
"""


# bounded pool for the quadratic-candidate containment join; the span
# detector runs over the FULL corpus (its cost is linear in tokens)
_POOL_SQL = _pool_sql("WHERE doc_id < 150")
_POOL_SQL_ALL = _pool_sql("")


@register(
    "substring_dedup",
    oracle=f"""
    WITH {_POOL_SQL_ALL},
    spans AS (
      SELECT doc_id, CAST(pos AS BIGINT) AS pos,
             md5(array_to_string(w[pos:pos + {_K - 1}], ' ')) AS h
      FROM (SELECT doc_id, w,
                   unnest(range(1, CAST(len(w) AS BIGINT) - {_K - 2})) AS pos
            FROM pool)),
    dup AS (SELECT h FROM spans GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
    cov AS (
      SELECT doc_id, pos,
             LEAST({_K}, COALESCE(LEAD(pos) OVER (PARTITION BY doc_id ORDER BY pos),
                                  pos + {_K}) - pos) AS c
      FROM spans s JOIN dup USING (h)),
    perdoc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_spans,
             CAST(SUM(c) AS BIGINT) AS dup_tokens
      FROM cov GROUP BY doc_id),
    sizes AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens FROM pool)
    SELECT p.doc_id, n_tokens, dup_spans, dup_tokens,
           ROUND(CAST(dup_tokens AS DOUBLE) / n_tokens, 6) AS dup_frac
    FROM perdoc p JOIN sizes USING (doc_id)
    """,
)
def substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated K-token (K=8) span detection — the k-gram-fingerprint
    approximation of suffix-array substring dedup (Lee et al. 2022).
    Every token position emits one 16-byte md5 of its K-word window;
    spans whose fingerprint occurs in >=2 documents are duplicated.
    Per-doc output: span count, exact covered-token count (interval
    union via one LEAD window — overlapping spans are not
    double-counted), and duplicated-text fraction.

    Scale shape: the shuffle carries (16-byte digest, id, pos) per
    token position — linear in corpus tokens, the published cost of the
    fingerprint method.  The group-by key is the digest (uniform —
    no skew); boilerplate spans repeated in millions of docs are the
    hot-key risk and take the same stop-shingle frequency cap as
    jaccard_pairs when needed.  No all-pairs stage anywhere — the query
    runs over the FULL corpus (planted copies guarantee signal)."""
    return _span_report(_prefix_copy_pool(spark, sf_dir, limit=None))


def _span_report(pool: DataFrame, max_span_freq: int | None = None) -> DataFrame:
    """Per-doc duplicated-span report over a (doc_id, w) word-array pool.
    max_span_freq is the skew valve: a span fingerprint occurring more
    than that many times corpus-wide (license boilerplate, headers) is
    dropped before dup marking — it would otherwise mark every document
    as a duplicate of every other AND concentrate its whole occurrence
    list on one reduce key."""
    # pool feeds the span explode AND the per-doc sizes leg; truncate so
    # the tokenize (word arrays) runs once, not once per leg (r14)
    pool = pool.transform(truncate_plan)
    spans = (
        pool.filter(F.size("w") >= _K)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("w") - (_K - 1))).alias("pos"),
            F.col("w"),
        )
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            F.md5(F.array_join(F.slice(F.col("w"), F.col("pos"), _K), " ")).alias("h"),
        )
    )
    # cross-document occurrence == min(doc_id) != max(doc_id) over the
    # digest partition: ONE shuffle on h (window), instead of a
    # count-distinct agg plus a join back of the span table on h
    wh = Window.partitionBy("h")
    keep = F.col("mn") != F.col("mx")
    marked = spans.withColumn("mn", F.min("doc_id").over(wh)).withColumn(
        "mx", F.max("doc_id").over(wh)
    )
    if max_span_freq is not None:
        marked = marked.withColumn("cnt", F.count("*").over(wh))
        keep = keep & (F.col("cnt") <= max_span_freq)
    hits = marked.filter(keep).select("doc_id", "pos")
    nxt = F.lead("pos").over(Window.partitionBy("doc_id").orderBy("pos"))
    cov = hits.withColumn(
        "c", F.least(F.lit(_K), F.coalesce(nxt, F.col("pos") + _K) - F.col("pos"))
    )
    perdoc = cov.groupBy("doc_id").agg(
        F.count("*").alias("dup_spans"), F.sum("c").alias("dup_tokens")
    )
    sizes = pool.select("doc_id", F.size("w").cast("long").alias("n_tokens"))
    return perdoc.join(sizes, "doc_id").select(
        "doc_id",
        "n_tokens",
        "dup_spans",
        "dup_tokens",
        F.round(F.col("dup_tokens") / F.col("n_tokens"), 6).alias("dup_frac"),
    )


# ten boilerplate words appended to EVERY document for the capped
# variant — the license-header scenario that breaks uncapped span dedup
_BOILER = (
    "license notice this document is provided under the public terms"
).split()


@register(
    "substring_dedup_capped",
    oracle=f"""
    WITH orig AS (
      SELECT doc_id, {_WORDS} AS ow FROM documents),
    base AS (
      SELECT doc_id,
             list_concat(ow, {_BOILER!r}::VARCHAR[]) AS w
      FROM orig),
    pool AS (
      SELECT doc_id, w FROM base
      UNION ALL
      SELECT doc_id + 10000, ow[1:CAST(ceil(0.8 * len(ow)) AS BIGINT)]
      FROM orig WHERE doc_id < 150),
    spans AS (
      SELECT doc_id, CAST(pos AS BIGINT) AS pos,
             md5(array_to_string(w[pos:pos + {_K - 1}], ' ')) AS h
      FROM (SELECT doc_id, w,
                   unnest(range(1, CAST(len(w) AS BIGINT) - {_K - 2})) AS pos
            FROM pool)),
    hits AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos,
               MIN(doc_id) OVER (PARTITION BY h) AS mn,
               MAX(doc_id) OVER (PARTITION BY h) AS mx,
               COUNT(*) OVER (PARTITION BY h) AS cnt
        FROM spans)
      WHERE mn <> mx AND cnt <= 100),
    cov AS (
      SELECT doc_id, pos,
             LEAST({_K}, COALESCE(LEAD(pos) OVER (PARTITION BY doc_id ORDER BY pos),
                                  pos + {_K}) - pos) AS c
      FROM hits),
    perdoc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_spans,
             CAST(SUM(c) AS BIGINT) AS dup_tokens
      FROM cov GROUP BY doc_id),
    sizes AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens FROM pool)
    SELECT p.doc_id, n_tokens, dup_spans, dup_tokens,
           ROUND(CAST(dup_tokens AS DOUBLE) / n_tokens, 6) AS dup_frac
    FROM perdoc p JOIN sizes USING (doc_id)
    """,
)
def substring_dedup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span dedup with the frequency cap ENGAGED against planted
    license boilerplate: ten fixed words are appended to EVERY document
    in-plan, so uncapped span dedup would mark the entire corpus as
    inter-duplicated through those spans (and pile every row onto one
    reduce key).  Spans occurring more than 100 times corpus-wide are
    dropped before dup marking (cnt <= 100 in the same digest window —
    zero extra shuffles); the corpus-wide boilerplate spans vanish and
    the report flags the planted prefix copies plus the rare genuine
    boundary overlaps, NOT the whole corpus.  The oracle applies the
    IDENTICAL cap, so this stays hash-exact, like dedup_jaccard_capped."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", words_of("text").alias("ow")
    )
    base = docs.select(
        "doc_id",
        F.concat("ow", F.array(*[F.lit(x) for x in _BOILER])).alias("w"),
    )
    keep = F.ceil(F.size("ow") * 0.8).cast("int")
    copies = docs.filter(F.col("doc_id") < 150).select(
        (F.col("doc_id") + 10000).alias("doc_id"), F.slice("ow", 1, keep).alias("w")
    )
    return _span_report(base.unionByName(copies), max_span_freq=100)


@register(
    "dedup_containment",
    oracle=f"""
    WITH {_POOL_SQL},
    sh AS (
      SELECT doc_id AS id, unnest(list_distinct(list_transform(
               range(CAST(greatest(len(w) - 1, 1) AS BIGINT)),
               i -> array_to_string(w[i + 1:i + 2], ' ')))) AS shingle
      FROM pool),
    sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2)
    SELECT id_a, id_b, containment FROM (
      SELECT id_a, id_b,
             ROUND(CAST(i AS DOUBLE) / LEAST(sa.n, sb.n), 6) AS containment
      FROM inter
      JOIN sizes sa ON sa.id = inter.id_a
      JOIN sizes sb ON sb.id = inter.id_b)
    WHERE containment >= 0.9
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-containment pairs: |A∩B| / min(|A|,|B|) >= 0.9 over word
    bigram shingles.  Containment catches subset relations (a document
    quoted inside a larger one) that Jaccard dilutes — the 80%-prefix
    copies here score ~1.0 containment but only ~0.8 Jaccard.  Same
    shingle-keyed self-join candidate generation as dedup_jaccard
    (never all-pairs); the denominator is the only change."""
    pool = _prefix_copy_pool(spark, sf_dir, 150).select(
        "doc_id", F.array_join("w", " ").alias("text")
    )
    sh = shingle_table(pool, "text", "doc_id", n=2)
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("i"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "na"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "nb"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("i") / F.least("na", "nb"), 6).alias("containment"),
        )
        .filter(F.col("containment") >= 0.9)
    )


@register(
    "stratified_sample",
    oracle=f"""
    SELECT o_orderkey, o_orderstatus,
           CAST({_bucket_expr('o_orderkey', 'strpos')} AS BIGINT) AS bucket
    FROM orders
    WHERE {_bucket_expr('o_orderkey', 'strpos')} <
          CASE o_orderstatus WHEN 'O' THEN 26 WHEN 'F' THEN 64 ELSE 128 END
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-stratum rates (~10% of
    open orders, ~25% of finished, ~50% of the rest) decided by md5
    bucket of the key — reproducible membership, unlike df.sampleBy's
    RNG.  Map-only (filter reaches the scan; no shuffle, no state):
    the standard way to downsample a 100-TB corpus per-source without
    a sort or a global count."""
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.expr(_bucket_expr("o_orderkey", "instr", "STRING"))
    thresh = (
        F.when(F.col("o_orderstatus") == "O", 26)
        .when(F.col("o_orderstatus") == "F", 64)
        .otherwise(128)
    )
    return orders.filter(bucket < thresh).select(
        "o_orderkey", "o_orderstatus", bucket.cast("long").alias("bucket")
    )


@register(
    "merge_upsert",
    oracle="""
    WITH tgt AS (
      SELECT o_orderkey AS k, o_totalprice AS p FROM orders WHERE o_orderkey < 1000),
    chg AS (
      SELECT o_orderkey AS k, o_totalprice * 1.1 AS p, 'U' AS op
      FROM orders WHERE o_orderkey < 500
      UNION ALL
      SELECT o_orderkey, o_totalprice, 'D' FROM orders
      WHERE o_orderkey >= 500 AND o_orderkey < 600
      UNION ALL
      SELECT o_orderkey, o_totalprice, 'I' FROM orders
      WHERE o_orderkey >= 1000 AND o_orderkey < 1200)
    SELECT k AS o_orderkey, p AS price, 'kept' AS change_type
    FROM tgt WHERE k NOT IN (SELECT k FROM chg)
    UNION ALL
    SELECT k, p, CASE op WHEN 'U' THEN 'updated' ELSE 'inserted' END
    FROM chg WHERE op <> 'D'
    """,
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE INTO semantics (update / insert / delete in one pass)
    as a Delta-style upsert over a plain snapshot.  Changes are derived
    in-plan: keys <500 get a 10% price update, 500-599 are deleted,
    1000-1199 are inserted.

    Scale shape: NOT the naive full-outer join (never broadcastable).
    Instead two broadcast-able passes — target ANTI JOIN change-keys
    (drops updated+deleted rows from the snapshot scan, map-side when
    changes << target, which is the normal CDC regime) UNION the
    non-delete changes.  One scan of the big side, zero shuffle when
    the change set broadcasts."""
    orders = load_table(spark, sf_dir, "orders")
    tgt = orders.filter(F.col("o_orderkey") < 1000).select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("p")
    )
    chg = (
        orders.filter(F.col("o_orderkey") < 500)
        .select("o_orderkey", (F.col("o_totalprice") * 1.1).alias("p"), F.lit("U").alias("op"))
        .unionByName(
            orders.filter((F.col("o_orderkey") >= 500) & (F.col("o_orderkey") < 600)).select(
                "o_orderkey", F.col("o_totalprice").alias("p"), F.lit("D").alias("op")
            )
        )
        .unionByName(
            orders.filter((F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 1200)).select(
                "o_orderkey", F.col("o_totalprice").alias("p"), F.lit("I").alias("op")
            )
        )
        .withColumnRenamed("o_orderkey", "k")
    )
    # bounded: chg is the per-run CDC change batch, not the corpus
    kept = tgt.join(F.broadcast(chg.select("k")), "k", "left_anti").select(
        F.col("k").alias("o_orderkey"),
        F.col("p").alias("price"),
        F.lit("kept").alias("change_type"),
    )
    applied = chg.filter(F.col("op") != "D").select(
        F.col("k").alias("o_orderkey"),
        F.col("p").alias("price"),
        F.when(F.col("op") == "U", "updated").otherwise("inserted").alias("change_type"),
    )
    return kept.unionByName(applied)


@register(
    "snapshot_diff",
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey AS k, o_totalprice AS p FROM orders WHERE o_orderkey < 1000),
    v2 AS (
      SELECT o_orderkey AS k, o_totalprice * 1.1 AS p
      FROM orders WHERE o_orderkey < 500
      UNION ALL
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_orderkey >= 600 AND o_orderkey < 1000
      UNION ALL
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_orderkey >= 1000 AND o_orderkey < 1200)
    SELECT COALESCE(v1.k, v2.k) AS o_orderkey,
           CASE WHEN v1.k IS NULL THEN 'added'
                WHEN v2.k IS NULL THEN 'removed'
                ELSE 'changed' END AS change,
           v1.p AS old_price, v2.p AS new_price
    FROM v1 FULL JOIN v2 ON v1.k = v2.k
    WHERE v1.k IS NULL OR v2.k IS NULL OR v1.p <> v2.p
    """,
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-version diff — the inverse of merge_upsert: given two
    snapshots (v2 is v1 with keys <500 repriced, 500-599 removed,
    1000-1199 added), emit one row per added / removed / changed key
    with both prices.  The regression-diff every pipeline migration
    runs between old and new outputs.

    Scale shape: a diff fundamentally needs both sides co-located by
    key — ONE full-outer shuffle join (or zero shuffles when both
    snapshots are bucketed by the key, the layout a nightly-diff
    pipeline should write); unchanged rows are filtered before any
    further processing so downstream stages see only the delta."""
    orders = load_table(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderkey") < 1000).select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("p")
    )
    v2 = (
        orders.filter(F.col("o_orderkey") < 500)
        .select("o_orderkey", (F.col("o_totalprice") * 1.1).alias("p"))
        .unionByName(
            orders.filter(
                (F.col("o_orderkey") >= 600) & (F.col("o_orderkey") < 1000)
            ).select("o_orderkey", F.col("o_totalprice").alias("p"))
        )
        .unionByName(
            orders.filter(
                (F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 1200)
            ).select("o_orderkey", F.col("o_totalprice").alias("p"))
        )
        .withColumnRenamed("o_orderkey", "k")
    )
    a, b = v1.alias("a"), v2.alias("b")
    joined = a.join(b, F.col("a.k") == F.col("b.k"), "full_outer")
    change = (
        F.when(F.col("a.k").isNull(), "added")
        .when(F.col("b.k").isNull(), "removed")
        .otherwise("changed")
    )
    return joined.filter(
        F.col("a.k").isNull()
        | F.col("b.k").isNull()
        | (F.col("a.p") != F.col("b.p"))
    ).select(
        F.coalesce(F.col("a.k"), F.col("b.k")).alias("o_orderkey"),
        change.alias("change"),
        F.col("a.p").alias("old_price"),
        F.col("b.p").alias("new_price"),
    )


# Winnowing window (consecutive k-gram positions per selection window).
_WINNOW_W = 4


@register(
    "winnow_fingerprints",
    oracle=f"""
    WITH pool AS (SELECT doc_id, {_WORDS} AS w FROM documents),
    spans AS (
      SELECT doc_id, CAST(pos AS BIGINT) AS pos,
             md5(array_to_string(w[pos:pos + {_K - 1}], ' ')) AS h
      FROM (SELECT doc_id, w,
                   unnest(range(1, CAST(len(w) AS BIGINT) - {_K - 2})) AS pos
            FROM pool)),
    wm AS (
      SELECT doc_id, pos AS a,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN {_WINNOW_W - 1} PRECEDING
                          AND CURRENT ROW) AS mh
      FROM spans),
    cand AS (
      SELECT doc_id, a - o.o AS pos, mh
      FROM wm, (SELECT unnest(range({_WINNOW_W})) AS o) o
      WHERE a >= {_WINNOW_W})
    SELECT DISTINCT s.doc_id, s.pos, s.h AS fp
    FROM cand c
    JOIN spans s ON s.doc_id = c.doc_id AND s.pos = c.pos AND s.h = c.mh
    """,
)
def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm): over each document's K-word (K=8) k-gram hash
    sequence, every window of W=4 consecutive positions selects its
    minimum hash; the distinct selected (pos, hash) set is the
    document's fingerprint.  The guarantee that makes this the robust
    upgrade of `doc_fingerprint`'s whole-document digest: any shared
    substring of at least K + W - 1 words between two documents is
    caught by at least one SELECTED fingerprint on both sides, while
    only ~2/(W+1) of all positions are stored — position-robust
    near-dup/plagiarism detection at a fraction of `substring_dedup`'s
    every-position index.  Variant note: ties within a window select
    every minimal position (the all-minima rule) rather than the
    paper's rightmost-of-rightmost, so selection is expressible as
    pure window algebra in both engines; the density and detection
    guarantees are unchanged (a superset of the paper's selection).

    Plan shape (round-13 rework; the join plan and its A/B are in
    SCALE.md's winnow_fingerprints row, the A/B script in git history
    at 555b90b): TWO chained windows
    over ONE doc-keyed exchange+sort and nothing else — the trailing
    W-row min computes each window's anchor value mh, and a position p
    is selected iff some FULL window covering it has mh equal to p's
    own hash, i.e. iff max(mh) over the leading W rows (full windows
    only) equals h_p — because mh_j <= h_p whenever window j covers p,
    that max equals h_p exactly when some covering window selects p.
    The pre-rework plan exploded anchors W-ways and equi-joined back
    to spans on (doc, pos): correct, but Catalyst's size estimate
    (derived from the 20 MB parquet file) judged the CORPUS-TOKEN-SIZED
    spans side broadcastable and built a ~150 MB hashed relation at
    sf1, rebuilt EVERY run — clean-session medians 2.2 s -> 9.6 s at
    10x data with runs degrading to 27 s as the driver heap churns
    (the 13.4x super-linear row of the r13 re-measurement was this),
    for a plan a 1000-executor run would never pick but a
    mis-estimated local one did.  The rework (1.1 s -> 5.0 s, flat
    across runs) has no join to mis-plan: volumes are linear in corpus
    tokens, keyed by doc (uniform, no skew), and no driver state
    exists.  The
    fingerprint table it emits is exactly what a banded substring-dedup
    or plagiarism join consumes downstream (group by fp, same shape as
    substring_dedup's digest join)."""
    # spread=True: per-row winnowing hash windows dominate (scan-spread
    # A/B: 0.82 s spread vs 1.04 s not — sources/fixtures.py).
    docs = load_table(spark, sf_dir, "documents", spread=True).select(
        "doc_id", words_of("text").alias("w")
    )
    spans = (
        docs.filter(F.size("w") >= _K)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("w") - (_K - 1))).alias("pos"),
            F.col("w"),
        )
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            F.md5(F.array_join(F.slice(F.col("w"), F.col("pos"), _K), " ")).alias("h"),
        )
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(_WINNOW_W - 1), 0)
    )
    lead = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        0, _WINNOW_W - 1
    )
    # mh of rows before pos W is a partial window's min — not a valid
    # anchor (the join plan filtered those anchors); mask them out of
    # the leading max so partial windows can't select
    mh_full = F.when(F.col("pos") >= _WINNOW_W, F.col("mh"))
    return (
        spans.withColumn("mh", F.min("h").over(win))
        .withColumn("sel", F.max(mh_full).over(lead))
        .filter(F.col("sel") == F.col("h"))
        .select("doc_id", "pos", F.col("h").alias("fp"))
    )


# In-plan multi-line construction for the line-level boilerplate
# remover (the fixture corpus has no newlines): a banner on 2/3 of the
# corpus, a per-source promo header on every document, and a RARE promo
# line on every 50th document.  The removal threshold (doc-frequency
# ratio > 1/25, compared as integer df*25 > n_docs — no float boundary)
# must strip the banner (~67%) and the per-source headers (5% each)
# while KEEPING the 2% rare line and every unique content line.
_BANNER = "attention limited offer subscribe for the full archive"
_RARE = "editor pick of the week read this one"


@register(
    "boilerplate_line_removal",
    oracle=f"""
    WITH docs2 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 <> 0
                  THEN '{_BANNER}' || chr(10) ELSE '' END
             || 'promo feed from ' || source || chr(10)
             || CASE WHEN doc_id % 50 = 0
                     THEN '{_RARE}' || chr(10) ELSE '' END
             || {_CLEAN} AS t
      FROM documents),
    la AS (SELECT doc_id, string_split(t, chr(10)) AS ls FROM docs2),
    n AS (SELECT COUNT(*)::BIGINT AS n_docs FROM docs2),
    lines AS (
      SELECT doc_id, CAST(pos AS BIGINT) AS pos, ls[pos] AS ln
      FROM (SELECT doc_id, ls,
                   unnest(range(1, CAST(len(ls) AS BIGINT) + 1)) AS pos
            FROM la)),
    df AS (SELECT ln, COUNT(DISTINCT doc_id)::BIGINT AS df
           FROM lines GROUP BY ln),
    boiler AS (SELECT ln FROM df, n WHERE df * 25 > n_docs),
    kept AS (
      SELECT l.doc_id, l.pos, l.ln
      FROM lines l LEFT JOIN boiler b USING (ln)
      WHERE b.ln IS NULL),
    sizes AS (SELECT doc_id, COUNT(*)::BIGINT AS n_lines
              FROM lines GROUP BY doc_id)
    SELECT s.doc_id, s.n_lines,
           CAST(s.n_lines - COUNT(k.pos) AS BIGINT) AS n_removed,
           string_agg(k.ln, chr(10) ORDER BY k.pos) AS clean_text
    FROM sizes s JOIN kept k USING (doc_id)
    GROUP BY s.doc_id, s.n_lines
    """,
)
def boilerplate_line_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level boilerplate REMOVAL with document reassembly
    (Raffel et al. 2020 §2.2 removed lines occurring 3+ times; CCNet and
    RefinedWeb use the same line-frequency rule): split each document
    into lines, drop every line whose corpus doc-frequency ratio
    exceeds 1/25, and re-emit the CLEANED document text in original
    line order — the transformation step that complements
    substring_dedup_capped's detection-only report.  Because the
    fixture corpus has no newlines, the multi-line structure is planted
    in-plan (banner on 2/3 of docs, per-source promo on all, rare promo
    on 2%) and the oracle plants identically; the threshold provably
    cuts both frequent planted lines while keeping the rare one —
    both sides of the cut are exercised.

    Scale shape: one line explode; doc-frequency is a map-side-combined
    (line -> distinct doc) aggregate; the boilerplate set is BROADCAST
    back (a line in >4% of a 100 TB corpus is by construction a tiny
    set — frequency-capped vocabularies are bounded artifacts, the same
    argument as vocab_coverage's top-k) and removal is a broadcast anti
    join; reassembly is one per-doc aggregate over (pos, line) structs
    with array_sort — no window, no skew (line df is capped by the
    threshold itself on the join side).  The threshold compare is
    integer (df * 25 > n_docs), so no float boundary can flip a line
    cross-engine."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.concat(
        F.when(F.col("doc_id") % 3 != 0, F.lit(_BANNER + "\n")).otherwise(F.lit("")),
        F.lit("promo feed from "),
        F.col("source"),
        F.lit("\n"),
        F.when(F.col("doc_id") % 50 == 0, F.lit(_RARE + "\n")).otherwise(F.lit("")),
        F.trim(F.regexp_replace("text", "\n", " ")),
    )
    docs2 = docs.select("doc_id", t.alias("t"))
    lines = docs2.select(
        "doc_id",
        F.posexplode(F.split("t", "\n")).alias("pos0", "ln"),
    ).select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "ln")
    n = docs2.agg(F.count("*").alias("n_docs"))
    df = lines.groupBy("ln").agg(F.countDistinct("doc_id").alias("df"))
    boiler = (
        # bounded: 1-row corpus count
        df.crossJoin(F.broadcast(n))
        .filter(F.col("df") * 25 > F.col("n_docs"))
        .select("ln")
    )
    # bounded: boilerplate set <= 25 * avg lines/doc by the df*25 > n counting argument
    kept = lines.join(F.broadcast(boiler), "ln", "left_anti")
    sizes = lines.groupBy("doc_id").agg(F.count("*").alias("n_lines"))
    clean = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "ln"))),
                lambda x: x["ln"],
            ),
            "\n",
        ).alias("clean_text"),
    )
    return sizes.join(clean, "doc_id").select(
        "doc_id",
        "n_lines",
        (F.col("n_lines") - F.col("n_kept")).cast("long").alias("n_removed"),
        "clean_text",
    )


_MIX_BUDGET = 1_000_000  # demo training token budget; a real run passes its own


@register(
    "source_datacard",
    oracle=f"""
    WITH d AS (
      SELECT source, lang, CAST(len({_WORDS}) AS BIGINT) AS toks,
             CAST(n_chars AS BIGINT) AS chars
      FROM documents),
    tot AS (SELECT SUM(toks) AS t FROM d)
    SELECT source,
           COUNT(*)::BIGINT AS n_docs,
           SUM(toks)::BIGINT AS n_tokens,
           SUM(chars)::BIGINT AS n_chars,
           COUNT(DISTINCT lang)::BIGINT AS n_langs,
           (SUM(toks) * 1000000 // (SELECT t FROM tot))::BIGINT
             AS token_share_micro,
           ({_MIX_BUDGET} * SUM(toks) // (SELECT t FROM tot))::BIGINT
             AS target_tokens,
           (({_MIX_BUDGET} * SUM(toks) // (SELECT t FROM tot)) * 1000
             // SUM(toks))::BIGINT AS epochs_milli
    FROM d GROUP BY source
    """,
)
def source_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source datacard + mixture plan — the report a curation
    pipeline publishes per crawl and the table a pretraining run is
    specified FROM: per source, document/token/char volume, language
    breadth, the source's share of corpus tokens, and a
    proportional-allocation plan against a training token budget
    (target tokens for this source, and epochs_milli = how many
    thousandths of an epoch over the source that target implies — the
    >1000 values are exactly the sources a Llama-style mixture
    oversamples).  Every column is exact integer arithmetic (shares
    and epochs as *1e6 / *1e3 floor-divided BIGINTs), so no float
    boundary exists.

    Scale shape: ONE map-side-combined aggregate over one corpus scan
    (token counts are size(split()) projections, never an explode),
    grouped on the low-cardinality source key, plus a 1-row total.
    The canonical datacard query at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        "lang",
        F.size(words_of("text")).cast("long").alias("toks"),
        F.col("n_chars").cast("long").alias("chars"),
    )
    per = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("toks").alias("n_tokens"),
        F.sum("chars").alias("n_chars"),
        F.countDistinct("lang").alias("n_langs"),
    )
    tot = d.agg(F.sum("toks").alias("t"))
    # bounded: 1-row corpus token total
    j = per.crossJoin(F.broadcast(tot))
    return j.select(
        "source",
        "n_docs",
        "n_tokens",
        "n_chars",
        "n_langs",
        F.expr("n_tokens * 1000000 DIV t").alias("token_share_micro"),
        F.expr(f"{_MIX_BUDGET} * n_tokens DIV t").alias("target_tokens"),
        F.expr(
            f"({_MIX_BUDGET} * n_tokens DIV t) * 1000 DIV n_tokens"
        ).alias("epochs_milli"),
    )


# --- HTML extraction (the crawl front door before any text curation) ---

# The fixture has no HTML, so each doc is wrapped in a deterministic
# page skeleton IN-PLAN (title from doc_id, a style block, a script
# whose body contains bare < > & — the canary naive tag-stripping would
# leak —, the doc text inside <p>, and an entity-laden footer); the
# oracle builds the identical bytes.  Extraction itself never assumes
# the wrapper: it is the generic strip pipeline (drop script/style
# blocks, strip tags, decode the 6 ubiquitous entities, collapse
# whitespace) a real crawl would run.
_HTML_PRE = (
    '<html><head><title>Doc '
)
_HTML_MID = (
    '</title><style type="text/css">p { margin: 0 }</style>'
    "<script type=\"text/javascript\">var ok = 1 < 2 && 3 > 2;</script>"
    # the comment body contains markup AND text: comment stripping must
    # run BEFORE tag stripping, or '<b>draft</b> note' leaks 'draft note'
    "<!-- <b>draft</b> note: do not publish -->"
    '</head><body><div class="main"><p>'
)
_HTML_POST = (
    "</p><p>Tom &amp; Jerry &lt;3 &quot;quoted&quot; it&#39;s&nbsp;fine</p>"
    "</div><footer>(c) 2026</footer></body></html>"
)


@register(
    "html_extract",
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             '{_HTML_PRE}' || CAST(doc_id AS VARCHAR) || '{_HTML_MID.replace("'", "''")}'
             || text || '{_HTML_POST.replace("'", "''")}' AS html
      FROM documents),
    s AS (
      SELECT doc_id, html,
             regexp_replace(
               regexp_replace(
                 regexp_replace(html, '<!--.*?-->', ' ', 'gs'),
                 '<script[^>]*>.*?</script>', ' ', 'gs'),
               '<style[^>]*>.*?</style>', ' ', 'gs') AS x1
      FROM h),
    t AS (SELECT doc_id, html, regexp_replace(x1, '<[^>]+>', ' ', 'g') AS x2
          FROM s),
    e AS (
      SELECT doc_id, html,
             replace(replace(replace(replace(replace(replace(x2,
               '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
               '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&') AS x3
      FROM t)
    SELECT doc_id,
           trim(regexp_replace(x3, '\\s+', ' ', 'g')) AS clean_text,
           CAST(length(html) AS BIGINT) AS n_chars_raw,
           CAST(length(trim(regexp_replace(x3, '\\s+', ' ', 'g'))) AS BIGINT)
             AS n_chars_clean
    FROM e
    """,
)
def html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> text extraction — the step BEFORE every other curation
    operator on a web crawl (C4 / CCNet / RefinedWeb all start from
    markup removal): drop <script>/<style> blocks wholesale (their
    bodies are code, and this page's script contains bare '<', '>', '&'
    precisely so that a naive strip-tags-first bug leaks them into the
    text and fails the value hash), strip remaining tags, decode the
    six ubiquitous HTML entities (&amp; LAST, so '&amp;lt;' decodes to
    the literal '&lt;' and not '<' — the standard double-escape rule),
    and collapse whitespace, with comments stripped FIRST — the
    planted comment's body contains both markup and text
    ('<b>draft</b> note'), so a tag-strip-before-comment-strip
    ordering bug leaks 'draft note' into the output and fails the
    hash.  Page skeleton is planted in-plan
    (deterministic from doc_id + text); the oracle builds identical
    bytes and runs the identical pipeline in DuckDB's regex engine, so
    every byte of the extraction — block removal order, entity order,
    collapse — is value-hash-checked across two regex dialects (Java
    vs RE2: patterns here stay in the shared subset; RE2 has no
    backreferences, hence separate script/style passes).

    Scale shape: pure per-row JVM string expressions inside one
    whole-stage-codegen'd map — no UDF, no shuffle, nothing leaves the
    scan partition; at 100 TB this is the textbook embarrassingly
    parallel stage, bounded by scan throughput alone."""
    docs = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit(_HTML_PRE),
        F.col("doc_id").cast("string"),
        F.lit(_HTML_MID),
        F.col("text"),
        F.lit(_HTML_POST),
    )
    x = F.regexp_replace(html, r"(?s)<!--.*?-->", " ")
    x = F.regexp_replace(x, r"(?s)<script[^>]*>.*?</script>", " ")
    x = F.regexp_replace(x, r"(?s)<style[^>]*>.*?</style>", " ")
    x = F.regexp_replace(x, r"<[^>]+>", " ")
    for ent, ch in [
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
    ]:
        x = F.replace(x, F.lit(ent), F.lit(ch))
    clean = F.trim(F.regexp_replace(x, r"\s+", " "))
    return docs.select(
        "doc_id",
        clean.alias("clean_text"),
        F.length(html).cast("long").alias("n_chars_raw"),
        F.length(clean).cast("long").alias("n_chars_clean"),
    )


_NEWSLETTER = "subscribe to the newsletter variant "
_PARA_W = 12  # words per synthetic paragraph


@register(
    "paragraph_dedup",
    oracle=f"""
    WITH base AS (
      -- empty-token filter matches the engine's words_of (Spark's
      -- split('') returns [''], Python's ''.split() returns []) so
      -- empty/whitespace-only docs tokenize identically (ADVICE r12)
      SELECT doc_id, list_filter({_WORDS}, w -> w <> '') AS ws
      FROM documents),
    g AS (
      SELECT doc_id, ws,
             list_transform(range(CAST(greatest(
                   1, (len(ws) + {_PARA_W - 1}) // {_PARA_W}) AS BIGINT)),
               -- coalesce: DuckDB's array_to_string is NULL (not '')
               -- on an empty slice, unlike Spark's array_join
               i -> coalesce(array_to_string(
                      ws[i * {_PARA_W} + 1 : i * {_PARA_W} + {_PARA_W}], ' '),
                      ''))
               AS gs
      FROM base),
    pl AS (
      SELECT doc_id,
             list_concat(gs, ['{_NEWSLETTER}' || CAST(doc_id % 7 AS VARCHAR)])
               AS gs2
      FROM g),
    paras0 AS (
      SELECT doc_id, CAST(pos AS BIGINT) AS pos, gs2[pos] AS p
      FROM (SELECT doc_id, gs2,
                   unnest(range(1, CAST(len(gs2) AS BIGINT) + 1)) AS pos
            FROM pl)),
    extra AS (
      SELECT doc_id,
             CAST(greatest(1, (len(ws) + {_PARA_W - 1}) // {_PARA_W}) + 2
                  AS BIGINT) AS pos,
             coalesce(array_to_string(ws[1:{_PARA_W}], ' '), '') AS p
      FROM base WHERE doc_id % 10 = 0),
    paras AS (SELECT * FROM paras0 UNION ALL SELECT * FROM extra),
    keyed AS (
      SELECT doc_id, pos, p, md5(p) AS h,
             doc_id * 100000 + pos AS k
      FROM paras),
    first AS (SELECT h, MIN(k) AS kk FROM keyed GROUP BY h),
    kept AS (SELECT keyed.doc_id, keyed.pos, keyed.p
             FROM keyed JOIN first USING (h) WHERE keyed.k = first.kk),
    sizes AS (SELECT doc_id, COUNT(*)::BIGINT AS n_paras
              FROM paras GROUP BY doc_id)
    SELECT s.doc_id, s.n_paras,
           CAST(s.n_paras - COUNT(kept.pos) AS BIGINT) AS n_removed,
           COALESCE(string_agg(kept.p, chr(10) ORDER BY kept.pos), '')
             AS clean_text
    FROM sizes s LEFT JOIN kept ON kept.doc_id = s.doc_id
    GROUP BY s.doc_id, s.n_paras
    """,
)
def paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide KEEP-FIRST paragraph deduplication (the Dolma /
    CCNet paragraph-hash rule: a paragraph survives only at its first
    occurrence in the whole corpus — Soldaini et al. 2024 §3.2, Wenzek
    et al. 2020 §3) with document reassembly — the complement of
    boilerplate_line_removal's frequency-threshold rule: THIS removes
    the 2nd..Nth copy of ANY repeated paragraph regardless of how rare,
    that removes every copy of very-frequent lines.  The fixture has no
    natural paragraph structure, so docs are chunked into 12-word
    paragraphs in-plan, a shared newsletter paragraph (7 variants, each
    duplicated across ~n/7 docs) is appended to every doc, and every
    10th doc repeats its own first paragraph (within-doc dup) — so
    keep-first exercises cross-doc, within-doc, and keeper-doc cases;
    the oracle plants identically.

    Scale shape — PARAGRAPH TEXT NEVER RIDES THE CONTENT-HASH SHUFFLE:
    the exploded side is immediately slimmed to (doc_id, pos, h=md5(p),
    k=doc_id*1e5+pos) scalar rows, so the groupBy(h) first-occurrence
    agg (map-side-combining MIN — a viral paragraph's reducer receives
    one row per map partition, not one per copy) and the keep-decision
    equi-join on h move 16-byte digests + two longs only.  The kept
    POSITIONS are then re-aggregated per doc (still slim) and joined
    back to the DOCUMENT row, where the paragraph array is rebuilt
    from `text` in place and filtered by position — so the full text
    crosses the wire exactly ONCE (the doc-keyed join), not once for
    the h-join plus once for a reassembly groupBy.  Measured at sf1
    with auto-broadcast off, identical output: 58.5 MB total shuffle
    for the naive text-through-h plan vs 36.2 MB here (SCALE.md r12);
    the gap widens with document length since text rides one exchange
    instead of two.
    Reassembly is a row-local array filter — no window, no sort,
    no collect_list of text.  Scalar keys stay exact: pos <= ~1e1
    paragraphs/doc << 1e5, and doc_id*1e5 fits a BIGINT at any
    fixture scale."""
    # the words array in its own projection: `groups` slices it inside a
    # per-paragraph lambda, where an inline tokenizer would re-split the
    # document once per paragraph
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", words_of("text").alias("__ws")
    )
    w = F.col("__ws")
    # greatest(1, ...): an empty/whitespace-only doc has size(w)=0, and
    # an unguarded F.sequence(0, -1) yields the DESCENDING array [0,-1]
    # — fabricating two empty paragraphs where the oracle (whose
    # regexp_split keeps [''] on empty text) makes one.  Clamping both
    # engines to >=1 group makes empty docs produce exactly one empty
    # paragraph identically (the word_shingles guard pattern; ADVICE r12).
    n_groups = F.greatest(
        F.lit(1), ((F.size(w) + (_PARA_W - 1)) / _PARA_W).cast("int")
    )
    groups = F.transform(
        F.sequence(F.lit(0), n_groups - 1),
        lambda i: F.array_join(F.slice(w, i * _PARA_W + 1, _PARA_W), " "),
    )
    planted = F.concat(
        groups,
        F.array(
            F.concat(F.lit(_NEWSLETTER), (F.col("doc_id") % 7).cast("string"))
        ),
        # within-doc self-dup for every 10th doc: its first paragraph
        # again (slice length 0 elsewhere keeps the type and adds nothing)
        F.slice(
            groups, 1, F.when(F.col("doc_id") % 10 == 0, 1).otherwise(0)
        ),
    )
    # the ONLY exploded view is slim: content hash + scalar keep key;
    # paragraph text stays inside the per-doc array
    keyed = docs.select(
        "doc_id", F.posexplode(planted).alias("pos0", "p")
    ).select(
        "doc_id",
        (F.col("pos0") + 1).cast("long").alias("pos"),
        # 16-byte BINARY digest, not the 32-char hex string: h rides
        # three slim exchanges (agg, join build, join probe), so its
        # width is the dominant slim-side shuffle cost
        F.unhex(F.md5("p")).alias("h"),
        (F.col("doc_id") * 100000 + F.col("pos0") + 1).alias("k"),
    )
    # shuffle_hash (round 13): both build sides below are
    # DATA-DEPENDENT-sized (first = one row per distinct paragraph,
    # keptpos = one row per doc), but Catalyst's file-size estimate
    # judged them broadcastable at sf1 and rebuilt a ~20 MB hashed
    # relation on the driver every run — measured 33-35 s/run
    # (degrading) vs 12-15 s (improving) with the shuffled build; at
    # 100 TB the stats exceed the threshold and AQE picks the shuffled
    # form anyway, so the hint only removes the mis-estimated local
    # regime (the same class as winnow_fingerprints' r13 finding, and
    # what the broadcast-off A/B in SCALE.md "Round 12: paragraph_dedup
    # slim-shuffle rework" always measured)
    first = keyed.groupBy("h").agg(F.min("k").alias("kk")).hint("shuffle_hash")
    keptpos = (
        keyed.join(first, "h")
        .filter(F.col("k") == F.col("kk"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_kept"),
            F.collect_set("pos").alias("keep_pos"),
        )
        .hint("shuffle_hash")
    )
    arr = docs.select("doc_id", planted.alias("arr"))
    # LEFT join: a doc whose EVERY paragraph first occurred elsewhere
    # (a whole-doc duplicate — the sf0.001 fixture has 2) must survive
    # as an EMPTY doc, not silently vanish from the corpus manifest
    joined = arr.join(keptpos, "doc_id", "left")
    kept_paras = F.filter(
        F.transform(
            F.col("arr"),
            lambda x, i: F.struct((i + 1).cast("long").alias("pos"), x.alias("p")),
        ),
        lambda s: F.array_contains(
            F.coalesce(F.col("keep_pos"), F.array().cast("array<long>")),
            s["pos"],
        ),
    )
    return joined.select(
        "doc_id",
        F.size("arr").cast("long").alias("n_paras"),
        (F.size("arr") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_removed"),
        F.array_join(F.transform(kept_paras, lambda s: s["p"]), "\n").alias(
            "clean_text"
        ),
    )


_ATTR_TOK_FLOOR = 20  # stage-1 gate: minimum tokens per document
_ATTR_BUDGET = 300  # stage-4 gate: token budget per source (greedy fill)
_ATTR_DUP_OFFSET = 500_000  # planted exact-dup ids (every 9th doc)


@register(
    "curation_attrition",
    oracle=f"""
    WITH pool0 AS (
      SELECT doc_id, lang, source, {_WORDS} AS ws FROM documents
      UNION ALL
      SELECT doc_id + {_ATTR_DUP_OFFSET}, lang, source, {_WORDS}
      FROM documents WHERE doc_id % 9 = 0),
    base AS (
      SELECT doc_id, lang, source,
             CAST(len(list_filter(ws, w -> w <> '')) AS BIGINT) AS n_tok,
             md5(lower(array_to_string(list_filter(ws, w -> w <> ''), ' ')))
               AS dg
      FROM pool0),
    flagged AS (
      SELECT *,
             (n_tok < {_ATTR_TOK_FLOOR}) AS f1,
             (lang IS DISTINCT FROM 'en') AS f2
      FROM base),
    surv12 AS (SELECT * FROM flagged WHERE NOT f1 AND NOT f2),
    keeper AS (SELECT dg, MIN(doc_id) AS kid FROM surv12 GROUP BY dg),
    surv123 AS (
      SELECT s.* FROM surv12 s JOIN keeper k ON k.dg = s.dg
      WHERE s.doc_id = k.kid),
    s3fail AS (
      SELECT s.doc_id FROM surv12 s JOIN keeper k ON k.dg = s.dg
      WHERE s.doc_id <> k.kid),
    s4 AS (
      SELECT doc_id,
             SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id)
               > {_ATTR_BUDGET} AS f4
      FROM surv123),
    tagged AS (
      SELECT CASE WHEN f.f1 THEN 1
                  WHEN f.f2 THEN 2
                  WHEN s3.doc_id IS NOT NULL THEN 3
                  WHEN COALESCE(s4.f4, FALSE) THEN 4
                  ELSE 0 END AS ff
      FROM flagged f
      LEFT JOIN s3fail s3 ON s3.doc_id = f.doc_id
      LEFT JOIN s4 ON s4.doc_id = f.doc_id),
    agg AS (
      SELECT COUNT(*)::BIGINT AS n0,
             SUM(CASE WHEN ff = 1 THEN 1 ELSE 0 END)::BIGINT AS r1,
             SUM(CASE WHEN ff = 2 THEN 1 ELSE 0 END)::BIGINT AS r2,
             SUM(CASE WHEN ff = 3 THEN 1 ELSE 0 END)::BIGINT AS r3,
             SUM(CASE WHEN ff = 4 THEN 1 ELSE 0 END)::BIGINT AS r4
      FROM tagged)
    SELECT CAST(1 AS INT) AS stage, 'token_floor' AS stage_name,
           n0 AS n_in, r1 AS n_removed, n0 - r1 AS n_out,
           r1 * 1000 // n0 AS removed_permille FROM agg
    UNION ALL
    SELECT 2, 'lang_en', n0 - r1, r2, n0 - r1 - r2,
           r2 * 1000 // (n0 - r1) FROM agg
    UNION ALL
    SELECT 3, 'exact_dedup', n0 - r1 - r2, r3, n0 - r1 - r2 - r3,
           r3 * 1000 // (n0 - r1 - r2) FROM agg
    UNION ALL
    SELECT 4, 'token_budget', n0 - r1 - r2 - r3, r4,
           n0 - r1 - r2 - r3 - r4,
           r4 * 1000 // (n0 - r1 - r2 - r3) FROM agg
    """,
)
def curation_attrition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage ATTRITION report for a 4-stage curation funnel — the
    table every large-scale data-curation run publishes before anyone
    trusts the output corpus (Dolma's and FineWeb's reports lead with
    exactly this: docs in, docs removed, docs out, per stage, in
    pipeline order): 1. token-count floor, 2. language gate, 3.
    corpus-wide exact dedup (keep-first; an exact-dup plant — every
    9th doc re-emitted verbatim at id+{_ATTR_DUP_OFFSET} — makes the
    stage's removal count deterministic and nonzero), 4. per-source
    token budget (greedy fill in doc_id order — the mixture cap
    applied as a funnel stage).  Stage semantics are SEQUENTIAL: each
    stage's counts are over the previous stage's survivors (dedup's
    keep-first group runs among stage-2 survivors only; the budget's
    running sum over stage-3 survivors), and n_out(s) == n_in(s+1) by
    construction, so the whole funnel reconciles — the property that
    catches double-counted or silently-dropped documents in real
    pipelines.

    Scale shape: one corpus scan computes all per-doc flags (map-only
    except the keep-first digest agg and two doc_id-keyed equi-joins,
    all linear); the budget window partitions by source (bounded
    per-source rows); the report itself is ONE map-side-combined
    aggregate reshaped row-locally with inline() — no unpartitioned
    window, no cross join, 4 rows out.  The monitor is strictly
    cheaper than any stage it measures."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    pool = docs.unionByName(
        docs.filter(F.col("doc_id") % 9 == 0).select(
            (F.col("doc_id") + _ATTR_DUP_OFFSET).alias("doc_id"),
            "lang",
            "source",
            "text",
        )
    )
    ws = words_of("text")
    base = pool.select(
        "doc_id",
        "lang",
        "source",
        F.size(ws).cast("long").alias("n_tok"),
        F.md5(F.lower(F.array_join(ws, " "))).alias("dg"),
    )
    flagged = base.select(
        "*",
        (F.col("n_tok") < _ATTR_TOK_FLOOR).alias("f1"),
        # null-safe: a NULL lang is REMOVED at the language gate rather
        # than falling through with f2=NULL, which would exclude the row
        # from surv12 yet tag it ff=0 (survivor) and silently break the
        # funnel's n_out(s)==n_in(s+1) reconciliation (ADVICE r13)
        (~F.col("lang").eqNullSafe("en")).alias("f2"),
    )
    surv12 = flagged.filter(~F.col("f1") & ~F.col("f2"))
    keeper = surv12.groupBy("dg").agg(F.min("doc_id").alias("kid"))
    s3fail = (
        surv12.join(keeper, "dg")
        .filter(F.col("doc_id") != F.col("kid"))
        .select("doc_id", F.lit(True).alias("f3"))
    )
    surv123 = (
        surv12.join(keeper, "dg")
        .filter(F.col("doc_id") == F.col("kid"))
        .select("doc_id", "source", "n_tok")
    )
    wsrc = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s4 = surv123.select(
        "doc_id",
        (F.sum("n_tok").over(wsrc) > _ATTR_BUDGET).alias("f4"),
    )
    ff = (
        F.when(F.col("f1"), 1)
        .when(F.col("f2"), 2)
        .when(F.coalesce(F.col("f3"), F.lit(False)), 3)
        .when(F.coalesce(F.col("f4"), F.lit(False)), 4)
        .otherwise(0)
    )
    tagged = (
        flagged.join(s3fail, "doc_id", "left")
        .join(s4, "doc_id", "left")
        .select(ff.alias("ff"))
    )
    agg = tagged.agg(
        F.count("*").alias("n0"),
        *[
            F.sum((F.col("ff") == s).cast("long")).alias(f"r{s}")
            for s in (1, 2, 3, 4)
        ],
    )
    n0, r1, r2, r3, r4 = (F.col(c) for c in ("n0", "r1", "r2", "r3", "r4"))
    ins = [n0, n0 - r1, n0 - r1 - r2, n0 - r1 - r2 - r3]
    rems = [r1, r2, r3, r4]
    names = ["token_floor", "lang_en", "exact_dedup", "token_budget"]
    rows = F.array(
        *[
            F.struct(
                F.lit(s + 1).cast("int").alias("stage"),
                F.lit(names[s]).alias("stage_name"),
                ins[s].alias("n_in"),
                rems[s].alias("n_removed"),
                (ins[s] - rems[s]).alias("n_out"),
                # integer permille: floor(x*1000/y) — DuckDB's // twin
                F.floor(rems[s] * 1000 / ins[s])
                .cast("long")
                .alias("removed_permille"),
            )
            for s in range(4)
        ]
    )
    return agg.select(F.inline(rows))
