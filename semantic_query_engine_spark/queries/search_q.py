"""Full-text and hybrid search — the keyword half of the reference's
OpenSearch index.  The reference maps `text` as an analyzed full-text
field (/root/reference/app/main.py:263-281) even though its query path
only exercises the kNN half; a drop-in replacement needs the BM25 side
and the standard hybrid fusion of the two rankings.

Scale shape: BM25 needs ONE tiny corpus-stats aggregate (N, avgdl, per-
term document frequency — a handful of doubles, broadcast back), then
scoring is a map-only scan with per-term `size(filter(tokens, ...))`
term frequencies — no explode of the token stream, no shuffle of the
corpus.  At 100 TB the stats aggregate is the only exchange, and its
result is a plan constant.

Determinism: every arithmetic expression is written identically on the
Spark and DuckDB sides (same literal order of additions), scores are
rounded before ranking, and all orderings tie-break on doc_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vectors import l2_norm, with_cosine
from ..sources.fixtures import load_table
from .registry import register

TERMS = ("vector", "hash", "stream")
# The bm25 `score > 0` pre-filter's equivalence proof (see _bm25_scores)
# relies on every term being one nonempty single-space-free token: the
# padded-substring probe `' '||text||' ' CONTAINS ' term '` IS token
# membership only under that invariant (ADVICE r14 — pin it here so a
# future TERMS edit cannot silently break oracle parity).
assert all(t and " " not in t for t in TERMS), TERMS
K1, B = 1.2, 0.75

# ---- shared oracle fragments -------------------------------------------

_DUCK_D = (
    "SELECT doc_id, len(string_split(text, ' ')) AS dl, "
    + ", ".join(
        f"len(list_filter(string_split(text, ' '), x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(TERMS)
    )
    + " FROM documents"
)

_DUCK_S = (
    "SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl, "
    + ", ".join(
        f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(TERMS))
    )
    + " FROM d"
)

_DUCK_SCORE = " + ".join(
    f"(ln(1 + (s.n_docs - s.df{i} + 0.5) / (s.df{i} + 0.5)) * "
    f"(d.tf{i} * ({K1} + 1)) / (d.tf{i} + {K1} * (1 - {B} + {B} * d.dl / s.avgdl)))"
    for i in range(len(TERMS))
)

_DUCK_BM = f"""
    d AS ({_DUCK_D}),
    s AS ({_DUCK_S}),
    bm AS (
      SELECT d.doc_id, ROUND({_DUCK_SCORE}, 4) AS score
      FROM d CROSS JOIN s
      WHERE {_DUCK_SCORE} > 0)
"""


def _eq(term: str):
    # single-arg closure: a default-arg lambda would be introspected as
    # the 2-arg (element, index) HOF form and bind the term to the index
    return lambda x: x == F.lit(term)


def _bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id + BM25 score (rounded to 4) for the fixed query TERMS."""
    docs = load_table(spark, sf_dir, "documents")
    # The oracle's `score > 0` gate, as a CHEAP pre-tokenize filter:
    # every BM25 part is >= 0 with Lucene idf (log(1 + positive) > 0, so
    # part_i > 0 iff tf_i > 0), hence total > 0 iff SOME query term
    # occurs as a token — and under single-space split, token membership
    # is exactly `' '||text||' ' contains ' term '` (the same identity
    # the stats pass below already relies on for docfreq, including
    # empty-token runs).  Expressing the gate this way keeps it at the
    # scan as 3 substring probes; written as `total > 0` it was pushed
    # below the tf projection and re-evaluated the whole
    # split+filter subtree once per term per row (OPTIMIZATION_r14.md
    # finding 1).
    padded_text = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    term_hit = F.contains(padded_text, F.lit(f" {TERMS[0]} "))
    for t in TERMS[1:]:
        term_hit = term_hit | F.contains(padded_text, F.lit(f" {t} "))
    # tokenize ONCE into a named column; deriving dl and every tf from
    # the same array reference keeps a single split per row instead of
    # len(TERMS)+1 (Catalyst does not CSE the split across independent
    # projection expressions — measured ~25% of the hybrid_rrf wall)
    toks = docs.filter(term_hit).select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    d = toks.select(
        "doc_id",
        F.size("toks").alias("dl"),
        *[
            F.size(F.filter("toks", _eq(t))).alias(f"tf{i}")
            for i, t in enumerate(TERMS)
        ],
    )
    # corpus stats are 2 + len(TERMS) scalars; collect them ONCE and
    # inline as plan literals (classic two-phase BM25).  The broadcast-
    # crossJoin variant re-evaluated the whole tokenize subtree under
    # the stats agg AND the scoring scan — measured 1.19s vs 0.66s for
    # stats-pass + scoring-pass at sf0.1.  At 100 TB this is one scalar
    # aggregate job whose 7-double result rides the closure.
    #
    # The stats pass itself is ARRAY-FREE: dl = spaces+1 (identical to
    # size(split) including empty-token runs), and docfreq uses padded
    # substring containment (' '||text||' ' contains ' term ') which is
    # exactly single-space token membership — no per-row array
    # materialization on this pass.
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    stats = docs.agg(
        F.count("*").alias("n_docs"),
        F.avg(
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
            + 1
        ).alias("avgdl"),
        *[
            F.sum(F.contains(padded, F.lit(f" {t} ")).cast("long")).alias(
                f"df{i}"
            )
            for i, t in enumerate(TERMS)
        ],
    ).collect()[0]
    n_docs, avgdl = F.lit(stats["n_docs"]), F.lit(stats["avgdl"])
    scored = d
    parts = [
        F.log(
            1 + (n_docs - F.lit(stats[f"df{i}"]) + 0.5) / (F.lit(stats[f"df{i}"]) + 0.5)
        )
        * (F.col(f"tf{i}") * (K1 + 1))
        / (F.col(f"tf{i}") + K1 * (1 - B + B * F.col("dl") / avgdl))
        for i in range(len(TERMS))
    ]
    total = parts[0]
    for p in parts[1:]:
        total = total + p
    # no residual `total > 0` filter: the term_hit pre-filter above is
    # exactly that predicate (see its comment for the proof)
    return scored.select("doc_id", F.round(total, 4).alias("score"))


@register(
    "bm25_topk",
    oracle=f"""
    WITH {_DUCK_BM}
    SELECT doc_id, score FROM bm
    ORDER BY score DESC, doc_id LIMIT 10
    """,
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1=1.2, b=0.75, Lucene idf) top-10 keyword retrieval over
    the documents corpus for a fixed 3-term query — the full-text half of
    the reference's OpenSearch index, as one stats-agg + one map-only
    scoring scan + TakeOrderedAndProject."""
    bm = _bm25_scores(spark, sf_dir)
    return bm.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)


def _rank_tiny(top: DataFrame, score_col: str, rank_alias: str) -> DataFrame:
    """Rank a POST-LIMIT (<=20 row) leg without a window: collect the
    leg into ONE array, `array_sort` it by (score DESC, doc_id ASC) via
    a (-score, doc_id) struct key, and `posexplode` back to rows with
    rank = position + 1.  One single-partition aggregate over <=20 rows
    — no WindowExec no-partition warning (that warning class flags REAL
    scale bugs; the bench tail stays clean for genuine signals), and no
    join/groupBy shuffle pair (the broadcast theta-join variant used in
    rounds 2-3 cost +36% on the hybrid_rrf bench)."""
    arr = top.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    (-F.col(score_col)).alias("neg_score"),
                    F.col("doc_id").alias("doc_id"),
                )
            )
        ).alias("a")
    )
    return arr.select(F.posexplode("a").alias("pos", "s")).select(
        F.col("s.doc_id").alias("doc_id"),
        (F.col("pos") + 1).cast("int").alias(rank_alias),
    )


@register(
    "hybrid_rrf",
    oracle=f"""
    WITH {_DUCK_BM},
    bmtop AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r
      FROM bm QUALIFY r <= 20),
    cos AS (
      SELECT e.vec_id AS doc_id,
             ROUND(list_cosine_similarity(
               e.embedding::DOUBLE[],
               (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)), 6)
               AS cscore
      FROM embeddings e WHERE e.vec_id <> 0),
    ctop AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cscore DESC, doc_id) AS r
      FROM cos QUALIFY r <= 20)
    SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
           ROUND(COALESCE(1.0 / (60 + b.r), 0) + COALESCE(1.0 / (60 + c.r), 0), 6)
             AS rrf
    FROM bmtop b FULL OUTER JOIN ctop c ON b.doc_id = c.doc_id
    ORDER BY rrf DESC, doc_id LIMIT 10
    """,
)
def hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: reciprocal-rank fusion (k=60) of the BM25 top-20
    and the cosine top-20 — the standard way OpenSearch-style engines
    combine keyword and vector rankings.  Each leg is a top-k
    (TakeOrderedAndProject) before ranking; ranks come from a 20x20
    broadcast join (_rank_tiny), and the fusion join is two 20-row
    lists."""
    bm = _bm25_scores(spark, sf_dir)
    bmtop = _rank_tiny(
        bm.orderBy(F.desc("score"), F.asc("doc_id")).limit(20), "score", "bm_r"
    )
    emb = load_table(spark, sf_dir, "embeddings")
    # bounded: single query row (vec_id = 0)
    qside = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("qvec"), l2_norm("embedding").alias("qnorm")
        )
    )
    cos = with_cosine(
        emb.filter(F.col("vec_id") != 0).crossJoin(qside),
        "embedding",
        "qvec",
        "cscore_raw",
        norm_b="qnorm",
    ).select(
        F.col("vec_id").alias("doc_id"),
        F.round("cscore_raw", 6).alias("cscore"),
    )
    ctop = _rank_tiny(
        cos.orderBy(F.desc("cscore"), F.asc("doc_id")).limit(20), "cscore", "c_r"
    )
    fused = bmtop.join(ctop, "doc_id", "full")
    rrf = F.coalesce(1.0 / (60 + F.col("bm_r")), F.lit(0.0)) + F.coalesce(
        1.0 / (60 + F.col("c_r")), F.lit(0.0)
    )
    return (
        fused.select("doc_id", F.round(rrf, 6).alias("rrf"))
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(10)
    )
