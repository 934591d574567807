"""Text-mining / record-linkage additions (round 5, session 2):
TF-IDF keyword extraction, normalization-blocked fuzzy matching, and
URL canonicalization dedup — three curation operators a web-scale
training-data pipeline runs between raw crawl and dedup.

Tokenization parity: the DuckDB fragments reuse the exact _CLEAN/_WORDS
construction from textops.py (functions/text.py words_of), so the
oracle tokenizes identically to the Spark side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as TX
from ..sources.fixtures import load_table
from .registry import register
from ..functions.plan import truncate_eager

# DuckDB twins of functions/text.py (same as textops.py)
_CLEAN = "trim(regexp_replace(text, chr(10), ' ', 'g'))"
_WORDS = f"regexp_split_to_array({_CLEAN}, '\\s+')"


@register(
    "tfidf_keywords",
    oracle=f"""
    WITH pool AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
    toks AS (SELECT doc_id, unnest({_WORDS}) AS word FROM pool),
    tf AS (SELECT doc_id, word, COUNT(*)::BIGINT AS tf
           FROM toks GROUP BY doc_id, word),
    df AS (SELECT word, COUNT(DISTINCT doc_id)::BIGINT AS df FROM toks GROUP BY word),
    n AS (SELECT COUNT(*)::BIGINT AS n_docs FROM pool),
    scored AS (
      SELECT tf.doc_id, tf.word,
             ROUND(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) AS score
      FROM tf JOIN df USING (word) CROSS JOIN n),
    ranked AS (
      SELECT doc_id, word, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, word) AS rn
      FROM scored)
    SELECT doc_id, CAST(rn AS INT) AS rank, word, score
    FROM ranked WHERE rn <= 3
    """,
)
def tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document keyword extraction: top-3 terms per document by
    smoothed TF-IDF (idf = ln((N+1)/(df+1)) + 1, the sklearn-standard
    smoothing) over a bounded pool — the per-document fingerprint
    behind tag generation / topic routing / BM25 priors.  Ranking is on
    the 6-decimal-ROUNDED score with a word tiebreak, so the
    cross-engine hash cannot flap on libm ulps.

    Scale shape: explode -> two hash aggregates (tf keyed by (doc,word),
    df keyed by word — both map-side combined) -> broadcast the 1-row N
    and the df table's join is word-keyed (vocabulary-sized, skew-free);
    the per-doc top-3 is one bounded window partitioned by doc_id.  No
    all-pairs stage anywhere; at 100 TB the vocabulary table is the only
    reused artifact and it is orders smaller than the corpus."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    toks = docs.select("doc_id", F.explode(TX.words_of("text")).alias("word"))
    tf = toks.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df = toks.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df, "word")
        # bounded: 1-row corpus count
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            F.round(
                F.col("tf")
                * (
                    F.log(
                        (F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))
                    )
                    + F.lit(1.0)
                ),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("word"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "rank", "word", "score")
    )


@register(
    "tfidf_cosine_pairs",
    oracle=f"""
    WITH pool AS (
      SELECT doc_id, {_WORDS} AS ws FROM documents WHERE doc_id < 300),
    alld AS (
      SELECT doc_id, ws FROM pool
      UNION ALL
      SELECT doc_id + 50000, ws[1:CAST(ceil(0.8 * len(ws)) AS BIGINT)]
      FROM pool WHERE doc_id % 20 = 0),
    toks AS (
      SELECT doc_id, unnest(list_transform(
               range(CAST(greatest(len(ws) - 1, 1) AS BIGINT)),
               i -> array_to_string(ws[i + 1:i + 2], ' '))) AS word
      FROM alld),
    tf AS (SELECT doc_id, word, COUNT(*)::BIGINT AS tf
           FROM toks GROUP BY doc_id, word),
    df AS (SELECT word, COUNT(DISTINCT doc_id)::BIGINT AS df
           FROM toks GROUP BY word),
    n AS (SELECT COUNT(*)::BIGINT AS n_docs FROM alld),
    w AS (
      SELECT tf.doc_id, tf.word,
             tf.tf * CAST(ROUND((ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0) * 10000, 0) AS BIGINT) AS wq
      FROM tf JOIN df USING (word) CROSS JOIN n
      WHERE df.df <= 50),
    norms AS (SELECT doc_id, SUM(wq::HUGEINT * wq::HUGEINT) AS n2
              FROM w GROUP BY doc_id),
    dots AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             SUM(a.wq::HUGEINT * b.wq::HUGEINT) AS dp
      FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b, sim FROM (
      SELECT id_a, id_b,
             ROUND(dp / (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE)), 6) AS sim
      FROM dots
      JOIN norms na ON na.doc_id = id_a
      JOIN norms nb ON nb.doc_id = id_b)
    WHERE sim >= 0.8
    """,
)
def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine similarity self-join: document pairs with
    weighted bag-of-BIGRAMS cosine >= 0.8, via an INVERTED-INDEX join —
    the lexical near-dup / template-detection complement of the dense
    `dedup_embedding` path (no embedder needed) and the weighted
    upgrade of `dedup_jaccard`'s set semantics (same word-bigram term
    space; TF counts kept, not distinct sets).  Near-dups are planted
    in-plan (80%-word prefixes of every 20th doc at id + 50000).

    Determinism: the per-TERM idf is quantized to a 1e-6 integer FIRST,
    then multiplied by the exact integer tf — so per-(doc,term) weights
    are integers and every shuffle-order-sensitive sum (pair dot
    products, per-doc norms) is exact integer arithmetic, invariant
    under any summation order or partitioning
    (tests/test_sketch_textmining.py).  The residual cross-engine
    surface is one `round(ln(x)*1e4)` per distinct df value agreeing
    between Spark (BigDecimal HALF_UP) and DuckDB (ROUND) — previously
    the quantization was per-(doc,term) `round(tf*idf, 6)`, where a
    one-ulp ln() difference at any tf-scaled half-integer boundary
    could flip a weight (ADVICE r9); quantizing from the shared
    intermediate removes the tf-dependent boundary family.  A ln() ulp
    landing exactly on a .5 boundary of idf*1e4 remains possible in
    principle; the guarantee claimed here is summation-order
    invariance, not cross-engine ulp immunity.

    Overflow (ADVICE r10): the quadratic sums (norms, dots) multiply
    two quantized weights, so their headroom is wq^2.  The idf scale is
    1e4 (not 1e6 — that made one tf >= ~500 bigram overflow int64), and
    the squares/products are computed and summed in DECIMAL(38,0) —
    exact integer arithmetic with 1e38 headroom, matching DuckDB's
    HUGEINT sum semantics bit-for-bit instead of diverging from it
    (tests/test_sketch_textmining.py::test_tfidf_high_tf_no_overflow
    pins a tf=600 repeated bigram).

    Scale shape: explode -> two map-side-combined aggregates (tf, df)
    -> word-keyed join; the pair stage shuffles by TERM, never by pair,
    and the df <= 50 cap is the skew valve (same role as
    dedup_jaccard_capped's stop-shingle cap): a term in d documents
    contributes O(d^2) candidate rows, so boilerplate vocabulary is
    excluded from pairing up front — at 100 TB the valve is what keeps
    the inverted index join linear in matched pairs instead of
    quadratic in corpus size.  Per-doc norms are computed over the SAME
    capped weight space so the cosine stays internally consistent."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id", TX.words_of("text").alias("ws"))
    )
    keep = F.ceil(F.size("ws") * 0.8).cast("int")
    planted = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 50000).alias("doc_id"),
        F.slice("ws", 1, keep).alias("ws"),
    )
    alld = docs.unionByName(planted)
    count = F.greatest(F.lit(1), F.size("ws") - F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(0), count - 1),
        lambda i: F.array_join(F.slice("ws", i + 1, 2), " "),
    )
    toks = alld.select("doc_id", F.explode(grams).alias("word"))
    tf = toks.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df = toks.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    n = alld.agg(F.count("*").alias("n_docs"))
    idf = F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0)
    idfq = F.round(idf * F.lit(10_000.0), 0).cast("bigint")
    w = (
        tf.join(df.filter(F.col("df") <= 50), "word")
        # bounded: 1-row corpus count
        .crossJoin(F.broadcast(n))
        .select("doc_id", "word", (F.col("tf") * idfq).alias("wq"))
        # Truncate: the weight table feeds THREE consumers (per-doc
        # norms + both sides of the term-keyed pair join); without this
        # each one re-derives the explode -> tf -> df -> join chain
        # from the scan.  Bounded: the pool is capped at ~315 docs, and
        # at corpus scale w is the (doc,term) weight table a real run
        # would stage to parquet anyway.
        .transform(truncate_eager)
    )
    wqd = F.col("wq").cast("decimal(19,0)")
    norms = w.groupBy("doc_id").agg(F.sum(wqd * wqd).alias("n2"))
    a = w.select(F.col("doc_id").alias("id_a"), "word", F.col("wq").alias("wa"))
    b = w.select(F.col("doc_id").alias("id_b"), "word", F.col("wq").alias("wb"))
    dots = (
        a.join(b, "word")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.sum(
                F.col("wa").cast("decimal(19,0)") * F.col("wb").cast("decimal(19,0)")
            ).alias("dp")
        )
    )
    na = norms.select(F.col("doc_id").alias("id_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("id_b"), F.col("n2").alias("nb2"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("dp")
                / (
                    F.sqrt(F.col("na2").cast("double"))
                    * F.sqrt(F.col("nb2").cast("double"))
                ),
                6,
            ).alias("sim"),
        )
        .filter(F.col("sim") >= 0.8)
    )


@register(
    "fuzzy_match_join",
    oracle="""
    WITH base AS (
      SELECT c_custkey, c_name FROM customer WHERE c_custkey < 1000),
    probe AS (
      SELECT c_custkey AS probe_key, translate(c_name, '1', 'l') AS probe_name
      FROM base),
    blocked AS (
      SELECT b.c_custkey, p.probe_key, b.c_name, p.probe_name,
             levenshtein(b.c_name, p.probe_name) AS dist
      FROM base b JOIN probe p
        ON translate(b.c_name, 'l', '1') = translate(p.probe_name, 'l', '1'))
    SELECT c_custkey, probe_key, CAST(dist AS INT) AS dist
    FROM blocked WHERE dist <= 3
    """,
)
def fuzzy_match_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-tolerant record linkage: a probe feed whose names carry a
    deterministic OCR-style corruption ('1' -> 'l') is matched back to
    the master table by NORMALIZATION BLOCKING (both sides canonicalize
    'l' -> '1' and equi-join on the canonical key) followed by an exact
    edit-distance verify (levenshtein <= 3).  This is the standard
    blocked-similarity-join shape: candidates come from an equality
    join on a derived key, NEVER from an all-pairs comparison, and the
    expensive distance function runs only on candidates.

    Scale shape: one equi-join shuffle on the canonical name (unique-ish
    key, skew-free), map-only levenshtein on the joined rows.  At 100 TB
    the probe and master co-partition on the block key exactly like any
    equi-join — the linkage costs no more than the join itself."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 1000)
    base = c.select("c_custkey", "c_name")
    probe = base.select(
        F.col("c_custkey").alias("probe_key"),
        F.translate("c_name", "1", "l").alias("probe_name"),
    )
    blocked = base.withColumn(
        "bk", F.translate("c_name", "l", "1")
    ).join(
        probe.withColumn("bk", F.translate("probe_name", "l", "1")), "bk"
    )
    return (
        blocked.withColumn("dist", F.levenshtein("c_name", "probe_name"))
        .filter(F.col("dist") <= 3)
        .select("c_custkey", "probe_key", "dist")
    )


# Deterministic synthetic URL per document: the fixture has no URL
# column, so one is DERIVED in-plan (host from `source`, path from the
# id, tracking params and noisy casing on id-selected rows) — both
# engines build the identical string, then canonicalize it.
_URL_SPARK = (
    "concat(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END, "
    "'://', CASE WHEN doc_id % 5 = 0 THEN upper(source) ELSE source END, "
    "'.example.com/docs/', CAST(doc_id % 40 AS STRING), "
    "CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END, "
    "CASE WHEN doc_id % 3 = 0 THEN concat('?utm_source=feed&utm_id=', "
    "CAST(doc_id AS STRING)) ELSE '' END)"
)
_URL_DUCK = (
    "concat(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END, "
    "'://', CASE WHEN doc_id % 5 = 0 THEN upper(source) ELSE source END, "
    "'.example.com/docs/', CAST(doc_id % 40 AS VARCHAR), "
    "CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END, "
    "CASE WHEN doc_id % 3 = 0 THEN concat('?utm_source=feed&utm_id=', "
    "CAST(doc_id AS VARCHAR)) ELSE '' END)"
)


@register(
    "url_canonical_dedup",
    oracle=f"""
    WITH urls AS (SELECT doc_id, {_URL_DUCK} AS url FROM documents),
    canon AS (
      SELECT doc_id,
             concat(
               lower(regexp_extract(url, '^([A-Za-z]+)://', 1)), '://',
               lower(regexp_extract(url, '^[A-Za-z]+://([^/?]+)', 1)),
               regexp_replace(
                 regexp_extract(url, '^[A-Za-z]+://[^/?]+([^?]*)', 1),
                 '/$', '')) AS canonical_url
      FROM urls)
    SELECT canonical_url,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_dups
    FROM canon GROUP BY canonical_url
    """,
)
def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-crawl URL canonicalization + dedup: lowercase the scheme and
    host, DROP the query string (tracking params like utm_* carry no
    content identity), strip the trailing slash, then keep one document
    per canonical URL (min doc_id, latest-wins would be the mtime
    variant) with the duplicate count.  This is the first dedup pass of
    every crawl pipeline — it removes URL-level aliases before any
    content hashing runs.

    Scale shape: canonicalization is map-only string work; the dedup is
    one hash aggregate keyed by canonical URL with map-side combine —
    identical cost to dedup_exact, and the document BODY never enters
    the shuffle (only the canonical key + id)."""
    docs = load_table(spark, sf_dir, "documents")
    urls = docs.selectExpr("doc_id", f"{_URL_SPARK} AS url")
    canon = urls.select(
        "doc_id",
        F.concat(
            F.lower(F.regexp_extract("url", r"^([A-Za-z]+)://", 1)),
            F.lit("://"),
            F.lower(F.regexp_extract("url", r"^[A-Za-z]+://([^/?]+)", 1)),
            F.regexp_replace(
                F.regexp_extract("url", r"^[A-Za-z]+://[^/?]+([^?]*)", 1),
                r"/$",
                "",
            ),
        ).alias("canonical_url"),
    )
    return canon.groupBy("canonical_url").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count("*").alias("n_dups"),
    )


@register(
    "entity_resolution",
    oracle="""
    WITH RECURSIVE
    base AS (
      SELECT c_custkey AS rid, c_name AS name
      FROM customer WHERE c_custkey < 1000),
    records AS (
      SELECT rid, name FROM base
      UNION ALL
      SELECT rid + 100000, translate(name, '1', 'l') FROM base
      UNION ALL
      SELECT rid + 200000, name || ' jr' FROM base),
    keyed AS (
      SELECT rid, name,
             regexp_replace(translate(name, 'l', '1'), ' jr$', '') AS bk
      FROM records),
    pairs AS (
      SELECT a.rid AS id_a, b.rid AS id_b
      FROM keyed a JOIN keyed b
        ON a.bk = b.bk AND a.rid < b.rid
      WHERE levenshtein(a.name, b.name) <= 3),
    sym AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
    reach AS (
      SELECT rid AS node, rid AS r FROM records
      UNION
      SELECT sym.d, reach.r FROM reach JOIN sym ON sym.s = reach.node),
    comp AS (SELECT node AS record_id, MIN(r) AS entity_id FROM reach GROUP BY node)
    SELECT record_id, entity_id, (record_id = entity_id) AS is_canonical
    FROM comp
    """,
)
def entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: a master table plus two corrupted
    feed variants per record (OCR '1'->'l' substitution; a ' jr' suffix)
    -> normalization-blocked candidate pairs (canonical-key equi-join,
    never all-pairs) -> levenshtein<=3 verify -> connected components ->
    min-id canonical entity per cluster.  This composes
    fuzzy_match_join's blocking with dedup_cluster's CC operator into
    the standard record-linkage pipeline (each entity resolves to
    {master, ocr-variant, suffix-variant} even though the two variants
    may exceed the edit threshold BETWEEN each other — the graph closure
    links them through the master).  Full oracle incl. the recursive-CTE
    components.

    Scale shape: one equi-join shuffle on the block key + the
    size-adaptive CC operator; identical cost profile to
    dedup_jaccard_capped -> dedup_cluster at corpus scale."""
    from ..operators.graph import connected_components

    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 1000)
    base = c.select(F.col("c_custkey").alias("rid"), F.col("c_name").alias("name"))
    records = (
        base.unionByName(
            base.select(
                (F.col("rid") + 100000).alias("rid"),
                F.translate("name", "1", "l").alias("name"),
            )
        )
        .unionByName(
            base.select(
                (F.col("rid") + 200000).alias("rid"),
                F.concat(F.col("name"), F.lit(" jr")).alias("name"),
            )
        )
    )
    keyed = records.withColumn(
        "bk", F.regexp_replace(F.translate("name", "l", "1"), r" jr$", "")
    )
    a = keyed.select(
        F.col("rid").alias("id_a"), F.col("name").alias("name_a"), "bk"
    )
    b = keyed.select(
        F.col("rid").alias("id_b"), F.col("name").alias("name_b"), "bk"
    )
    pairs = (
        a.join(b, "bk")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.levenshtein("name_a", "name_b") <= 3)
        .select("id_a", "id_b")
        # eager checkpoint: CC consumes its edge input several times
        .transform(truncate_eager)
    )
    cc = connected_components(pairs, nodes=records.select("rid"))
    return cc.select(
        F.col("node").alias("record_id"),
        F.col("component").alias("entity_id"),
        (F.col("node") == F.col("component")).alias("is_canonical"),
    )


_BPE_ROUNDS = 5


def _bpe_oracle() -> str:
    """Unrolled greedy pair-merge learning (one CTE trio per round)."""
    head = f"""
    WITH pool AS (
      SELECT doc_id, {_CLEAN} AS t FROM documents WHERE doc_id < 50),
    toks AS (SELECT unnest(regexp_split_to_array(t, '\\s+')) AS w FROM pool),
    wf AS (SELECT w, COUNT(*)::BIGINT AS freq FROM toks WHERE w <> '' GROUP BY w),
    words0 AS (
      SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS seq, freq FROM wf)"""
    parts = [head]
    for i in range(1, _BPE_ROUNDS + 1):
        parts.append(f""",
    pairs{i} AS (
      SELECT s[CAST(j AS INT) + 1] || ' ' || s[CAST(j AS INT) + 2] AS pair,
             CAST(SUM(freq) AS BIGINT) AS cnt
      FROM (SELECT freq, string_split(seq, ' ') AS s FROM words{i - 1}),
           UNNEST(range(len(s) - 1)) AS t(j)
      GROUP BY 1),
    top{i} AS (
      SELECT pair, cnt, replace(pair, ' ', '') AS m
      FROM pairs{i} ORDER BY cnt DESC, pair LIMIT 1),
    words{i} AS (
      SELECT trim(replace(' ' || w.seq || ' ',
                          ' ' || t.pair || ' ',
                          ' ' || t.m || ' ')) AS seq, w.freq
      FROM words{i - 1} w, top{i} t)""")
    tail = " UNION ALL ".join(
        f"SELECT {i} AS merge_rank, pair, cnt FROM top{i}"
        for i in range(1, _BPE_ROUNDS + 1)
    )
    return "".join(parts) + "\n    " + tail


@register("bpe_learn_merges", oracle=_bpe_oracle())
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer induction on the cluster: learn the first 5 BPE-style
    merges from a bounded corpus pool — per-word character sequences,
    corpus-weighted symbol-pair counts, greedy top-pair merge, repeat.
    (Merging uses left-to-right non-overlapping string replace with
    space boundaries, so immediately-adjacent repeats of the same pair
    merge like `replace` does in both engines — a deterministic greedy
    variant of classic BPE.)  Ties break on (count DESC, pair ASC);
    the oracle unrolls the identical 5 rounds.

    Scale shape: the iterated state is the word-frequency table
    (vocabulary-sized, orders smaller than the corpus — built once from
    one explode + hash agg); each round is one explode over symbol
    positions + one map-side-combined pair count + a broadcast 1-row
    merge rule.  This is how industrial BPE trainers actually run:
    rounds iterate on the compact vocab table, never the raw text."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    toks = docs.select(F.explode(TX.words_of("text")).alias("w"))
    wf = toks.groupBy("w").agg(F.count("*").alias("freq"))
    words = wf.select(
        F.trim(F.regexp_replace("w", "(.)", "$1 ")).alias("seq"), "freq"
    ).transform(truncate_eager)
    merges = []
    for i in range(1, _BPE_ROUNDS + 1):
        syms = F.split("seq", " ")
        idx = F.sequence(F.lit(0), F.size(syms) - 2)
        pairs = (
            words.filter(F.size(syms) >= 2)
            .select(
                "freq",
                F.explode(
                    F.transform(
                        idx,
                        lambda j: F.concat(
                            F.element_at(syms, j + 1),
                            F.lit(" "),
                            F.element_at(syms, j + 2),
                        ),
                    )
                ).alias("pair"),
            )
        )
        top = (
            pairs.groupBy("pair")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
            .select(
                "pair",
                "cnt",
                F.regexp_replace("pair", " ", "").alias("m"),
                F.lit(i).alias("merge_rank"),
            )
            .transform(truncate_eager)  # 1 row, reused by merge + output
        )
        merges.append(top)
        words = (
            # bounded: 1-row merge rule per step
            words.crossJoin(F.broadcast(top.select("pair", "m")))
            .select(
                F.trim(
                    F.replace(
                        F.concat(F.lit(" "), F.col("seq"), F.lit(" ")),
                        F.concat(F.lit(" "), F.col("pair"), F.lit(" ")),
                        F.concat(F.lit(" "), F.col("m"), F.lit(" ")),
                    )
                ).alias("seq"),
                "freq",
            )
            .transform(truncate_eager)
        )
    out = merges[0]
    for t in merges[1:]:
        out = out.unionByName(t)
    return out.select("merge_rank", "pair", "cnt")
