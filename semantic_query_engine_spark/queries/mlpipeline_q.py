"""Training-data pipeline operators beyond the reference surface
(BASELINE.json north star): deterministic dataset splitting/sampling,
a Python UDTF tokenizer, and streaming exactly-once deduplication.

The reference has no dataset-split or sampling machinery (its corpus is
consumed whole, /root/reference/app/main.py:413-456); these are the ops
a 100 TB pretraining pipeline needs around that ingest path.  All the
split/sample ops are HASH-based and therefore deterministic, shuffle-free
(pure scan + filter — predicate evaluated per row, no repartition), and
stable across engines — which is exactly what reproducible train/val/test
membership requires at scale, unlike `TABLESAMPLE`/`rand()`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vectors import l2_norm
from ..operators.prefix import exclusive_prefix_sum
from ..sources.fixtures import load_table
from ..streaming.jobs import read_events_stream, run_to_memory
from .registry import register
from ..functions.plan import truncate_plan, truncate_eager

# md5-hex -> integer bucket 0..255, written with only instr/substr string
# ops so the IDENTICAL expression runs on Spark (instr) and DuckDB
# (strpos): both are 1-based find-in-string.
_HEX = "0123456789abcdef"


def _bucket_expr(key_sql: str, instr_fn: str, cast_t: str = "VARCHAR") -> str:
    h = f"md5(CAST({key_sql} AS {cast_t}))"
    return (
        f"({instr_fn}('{_HEX}', substr({h}, 1, 1)) - 1) * 16 + "
        f"{instr_fn}('{_HEX}', substr({h}, 2, 1)) - 1"
    )


@register(
    "hash_split",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, lang, {_bucket_expr('doc_id', 'strpos')} AS bucket
      FROM documents)
    SELECT doc_id, lang, bucket,
           CASE WHEN bucket < 205 THEN 'train'
                WHEN bucket < 230 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
)
def hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (~80/10/10) by md5 bucket of
    the document key.  Membership is a pure function of `doc_id`, so the
    split is reproducible run-to-run, engine-to-engine, and stable when
    new data arrives (old docs never change split) — the property random
    sampling lacks.  At 100 TB this is a scan-local projection: no
    shuffle, no state, trivially parallel, and Parquet-friendly (the
    split column can become a partition key on write)."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(_bucket_expr("doc_id", "instr", "STRING"))
    return docs.select(
        "doc_id",
        "lang",
        bucket.alias("bucket"),
        F.when(bucket < 205, "train")
        .when(bucket < 230, "val")
        .otherwise("test")
        .alias("split"),
    )


@register(
    "hash_sample",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0
             AS sum_price
    FROM orders
    WHERE {_bucket_expr('o_orderkey', 'strpos')} < 26
    GROUP BY o_orderstatus
    """,
)
def hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample (md5 bucket < 26 of 256) aggregated per
    order status.  Unlike `df.sample()`/TABLESAMPLE the membership is
    stable, so downstream jobs and the oracle see the same rows.  The
    filter is evaluated row-local at scan time — at cluster scale the
    sample never shuffles and composes with partition pruning."""
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.expr(_bucket_expr("o_orderkey", "instr", "STRING"))
    return (
        orders.filter(bucket < 26)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            (F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0).alias(
                "sum_price"
            ),
        )
    )


@register(
    "udtf_word_index",
    oracle="""
    WITH words AS (
      SELECT doc_id,
             generate_subscripts(regexp_split_to_array(text, '\\s+'), 1) - 1 AS pos,
             unnest(regexp_split_to_array(text, '\\s+')) AS word
      FROM documents WHERE doc_id < 50)
    SELECT doc_id, pos, word FROM words WHERE word <> ''
    """,
)
def udtf_word_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function, SURVEY §2 Part B UDF/UDAF/UDTF row):
    one text row in, (pos, word) rows out, invoked via SQL LATERAL — the
    same 1-row->N-rows shape as the reference's chunker
    (/root/reference/app/main.py:383-393), here as a genuine
    user-defined *table* function rather than posexplode.  UDTFs run
    Arrow-batched per partition; the lateral join stays shuffle-free."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, word string")
    class WordIndex:
        def eval(self, text: str):
            if text:
                for i, w in enumerate(text.split()):
                    yield i, w

    spark.udtf.register("word_index_udtf", WordIndex)
    load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50).createOrReplaceTempView(
        "docs_head"
    )
    return spark.sql(
        """
        SELECT d.doc_id, w.pos, w.word
        FROM docs_head d, LATERAL word_index_udtf(d.text) w
        """
    )


@register(
    "stream_dedup",
    oracle="""
    SELECT event_type, COUNT(*) AS n
    FROM (SELECT DISTINCT event_id, event_type FROM events)
    GROUP BY event_type
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once deduplication: the events stream is read
    TWICE and unioned (every event arrives duplicated — the at-least-once
    delivery shape), then `dropDuplicates(event_id)` runs in the
    streaming engine's state store so each id is emitted exactly once.
    The materialized output is aggregated in batch; the oracle is plain
    DISTINCT.  At scale the state store holds one compact key per id —
    bound it with `dropDuplicatesWithinWatermark` when ids can't recur
    beyond a horizon."""
    a = read_events_stream(spark, sf_dir).select("event_id", "event_type")
    b = read_events_stream(spark, sf_dir).select("event_id", "event_type")
    deduped = a.union(b).dropDuplicates(["event_id"])
    out = run_to_memory(deduped, output_mode="append")
    return out.groupBy("event_type").agg(F.count("*").alias("n"))


@register(
    "pii_redact",
    oracle=r"""
    WITH aug AS (
      SELECT doc_id,
             substr(text, 1, 50) || ' contact user' || CAST(doc_id AS VARCHAR)
               || '@example.com tel 555-' || lpad(CAST(doc_id AS VARCHAR), 4, '0')
               AS raw
      FROM documents)
    SELECT doc_id,
           len(regexp_extract_all(raw, '[a-z0-9]+@[a-z]+\.[a-z]+')) AS n_emails,
           len(regexp_extract_all(raw, '\d{3}-\d{4}')) AS n_phones,
           regexp_replace(
             regexp_replace(raw, '[a-z0-9]+@[a-z]+\.[a-z]+', '[EMAIL]', 'g'),
             '\d{3}-\d{4}', '[PHONE]', 'g') AS redacted
    FROM aug
    """,
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the standard pretraining-cleanup pass: count and
    mask email/phone patterns with anchored regexes.  The fixture text
    has no PII, so a deterministic synthetic contact line is appended per
    doc and then redacted.  Pure regexp_replace projection: row-local,
    shuffle-free, whole-stage-codegen'd at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.substring("text", 1, 50),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com tel 555-"),
        F.lpad(F.col("doc_id").cast("string"), 4, "0"),
    )
    email, phone = r"[a-z0-9]+@[a-z]+\.[a-z]+", r"\d{3}-\d{4}"
    aug = docs.select("doc_id", raw.alias("raw"))
    return aug.select(
        "doc_id",
        F.size(F.regexp_extract_all("raw", F.lit(email), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all("raw", F.lit(phone), F.lit(0))).alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("raw", email, "[EMAIL]"), phone, "[PHONE]"
        ).alias("redacted"),
    )


@register(
    "pack_sequences",
    oracle="""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents),
    c AS (
      SELECT doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_tokens
      FROM t)
    SELECT doc_id, n_tokens, cum_tokens,
           CAST(floor((cum_tokens - n_tokens) / 2000.0) AS BIGINT) AS pack_id
    FROM c
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: assign documents to fixed token-budget
    training packs (2000 tokens) by running token count.  Scale shape:
    the running sum is computed per SHARD (a contiguous range of the
    sort key, so shard order == global order) with a partitioned window;
    shard offsets come from a hierarchical exclusive prefix sum over the
    per-shard totals (operators/prefix.py: bounded windows per level,
    O(S log S)) — no unpartitioned window anywhere, and no O(S²)
    triangle join (the round-2/3 form, quadratic in shard count — 200M
    shards at 100 TB made it a stop-ship).  At 100 TB the shard key
    comes from a range partitioner over the sort key; here a fixed
    doc_id width."""
    shard_width = 128  # contiguous doc_id range per shard
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.floor(F.col("doc_id") / shard_width).alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = t.withColumn("shard_cum", F.sum("n_tokens").over(w))
    totals = t.groupBy("shard").agg(F.sum("n_tokens").alias("shard_total"))
    offs = exclusive_prefix_sum(totals, "shard", "shard_total").select(
        F.col("shard").alias("s"), "offset"
    )
    # bounded: one row per shard (constant shard count)
    c = c.join(F.broadcast(offs), c["shard"] == offs["s"]).withColumn(
        "cum_tokens", (F.col("shard_cum") + F.col("offset")).cast("long")
    )
    return c.select(
        "doc_id",
        "n_tokens",
        "cum_tokens",
        F.floor((F.col("cum_tokens") - F.col("n_tokens")) / 2000.0)
        .cast("long")
        .alias("pack_id"),
    )


@register(
    "mixture_sample",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY {_bucket_expr('doc_id', 'strpos')}, doc_id) AS r,
             (CAST(substr(source, 4) AS BIGINT) % 3 + 1) * 5 AS quota
      FROM documents)
    SELECT doc_id, source, r FROM ranked WHERE r <= quota
    """,
)
def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture sampling: each source contributes a
    weighted quota of documents (weights derived from the source id),
    chosen by md5-hash order so membership is reproducible — the
    dataset-mixture step of a pretraining pipeline (e.g. upsample books,
    downsample web).  One hash-partitioned window; no global sort."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(_bucket_expr("doc_id", "instr", "STRING"))
    quota = (F.substring("source", 4, 10).cast("long") % 3 + 1) * 5
    w = Window.partitionBy("source").orderBy(bucket.asc(), F.col("doc_id").asc())
    ranked = docs.select(
        "doc_id",
        "source",
        F.row_number().over(w).alias("r"),
        quota.alias("quota"),
    )
    return ranked.filter(F.col("r") <= F.col("quota")).select(
        "doc_id", "source", "r"
    )


def _quality_parts_sql(from_rel: str = "documents") -> str:
    """The quality_score oracle CTE body (textops.py) — reused verbatim
    so the composed pipeline filters on the SAME rounded score."""
    from .textops import _PUNCT_CLASS_SQL, _STOPS, _WORDS

    return f"""
      SELECT doc_id,
             CASE WHEN len({_WORDS}) = 0 THEN 0.0
                  ELSE CAST(len(list_filter({_WORDS}, w -> list_contains({_STOPS}, lower(w)))) AS DOUBLE)
                       / CAST(len({_WORDS}) AS DOUBLE) END AS sw,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(length(regexp_replace(text, '{_PUNCT_CLASS_SQL}', '', 'g')) AS DOUBLE)
                       / CAST(length(text) AS DOUBLE) END AS pr,
             CASE WHEN len({_WORDS}) = 0 THEN 0.0
                  ELSE list_sum(list_transform({_WORDS}, w -> CAST(length(w) AS DOUBLE)))
                       / CAST(len({_WORDS}) AS DOUBLE) END AS awl
      FROM {from_rel}"""


def _training_prep_oracle() -> str:
    from .textops import _WORDS

    bucket = _bucket_expr("doc_id", "strpos")
    return f"""
    WITH parts AS ({_quality_parts_sql()}),
    q AS (
      SELECT doc_id,
             ROUND(least(1.0, sw * 2.0) * 0.5
                   + (CASE WHEN awl >= 2.0 AND awl <= 12.0 THEN 1.0 ELSE 0.0 END) * 0.3
                   + (1.0 - least(1.0, pr * 5.0)) * 0.2, 6) AS quality
      FROM parts),
    qf AS (
      SELECT d.doc_id, d.text, q.quality
      FROM documents d JOIN q USING (doc_id)
      WHERE q.quality >= 0.6),
    fp AS (
      SELECT doc_id, md5(lower(array_to_string({_WORDS}, ' '))) AS fp FROM qf),
    dd AS (SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY fp),
    k AS (SELECT * FROM qf WHERE doc_id IN (SELECT doc_id FROM dd)),
    s AS (
      SELECT doc_id, quality, text, {bucket} AS bucket FROM k),
    t AS (
      SELECT doc_id, quality, bucket,
             CASE WHEN bucket < 205 THEN 'train'
                  WHEN bucket < 230 THEN 'val'
                  ELSE 'test' END AS split,
             len(string_split(text, ' ')) AS n_tokens
      FROM s),
    c AS (
      SELECT doc_id, quality, bucket, split, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY split ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_tokens
      FROM t)
    SELECT doc_id, quality, bucket, split, n_tokens, cum_tokens,
           CAST(floor((cum_tokens - n_tokens) / 2000.0) AS BIGINT) AS pack_id
    FROM c
    """


@register("training_data_prep", oracle=_training_prep_oracle())
def training_data_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-data prep as ONE declarative plan: quality
    filter -> exact dedup -> hash split -> per-split sequence packing.
    The composition a 100 TB pretraining pipeline actually runs, and the
    showcase that the individual operators compose without materializing
    between stages (Catalyst sees the whole DAG; column pruning drops
    `text` the moment the last text-derived column is computed).

    Per-stage scale shapes, unchanged from the standalone operators:
    - quality: map-only expression scoring (no shuffle);
    - dedup: 16-byte md5 digest agg + semi join — bodies never shuffle;
    - split: scan-local md5 bucket, deterministic membership;
    - packing: per-(split, shard) windows + a hierarchical exclusive
      prefix sum over shard totals (operators/prefix.py, O(S log S)) —
      the global running sum is reconstructed exactly with no
      unpartitioned window and no quadratic totals self-join.

    The self-referencing stages (dedup semi join, window + totals) make
    Catalyst scan `documents` more than once — the declarative
    recompute-vs-materialize tradeoff.  The window and the totals agg
    share the (split, shard) hash partitioning, so AQE reuses that
    exchange; at 100 TB, `persist()` the post-dedup slim projection
    before packing if scan cost dominates (a one-line change at the
    call site, not a different plan)."""
    from ..functions import text as TX

    shard_width = 128
    # spread=True: quality tokenize + md5 fingerprint per row dominate
    # (scan-spread A/B: 1.97 s spread vs 2.77 s not — fixtures.py).
    docs = load_table(spark, sf_dir, "documents", spread=True)
    # tokenize once (see the functions/text module docstring): quality
    # and the dedup fingerprint share one words array per row
    pre = docs.select(
        "doc_id", "text", TX.words_of("text").alias("ws")
    )
    # ALL text-derived scalars (quality, dedup fp, token count) are
    # computed in ONE pre-gate projection and truncated BEFORE the
    # quality filter (r14, guide §1.2/§2.4): a `.filter(quality >= 0.6)`
    # below gets predicate-pushed through every Project — pushdown has
    # no non-cheap-alias guard, unlike CollapseProject — re-expanding
    # the words array ~6x per row inside the pushed condition (measured
    # 0.77 s vs 0.20 s for the gated vs ungated scoring pass at sf0.1).
    # Above the checkpoint the gate is a comparison on a materialized
    # double.  4 narrow columns (~40 B/row, no text, no array) — at
    # 100 TB this is the same slim-staging tradeoff as `t` below.
    slim = pre.select(
        "doc_id",
        TX.quality_score_ws("ws", "text").alias("quality"),
        TX.fingerprint_ws("ws").alias("fp"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    ).transform(truncate_plan)
    q = slim.filter(F.col("quality") >= 0.6)
    keep = q.groupBy("fp").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    k = q.join(keep, "doc_id", "left_semi")
    bucket = F.expr(_bucket_expr("doc_id", "instr", "STRING"))
    t = k.select(
        "doc_id",
        "quality",
        bucket.alias("bucket"),
        F.when(bucket < 205, "train")
        .when(bucket < 230, "val")
        .otherwise("test")
        .alias("split"),
        "n_tokens",
        F.floor(F.col("doc_id") / shard_width).alias("shard"),
    )
    # Truncate here: without it Catalyst re-derives this slim frame for
    # the window side, the totals side, AND the prefix-sum levels — SIX
    # full `documents` scans in one plan, each repeating the quality
    # regex and dedup md5.  The checkpoint is the "persist the
    # post-dedup slim projection" tradeoff the round-2 docstring
    # deferred to call sites, now taken inside the plan: 6 narrow
    # columns, materialized once (on a cluster use reliable
    # checkpoint()/a staging table).
    t = t.transform(truncate_plan)
    w = (
        Window.partitionBy("split", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = t.withColumn("shard_cum", F.sum("n_tokens").over(w))
    totals = t.groupBy("split", "shard").agg(F.sum("n_tokens").alias("shard_total"))
    offs = exclusive_prefix_sum(
        totals, "shard", "shard_total", part_cols=("split",)
    ).select(F.col("split").alias("sp"), F.col("shard").alias("s"), "offset")
    c = c.join(
        # bounded: one row per (split, shard) pair
        F.broadcast(offs), (c["split"] == offs["sp"]) & (c["shard"] == offs["s"])
    ).withColumn("cum_tokens", (F.col("shard_cum") + F.col("offset")).cast("long"))
    return c.select(
        "doc_id",
        "quality",
        "bucket",
        "split",
        "n_tokens",
        "cum_tokens",
        F.floor((F.col("cum_tokens") - F.col("n_tokens")) / 2000.0)
        .cast("long")
        .alias("pack_id"),
    )


def _training_prep_neardup_oracle() -> str:
    from .textops import _WORDS

    bucket = _bucket_expr("doc_id", "strpos")
    cap = 20
    return f"""
    WITH RECURSIVE
    base AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
    planted AS (
      SELECT doc_id + 10000 AS doc_id,
             array_to_string(ws[1:CAST(ceil(0.8 * len(ws)) AS BIGINT)], ' ') AS text
      FROM (SELECT doc_id, {_WORDS} AS ws FROM documents WHERE doc_id < 100)),
    pool AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
    parts AS ({_quality_parts_sql("pool")}),
    q AS (
      SELECT doc_id,
             ROUND(least(1.0, sw * 2.0) * 0.5
                   + (CASE WHEN awl >= 2.0 AND awl <= 12.0 THEN 1.0 ELSE 0.0 END) * 0.3
                   + (1.0 - least(1.0, pr * 5.0)) * 0.2, 6) AS quality
      FROM parts),
    qf AS (
      SELECT p.doc_id, p.text, q.quality
      FROM pool p JOIN q USING (doc_id)
      WHERE q.quality >= 0.6),
    fp AS (
      SELECT doc_id, md5(lower(array_to_string({_WORDS}, ' '))) AS f FROM qf),
    dd AS (SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY f),
    k AS (SELECT * FROM qf WHERE doc_id IN (SELECT doc_id FROM dd)),
    sh0 AS (
      SELECT doc_id AS id, unnest(list_distinct(list_transform(
               range(CAST(greatest(len({_WORDS}) - 1, 1) AS BIGINT)),
               i -> array_to_string({_WORDS}[i + 1:i + 2], ' ')))) AS shingle
      FROM k),
    freq AS (SELECT shingle, COUNT(*) AS df FROM sh0 GROUP BY shingle),
    sh AS (
      SELECT sh0.id, sh0.shingle FROM sh0
      JOIN freq ON freq.shingle = sh0.shingle
      WHERE freq.df <= {cap}),
    sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2),
    edges AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.id = inter.id_a
      JOIN sizes sb ON sb.id = inter.id_b
      WHERE ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.5),
    sym AS (
      SELECT id_a AS s, id_b AS d FROM edges
      UNION SELECT id_b, id_a FROM edges),
    reach AS (
      SELECT doc_id AS node, doc_id AS r FROM k
      UNION
      SELECT sym.d, reach.r FROM reach JOIN sym ON sym.s = reach.node),
    comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
    reps AS (SELECT node AS doc_id FROM comp WHERE node = component),
    k2 AS (SELECT k.* FROM k JOIN reps USING (doc_id)),
    s AS (SELECT doc_id, quality, text, {bucket} AS bucket FROM k2),
    t AS (
      SELECT doc_id, quality, bucket,
             CASE WHEN bucket < 205 THEN 'train'
                  WHEN bucket < 230 THEN 'val'
                  ELSE 'test' END AS split,
             len(string_split(text, ' ')) AS n_tokens
      FROM s),
    c AS (
      SELECT doc_id, quality, bucket, split, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY split ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_tokens
      FROM t)
    SELECT doc_id, quality, bucket, split, n_tokens, cum_tokens,
           CAST(floor((cum_tokens - n_tokens) / 2000.0) AS BIGINT) AS pack_id
    FROM c
    """


@register("training_data_prep_neardup", oracle=_training_prep_neardup_oracle())
def training_data_prep_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """training_data_prep with the NEAR-dup stage a real pretraining
    prep runs: quality filter -> exact dedup -> capped-Jaccard pair
    generation -> connected components -> keep each duplicate cluster's
    min-id representative -> hash split -> sequence packing.  Near-dups
    are planted in-plan (80%-prefix copies at id+10000 — exact dedup
    cannot catch them, the Jaccard stage must), so the gate proves the
    near-dup stage actually removes rows.

    Scale shapes, all inherited from the proven standalone operators:
    the pair stage is the skew-capped shingle join (stop-shingles
    dropped before pairing, operators/dedup.py), clustering is
    size-adaptive connected components (alternating star rounds above
    the driver threshold, operators/graph.py), and the representative
    filter is a semi join on the component labels — document bodies
    never enter the pair/cluster shuffles."""
    from ..functions import text as TX
    from ..operators.dedup import jaccard_pairs
    from ..operators.graph import connected_components
    from ..functions.text import words_of

    shard_width = 128
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") < 200)
    small = docs.filter(F.col("doc_id") < 100)
    ws = words_of("text")
    keep_w = F.ceil(F.size(ws) * 0.8).cast("int")
    planted = small.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.array_join(F.slice(ws, 1, keep_w), " ").alias("text"),
    )
    pool = base.unionByName(planted)
    # tokenize once (see the functions/text module docstring); ws is
    # dropped again before k's checkpoint so the array is never
    # materialized or shuffled
    pre = pool.select("doc_id", "text", words_of("text").alias("ws"))
    # pre-gate scalar projection + truncation BEFORE the quality filter
    # (same rework as training_data_prep: a filter below the scoring
    # projection is predicate-pushed with the words array re-expanded
    # ~6x per row; here BOTH the fp job and the k job paid it).  text
    # rides along because the near-dup pair stage shingles it.
    slim = pre.select(
        "doc_id",
        "text",
        TX.quality_score_ws("ws", "text").alias("quality"),
        TX.fingerprint_ws("ws").alias("fp"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    ).transform(truncate_plan)
    q = slim.filter(F.col("quality") >= 0.6)
    keep = q.groupBy("fp").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    k = q.join(keep, "doc_id", "left_semi")
    # Truncate: k (the quality+exact-dedup chain) feeds the pair stage,
    # the CC nodes side, AND the representative semi join — without the
    # checkpoint each branch re-derives it from the parquet scan (the
    # same multi-scan blowup training_data_prep fixed; measured 2.7x
    # growth on a BOUNDED pool at the 10x scale run without this).
    k = k.transform(truncate_plan)
    # the pair/cluster stages see only (doc_id, text)-derived shingles
    # and (id, id) edges — never the full row
    edges = jaccard_pairs(
        k.select("doc_id", "text"), threshold=0.5, n=2, max_shingle_freq=20
    )
    # eager checkpoint: CC consumes its edge input several times; the
    # capped-jaccard pair plan must materialize once, not per use
    edges = edges.select("id_a", "id_b").transform(truncate_eager)
    cc = connected_components(edges, nodes=k.select("doc_id"))
    reps = cc.filter(F.col("node") == F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    k2 = k.join(reps, "doc_id", "left_semi")
    bucket = F.expr(_bucket_expr("doc_id", "instr", "STRING"))
    t = k2.select(
        "doc_id",
        "quality",
        bucket.alias("bucket"),
        F.when(bucket < 205, "train")
        .when(bucket < 230, "val")
        .otherwise("test")
        .alias("split"),
        "n_tokens",
        F.floor(F.col("doc_id") / shard_width).alias("shard"),
    )
    t = t.transform(truncate_plan)  # window + totals + count reuse it
    w = (
        Window.partitionBy("split", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = t.withColumn("shard_cum", F.sum("n_tokens").over(w))
    totals = t.groupBy("split", "shard").agg(F.sum("n_tokens").alias("shard_total"))
    offs = exclusive_prefix_sum(
        totals, "shard", "shard_total", part_cols=("split",)
    ).select(F.col("split").alias("sp"), F.col("shard").alias("s"), "offset")
    c = c.join(
        # bounded: one row per (split, shard) pair
        F.broadcast(offs), (c["split"] == offs["sp"]) & (c["shard"] == offs["s"])
    ).withColumn("cum_tokens", (F.col("shard_cum") + F.col("offset")).cast("long"))
    return c.select(
        "doc_id",
        "quality",
        "bucket",
        "split",
        "n_tokens",
        "cum_tokens",
        F.floor((F.col("cum_tokens") - F.col("n_tokens")) / 2000.0)
        .cast("long")
        .alias("pack_id"),
    )


@register(
    "profile_documents",
    oracle="""
    SELECT * FROM (
      SELECT 'doc_id' AS column_name, COUNT(*) AS n_rows, COUNT(doc_id) AS n_nonnull,
             COUNT(DISTINCT doc_id) AS n_distinct,
             MIN(CAST(doc_id AS VARCHAR)) AS min_v, MAX(CAST(doc_id AS VARCHAR)) AS max_v
      FROM documents
      UNION ALL
      SELECT 'lang', COUNT(*), COUNT(lang), COUNT(DISTINCT lang),
             MIN(CAST(lang AS VARCHAR)), MAX(CAST(lang AS VARCHAR)) FROM documents
      UNION ALL
      SELECT 'source', COUNT(*), COUNT(source), COUNT(DISTINCT source),
             MIN(CAST(source AS VARCHAR)), MAX(CAST(source AS VARCHAR)) FROM documents)
    ORDER BY column_name
    """,
)
def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data profiling (operators/profile.py): per-column row/non-null/
    distinct counts and min/max over the documents table — the
    governance pass a pipeline runs before trusting a data drop.  Exact
    distinct here (oracle-checkable); `exact=False` switches to HLL
    approx_count_distinct at corpus scale with the same schema."""
    from ..operators.profile import profile

    docs = load_table(spark, sf_dir, "documents")
    return profile(docs, ["doc_id", "lang", "source"])


@register(
    "expect_documents",
    oracle="""
    SELECT * FROM (
      SELECT 'doc_id_null' AS rule,
             CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations
      FROM documents
      UNION ALL
      SELECT 'empty_text',
             CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 1 ELSE 0 END) AS BIGINT)
      FROM documents
      UNION ALL
      SELECT 'unknown_lang',
             CAST(SUM(CASE WHEN lang NOT IN ('en', 'de', 'fr', 'es', 'zh') THEN 1 ELSE 0 END) AS BIGINT)
      FROM documents
      UNION ALL
      SELECT 'negative_id',
             CAST(SUM(CASE WHEN doc_id < 0 THEN 1 ELSE 0 END) AS BIGINT)
      FROM documents)
    ORDER BY rule
    """,
)
def expect_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation checks (operators/profile.py): four data-contract
    rules evaluated as ONE conditional aggregation over ONE scan — a
    100 TB validation pass costs a single read.  Violation counts per
    rule; a pipeline gates ingestion on violations == 0."""
    from ..operators.profile import expect

    docs = load_table(spark, sf_dir, "documents")
    return expect(
        docs,
        {
            "doc_id_null": F.col("doc_id").isNull(),
            "empty_text": F.length(F.trim("text")) == 0,
            "unknown_lang": ~F.col("lang").isin("en", "de", "fr", "es", "zh"),
            "negative_id": F.col("doc_id") < 0,
        },
    )


@register(
    "profile_embeddings",
    oracle="""
    WITH n AS (
      SELECT embedding::DOUBLE[] AS e,
             len(embedding) AS dim,
             sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings)
    SELECT
      COUNT(*) AS n_vectors,
      CAST(SUM(CASE WHEN e IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
      CAST(MIN(dim) AS BIGINT) AS dim_min,
      CAST(MAX(dim) AS BIGINT) AS dim_max,
      CAST(SUM(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
      ROUND(MIN(nrm), 6) AS min_norm,
      ROUND(MAX(nrm), 6) AS max_norm,
      ROUND(AVG(nrm), 6) AS mean_norm
    FROM n
    """,
)
def profile_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-column QA profile: vector count, nulls, dimension
    min/max (a ragged dim is a broken ingest), zero-vector count (a
    zero norm poisons cosine retrieval), and norm min/max/mean — the
    sanity pass before building any ANN index.  ONE aggregation over
    one scan (aggregates skip NULL rows, so the null count and the
    norm stats share the pass); the dot product runs element-wise in
    codegen (zip_with + aggregate), no UDF, no shuffle beyond the
    final 1-row reduce."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.select(
        "embedding", F.size("embedding").alias("dim"), l2_norm("embedding").alias("nrm")
    )
    return n.agg(
        F.count("*").alias("n_vectors"),
        F.sum(F.col("embedding").isNull().cast("long")).alias("n_null"),
        F.min("dim").cast("long").alias("dim_min"),
        F.max("dim").cast("long").alias("dim_max"),
        F.sum((F.col("nrm") == 0).cast("long")).alias("n_zero"),
        F.round(F.min("nrm"), 6).alias("min_norm"),
        F.round(F.max("nrm"), 6).alias("max_norm"),
        F.round(F.avg("nrm"), 6).alias("mean_norm"),
    )


_DSIR_WORDS = (
    "list_transform(list_filter(regexp_split_to_array("
    "trim(regexp_replace(text, chr(10), ' ', 'g')), '\\s+'), "
    "x -> x <> ''), x -> lower(x))"
)


@register(
    "dsir_importance",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_DSIR_WORDS} AS ws FROM documents),
    bg AS (
      SELECT doc_id, ws[i + 1] || ' ' || ws[i + 2] AS g
      FROM w, UNNEST(range(CAST(len(ws) - 1 AS BIGINT))) AS t(i)
      WHERE len(ws) >= 2),
    fb AS (SELECT doc_id, {_bucket_expr('g', 'strpos')} AS b FROM bg),
    raw AS (SELECT b, COUNT(*)::BIGINT AS cr FROM fb GROUP BY b),
    tgt AS (SELECT b, COUNT(*)::BIGINT AS ct FROM fb
            WHERE doc_id % 10 = 0 GROUP BY b),
    tr AS (SELECT SUM(cr) AS total_r FROM raw),
    tt AS (SELECT SUM(ct) AS total_t FROM tgt),
    lam AS (
      SELECT raw.b,
             CAST(ROUND((ln((COALESCE(ct, 0) + 1.0) / (total_t + 256.0))
                         - ln((cr + 1.0) / (total_r + 256.0))) * 1000000)
                  AS BIGINT) AS lam
      FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tr CROSS JOIN tt)
    SELECT fb.doc_id, COUNT(*)::BIGINT AS n_features,
           ROUND(CAST(SUM(lam) AS DOUBLE) / 1000000.0, 6) AS log_weight,
           (SUM(lam) >= 0) AS keep
    FROM fb JOIN lam USING (b)
    GROUP BY fb.doc_id
    """,
)
def dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw-corpus
    document by how target-domain-like its HASHED-bigram feature
    distribution is.  Features are bigrams hashed into 256 buckets (the
    paper uses 10k; the bucket expression is the engine-portable
    md5-hex trick shared with hash_split); per-bucket importance
    log-ratio lambda_b = ln p_target(b) - ln p_raw(b) with add-1
    smoothing, and a document's log importance weight is the sum of
    lambda over its features.  `keep` marks target-leaning documents
    (log_weight >= 0) — the resampling step selects by weight.  The
    target domain here is the deterministic doc_id % 10 == 0 slice (a
    stand-in for "quality corpus" like the paper's Wikipedia+books).

    Determinism: lambda is quantized to 1e-6 integers per BUCKET
    (bounded: 256 rounds of ln total, regardless of corpus size), so
    every per-doc sum is exact integer arithmetic in any order.

    Scale shape — the reason DSIR works at the Pile scale and here at
    100 TB: both feature distributions are FIXED-SIZE aggregates (256
    rows each, map-side combined), the lambda table is a 256-row
    broadcast, and scoring is one map-side explode + broadcast join +
    combining agg per document.  Nothing shuffles by document content;
    adding corpus only grows the two count aggregates' inputs."""
    from ..functions.text import words_of

    # spread=True: per-row tokenize + two hashed-bucket count vectors
    # (scan-spread A/B: 1.31 s spread vs 1.98 s not — fixtures.py).
    docs = load_table(spark, sf_dir, "documents", spread=True)
    ws = docs.select(
        "doc_id",
        F.transform(words_of("text"), lambda w: F.lower(w)).alias("ws"),
    ).filter(F.size("ws") >= 2)
    fb = ws.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ws") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("ws", i), F.element_at("ws", i + 1)
                ),
            )
        ).alias("g"),
    ).select("doc_id", F.expr(_bucket_expr("g", "instr", "STRING")).alias("b"))
    # ONE pass computes both distributions (r14, guide §2.3 "aggregate
    # before you shuffle" / §1.2 "don't recompute"): the target slice is
    # a filter of the same feature stream, so cr and ct come from a
    # single map-side-combined groupBy instead of two independent
    # derivations of the tokenize+explode+md5 subtree (raw and tgt each
    # re-ran it; 3 corpus-scale passes -> 2).  ct == 0 for buckets with
    # no target rows, exactly what the old left join's coalesce(ct, 0)
    # produced, so lam is bit-identical.
    counts = fb.groupBy("b").agg(
        F.count("*").alias("cr"),
        F.sum((F.col("doc_id") % 10 == 0).cast("long")).alias("ct"),
    )
    # bounded: one row per hash bucket (256)
    counts = counts.transform(truncate_plan)
    totals = counts.agg(
        F.sum("cr").alias("total_r"), F.sum("ct").alias("total_t")
    )
    lam = (
        counts
        # bounded: totals is a 1-row aggregate
        .crossJoin(F.broadcast(totals))
        .select(
            "b",
            F.round(
                (
                    F.log(
                        (F.coalesce(F.col("ct"), F.lit(0)) + 1.0)
                        / (F.col("total_t") + 256.0)
                    )
                    - F.log((F.col("cr") + 1.0) / (F.col("total_r") + 256.0))
                )
                * 1_000_000,
                0,
            )
            .cast("long")
            .alias("lam"),
        )
    )
    return (
        # bounded: one row per hash bucket (constant bucket count)
        fb.join(F.broadcast(lam), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_features"),
            F.round(F.sum("lam").cast("double") / 1_000_000.0, 6).alias(
                "log_weight"
            ),
            (F.sum("lam") >= 0).alias("keep"),
        )
    )

@register(
    "weighted_sample_es",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight,
             (({_bucket_expr('doc_id', 'strpos')}) + 0.5) / 256.0 AS u
      FROM documents WHERE n_chars > 0),
    k AS (
      SELECT doc_id, weight,
             ROW_NUMBER() OVER (ORDER BY ln(u) / weight DESC, doc_id)
               AS rank
      FROM b)
    SELECT CAST(rank AS INT) AS rank, doc_id, weight
    FROM k WHERE rank <= 50
    """,
)
def weighted_sample_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis weighted sampling without replacement
    (2006): each row draws a deterministic u in (0,1) from the md5 of
    its key and scores ln(u)/w; the k largest scores ARE a weighted
    sample without replacement — the one-pass, merge-able formulation
    distributed engines use (heavier rows divide ln(u) by a larger w,
    pushing their scores toward 0 in exact proportion to weight).
    Weight here is document length (n_chars) — the "sample long
    documents more" policy a mixture builder applies; swap in
    dsir_importance's weights for target-domain-proportional sampling.

    Determinism: u = (md5 bucket + 0.5)/256 — the same engine-portable
    md5-hex parse as hash_split — and the score is never emitted, only
    the rank order, with doc_id breaking every tie (including the
    exact-equal scores that the 256-level u quantization makes common);
    both engines order identical doubles identically.

    Scale shape: map-only scoring + ORDER BY/LIMIT k, which Spark
    executes as TakeOrderedAndProject (per-partition top-k, then a
    k-row merge — no global sort, no corpus shuffle); one-pass
    no-replacement sampling is exactly why ES beats rejection /
    multinomial resampling at 100 TB.  The final rank window runs on
    the 50-row post-limit result only."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    h = F.expr(_bucket_expr("doc_id", "instr", "STRING")).cast("double")
    u = (h + 0.5) / 256.0
    scored = docs.select(
        "doc_id",
        F.col("n_chars").cast("double").alias("weight"),
        (F.log(u) / F.col("n_chars").cast("double")).alias("score"),
    )
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(50)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.select(
        F.row_number().over(w).cast("int").alias("rank"), "doc_id", "weight"
    )


@register(
    "mixture_token_budget",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             SUM(n_chars) OVER (PARTITION BY source
               ORDER BY {_bucket_expr('doc_id', 'strpos')}, doc_id
               ROWS UNBOUNDED PRECEDING) AS cum,
             (CAST(substr(source, 4) AS BIGINT) % 3 + 1) * 2000 AS budget
      FROM documents)
    SELECT doc_id, source, CAST(cum AS BIGINT) AS cum_tokens,
           CAST(budget AS BIGINT) AS budget
    FROM ranked WHERE cum - n_chars < budget
    """,
)
def mixture_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted mixture construction — the TOKEN-weighted sibling
    of `mixture_sample`: each source contributes documents in
    deterministic md5-hash order until its token budget is exhausted
    (budgets derived from the source id here; a real mixture spec maps
    source -> target token share).  This is how pretraining mixtures
    are actually specified — "200B tokens of web, 30B of books" — where
    a per-DOCUMENT quota over variable-length docs misses the target by
    the length distribution.  The boundary document that crosses the
    budget is included (greedy prefix: every source overshoots by less
    than one document), and `cum_tokens` is the exact running total so
    the consumer can trim or account.

    Scale shape: one hash-partitioned window per source (running sum,
    exact integer arithmetic — no float drift in the cutoff), no global
    sort, no driver state; identical shuffle profile to mixture_sample.
    Per-source skew equals source size — the same skew the source
    dimension already has everywhere downstream."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(_bucket_expr("doc_id", "instr", "STRING"))
    budget = (F.substring("source", 4, 10).cast("long") % 3 + 1) * 2000
    w = (
        Window.partitionBy("source")
        .orderBy(bucket.asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.sum("n_chars").over(w).alias("cum"),
        budget.alias("budget"),
    )
    return ranked.filter(F.col("cum") - F.col("n_chars") < F.col("budget")).select(
        "doc_id",
        "source",
        F.col("cum").cast("long").alias("cum_tokens"),
        F.col("budget").cast("long").alias("budget"),
    )


@register(
    "span_corruption_masks",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_DSIR_WORDS} AS ws FROM documents),
    pos AS (
      SELECT doc_id, ws, CAST(p AS BIGINT) AS p
      FROM w, UNNEST(range(1, CAST(len(ws) + 1 AS BIGINT))) AS t(p)),
    starts AS (
      SELECT doc_id, ws, p
      FROM pos
      WHERE ({_bucket_expr("doc_id || ':' || p", 'strpos')}) < 13),
    merged AS (
      SELECT doc_id, ws, p,
             CASE WHEN LAG(p) OVER (PARTITION BY doc_id ORDER BY p)
                       >= p - 2 THEN 0 ELSE 1 END AS is_head
      FROM starts),
    grp AS (
      SELECT doc_id, ws, p,
             SUM(is_head) OVER (PARTITION BY doc_id ORDER BY p
                                ROWS UNBOUNDED PRECEDING) AS span_id
      FROM merged),
    spans AS (
      SELECT doc_id, CAST(span_id AS INT) AS span_id,
             MIN(p) AS span_start,
             CAST(LEAST(MAX(p) + 2, MAX(len(ws))) - MIN(p) + 1 AS BIGINT)
               AS span_len,
             array_to_string(
               MAX(ws)[MIN(p):CAST(LEAST(MAX(p) + 2, MAX(len(ws))) AS BIGINT)],
               ' ') AS span_text
      FROM grp GROUP BY doc_id, span_id)
    SELECT doc_id, span_id, span_start, span_len, span_text FROM spans
    """,
)
def span_corruption_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption mask PLAN: deterministic ~5% of token
    positions (md5 bucket < 13/256) seed 3-token masked spans;
    OVERLAPPING seeds (within 2 positions) merge into one span (the LAG/cumsum
    interval-union idiom shared with substring_dedup's coverage calc);
    output is one row per merged span — id, start, exact length
    (clipped at the document end), text.  This is the seq2seq denoising
    objective's sampling step (Raffel et al. 2020 §3.1.4) as a
    DataFrame plan: downstream rendering to <extra_id_k> input/target
    strings is a trivial map over these rows, while the part that must
    be reproducible across runs and engines — WHICH spans are masked —
    is a pure hash function of (doc_id, position), so re-running the
    pipeline on a grown corpus never re-masks old documents
    differently (the same stability argument as hash_split).

    Scale shape: one explode (token positions) that immediately DROPS
    the token array — only slim (doc_id, p) longs survive the map-side
    hash filter (~5% survive) into the two doc-partitioned windows and
    the group-by; the per-document `ws` array is joined back exactly
    ONCE per document (doc_id equi-join) to slice span_text.  Shuffle
    volume is therefore O(corpus tokens) + one array copy per doc,
    instead of one array copy per surviving SEED (which was
    O(0.05 * doc_len^2) words per doc — ruinous on book-length
    documents)."""
    from ..functions.text import words_of

    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id",
        F.transform(words_of("text"), lambda x: F.lower(x)).alias("ws"),
    )
    pos = w.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("ws"))).alias("p"),
    ).select("doc_id", F.col("p").cast("long").alias("p"))
    bucket = F.expr(
        _bucket_expr("doc_id || ':' || p", "instr", "STRING")
    )
    starts = pos.filter(bucket < 13)
    wlag = Window.partitionBy("doc_id").orderBy("p")
    merged = starts.withColumn(
        "is_head",
        F.when(F.lag("p").over(wlag) >= F.col("p") - 2, 0).otherwise(1),
    )
    wsum = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grp = merged.withColumn("span_id", F.sum("is_head").over(wsum))
    spans = grp.groupBy(
        "doc_id", F.col("span_id").cast("int").alias("span_id")
    ).agg(
        F.min("p").alias("span_start"),
        F.max("p").alias("__max_p"),
    )
    end = F.least(F.col("__max_p") + 2, F.size("ws").cast("long"))
    return spans.join(w, "doc_id").select(
        "doc_id",
        "span_id",
        "span_start",
        (end - F.col("span_start") + 1).cast("long").alias("span_len"),
        F.array_join(
            F.slice(
                F.col("ws"),
                F.col("span_start").cast("int"),
                (end - F.col("span_start") + 1).cast("int"),
            ),
            " ",
        ).alias("span_text"),
    )


@register(
    "epoch_shuffle",
    oracle=f"""
    WITH withe AS (
      SELECT doc_id, e.epoch
      FROM documents, (SELECT unnest([0, 1]) AS epoch) e),
    ranked AS (
      SELECT epoch, doc_id,
             CAST(({_bucket_expr("doc_id || ':' || epoch", 'strpos')}) % 8
                  AS INT) AS shard,
             md5(CAST(doc_id || ':' || epoch || ':o' AS VARCHAR)) AS k
      FROM withe)
    SELECT epoch, shard,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY epoch, shard ORDER BY k, doc_id) AS BIGINT) AS pos,
           doc_id
    FROM ranked
    """,
)
def epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch training-order shuffle: every document
    gets, for each epoch, a hash-derived shard (md5 bucket % 8) and a
    position within its shard (rank of an independent md5 key) — the
    reshuffle-between-epochs a trainer consumes as `ORDER BY (epoch,
    shard, pos)`, reproducible from (doc_id, epoch) alone so any worker
    can recompute its slice without coordination and a re-run of the
    pipeline never changes historical epochs (the hash_split stability
    argument applied to ORDERING).

    Scale shape: epochs come from an in-row explode (no join); shard
    assignment is a map-side hash; the only shuffle is the hash
    partition to (epoch, shard) where each shard sorts LOCALLY — a
    global training order without any global sort, uniform by
    construction (md5 on unique ids -> no skew), shards sized
    corpus/8/epoch for sequential reads.  This is exactly the physical
    layout `df.repartition(shard).sortWithinPartitions(pos)` writes as
    training shards; the rank window is partitioned by (epoch, shard)
    so no single-partition stage exists."""
    docs = load_table(spark, sf_dir, "documents")
    withe = docs.select(
        "doc_id",
        F.explode(F.array(F.lit(0), F.lit(1))).alias("epoch"),
    )
    bucket = F.expr(_bucket_expr("doc_id || ':' || epoch", "instr", "STRING"))
    ranked = withe.select(
        "epoch",
        "doc_id",
        (bucket % 8).cast("int").alias("shard"),
        F.expr("md5(CAST(doc_id || ':' || epoch || ':o' AS STRING))").alias("k"),
    )
    w = Window.partitionBy("epoch", "shard").orderBy("k", "doc_id")
    return ranked.select(
        "epoch",
        "shard",
        F.row_number().over(w).cast("long").alias("pos"),
        "doc_id",
    )


_FIM_WORDS = (
    "list_filter(regexp_split_to_array("
    "trim(regexp_replace(text, chr(10), ' ', 'g')), '\\s+'), "
    "x -> x <> '')"
)


@register(
    "fim_transform",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_FIM_WORDS} AS ws FROM documents),
    cuts AS (
      SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n,
             CAST(({_bucket_expr("doc_id || ':fim1'", 'strpos')})
                  % (len(ws) + 1) AS BIGINT) AS a,
             CAST(({_bucket_expr("doc_id || ':fim2'", 'strpos')})
                  % (len(ws) + 1) AS BIGINT) AS b
      FROM w),
    uv AS (SELECT doc_id, ws, n,
                  LEAST(a, b) AS u, GREATEST(a, b) AS v
           FROM cuts)
    SELECT doc_id,
           u AS prefix_len,
           v - u AS middle_len,
           n - v AS suffix_len,
           '<PRE> ' || COALESCE(array_to_string(ws[1:u], ' '), '')
           || ' <SUF> ' || COALESCE(array_to_string(ws[v + 1:n], ' '), '')
           || ' <MID> ' || COALESCE(array_to_string(ws[u + 1:v], ' '), '')
             AS psm_text
    FROM uv
    """,
)
def fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle training transformation (Bavarian et al. 2022
    "Efficient Training of Language Models to Fill in the Middle"):
    deterministically cut each document into prefix/middle/suffix at
    two hash-derived word positions and emit the PSM reordering
    (<PRE> prefix <SUF> suffix <MID> middle) plus the segment lengths —
    the code/infilling-objective complement of span_corruption_masks'
    T5 plan.  The cut points are a pure hash of doc_id, so rerunning on
    a grown corpus never re-cuts old documents differently (the same
    stability argument as hash_split/span_corruption_masks), and a
    trainer that wants the documented 50/50 FIM rate composes this
    with a hash_sample on the same key family.

    Scale shape: strictly map-only — no explode, no join, no shuffle;
    one projection computing two md5 buckets and three array slices
    per row, whole-stage-codegen'd.  The cheapest possible objective
    plan: at 100 TB it is bounded by the parquet scan itself."""
    docs = load_table(spark, sf_dir, "documents")
    from ..functions.text import words_of

    w = docs.select("doc_id", words_of("text").alias("ws"))
    n = F.size("ws").cast("long")
    a = (
        F.expr(_bucket_expr("doc_id || ':fim1'", "instr", "STRING"))
        % (n + 1)
    ).cast("long")
    b = (
        F.expr(_bucket_expr("doc_id || ':fim2'", "instr", "STRING"))
        % (n + 1)
    ).cast("long")
    u = F.least(a, b)
    v = F.greatest(a, b)
    seg = lambda start, length: F.array_join(  # noqa: E731
        F.slice("ws", start.cast("int"), length.cast("int")), " "
    )
    return w.select(
        "doc_id",
        u.alias("prefix_len"),
        (v - u).alias("middle_len"),
        (n - v).alias("suffix_len"),
        F.concat(
            F.lit("<PRE> "),
            seg(F.lit(1), u),
            F.lit(" <SUF> "),
            seg(v + 1, n - v),
            F.lit(" <MID> "),
            seg(u + 1, v - u),
        ).alias("psm_text"),
    )


_HEXD = "0123456789abcdef"
# 40-bit md5 prefix of (doc_id | text) as an integer: small enough that a
# SUM over any realistic split count stays far inside BIGINT (1.1e12 per
# doc x 8e6 docs before the 9.2e18 ceiling), big enough that a changed,
# added, or dropped document moves the sum with collision odds ~2^-40
_FP_POLY = " + ".join(
    f"(strpos('{_HEXD}', substr(m, {1 + i}, 1)) - 1) * {16 ** (9 - i)}"
    for i in range(10)
)


@register(
    "dataset_manifest",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, text, {_bucket_expr('doc_id', 'strpos')} AS bucket
      FROM documents),
    s AS (
      SELECT doc_id, text,
             CASE WHEN bucket < 205 THEN 'train'
                  WHEN bucket < 230 THEN 'val'
                  ELSE 'test' END AS split
      FROM b),
    h AS (
      SELECT split,
             len(list_filter(regexp_split_to_array(
               trim(regexp_replace(text, chr(10), ' ', 'g')), '\\s+'),
               x -> x <> '')) AS toks,
             md5(CAST(doc_id AS VARCHAR) || '|' || text) AS m
      FROM s)
    SELECT split,
           COUNT(*)::BIGINT AS n_docs,
           CAST(SUM(toks) AS BIGINT) AS n_tokens,
           CAST(SUM({_FP_POLY}) AS BIGINT) AS content_fp
    FROM h GROUP BY split
    """,
)
def dataset_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release manifest for a training dataset — per split: document
    count, token count, and an ORDER-INDEPENDENT content fingerprint
    (sum of a 40-bit md5 prefix of each (doc_id, text) pair).  This is
    the reproducibility record a data release ships (datacard checksum
    row): any engine, any partitioning, any row order recomputes the
    identical three numbers, and a single changed/added/dropped
    document moves content_fp — so 'same manifest' certifies 'same
    dataset' without comparing bytes.  Commutative+associative by
    construction (a SUM, not an ordered hash chain), which is exactly
    what makes it computable as one map-side-combined aggregate over
    an arbitrarily partitioned 100-TB corpus; a hash CHAIN (md5 of
    concatenated docs) would force a global sort + single reducer.

    Scale shape: scan-local split assignment + hash, one combining
    groupBy(split) agg — no join, no window, 3 output rows."""
    from ..functions.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(_bucket_expr("doc_id", "instr", "STRING"))
    split = (
        F.when(bucket < 205, "train").when(bucket < 230, "val").otherwise("test")
    )
    fp = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|"), F.col("text"))),
            1,
            10,
        ),
        16,
        10,
    ).cast("long")
    return (
        docs.select(
            split.alias("split"),
            token_count("text").alias("toks"),
            fp.alias("fp"),
        )
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("toks").cast("long").alias("n_tokens"),
            F.sum("fp").cast("long").alias("content_fp"),
        )
    )


@register(
    "shard_skew_report",
    oracle=f"""
    WITH withe AS (
      SELECT doc_id, text, e.epoch
      FROM documents, (SELECT unnest([0, 1]) AS epoch) e),
    assigned AS (
      SELECT epoch,
             CAST(({_bucket_expr("doc_id || ':' || epoch", 'strpos')}) % 8
                  AS INT) AS shard,
             len(list_filter(regexp_split_to_array(
               trim(regexp_replace(text, chr(10), ' ', 'g')), '\\s+'),
               x -> x <> '')) AS toks
      FROM withe),
    per AS (
      SELECT epoch, shard, COUNT(*)::BIGINT AS n_docs,
             CAST(SUM(toks) AS BIGINT) AS n_tokens
      FROM assigned GROUP BY epoch, shard)
    SELECT epoch, shard, n_docs, n_tokens,
           CAST(n_tokens * 1000 * COUNT(*) OVER (PARTITION BY epoch)
                // SUM(n_tokens) OVER (PARTITION BY epoch)
                AS BIGINT) AS load_milli
    FROM per
    """,
)
def shard_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trainer-shard balance monitor over epoch_shuffle's assignment:
    per (epoch, shard) document and token volume, plus each shard's
    load as milli-multiples of its epoch's mean token load — the check
    a distributed training run reads before launch, because one
    overweight shard sets the step time for every data-parallel worker
    (stragglers are a per-STEP tax, unlike a skewed reduce which is
    paid once).  The md5 shard hash makes loads uniform by
    construction; the monitor is what PROVES it per corpus — a
    load_milli far from 1000 flags a broken hash or pathological
    length distribution before any GPU time is spent.

    Scale shape: one map-side-combined groupBy over the same scan
    epoch_shuffle reads; the load normalization is a window over the
    16-row per-epoch aggregate, not the data.  Integer milli-loads:
    n_tokens*1000 // mean, identical both engines."""
    from ..functions.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    withe = docs.select(
        "doc_id",
        token_count("text").alias("toks"),
        F.explode(F.array(F.lit(0), F.lit(1))).alias("epoch"),
    )
    bucket = F.expr(_bucket_expr("doc_id || ':' || epoch", "instr", "STRING"))
    per = (
        withe.select("epoch", (bucket % 8).cast("int").alias("shard"), "toks")
        .groupBy("epoch", "shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("toks").cast("long").alias("n_tokens"),
        )
    )
    w = Window.partitionBy("epoch")
    with_tot = per.withColumn("__cnt", F.count("*").over(w)).withColumn(
        "__tot", F.sum("n_tokens").over(w)
    )
    return with_tot.select(
        "epoch",
        "shard",
        "n_docs",
        "n_tokens",
        F.expr("n_tokens * 1000 * __cnt DIV __tot").alias("load_milli"),
    )
