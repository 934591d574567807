"""Text-pipeline queries — cleaning, chunking, context assembly
(SURVEY §2 Part A text surface) plus the training-data text-analysis
extensions (token stats, language-ID, quality, fingerprint).

Chunk size is 16 words in the declared queries (the fixture documents
are short; the operator takes the reference's 512 as its default —
/root/reference/app/main.py:37)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as TX
from ..operators.chunking import chunk_documents
from ..sources.fixtures import load_table
from .registry import register
from ..functions.plan import truncate_plan, truncate_eager

CHUNK = 16

# DuckDB fragments matching functions/text.py exactly.
_CLEAN = "trim(regexp_replace(text, chr(10), ' ', 'g'))"
_WORDS = f"regexp_split_to_array({_CLEAN}, '\\s+')"
_STOPS = "[" + ", ".join(f"'{s}'" for s in TX.STOPWORDS) + "]"


@register(
    "doc_clean",
    oracle=f"SELECT doc_id, {_CLEAN} AS clean_text FROM documents",
)
def doc_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """basic_cleaning (SURVEY A1, /root/reference/app/main.py:379-380):
    newline -> space, trim.  Pure projection; pushdown-friendly."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.clean_text("text").alias("clean_text"))


@register(
    "doc_chunk",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_WORDS} AS ws FROM documents)
    SELECT doc_id, CAST(i AS INT) AS chunk_id,
           array_to_string(ws[i * {CHUNK} + 1 : (i + 1) * {CHUNK}], ' ') AS chunk_text
    FROM w, UNNEST(range(CAST(greatest(1, ceil(len(ws) / {CHUNK}.0)) AS BIGINT))) AS t(i)
    """,
)
def doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """chunk_text (SURVEY A2, /root/reference/app/main.py:383-393): split
    on whitespace, re-join into <=N-word chunks.  1 row -> ceil(n/N)
    rows via posexplode — map-only, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_size=CHUNK).select(
        "doc_id", "chunk_id", "chunk_text"
    )


@register(
    "context_assembly",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_WORDS} AS ws FROM documents WHERE doc_id < 50),
    chunks AS (
      SELECT doc_id, CAST(i AS INT) AS chunk_id,
             array_to_string(ws[i * {CHUNK} + 1 : (i + 1) * {CHUNK}], ' ') AS chunk_text
      FROM w, UNNEST(range(CAST(greatest(1, ceil(len(ws) / {CHUNK}.0)) AS BIGINT))) AS t(i)
    )
    SELECT doc_id,
           '--- Document ID: ' || CAST(doc_id AS VARCHAR) || ' ---' || chr(10)
             || string_agg(chunk_text, chr(10) ORDER BY chunk_id) || chr(10) AS block
    FROM chunks GROUP BY doc_id
    """,
)
def context_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context assembly (SURVEY A16, /root/reference/app/main.py:500-513):
    group retrieved chunks by doc, concatenate in retrieval order, format
    '--- Document ID: {id} ---' blocks.  Order-stabilized via
    array_sort(collect_list(struct(chunk_id, text)))."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    chunks = chunk_documents(docs, chunk_size=CHUNK)
    assembled = chunks.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_id", "chunk_text"))),
                lambda s: s["chunk_text"],
            ),
            "\n",
        ).alias("content")
    )
    return assembled.select(
        "doc_id",
        F.concat(
            F.lit("--- Document ID: "),
            F.col("doc_id").cast("string"),
            F.lit(" ---\n"),
            F.col("content"),
            F.lit("\n"),
        ).alias("block"),
    )


@register(
    "text_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_WORDS}) AS INT) AS n_tokens,
           CAST(len(list_filter({_WORDS}, w -> list_contains({_STOPS}, lower(w)))) AS INT) AS n_stopwords,
           ROUND(CASE WHEN len({_WORDS}) = 0 THEN 0.0
                 ELSE CAST(len(list_filter({_WORDS}, w -> list_contains({_STOPS}, lower(w)))) AS DOUBLE)
                      / CAST(len({_WORDS}) AS DOUBLE) END, 6) AS stop_ratio,
           CAST(length(text) AS INT) AS n_chars_raw
    FROM documents
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + stopword stats — the text-analysis extension
    (north star, BASELINE.json:6) over the documents table."""
    docs = load_table(spark, sf_dir, "documents")
    pre = docs.select("doc_id", "text", TX.words_of("text").alias("ws"))
    ws = F.col("ws")
    return pre.select(
        "doc_id",
        F.size(ws).alias("n_tokens"),
        TX.stopword_count_ws("ws").alias("n_stopwords"),
        F.round(TX.stopword_ratio_ws("ws"), 6).alias("stop_ratio"),
        F.length("text").alias("n_chars_raw"),
    )


@register(
    "lang_id",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, lang,
             CASE WHEN len({_WORDS}) = 0 THEN 0.0
                  ELSE CAST(len(list_filter({_WORDS}, w -> list_contains({_STOPS}, lower(w)))) AS DOUBLE)
                       / CAST(len({_WORDS}) AS DOUBLE) END AS r
      FROM documents
    )
    SELECT doc_id, lang, CASE WHEN r >= 0.08 THEN 'en' ELSE 'unk' END AS lang_pred
    FROM s
    """,
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (stopword-hit ratio) vs the fixture's lang
    label — deterministic, JVM-side, oracle-checkable."""
    docs = load_table(spark, sf_dir, "documents")
    pre = docs.select("doc_id", "lang", TX.words_of("text").alias("ws"))
    return pre.select(
        "doc_id", "lang", TX.lang_id_ws("ws").alias("lang_pred")
    )


@register(
    "doc_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(lower(array_to_string({_WORDS}, ' '))) AS fp
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over whitespace-normalized lowercased
    text — the 16-byte dedup key that replaces shuffling full bodies."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.fingerprint("text").alias("fp"))


_PUNCT_CLASS_SQL = """[^.,;:!?''"()-]"""  # doubled quote = escaped in SQL


@register(
    "quality_score",
    oracle=f"""
    WITH parts AS (
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
      FROM documents)
    SELECT doc_id,
           ROUND(least(1.0, sw * 2.0) * 0.5
                 + (CASE WHEN awl >= 2.0 AND awl <= 12.0 THEN 1.0 ELSE 0.0 END) * 0.3
                 + (1.0 - least(1.0, pr * 5.0)) * 0.2, 6) AS quality
    FROM parts
    """,
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring for training-data filtering: stopword-naturalness
    + word-length sanity + punctuation-soup penalty, composed exactly as
    in functions/text.py:quality_score — fully oracle-checked."""
    docs = load_table(spark, sf_dir, "documents")
    pre = docs.select("doc_id", "text", TX.words_of("text").alias("ws"))
    return pre.select(
        "doc_id",
        TX.quality_score_ws("ws", "text").alias("quality"),
    )


@register(
    "repetition_filter",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_WORDS} AS ws FROM documents),
    g AS (
      SELECT doc_id,
             list_transform(range(CAST(greatest(len(ws) - 1, 1) AS BIGINT)),
                            i -> array_to_string(ws[i + 1:i + 2], ' ')) AS g2,
             list_transform(range(CAST(greatest(len(ws) - 2, 1) AS BIGINT)),
                            i -> array_to_string(ws[i + 1:i + 3], ' ')) AS g3
      FROM t)
    SELECT doc_id,
           ROUND(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2), 6) AS dup2_frac,
           ROUND(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3), 6) AS dup3_frac,
           (ROUND(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2), 6) > 0.5) AS flagged
    FROM g
    """,
)
def repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition scoring (the Gopher-rules quality
    filter family): per doc, the fraction of word bigrams / trigrams
    that are repeats of an earlier n-gram in the SAME document; docs
    whose bigram-repeat fraction exceeds 0.5 are flagged as loops /
    boilerplate.  Entirely map-side — no shuffle, no join: each doc is
    scored from its own token array inside whole-stage codegen, so the
    operator streams a 100 TB corpus at scan speed."""
    docs = load_table(spark, sf_dir, "documents")
    docs = docs.select("doc_id", TX.words_of("text").alias("ws"))
    ws = F.col("ws")

    def ngrams(n: int):
        cnt = F.greatest(F.lit(1), F.size(ws) - F.lit(n - 1))
        return F.transform(
            F.sequence(F.lit(0), cnt - 1),
            lambda i: F.array_join(F.slice(ws, i + 1, n), " "),
        )

    def dup_frac(grams):
        return F.round(
            F.lit(1.0)
            - F.size(F.array_distinct(grams)).cast("double") / F.size(grams),
            6,
        )

    d2 = dup_frac(ngrams(2))
    return docs.select(
        "doc_id",
        d2.alias("dup2_frac"),
        dup_frac(ngrams(3)).alias("dup3_frac"),
        (d2 > 0.5).alias("flagged"),
    )


@register(
    "term_frequencies",
    oracle=f"""
    SELECT word, cnt, n_docs FROM (
      SELECT word, COUNT(*)::BIGINT AS cnt, COUNT(DISTINCT doc_id)::BIGINT AS n_docs
      FROM (SELECT doc_id, unnest({_WORDS}) AS word FROM documents)
      GROUP BY word)
    ORDER BY cnt DESC, word LIMIT 50
    """,
)
def term_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics: top-50 terms by total occurrences
    with document frequency alongside — the frequency table behind
    tokenizer training / stopword induction / BM25 idf.  Deterministic
    (cnt DESC, word) tiebreak.

    Scale shape: explode words -> hash aggregate with MAP-SIDE partial
    combine, so the shuffle carries one (word, partial_cnt, partial_df)
    row per distinct word per task, not one row per token; the final
    top-50 is TakeOrderedAndProject (per-partition heads merged on the
    driver), never a global sort of the vocabulary."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(TX.words_of("text")).alias("word")
    )
    counts = words.groupBy("word").agg(
        F.count("*").alias("cnt"), F.countDistinct("doc_id").alias("n_docs")
    )
    return counts.orderBy(F.desc("cnt"), F.asc("word")).limit(50)


@register(
    "doc_chunk_overlap",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_WORDS} AS ws FROM documents)
    SELECT doc_id, CAST(i AS INT) AS chunk_id,
           array_to_string(ws[i * 12 + 1 : i * 12 + 16], ' ') AS chunk_text
    FROM w, UNNEST(range(CAST(greatest(1, ceil((len(ws) - 4) / 12.0)) AS BIGINT))) AS t(i)
    """,
)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (size 16, stride 12 → 4-word overlap):
    the RAG-standard variant of A2 where consecutive chunks share a
    margin so retrieval context survives chunk boundaries.  Same
    map-only posexplode shape as doc_chunk — no shuffle at any scale."""
    from ..operators.chunking import overlap_chunk_array_from_words

    docs = load_table(spark, sf_dir, "documents")
    tokenized = docs.select("doc_id", TX.words_of("text").alias("__ws"))
    chunks = overlap_chunk_array_from_words("__ws", 16, 12)
    return tokenized.select(
        "doc_id", F.posexplode(chunks).alias("chunk_id", "chunk_text")
    )


@register(
    "unigram_perplexity",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             unnest(list_transform(list_filter({_WORDS}, x -> x <> ''),
                                   x -> lower(x))) AS word
      FROM documents),
    c AS (SELECT word, COUNT(*)::DOUBLE AS cnt FROM w GROUP BY word),
    t AS (SELECT SUM(cnt) AS total FROM c)
    SELECT doc_id,
           ROUND(AVG(ln(cnt / total)), 6) AS avg_logprob,
           ROUND(exp(-AVG(ln(cnt / total))), 4) AS ppl
    FROM w JOIN c USING (word) CROSS JOIN t
    GROUP BY doc_id
    """,
)
def unigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity scoring — the classic corpus-level quality
    filter (CCNet/Gopher family): train token frequencies on the corpus
    itself, score each document by the mean log-probability of its
    tokens, report perplexity (low = in-distribution prose, high =
    gibberish / vocabulary soup).

    Scale shape: (1) the LM "training" is one hash aggregate with
    map-side partial combine — the shuffle carries one row per distinct
    word per task, never one row per token; (2) the total-token count
    is a one-row aggregate broadcast back into the plan; (3) scoring
    joins tokens to the frequency table keyed on word — stop-words make
    this key hot, which is exactly the skew AQE's skew-join splitting
    handles (left to AQE rather than a manual salt since the vocabulary
    at 100 TB is too large to broadcast); (4) the per-doc reduction is
    again a map-side-combined average.  No Python anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    # Truncate the token table and the vocab counts (r14, guide §1.2):
    # `words` feeds the LM aggregate AND the scoring join, and `counts`
    # feeds the total AND the join — without the checkpoints the regex
    # tokenize re-ran from the scan once per leg (3 corpus passes).
    words = (
        docs.select(
            "doc_id", F.explode(TX.words_of("text")).alias("__w")
        )
        .select("doc_id", F.lower("__w").alias("word"))
        .transform(truncate_plan)
    )
    counts = (
        words.groupBy("word")
        .agg(F.count("*").cast("double").alias("cnt"))
        .transform(truncate_plan)
    )
    total = counts.agg(F.sum("cnt").alias("total"))
    alp = F.avg(F.log(F.col("cnt") / F.col("total")))
    return (
        words.join(counts, "word")
        # bounded: 1-row corpus total
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.round(alp, 6).alias("avg_logprob"),
            F.round(F.exp(-alp), 4).alias("ppl"),
        )
    )


@register(
    "curation_verdict",
    oracle=f"""
    WITH parts AS (
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
      FROM documents),
    q AS (
      SELECT doc_id,
             ROUND(least(1.0, sw * 2.0) * 0.5
                   + (CASE WHEN awl >= 2.0 AND awl <= 12.0 THEN 1.0 ELSE 0.0 END) * 0.3
                   + (1.0 - least(1.0, pr * 5.0)) * 0.2, 6) AS quality,
             CASE WHEN sw >= 0.08 THEN 'en' ELSE 'unk' END AS lang_pred
      FROM parts),
    g AS (
      SELECT doc_id,
             ROUND(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2), 6) AS dup2_frac
      FROM (SELECT doc_id,
                   list_transform(range(CAST(greatest(len({_WORDS}) - 1, 1) AS BIGINT)),
                                  i -> array_to_string(({_WORDS})[i + 1:i + 2], ' ')) AS g2
            FROM documents)),
    d AS (
      SELECT doc_id,
             MIN(doc_id) OVER (
               PARTITION BY md5(lower(array_to_string({_WORDS}, ' ')))) AS rep
      FROM documents)
    SELECT q.doc_id, quality, lang_pred, dup2_frac,
           concat_ws(';',
             CASE WHEN quality < 0.6 THEN 'low_quality' END,
             CASE WHEN lang_pred <> 'en' THEN 'non_en' END,
             CASE WHEN dup2_frac > 0.5 THEN 'repetitive' END,
             CASE WHEN rep <> q.doc_id THEN 'duplicate' END) AS reasons,
           (quality >= 0.6 AND lang_pred = 'en' AND dup2_frac <= 0.5
            AND rep = q.doc_id) AS keep
    FROM q JOIN g USING (doc_id) JOIN d USING (doc_id)
    """,
)
def curation_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-document keep/drop audit table a curation pipeline
    actually ships: quality score, language-ID, intra-doc repetition,
    and corpus-level exact-dup status composed into one row per doc
    with machine-readable drop reasons.  Everything except the dup
    check is map-only expression work over one scan; the dup check is
    one orderless window over the md5 fingerprint (same single-shuffle
    trick as substring_dedup).  Fully oracle-checked, reasons string
    included."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    # Tokenize ONCE into a real column: every words_of() instantiation
    # carries fresh lambda exprIds, so Catalyst CSE cannot unify the
    # regex-split trees the quality/lang/repetition/fingerprint
    # heuristics would otherwise each rebuild (~10 splits per row).
    # CollapseProject keeps this Project node because the expression is
    # non-cheap and multi-referenced.  Measured at sf0.1 (noop sink):
    # 5.3-7.4 s -> 1.25 s, bit-identical output.
    pre = docs.select("doc_id", "text", TX.words_of("text").alias("ws"))
    ws = F.col("ws")
    quality = TX.quality_score_ws("ws", "text")
    langp = TX.lang_id_ws("ws")
    cnt = F.greatest(F.lit(1), F.size(ws) - F.lit(1))
    g2 = F.transform(
        F.sequence(F.lit(0), cnt - 1),
        lambda i: F.array_join(F.slice(ws, i + 1, 2), " "),
    )
    dup2 = F.round(
        F.lit(1.0) - F.size(F.array_distinct(g2)).cast("double") / F.size(g2), 6
    )
    fp = F.md5(F.lower(F.array_join(ws, " ")))
    # scalars (incl. the 16-byte fp) are computed BEFORE the dedup
    # window's shuffle, so the words array never crosses an Exchange
    scal = pre.select(
        "doc_id",
        quality.alias("quality"),
        langp.alias("lang_pred"),
        dup2.alias("dup2_frac"),
        fp.alias("fp"),
    )
    rep = F.min("doc_id").over(Window.partitionBy("fp"))
    base = scal.select(
        "doc_id",
        "quality",
        "lang_pred",
        "dup2_frac",
        rep.alias("rep"),
    )
    reasons = F.concat_ws(
        ";",
        F.when(F.col("quality") < 0.6, "low_quality"),
        F.when(F.col("lang_pred") != "en", "non_en"),
        F.when(F.col("dup2_frac") > 0.5, "repetitive"),
        F.when(F.col("rep") != F.col("doc_id"), "duplicate"),
    )
    return base.select(
        "doc_id",
        "quality",
        "lang_pred",
        "dup2_frac",
        reasons.alias("reasons"),
        (
            (F.col("quality") >= 0.6)
            & (F.col("lang_pred") == "en")
            & (F.col("dup2_frac") <= 0.5)
            & (F.col("rep") == F.col("doc_id"))
        ).alias("keep"),
    )


# GPT-2-style pre-tokenizer pattern, simplified to what BOTH engines'
# regex dialects share (Java util.regex and DuckDB's RE2): contraction
# suffixes, space-prefixed letter runs, digit runs, punctuation runs.
# RE2 has no lookahead, so the original pattern's trailing-space clauses
# are dropped — whitespace between matches is simply not consumed.
_BPE_PAT = "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


@register(
    "bpe_token_count",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_CLEAN} AS ct FROM documents)
    SELECT doc_id,
           CAST(len(regexp_split_to_array(ct, '\\s+')) AS INT) AS ws_tokens,
           CAST(len(regexp_extract_all(ct, '{_BPE_PAT.replace("'", "''")}')) AS INT)
             AS bpe_tokens,
           ROUND(CAST(len(regexp_extract_all(ct, '{_BPE_PAT.replace("'", "''")}')) AS DOUBLE)
                 / greatest(len(regexp_split_to_array(ct, '\\s+')), 1), 6)
             AS bpe_per_word
    FROM t
    """,
)
def bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-ish pre-tokenizer regex (the GPT-2
    pattern family: contraction suffixes, space-prefixed letter/digit
    runs, punctuation runs) alongside the whitespace count.  The
    bpe-per-word ratio is the training-cost signal: punctuation-soup
    and digit-heavy documents fragment into many subword tokens per
    whitespace word.  Pure regexp_extract_all in codegen — map-only,
    scan-speed; the identical pattern runs in the DuckDB oracle (both
    dialects share it because the lookahead-free form was chosen)."""
    docs = load_table(spark, sf_dir, "documents")
    ct = TX.clean_text("text")
    ws_n = F.size(F.split(ct, r"\s+"))
    bpe_n = F.size(F.regexp_extract_all(ct, F.lit(_BPE_PAT), F.lit(0)))
    return docs.select(
        "doc_id",
        ws_n.alias("ws_tokens"),
        bpe_n.alias("bpe_tokens"),
        F.round(
            bpe_n.cast("double") / F.greatest(ws_n, F.lit(1)), 6
        ).alias("bpe_per_word"),
    )


@register(
    "bigram_perplexity",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, list_transform(list_filter({_WORDS}, x -> x <> ''),
                                    x -> lower(x)) AS ws
      FROM documents),
    toks AS (SELECT doc_id, unnest(ws) AS word FROM w),
    bg AS (
      SELECT doc_id, ws[i + 1] AS w1, ws[i + 2] AS w2
      FROM w, UNNEST(range(CAST(len(ws) - 1 AS BIGINT))) AS t(i)
      WHERE len(ws) >= 2),
    cbg AS (SELECT w1, w2, COUNT(*)::BIGINT AS cb FROM bg GROUP BY w1, w2),
    cu AS (SELECT word AS w1, COUNT(*)::BIGINT AS c1 FROM toks GROUP BY word),
    v AS (SELECT COUNT(DISTINCT word)::BIGINT AS vocab FROM toks),
    scored AS (
      SELECT bg.doc_id,
             CAST(ROUND(ln((cb + 0.5) / (c1 + 0.5 * vocab)) * 1000000)
                  AS BIGINT) AS lq
      FROM bg JOIN cbg USING (w1, w2) JOIN cu USING (w1) CROSS JOIN v)
    SELECT doc_id,
           CAST(FLOOR(CAST(2 * SUM(lq) + COUNT(*) AS DOUBLE)
                      / CAST(2 * COUNT(*) AS DOUBLE)) AS DOUBLE)
             / 1000000.0 AS avg_logprob,
           ROUND(exp(-(CAST(FLOOR(CAST(2 * SUM(lq) + COUNT(*) AS DOUBLE)
                                  / CAST(2 * COUNT(*) AS DOUBLE)) AS DOUBLE)
                       / 1000000.0)), 4) AS ppl
    FROM scored GROUP BY doc_id
    """,
)
def bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity with add-1/2 smoothing — the next rung of
    the CCNet-style LM quality ladder above `unigram_perplexity`
    (production filters use 5-gram KenLM; the plan below is
    order-agnostic): train corpus bigram + context counts in one pass,
    score each document by the mean log of p(w2|w1) = (c(w1,w2) + a) /
    (c(w1) + a*V), a = 0.5.  A document of common words in UNCOMMON
    order (shuffled text, keyword stuffing) now scores badly where the
    unigram model cannot see anything wrong — the signal n-gram LMs
    exist for.

    Determinism: per-bigram log-probs are quantized to 1e-6 integers
    BEFORE the per-doc mean (the tfidf_cosine_pairs trick), so the
    summation-order-sensitive reduction is exact integer arithmetic;
    one round(ln(x)*1e6) per distinct (bigram, context) pair is the
    only cross-engine float surface.

    Scale shape: two hash aggregates with map-side combine (bigram
    counts keyed by the pair — uniform; context counts keyed by word —
    stop-word-hot, left to AQE skew splitting exactly as in
    unigram_perplexity), a 1-row vocab-size broadcast, and term-keyed
    scoring joins.  The shuffle never carries more than one row per
    distinct n-gram per task; no Python anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    # Truncate the lowered words table (r14, guide §1.2): FOUR legs
    # derive from it (bigram counts, context counts, vocab size, the
    # scoring side), and each re-ran the regex tokenize from the scan
    # without it.  One tokenize pass; the legs read materialized
    # arrays.
    ws = docs.select(
        "doc_id",
        F.transform(TX.words_of("text"), lambda w: F.lower(w)).alias("ws"),
    ).transform(truncate_plan)
    toks = ws.select("doc_id", F.explode("ws").alias("word"))
    bg = (
        ws.filter(F.size("ws") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - 1),
                    lambda i: F.struct(
                        F.element_at("ws", i).alias("w1"),
                        F.element_at("ws", i + 1).alias("w2"),
                    ),
                )
            ).alias("g"),
        )
        .select("doc_id", "g.w1", "g.w2")
    )
    cbg = bg.groupBy("w1", "w2").agg(F.count("*").alias("cb"))
    # vocab-sized (distinct words), shared by the scoring join AND the
    # vocab-count leg below — truncated so the explode+agg runs once
    cu = (
        toks.groupBy("word")
        .agg(F.count("*").alias("c1"))
        .withColumnRenamed("word", "w1")
        .transform(truncate_plan)
    )
    # vocab = countDistinct(word) == the unigram-count table's row count
    # (words_of never yields NULL/empty tokens, so the distinct sets are
    # identical) — one row-count over cu instead of a third explode pass
    v = cu.agg(F.count("*").alias("vocab"))
    lq = F.round(
        F.log(
            (F.col("cb") + F.lit(0.5)) / (F.col("c1") + F.lit(0.5) * F.col("vocab"))
        )
        * 1_000_000,
        0,
    ).cast("long")
    # 6-dp mean via integer HALF-UP division, not round(double, 6): the
    # mean of 1e-6-quantized log-probs lands exactly on a half-micro
    # boundary whenever 2*sum(lq) = (2k+1)*n, and round() of the double
    # quotient then flips per engine (caught by the r11 sf0.1 full
    # gate: one of 5,000 docs).  floor((2s+n)/(2n)) is half-up exactly;
    # the double division is safe because the quotient sits at least
    # 1/(2n) away from any integer unless exactly on it.
    micro = F.floor(
        (2 * F.sum("lq") + F.count("*")).cast("double")
        / (2 * F.count("*")).cast("double")
    )
    avg = micro.cast("double") / 1_000_000.0
    return (
        bg.join(cbg, ["w1", "w2"])
        .join(cu, "w1")
        # bounded: 1-row vocabulary count
        .crossJoin(F.broadcast(v))
        .withColumn("lq", lq)
        .groupBy("doc_id")
        .agg(
            avg.alias("avg_logprob"),
            F.round(F.exp(-avg), 4).alias("ppl"),
        )
    )


@register(
    "vocab_coverage",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_transform(list_filter({_WORDS}, x -> x <> ''),
                                   x -> lower(x))) AS word
      FROM documents),
    counts AS (SELECT word, COUNT(*)::BIGINT AS cnt
               FROM toks GROUP BY word),
    vocab AS (
      SELECT word FROM (
        SELECT word, ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS rk
        FROM counts) WHERE rk <= 1000)
    SELECT t.doc_id,
           COUNT(*)::BIGINT AS n_tokens,
           CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS oov_tokens,
           ROUND(SUM(CASE WHEN v.word IS NULL THEN 1.0 ELSE 0.0 END)
                 / COUNT(*), 6) AS oov_rate
    FROM toks t LEFT JOIN vocab v USING (word)
    GROUP BY t.doc_id
    """,
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage evaluation: build the top-1000
    corpus vocabulary (by frequency, word tiebreak) and report each
    document's out-of-vocabulary token count and rate — the coverage
    check run before committing to a tokenizer vocab size, and the
    per-document signal that flags domain-shifted or gibberish text a
    fixed vocab would shred into UNK/bytes.

    Scale shape: one map-side-combined count aggregate; the top-1000
    selection is `orderBy().limit(1000)` which Spark compiles to
    TakeOrderedAndProject — every partition keeps its local top-1000
    and the driver merges 1000-row heaps, so a billion-distinct-word
    web vocabulary never lands in one sorted partition; scoring is
    a left join of tokens against a 1000-row table Spark broadcasts,
    then a per-doc combining agg.  No Python, no corpus-sized shuffle
    beyond the token explode every text operator pays."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(TX.words_of("text")).alias("__w")
    ).select("doc_id", F.lower("__w").alias("word"))
    counts = toks.groupBy("word").agg(F.count("*").alias("cnt"))
    vocab = (
        counts.orderBy(F.desc("cnt"), F.asc("word"))
        .limit(1000)
        .select("word", F.lit(True).alias("in_vocab"))
    )
    oov = F.when(F.col("in_vocab").isNull(), 1.0).otherwise(0.0)
    return (
        # bounded: vocab is limit(1000)
        toks.join(F.broadcast(vocab), "word", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(oov).cast("long").alias("oov_tokens"),
            F.round(F.sum(oov) / F.count("*"), 6).alias("oov_rate"),
        )
    )


@register(
    "bpe_pair_counts",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(list_transform(list_filter({_WORDS}, x -> x <> ''),
                                   x -> lower(x))) AS w
      FROM documents),
    wf AS (SELECT w, COUNT(*)::BIGINT AS freq FROM toks GROUP BY w),
    pairs AS (
      SELECT substr(w, CAST(i AS INT), 2) AS pair, freq
      FROM (SELECT w, freq, unnest(range(1, len(w))) AS i FROM wf)),
    counts AS (SELECT pair, SUM(freq)::BIGINT AS n
               FROM pairs GROUP BY pair)
    SELECT pair, n FROM counts ORDER BY n DESC, pair LIMIT 20
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE tokenizer-training kernel at corpus scale (Sennrich et
    al. 2016): count adjacent-symbol pairs over the WORD-FREQUENCY
    table and emit the top-20 merge candidates.  This is the inner
    statistic of every BPE/WordPiece training iteration; the iterative
    trainer is a driver loop over exactly this job (pick top pair,
    merge, recount — the same driver-coordinates/cluster-computes
    pattern as build_ivf's Lloyd iterations), so the kernel is what
    must scale.

    Scale shape: the corpus reduces to the distinct-word frequency
    table in ONE map-side-combined aggregate (the BPE insight — at
    100 TB the word table is orders smaller than the corpus, and it is
    the only thing the pair explode ever touches); pair counting is a
    second small aggregate, and top-20 is orderBy().limit() =
    TakeOrderedAndProject (per-partition heap + driver merge of 20-row
    heaps, never a global sort).  Ties break on the pair string, so
    the emitted ranking is deterministic cross-engine."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(TX.words_of("text")).alias("w0")
    ).select(F.lower("w0").alias("w"))
    wf = toks.groupBy("w").agg(F.count("*").alias("freq"))
    # single-char words contribute no pairs (sequence(1, 0) would emit a
    # DESCENDING [1, 0] in Spark while DuckDB's range(1, 1) is empty)
    pairs = wf.filter(F.length("w") >= 2).select(
        "freq",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(20)
    )


def _bpe_blocks(n_rounds: int = 3, guarded: bool = False) -> list[str]:
    """Shared PROGRAMMATICALLY CHAINED n-iteration BPE CTE chain
    (VERDICT r11 #5 — was a hand-unrolled 3): each block counts
    adjacent symbol pairs over the (word, symbol-string, freq) table,
    picks the top pair (count desc, pair asc), and applies it via
    non-overlapping left-to-right string replace — the same greedy
    semantics Spark's replace() uses, so the two engines merge
    identically.  With guarded=True each step additionally requires
    cnt >= 2 (the real BPE stopping rule — a pair seen once cannot
    compress); a step whose t{i} is empty no-ops its merge (the
    replace target collapses to an unmatchable chr(1) token) and emits
    no row, mirroring the Spark loop's early break.  `s{n}` is the
    fully-merged symbol table the encoder (bpe_encode_fertility)
    consumes; the merge queries read t1..t{n}."""
    toks = (
        "SELECT lower(unnest(list_filter("
        f"{_WORDS}, x -> x <> ''))) AS w FROM documents"
    )
    blocks = [
        f"toks AS ({toks})",
        "wf AS (SELECT w, COUNT(*)::BIGINT AS freq FROM toks GROUP BY w)",
        "s0 AS (SELECT w, ' ' || array_to_string(string_split(w, ''), ' ')"
        " || ' ' AS s, freq FROM wf)",
    ]
    # In guarded (parameterized-depth) mode every per-step CTE is
    # AS MATERIALIZED: s{i} references t{i} twice and s{i-1} once, so
    # inlining expands the chain 3^n-fold — at n=10 DuckDB literally
    # opened the parquet file thousands of times ("Too many open
    # files").  Materialization makes the oracle's cost per round
    # vocab-sized, the same claim the Spark plan makes.  The legacy
    # 3-round oracles keep their original (inlined) text byte-for-byte.
    mat = " MATERIALIZED" if guarded else ""
    for i in range(1, n_rounds + 1):
        prev = f"s{i - 1}"
        blocks.append(
            f"p{i} AS{mat} (SELECT sym[i] || ' ' || sym[i + 1] AS pair,"
            f" SUM(freq)::BIGINT AS cnt"
            f" FROM (SELECT string_split(trim(s), ' ') AS sym, freq,"
            f"       unnest(range(1, len(string_split(trim(s), ' ')))) AS i"
            f"       FROM {prev}) GROUP BY 1)"
        )
        guard = " WHERE cnt >= 2" if guarded else ""
        blocks.append(
            f"t{i} AS{mat} (SELECT pair, cnt FROM p{i}{guard}"
            f" ORDER BY cnt DESC, pair LIMIT 1)"
        )
        pair_expr = (
            f"COALESCE((SELECT pair FROM t{i}), chr(1))"
            if guarded
            else f"(SELECT pair FROM t{i})"
        )
        blocks.append(
            f"s{i} AS{mat} (SELECT w, replace(s,"
            f" ' ' || {pair_expr} || ' ',"
            f" ' ' || replace({pair_expr}, ' ', '') || ' ')"
            f" AS s, freq FROM {prev})"
        )
    return blocks


def _bpe_merges_oracle(n_rounds: int = 3, guarded: bool = False) -> str:
    union = " UNION ALL ".join(
        f"SELECT {i} AS step, pair, replace(pair, ' ', '') AS merged, cnt"
        f" FROM t{i}"
        for i in range(1, n_rounds + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(_bpe_blocks(n_rounds, guarded))
        + "\n    "
        + union
    )


def _disjoint_prefix(tops, complete: bool = True) -> list:
    """The longest PREFIX of the ranked (cnt desc, pair asc) candidate
    list that can be applied in one pass while reproducing sequential
    greedy BIT-FOR-BIT (VERDICT r13 #6).  Why each rule is
    load-bearing:

    - PREFIX, never skip-and-continue: a skipped conflicting pair is
      still live with a possibly-still-winning count, so sequential
      greedy could pick IT next instead of our later batch member.
    - disjoint on x, y AND the merged string x+y: applying (a, b)
      can only DESTROY occurrences of old pairs (no old pair gains),
      so a batch member's count is exactly what sequential greedy
      would see at its step; and every pair a merge CREATES contains
      the merged symbol, so symbol-tracking sees it.
    - created-pair DONOR guards (the subtle one — found by the
      bpe_merges_n10 value gate, not by review): applying (a, b)
      creates pairs like (x, ab) with cnt <= cnt(x, a), the "donor".
      A donor with cnt STRICTLY above a later member m_j ranks before
      m_j, shares a symbol with (a, b), and therefore stops the
      prefix — fine.  But a donor TYING cnt(m_j) can rank after m_j
      (strings reorder: donor "o lu" ranks after "lu m" while its
      created pair "co lu" ranks before), and the created pair then
      outranks m_j in sequential order.  Hence two extra stops before
      admitting any member after the first:
        * any later window entry with EQUAL count sharing a symbol
          with the batch-so-far (donor visible in the window), and
        * cnt(m_j) <= the window's last count when the window is
          incomplete (a tying donor may hide below the cut; with
          `complete`, every live pair is visible so nothing hides).
    - stop below cnt 2 (the guarded stopping rule): the next round's
      full recount decides termination; a batch must never apply a
      merge sequential greedy would have refused.

    tests/test_text_properties.py pins batch==sequential at depth 50
    and the rule table; the registered bpe_merges_n10 row re-proves
    equivalence against the generated sequential SQL oracle every
    gate run.  Driver state: at most `len(tops)` (pair, cnt) rows."""
    used: set[str] = set()
    batch = []
    tail_min = int(tops[-1]["cnt"]) if tops else 0
    for idx, r in enumerate(tops):
        cnt = int(r["cnt"])
        if cnt < 2:
            break
        x, _, y = r["pair"].partition(" ")
        m = x + y
        if x in used or y in used or m in used:
            break
        if batch:
            if not complete and cnt <= tail_min:
                break
            trial = used | {x, y, m}
            hazard = False
            for e in tops[idx + 1:]:
                if int(e["cnt"]) != cnt:
                    break  # sorted desc: past the tie run
                ex, _, ey = e["pair"].partition(" ")
                if ex in trial or ey in trial or (ex + ey) in trial:
                    hazard = True
                    break
            if hazard:
                break
        used.update((x, y, m))
        batch.append(r)
    return batch


_BPE_CHECKPOINT_EVERY = 16  # merge jobs between lineage truncations


def _bpe_learn(
    spark: SparkSession,
    sf_dir: str,
    n_rounds: int = 3,
    vocab_target: int | None = None,
    batch: int = 1,
):
    """Run up to `n_rounds` driver-coordinated BPE merges, stopping
    early when the best pair occurs < 2 times (a once-seen pair cannot
    compress) or when `vocab_target` total symbols are reached — each
    merge adds exactly one symbol, so the target reduces to
    (vocab_target - base charset size) merges, with the base size one
    bounded vocab-sized distinct-count.  Returns (persisted base symbol
    table, fully-merged (w, s, freq) frame, merge rows).  Caller must
    unpersist the base.

    batch > 1 enables BATCHED NON-OVERLAPPING MERGES (VERDICT r13 #6,
    the classic trainer optimization): each count job collects the
    top-`batch` candidates and applies the longest symbol-disjoint
    PREFIX in one map pass — see _disjoint_prefix for why that exact
    rule (and only it) preserves greedy semantics bit-for-bit, which is
    what lets bpe_merges_n10 keep its generated sequential SQL oracle
    while running fewer jobs than merges.  Driver state per job: at
    most `batch` (pair, count) rows.  Measured effect: the 50k-merge
    production floor (~2.4 h at 0.17 s/round, SCALE.md r13) divides by
    the realized merges-per-job ratio (~4-6x on this fixture's English
    text at batch=8, where top candidates share letters often).

    Every _BPE_CHECKPOINT_EVERY jobs the merge lineage is truncated:
    without it, job r's symbol table is r chained replace() selects
    over the persisted base, so every pair count re-evaluates ALL prior
    merges and the analyzer re-walks an r-deep plan — per-round cost
    grows ~linearly in depth and training is O(n^2) overall (measured:
    SCALE.md "Round 13: BPE production depth").  A localCheckpoint
    every K jobs materializes the vocab-sized table (cheap by
    construction) and resets the chain, making per-round cost flat at
    production depth.  Values are identical either way, so the
    generated oracle is untouched."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(TX.words_of("text")).alias("w0")
    ).select(F.lower("w0").alias("w"))
    wf = toks.groupBy("w").agg(F.count("*").alias("freq"))
    base = wf.select(
        "w",
        F.concat(
            F.lit(" "), F.array_join(F.split("w", ""), " "), F.lit(" ")
        ).alias("s"),
        "freq",
    ).persist()
    if vocab_target is not None:
        # bounded: a distinct-count over the vocab-sized symbol table
        base_syms = (
            base.select(
                F.explode(F.split(F.trim(F.col("s")), " ")).alias("sym")
            )
            .distinct()
            .count()
        )
        n_rounds = min(n_rounds, max(0, vocab_target - base_syms))
    cur = base
    rows = []
    jobs = 0
    while len(rows) < n_rounds:
        sym = F.split(F.trim(F.col("s")), " ")
        pairs = (
            cur.filter(F.size(sym) >= 2)
            .select(
                "freq",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size(sym) - 1),
                        lambda i: F.concat_ws(
                            " ", F.element_at(sym, i), F.element_at(sym, i + 1)
                        ),
                    )
                ).alias("pair"),
            )
        )
        want = min(max(1, batch), n_rounds - len(rows))
        tops = (
            pairs.groupBy("pair")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(want)
            .collect()
        )
        jobs += 1
        if not tops or int(tops[0]["cnt"]) < 2:
            break
        # a short result means the window saw EVERY live pair, so the
        # hidden-donor tail guard in _disjoint_prefix can relax
        applied = _disjoint_prefix(tops, complete=len(tops) < want)
        scol = F.col("s")
        for top in applied:
            merged = top["pair"].replace(" ", "")
            rows.append((len(rows) + 1, top["pair"], merged, int(top["cnt"])))
            # chained non-overlapping replaces in ONE projection: the
            # batch is symbol-disjoint, so application order can't
            # matter; rank order is kept for readability
            scol = F.replace(
                scol, F.lit(f" {top['pair']} "), F.lit(f" {merged} ")
            )
        cur = cur.select("w", scol.alias("s"), "freq")
        if jobs % _BPE_CHECKPOINT_EVERY == 0:
            cur = cur.transform(truncate_eager)
    return base, cur, rows


@register("bpe_merges", oracle=_bpe_merges_oracle())
def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three iterations of actual BPE TRAINING (Sennrich et al. 2016)
    distributed: each step counts adjacent-symbol pairs over the
    (symbol-string, word-frequency) table, takes the single best pair
    to the driver (a 1-row bounded collect — the driver-coordinates /
    cluster-computes iteration pattern of build_ivf's Lloyd steps), and
    applies the merge with a non-overlapping left-to-right replace
    (identical greedy semantics in Spark and DuckDB, so the unrolled
    SQL oracle reproduces every merge bit-for-bit).  Output is the
    merge table (step, pair, merged, count) a tokenizer would persist.

    Scale shape: the corpus collapses to the distinct-word frequency
    table once (map-side combine) and every iteration thereafter
    touches ONLY that vocabulary-sized table — pair counting is a small
    agg, the merge is a map — which is why corpus size only affects the
    first aggregate no matter how many merges are trained.  The symbol
    table is PERSISTED before the loop (vocabulary-sized by
    construction) so the three steps run one corpus scan total instead
    of one per step, and unpersisted before returning.  Driver state
    per step is exactly one (pair, count) row."""
    base, _, rows = _bpe_learn(spark, sf_dir)
    base.unpersist()
    return spark.createDataFrame(
        rows, "step int, pair string, merged string, cnt long"
    )


@register("bpe_merges_n10", oracle=_bpe_merges_oracle(10, guarded=True))
def bpe_merges_n10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized-depth BPE training (VERDICT r11 #5): the same
    driver-coordinated trainer as bpe_merges run for 10 merge rounds,
    with the real stopping rule live on BOTH sides — a step whose best
    pair occurs < 2 times trains nothing (Spark breaks the loop; the
    guarded oracle's t{{i}} goes empty and its replace no-ops), so the
    emitted merge-table length itself is part of the value hash.  The
    oracle CTE chain is GENERATED for any n (no hand-unrolling), and
    `_bpe_learn` also accepts a vocab-size target (each merge adds
    exactly one symbol, so the target reduces to target - |base
    charset| merges after one bounded distinct-count) — pinned by
    pytest.

    Scale shape: identical to bpe_merges — the corpus collapses to the
    persisted distinct-word symbol table once, and EVERY round
    thereafter touches only that vocab-sized table, so training depth
    multiplies a vocab-sized cost, never a corpus-sized one (measured:
    SCALE.md r12 — 10x the corpus moves per-round cost by ~1x).

    Since r14 this row trains in BATCHED mode (batch=8, VERDICT r13
    #6): each count job applies the longest symbol-disjoint prefix of
    the top-8 candidates in one pass (_disjoint_prefix proves why that
    rule preserves greedy semantics exactly), so the SEQUENTIAL
    generated oracle staying green here IS the equivalence evidence —
    any batch that diverged from greedy order would hash-fail.
    tests/test_text_properties.py additionally pins batch=1 ==
    batch=8 at depth 50."""
    base, _, rows = _bpe_learn(spark, sf_dir, n_rounds=10, batch=8)
    base.unpersist()
    return spark.createDataFrame(
        rows, "step int, pair string, merged string, cnt long"
    )


@register(
    "bpe_roundtrip",
    oracle="WITH "
    + ",\n    ".join(_bpe_blocks())
    + """
    SELECT COUNT(*)::BIGINT AS n_words,
           SUM(CASE WHEN replace(trim(s), ' ', '') = w
               THEN 1 ELSE 0 END)::BIGINT AS n_ok,
           COUNT(*) = SUM(CASE WHEN replace(trim(s), ' ', '') = w
                          THEN 1 ELSE 0 END) AS roundtrip_ok
    FROM s3
    """,
)
def bpe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer RECONSTRUCTION invariant: after the learned merges are
    applied, stripping the symbol separators must rebuild every
    distinct word byte-for-byte (detokenize(encode(w)) == w) — the
    lossless-round-trip check every production tokenizer ships with,
    here as a one-row corpus gate (n_words, n_ok, roundtrip_ok).  A
    merge that ever corrupted a word (overlapping replace, separator
    leakage, case drift) flips n_ok and the boolean, and the oracle
    recomputes the same verdict over its own CTE merge chain, so the
    invariant is value-hash-checked rather than asserted in a test.

    Scale shape: the check runs on the DISTINCT-WORD symbol table
    (vocab-sized — the corpus is never touched after the one collapse
    scan shared with bpe_merges), reduced by a combining count/sum agg
    to one row.  The 1-row result is locally checkpointed so the
    persisted word table can be released before the caller's action."""
    base, cur, _ = _bpe_learn(spark, sf_dir)
    ok = (
        F.replace(F.trim(F.col("s")), F.lit(" "), F.lit("")) == F.col("w")
    ).cast("long")
    out = cur.agg(
        F.count("*").alias("n_words"),
        F.sum(ok).alias("n_ok"),
        (F.count("*") == F.sum(ok)).alias("roundtrip_ok"),
    ).transform(truncate_eager)
    base.unpersist()
    return out


@register(
    "bpe_encode_fertility",
    oracle="WITH "
    + ",\n    ".join(_bpe_blocks())
    + """,
    wsym AS (SELECT w,
                    CAST(len(string_split(trim(s), ' ')) AS BIGINT) AS n_sym
             FROM s3),
    dtoks AS (
      SELECT doc_id, lower(unnest(list_filter("""
    + _WORDS
    + """, x -> x <> ''))) AS w
      FROM documents)
    SELECT d.doc_id,
           COUNT(*)::BIGINT AS n_words,
           SUM(n_sym)::BIGINT AS n_symbols,
           ROUND(SUM(n_sym) / COUNT(*), 6) AS fertility
    FROM dtoks d JOIN wsym USING (w)
    GROUP BY d.doc_id
    """,
)
def bpe_encode_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merges back to the corpus and report each
    document's tokenizer FERTILITY (symbols emitted per word) — the
    metric that decides whether a vocabulary is adequate for a domain
    (high fertility = the tokenizer shreds this text; the per-doc
    signal complements vocab_coverage's OOV rate).  Completes the
    tokenizer loop: bpe_pair_counts (kernel) -> bpe_merges (training)
    -> THIS (encoding + evaluation), all value-hash-checked.

    Scale shape: encoding never touches document text with merge logic
    — merges apply once per DISTINCT WORD (vocabulary-sized map), and
    the corpus is scored by joining that word -> symbol-count table
    into a token equi-join + per-doc combining agg.  The join is
    deliberately UN-HINTED (the jaccard_pairs rule: never force a
    broadcast on a data-dependent-size side) — a web corpus's distinct
    words run to hundreds of millions, so AQE broadcasts at demo scale
    and shuffle-hash-joins at corpus scale.  The merged symbol table is
    locally checkpointed (vocab-sized, bounded) so the word-frequency
    pipeline can be unpersisted before the caller's action without
    recomputing from raw text.  fertility = round(n_symbols / n_words,
    6): integer/integer in double, identical in both engines."""
    base, cur, _ = _bpe_learn(spark, sf_dir)
    wsym = cur.select(
        "w", F.size(F.split(F.trim(F.col("s")), " ")).cast("long").alias("n_sym")
    ).transform(truncate_eager)
    base.unpersist()
    docs = load_table(spark, sf_dir, "documents")
    dtoks = docs.select(
        "doc_id", F.explode(TX.words_of("text")).alias("w0")
    ).select("doc_id", F.lower("w0").alias("w"))
    return (
        dtoks.join(wsym, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_sym").alias("n_symbols"),
            F.round(F.sum("n_sym") / F.count("*"), 6).alias("fertility"),
        )
    )
