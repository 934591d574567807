"""Property tests for the text pipeline (SURVEY §5): chunking invariants
from the reference's chunk_text semantics
(/root/reference/app/main.py:379-393) and normalization invariants
(/root/reference/app/main.py:59-64,315-316)."""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from semantic_query_engine_spark.functions import text as TX
from semantic_query_engine_spark.functions.vectors import cosine, l2_norm, l2_normalize
from semantic_query_engine_spark.operators.chunking import (
    chunk_array_from_words,
    chunk_documents,
    overlap_chunk_array_from_words,
)

# -- The text rules as Column compositions: the package's earlier
# renderings, kept as the reference the SQL forms of functions/text and
# operators/chunking must equal exactly.


def words_ref(c):
    cleaned = F.trim(F.regexp_replace(c, "\n", " "))
    return F.filter(F.split(cleaned, r"\s+"), lambda w: w != F.lit(""))


def stopword_count_ref(ws):
    stops = F.array(*[F.lit(s) for s in TX.STOPWORDS])
    return F.size(F.filter(ws, lambda w: F.array_contains(stops, F.lower(w))))


def stopword_ratio_ref(ws):
    n = F.size(ws)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        stopword_count_ref(ws).cast("double") / n.cast("double")
    )


def punct_ratio_ref(txt):
    n = F.length(txt)
    punct = F.length(F.regexp_replace(txt, r"[^.,;:!?'\"()-]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(punct.cast("double") / n.cast("double"))


def avg_word_len_ref(ws):
    total = F.aggregate(ws, F.lit(0.0), lambda acc, w: acc + F.length(w).cast("double"))
    return F.when(F.size(ws) == 0, F.lit(0.0)).otherwise(total / F.size(ws).cast("double"))


def quality_score_ref(ws, text):
    sw = stopword_ratio_ref(ws)
    pr = punct_ratio_ref(text)
    awl = avg_word_len_ref(ws)
    len_ok = F.when((awl >= 2.0) & (awl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0))
    score = (
        F.least(F.lit(1.0), sw * 2.0) * 0.5
        + len_ok * 0.3
        + (1.0 - F.least(F.lit(1.0), pr * 5.0)) * 0.2
    )
    return F.round(score, 6)


def lang_id_ref(ws, threshold=0.08):
    return F.when(stopword_ratio_ref(ws) >= F.lit(threshold), F.lit("en")).otherwise(
        F.lit("unk")
    )


def fingerprint_ref(ws):
    return F.md5(F.lower(F.array_join(ws, " ")).cast("binary"))


def chunks_ref(ws, chunk_size):
    # a null words array counts as empty
    n_chunks = F.ceil(F.coalesce(F.size(ws), F.lit(0)) / F.lit(float(chunk_size))).cast("int")
    return F.when(n_chunks <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.lit(1), n_chunks) - 1),
            lambda i: F.array_join(F.slice(ws, i * chunk_size + 1, chunk_size), " "),
        )
    )


def overlap_chunks_ref(ws, chunk_size, stride):
    overlap = chunk_size - stride
    n_words = F.coalesce(F.size(ws), F.lit(0))
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((n_words - F.lit(overlap)) / F.lit(float(stride))).cast("int"),
    )
    return F.when(n_words == 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(F.slice(ws, i * stride + 1, chunk_size), " "),
        )
    )


def chunk_documents_ref(docs, chunk_size):
    tokenized = docs.select(F.col("doc_id"), words_ref(F.col("text")).alias("__ws"))
    return tokenized.select(
        F.col("doc_id"),
        F.posexplode(chunks_ref(F.col("__ws"), chunk_size)).alias("chunk_id", "chunk_text"),
    ).withColumn(
        "chunk_key", F.concat_ws("_", F.col("doc_id").cast("string"), F.col("chunk_id"))
    )


def _long_doc(n: int) -> str:
    # stopwords, punctuation and every word length up to 13, so the
    # quality and language heuristics see more than one branch
    pool = ["the", "Data,", "x", "of", "retrieval", "a;b", "encyclopaedias", "(is)"]
    return " ".join(pool[j % len(pool)] + str(j % 3) * (j % 2) for j in range(n))


EDGE_TEXTS = [
    "",
    " ",
    "   ",
    "\t\x0b\x0c\r",
    "\n\t \n",
    "tabs\tand\nnewlines  and   runs\rof\x0bspaces\x0cend",
    "  leading and trailing whitespace  ",
    "The cat is on the mat and this is that.",
    "Hello, world! (yes) 'quoted' \"double\" a-b; c: d?",
    "!!! ??? ...",
    "naïve café résumé über straße",
    "日本語 の テキスト です",
    "emoji 😀 and 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 4-byte 😀😀 text",
    None,
    _long_doc(511),
    _long_doc(512),
    _long_doc(513),
    _long_doc(1100),
]


def _edge_docs(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(EDGE_TEXTS)], "doc_id long, text string"
    )


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_text_rules_sql_equal_column_forms(spark):
    """Every text rule of functions/text, parsed from SQL, equals its
    Column composition exactly (values and schema) on edge texts: empty,
    whitespace of every kind, non-ASCII, 4-byte UTF-8, null, and
    documents of 511-1,100 words."""
    docs = _edge_docs(spark)
    got = docs.select(
        "doc_id",
        "text",
        TX.clean_text("text").alias("clean"),
        TX.words_of("text").alias("ws"),
        TX.token_count("text").alias("n"),
        TX.punct_ratio("text").alias("punct"),
        TX.quality_score("text").alias("quality"),
        TX.lang_id("text").alias("lang"),
        TX.lang_id("text", 0.3).alias("lang_30"),
        TX.fingerprint("text").alias("fp"),
    ).select(
        "*",
        TX.stopword_count_ws("ws").alias("n_stop"),
        TX.stopword_ratio_ws("ws").alias("stop_ratio"),
        TX.avg_word_len_ws("ws").alias("awl"),
        TX.quality_score_ws("ws", "text").alias("quality_ws"),
        TX.lang_id_ws("ws").alias("lang_ws"),
        TX.fingerprint_ws("ws").alias("fp_ws"),
    )
    ws, text = words_ref(F.col("text")), F.col("text")
    want = docs.select(
        "doc_id",
        "text",
        F.trim(F.regexp_replace(text, "\n", " ")).alias("clean"),
        ws.alias("ws"),
        F.size(ws).alias("n"),
        punct_ratio_ref(text).alias("punct"),
        quality_score_ref(ws, text).alias("quality"),
        lang_id_ref(ws).alias("lang"),
        lang_id_ref(ws, 0.3).alias("lang_30"),
        fingerprint_ref(ws).alias("fp"),
    ).select(
        "*",
        stopword_count_ref(F.col("ws")).alias("n_stop"),
        stopword_ratio_ref(F.col("ws")).alias("stop_ratio"),
        avg_word_len_ref(F.col("ws")).alias("awl"),
        quality_score_ref(F.col("ws"), text).alias("quality_ws"),
        lang_id_ref(F.col("ws")).alias("lang_ws"),
        fingerprint_ref(F.col("ws")).alias("fp_ws"),
    )
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)
    # the cases exercise both sides of each heuristic's branches
    rows = got.select("lang", "quality").collect()
    assert {r.lang for r in rows} == {"en", "unk"}
    assert len({r.quality for r in rows}) > 3


def test_chunkers_sql_equal_column_forms(spark):
    """chunk_documents and both chunk-array rules equal their Column
    compositions exactly on the edge texts, at chunk sizes on either
    side of the 511-1,100-word documents."""
    docs = _edge_docs(spark)
    for size in (7, 511, 512):
        got, want = chunk_documents(docs, chunk_size=size), chunk_documents_ref(docs, size)
        assert got.schema == want.schema
        assert _rows(got) == _rows(want), size
    pre = docs.select("doc_id", TX.words_of("text").alias("ws"))
    ws = F.col("ws")
    shapes = ((7, 7), (16, 12), (512, 384), (512, 512), (3, 1))
    got = pre.select(
        "doc_id",
        chunk_array_from_words("ws").alias("c"),
        *[
            overlap_chunk_array_from_words("ws", c, s).alias(f"o_{c}_{s}")
            for c, s in shapes
        ],
    )
    want = pre.select(
        "doc_id",
        chunks_ref(ws, 512).alias("c"),
        *[overlap_chunks_ref(ws, c, s).alias(f"o_{c}_{s}") for c, s in shapes],
    )
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)

def test_null_and_empty_documents_give_no_chunks(spark):
    """A null document chunks like an empty one: zero chunks from
    chunk_documents and an empty array from both chunk-array rules."""
    docs = spark.createDataFrame([("n", None), ("e", "")], "doc_id string, text string")
    assert chunk_documents(docs, chunk_size=4).count() == 0
    rows = docs.select(TX.words_of("text").alias("ws")).select(
        chunk_array_from_words("ws", 4).alias("c"),
        overlap_chunk_array_from_words("ws", 4, 2).alias("o"),
    ).collect()
    assert [(r.c, r.o) for r in rows] == [([], [])] * 2


TEXTS = st.lists(
    st.text(
        alphabet=st.sampled_from("abcdef \n"),
        min_size=1,
        max_size=200,
    ),
    min_size=1,
    max_size=8,
)


@settings(max_examples=10, deadline=None)
@given(texts=TEXTS)
def test_chunk_invariants(spark, texts):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)],
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
            ]
        ),
    )
    size = 7
    chunks = chunk_documents(docs, chunk_size=size).collect()
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, t in enumerate(texts):
        words = t.replace("\n", " ").strip().split()
        got = sorted(by_doc.get(i, []), key=lambda r: r.chunk_id)
        # every chunk <= size words
        for r in got:
            assert len(r.chunk_text.split()) <= size
        # rejoining chunks reproduces the cleaned word stream
        rejoined = " ".join(r.chunk_text for r in got).split()
        assert rejoined == words
        # chunk count == ceil(n/size): like the reference's chunk_text,
        # an empty/whitespace-only document yields ZERO chunks
        assert len(got) == math.ceil(len(words) / size)


def test_normalize_and_cosine_guards(spark):
    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0])],
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("v", T.ArrayType(T.FloatType())),
            ]
        ),
    )
    out = df.select("id", "v", l2_normalize("v").alias("nv")).select(
        "id",
        l2_norm("v").alias("norm"),
        l2_norm("nv").alias("unit"),
        cosine("v", "v").alias("self_cos"),
    ).collect()
    by_id = {r.id: r for r in out}
    assert abs(by_id[1].norm - 5.0) < 1e-12
    assert abs(by_id[1].unit - 1.0) < 1e-6
    assert abs(by_id[1].self_cos - 1.0) < 1e-12
    # zero vector: guarded cosine -> 0.0, normalize stays finite
    assert by_id[2].self_cos == 0.0
    assert by_id[2].unit == 0.0


def test_overlap_chunking_invariants(spark):
    from pyspark.sql import functions as F

    from semantic_query_engine_spark.functions.text import words_of
    from semantic_query_engine_spark.operators.chunking import (
        overlap_chunk_array_from_words,
    )

    df = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(n)))
         for i, n in enumerate([1, 3, 16, 17, 40, 100])],
        ["doc_id", "text"],
    )
    out = df.select("doc_id", words_of("text").alias("ws")).select(
        "doc_id",
        F.size("ws").alias("n"),
        overlap_chunk_array_from_words("ws", 16, 12).alias("cs"),
    ).collect()
    for r in out:
        chunks = [c.split(" ") for c in r.cs]
        assert all(len(c) <= 16 for c in chunks)
        # full coverage: every word index appears in some chunk
        covered = {w for c in chunks for w in c}
        assert len(covered) == r.n
        # consecutive chunks overlap by exactly 4 words when both full
        for a, b in zip(chunks, chunks[1:]):
            if len(a) == 16 and len(b) == 16:
                assert a[-4:] == b[:4]


def test_unigram_perplexity_ranks_gibberish_higher(spark):
    """A document of corpus-frequent words must score lower perplexity
    than one of rare (once-in-corpus) tokens; ppl == exp(-avg_logprob)."""
    import math

    from semantic_query_engine_spark.queries.registry import REGISTRY
    import tempfile, os

    common = "the cat sat on the mat " * 5
    rare = "zyx qwv jkp bnm zzq xxo"
    rows = [(0, common), (1, common), (2, common), (3, rare)]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
            os.path.join(d, "documents.parquet")
        )
        out = {
            r.doc_id: r
            for r in REGISTRY["unigram_perplexity"].fn(spark, d).collect()
        }
    assert out[3].ppl > out[0].ppl
    for r in out.values():
        assert math.isclose(r.ppl, math.exp(-r.avg_logprob), rel_tol=1e-3)


def test_dsir_importance_selects_target_slice(spark, sf_dir):
    """DSIR self-selection property: the target slice (doc_id % 10 == 0,
    the docs the target distribution is estimated FROM) must have a
    higher mean log importance weight than the rest of the corpus - the
    weights exist precisely to rank target-like documents up."""
    from pyspark.sql import functions as F

    from semantic_query_engine_spark.queries.mlpipeline_q import dsir_importance

    out = dsir_importance(spark, sf_dir)
    means = (
        out.groupBy((F.col("doc_id") % 10 == 0).alias("is_target"))
        .agg(F.avg("log_weight").alias("m"))
        .collect()
    )
    by = {r.is_target: r.m for r in means}
    assert by[True] > by[False]


def test_bigram_perplexity_shape_and_order_sensitivity(spark, sf_dir):
    """Every >=2-word document gets one row with a negative avg logprob
    and ppl consistent with exp(-avg) at the payload rounding."""
    import math

    from pyspark.sql import functions as F

    from semantic_query_engine_spark.queries.textops import bigram_perplexity
    from semantic_query_engine_spark.sources.fixtures import load_table
    from semantic_query_engine_spark.functions import text as TX

    out = bigram_perplexity(spark, sf_dir)
    rows = out.collect()
    docs = load_table(spark, sf_dir, "documents")
    n_eligible = docs.filter(
        F.size(TX.words_of("text")) >= 2
    ).count()
    assert len(rows) == n_eligible
    for r in rows[:50]:
        assert r.avg_logprob < 0
        assert abs(r.ppl - round(math.exp(-r.avg_logprob), 4)) < 1e-3


def test_weighted_sample_es_overrepresents_heavy_docs(spark, sf_dir):
    """ES sampling property: the 50-doc weighted sample's mean weight
    must exceed the corpus mean weight (heavier docs are proportionally
    more likely), and ranks must be 1..50 without gaps."""
    from pyspark.sql import functions as F

    from semantic_query_engine_spark.queries.mlpipeline_q import (
        weighted_sample_es,
    )
    from semantic_query_engine_spark.sources.fixtures import load_table

    out = weighted_sample_es(spark, sf_dir).collect()
    assert sorted(r.rank for r in out) == list(range(1, 51))
    sample_mean = sum(r.weight for r in out) / len(out)
    corpus_mean = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars") > 0)
        .agg(F.avg("n_chars"))
        .first()[0]
    )
    assert sample_mean > corpus_mean


def test_mixture_token_budget_greedy_prefix(spark, sf_dir):
    """Budget semantics: per source, every selected doc's preceding
    cumulative total is under budget (greedy prefix), the last selected
    doc is the FIRST to reach/cross it, and each source overshoots by
    less than one document (cum_tokens - budget < that doc's length)."""
    from pyspark.sql import functions as F

    from semantic_query_engine_spark.queries.mlpipeline_q import (
        mixture_token_budget,
    )

    out = mixture_token_budget(spark, sf_dir)
    per_source = (
        out.groupBy("source", "budget")
        .agg(F.max("cum_tokens").alias("total"), F.count("*").alias("n"))
        .collect()
    )
    assert per_source
    rows = out.collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    for s, rs in by_src.items():
        rs.sort(key=lambda r: r.cum_tokens)
        budget = rs[0].budget
        # all but the last are strictly under budget; the last reaches
        # or crosses it unless the source ran out of documents
        for r in rs[:-1]:
            assert r.cum_tokens < budget
        # prefix property: cum_tokens strictly increasing
        assert all(a.cum_tokens < b.cum_tokens for a, b in zip(rs, rs[1:]))


def test_span_corruption_masks_are_valid_spans(spark, sf_dir):
    """Mask-plan invariants: spans lie inside their document, lengths
    are >= 3 except when clipped by the document end, span_text has
    exactly span_len words, and per-doc span ids are 1..n consecutive."""
    from pyspark.sql import functions as F

    from semantic_query_engine_spark.functions.text import words_of
    from semantic_query_engine_spark.queries.mlpipeline_q import (
        span_corruption_masks,
    )
    from semantic_query_engine_spark.sources.fixtures import load_table

    out = span_corruption_masks(spark, sf_dir).collect()
    assert out
    lens = {
        r.doc_id: r.n
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", F.size(words_of("text")).alias("n"))
        .collect()
    }
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
        n = lens[r.doc_id]
        assert 1 <= r.span_start <= n
        assert r.span_start + r.span_len - 1 <= n
        assert r.span_len >= 3 or r.span_start + r.span_len - 1 == n
        assert len(r.span_text.split(" ")) == r.span_len
    for rs in by_doc.values():
        assert sorted(r.span_id for r in rs) == list(range(1, len(rs) + 1))


def test_vocab_coverage_bounds(spark, sf_dir):
    """OOV rate is in [0,1], oov_tokens <= n_tokens, and the corpus-wide
    OOV mass equals total tokens minus the top-1000 vocab's counts."""
    from pyspark.sql import functions as F

    from semantic_query_engine_spark.queries.textops import vocab_coverage

    rows = vocab_coverage(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.oov_tokens <= r.n_tokens
        assert 0.0 <= r.oov_rate <= 1.0


def test_bpe_vocab_target_stop(spark, sf_dir):
    """The vocab-size-targeted stop (VERDICT r11 #5): each BPE merge
    adds exactly one symbol, so training to vocab_target = |base
    charset| + 4 must perform exactly 4 merges and leave exactly that
    many distinct symbols in the merged table; a target below the base
    charset trains nothing."""
    from pyspark.sql import functions as F

    from semantic_query_engine_spark.queries.textops import _bpe_learn

    def distinct_syms(df):
        return (
            df.select(F.explode(F.split(F.trim(F.col("s")), " ")).alias("y"))
            .distinct()
            .count()
        )

    base, cur, rows = _bpe_learn(spark, sf_dir, n_rounds=50, vocab_target=None)
    base_syms = distinct_syms(base)
    base.unpersist()

    base2, cur2, rows2 = _bpe_learn(
        spark, sf_dir, n_rounds=50, vocab_target=base_syms + 4
    )
    try:
        assert len(rows2) == 4
        assert distinct_syms(cur2) == base_syms + 4
        # the 4 merges are the PREFIX of the unbounded greedy sequence
        assert rows2 == rows[:4]
        # each merged token really is its pair without the space
        for step, pair, merged, cnt in rows2:
            assert merged == pair.replace(" ", "") and cnt >= 2
    finally:
        base2.unpersist()

    base3, _, rows3 = _bpe_learn(spark, sf_dir, n_rounds=50, vocab_target=1)
    base3.unpersist()
    assert rows3 == []


def test_bpe_batched_merges_equal_sequential(spark, sf_dir):
    """Batched non-overlapping merges (VERDICT r13 #6) are EXACTLY the
    sequential greedy trainer, not an approximation: batch=8 at depth
    50 must reproduce batch=1's merge table row-for-row — same pairs,
    same order, same counts (the counts certify each batched merge was
    applied against the state sequential greedy would have seen) — and
    the final symbol tables must agree cell-for-cell.  The registered
    bpe_merges_n10 row gates the same equivalence against the
    generated sequential SQL oracle every round; this pins it at 5x
    the registry depth, where interactions are likelier."""
    from semantic_query_engine_spark.queries.textops import _bpe_learn

    base1, cur1, seq = _bpe_learn(spark, sf_dir, n_rounds=50, batch=1)
    table1 = {r["w"]: r["s"] for r in cur1.collect()}
    base1.unpersist()
    base8, cur8, bat = _bpe_learn(spark, sf_dir, n_rounds=50, batch=8)
    table8 = {r["w"]: r["s"] for r in cur8.collect()}
    base8.unpersist()
    assert bat == seq
    assert table8 == table1
    assert len(seq) == 50  # depth actually reached — not a trivial pass


def test_bpe_disjoint_prefix_rules(spark):
    """_disjoint_prefix unit semantics: stops (never skips) at the
    first symbol collision, counts merged-string collisions as
    conflicts, and cuts below the cnt>=2 stopping rule."""
    from semantic_query_engine_spark.queries.textops import _disjoint_prefix

    def rows(*pcs):
        return [{"pair": p, "cnt": c} for p, c in pcs]

    # disjoint prefix: all three admitted
    got = _disjoint_prefix(rows(("a b", 9), ("c d", 8), ("e f", 7)))
    assert [r["pair"] for r in got] == ["a b", "c d", "e f"]
    # shared symbol stops the batch INCLUDING later disjoint pairs
    got = _disjoint_prefix(rows(("a b", 9), ("b c", 8), ("e f", 7)))
    assert [r["pair"] for r in got] == ["a b"]
    # merged-string collision: "a b" creates symbol "ab"
    got = _disjoint_prefix(rows(("a b", 9), ("ab c", 8)))
    assert [r["pair"] for r in got] == ["a b"]
    # stopping rule: cnt < 2 never applies
    got = _disjoint_prefix(rows(("a b", 9), ("c d", 1)))
    assert [r["pair"] for r in got] == ["a b"]
    assert _disjoint_prefix(rows(("a b", 1))) == []
    # the tie-donor hazard the n10 value gate caught: "o lu" ties
    # "lu m" and shares a symbol with the batch, so its created pair
    # "co lu" would outrank "lu m" in sequential order -> stop
    got = _disjoint_prefix(rows(("c o", 978), ("lu m", 978), ("o lu", 978)))
    assert [r["pair"] for r in got] == ["c o"]
    # hidden-donor tail guard: in an INCOMPLETE window a member tying
    # the window's last count may have an unseen tying donor below
    got = _disjoint_prefix(rows(("a b", 9), ("c d", 9)), complete=False)
    assert [r["pair"] for r in got] == ["a b"]
    got = _disjoint_prefix(rows(("a b", 9), ("c d", 9)), complete=True)
    assert [r["pair"] for r in got] == ["a b", "c d"]
