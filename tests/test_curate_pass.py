"""The batch curation pass: build_index output and the pass's job count.

The pass is the composition a user writes from the public operators:
read -> exact dedup -> MinHash-LSH pairs -> connected components ->
anti-join -> build_index -> write, lazily, with no caching between
them.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

# Spark jobs of one pass over the fixture corpus below (the same count
# on local[2], [4] and [8]).  Before build_index read its chunk table
# from one checkpoint and the small-graph components path ran one
# probe with no checkpoints, the pass ran 22 jobs here.
CURATE_PASS_JOBS = 16


def _docs_df(spark):
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(400)]
    rows = [(i, " ".join(rng.choices(vocab, k=rng.randint(20, 90)))) for i in range(12)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _untruncated_index(docs, chunk_size, dim, user_col=None):
    from semantic_query_engine_spark.functions.vectors import l2_normalize
    from semantic_query_engine_spark.ml.embedder import TfIdfEmbedder
    from semantic_query_engine_spark.operators.chunking import chunk_documents

    chunks = chunk_documents(docs, chunk_size=chunk_size)
    if user_col is not None:
        chunks = chunks.join(docs.select("doc_id", user_col), "doc_id")
    emb = TfIdfEmbedder(dim=dim, text_col="chunk_text", out_col="raw_emb").fit(chunks)
    out = emb.transform(chunks)
    return out.withColumn("embedding", l2_normalize("raw_emb")).drop("raw_emb")


def test_build_index_bit_identical_to_untruncated_composition(spark):
    """Materializing the chunk table once changes no value: build_index
    equals chunk_documents -> fit -> transform -> l2_normalize, column
    for column and bit for bit, with and without a user column."""
    from semantic_query_engine_spark.plans.index_build import build_index

    docs = _docs_df(spark).withColumn("user_id", F.col("doc_id") % 3)
    for user_col in (None, "user_id"):
        got = build_index(docs, chunk_size=16, dim=32, user_col=user_col)
        want = _untruncated_index(docs, 16, 32, user_col)
        assert got.columns == want.columns
        rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
        assert rows(got) == rows(want), user_col


def test_chunk_of_terms_in_every_chunk_embeds_to_zero(spark):
    """Every term of document 1 occurs in every chunk, so each has IDF
    0 and the chunk's TF-IDF vector is zero.  x / (||x|| + 1e-9) keeps
    it zero, with no NaN, as the reference's normalize does: such an
    index row has norm 0, not 1."""
    from semantic_query_engine_spark.plans.index_build import build_index

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma alpha"), (3, "alpha delta beta")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.embedding for r in build_index(docs, chunk_size=16, dim=32).collect()}
    assert rows[1] == [0.0] * 32
    for doc_id in (2, 3):
        norm = math.sqrt(sum(x * x for x in rows[doc_id]))
        assert abs(norm - 1.0) < 1e-6, (doc_id, norm)


def _write_corpus(path) -> None:
    """12 PMC files: 9 originals of 150-400 words, an exact copy of one
    (re-wrapped, upper-cased first word) and two near copies (the first
    85 % of an original's words)."""
    rng = random.Random(11)
    vocab = [f"t{i}" for i in range(600)]
    texts = {f"PMC{i:03d}": rng.choices(vocab, k=rng.randint(150, 400)) for i in range(9)}
    exact = list(texts["PMC002"])
    exact[0] = exact[0].upper()
    texts["PMC100"] = exact
    for new, src in (("PMC101", "PMC004"), ("PMC102", "PMC007")):
        texts[new] = texts[src][: int(len(texts[src]) * 0.85)]
    path.mkdir()
    for doc_id, words in texts.items():
        lines = [" ".join(words[i : i + 30]) for i in range(0, len(words), 30)]
        (path / f"{doc_id}.txt").write_text("\n".join(lines), encoding="utf-8")


def _curate_pass(spark, corpus: str, out: str) -> None:
    from semantic_query_engine_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
    from semantic_query_engine_spark.operators.graph import connected_components
    from semantic_query_engine_spark.plans.index_build import build_index, write_index
    from semantic_query_engine_spark.sources.text_corpus import read_text_corpus

    kept = exact_dedup(read_text_corpus(spark, corpus))
    num = kept.withColumn("num", F.regexp_extract("doc_id", r"(\d+)$", 1).cast("long"))
    comp = connected_components(minhash_lsh_pairs(num, id_col="num"))
    dropped = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("num")
    )
    survivors = num.join(dropped, "num", "left_anti").drop("num")
    write_index(build_index(survivors, chunk_size=128), out)


def test_curate_pass_job_budget(spark, tmp_path):
    """One lazy curation pass runs at most CURATE_PASS_JOBS Spark jobs,
    counted in a job group through the status tracker, and still drops
    exactly the planted exact and near copies."""
    corpus = tmp_path / "corpus"
    _write_corpus(corpus)
    out = str(tmp_path / "index")
    sc = spark.sparkContext
    group = "curate-pass-job-budget"
    sc.setJobGroup(group, group)
    try:
        _curate_pass(spark, str(corpus), out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    survivors = {r.doc_id for r in spark.read.parquet(out).select("doc_id").distinct().collect()}
    assert survivors == {f"PMC{i:03d}" for i in range(9)}
    assert jobs <= CURATE_PASS_JOBS, jobs
