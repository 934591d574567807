"""The serving path's driver-resident state: the query embedding
(TfIdfEmbedder.embed_one) must equal the Spark pipeline's bit for bit,
the facade's in-memory LFU cache must decide exactly as the
operators.cache DataFrame plans do, and uploads (materialized once,
folded into a new base) must leave search results exact."""

from __future__ import annotations

import hashlib
import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from semantic_query_engine_spark.operators import cache as C

EDGE_CASES = [
    "",
    " ",
    "   ",
    "  leading spaces",
    "trailing spaces  ",
    "repeated   inner    spaces",
    "tabs\tand\nnewlines\r\nand\x0bvt\x0cff",
    "\t\ttab lead",
    "UPPER Case MiXeD",
    "café naïve über straße",
    "日本語 テキスト",
    "emoji 😀 x😀y 🚀🚀",
    "Σίσυφος ΟΔΟΣ",
    # 1-5 byte tokens: every murmur3 tail length, aligned blocks too
    "a ab abc abcd abcde é éa 😀 😀a",
]


def _sparse(v) -> list[tuple[int, float]]:
    return [(i, x) for i, x in enumerate(v) if x != 0.0]


@pytest.mark.parametrize("dim", [64, 1 << 18])
def test_embed_one_bit_identical_to_transform(spark, sf_dir, dim):
    from semantic_query_engine_spark.ml.embedder import TfIdfEmbedder
    from semantic_query_engine_spark.sources.fixtures import load_table

    docs = load_table(spark, sf_dir, "documents").select("text")
    emb = TfIdfEmbedder(dim=dim).fit(docs)
    vocab = [
        r.w
        for r in docs.select(F.explode(F.split(F.lower("text"), r"\s")).alias("w"))
        .distinct()
        .collect()
    ]
    texts = [r.text for r in docs.limit(40).collect()] + vocab + EDGE_CASES
    probe = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, text string")
    # compared as (index, value) lists of the non-zero entries, so a
    # 2^18-wide vector crosses py4j as a few pairs; zeros match by length
    nz = F.expr(
        "filter(transform(embedding, (x, j) -> named_struct('j', j, 'x', x)), s -> s.x != 0D)"
    )
    rows = emb.transform(probe).select("i", F.size("embedding").alias("n"), nz.alias("nz")).collect()
    assert len(rows) == len(texts)
    for r in rows:
        got = emb.embed_one(texts[r.i])
        assert r.n == len(got) == dim
        assert _sparse(got) == [(s.j, s.x) for s in r.nz], repr(texts[r.i])


def test_murmur3_matches_hashingtf_index(spark):
    from pyspark.ml.feature import HashingTF

    from semantic_query_engine_spark.ml.embedder import murmur3_32

    tf = HashingTF(numFeatures=1 << 18)
    for term in ["", "a", "ab", "abc", "abcd", "abcde", "é", "😀", "x😀", "straße"]:
        assert murmur3_32(term.encode("utf-8")) % (1 << 18) == tf.indexOf(term), term


class _Digest:
    """generate_fn: a digest of the prompt; counts its calls."""

    def __init__(self):
        self.calls = 0
        self.prompts: list[str] = []

    def __call__(self, prompt: str) -> str:
        self.calls += 1
        self.prompts.append(prompt)
        return "ANSWER " + hashlib.sha1(prompt.encode("utf-8")).hexdigest()


def _engine(spark, sf_dir, n_docs=40, **kw):
    from semantic_query_engine_spark.api import SemanticQueryEngine
    from semantic_query_engine_spark.sources.fixtures import load_table

    docs = load_table(spark, sf_dir, "documents").limit(n_docs).select("doc_id", "text")
    model = _Digest()
    eng = SemanticQueryEngine(spark, chunk_size=32, generate_fn=model, **kw)
    return eng.build_from_documents(docs), model


def test_driver_cache_matches_dataframe_cache(spark, sf_dir):
    eng, model = _engine(spark, sf_dir, cache_capacity=3)
    pool = [
        "fast key order sort",
        "group query row data",
        "stream window batch spark",
        "merge join hash table",
        "vector customer value line",
        "slow small filter column",
        # same words as the first: same vector, so it hits that entry
        "sort order key fast",
    ]
    # a seed under which LFU ties (equal freq) decide some evictions
    rng = random.Random(4)
    asks = [rng.choice(pool) for _ in range(14)]
    qdf = spark.createDataFrame([(q,) for q in pool], "chunk_text string")
    qvec = {
        r.chunk_text: list(r.embedding)
        for r in eng._embedder.transform(qdf).select("chunk_text", "embedding").collect()
    }
    schema = "entry_id long, embedding array<double>, response string, freq long, insert_seq long"
    cache = None
    seq = hits = 0
    for q in asks:
        calls = model.calls
        answer = eng.ask(q)
        hit = [] if cache is None else C.probe(cache, qvec[q], eng.cache_threshold).collect()
        if hit:
            hits += 1
            assert model.calls == calls and answer == hit[0].response, q
            cache = C.bump_freq(cache, hit[0].entry_id)
        else:
            assert model.calls == calls + 1, q
            seq += 1
            entry = spark.createDataFrame([(seq, qvec[q], answer, 1, seq)], schema)
            cache = entry if cache is None else C.put(cache, entry, eng.cache_capacity)
        want = sorted((r.entry_id, r.freq, r.response) for r in cache.collect())
        got = sorted(
            zip(eng._cache_ids.tolist(), eng._cache_freq.tolist(), eng._cache_responses)
        )
        assert got == want, q
    # the sequence exercised both rules
    assert hits > 0 and seq > eng.cache_capacity
    assert eng.cache_stats() == {
        "entries": len(want),
        "total_hits": sum(f for _, f, _ in want),
    }


def _jobs_in(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_cache_stats_and_ask_job_counts(spark, sf_dir):
    eng, model = _engine(spark, sf_dir)
    eng.ask("fast key order sort")  # first ask fetches the IDF vector
    _, jobs = _jobs_in(spark, "t-count-check", lambda: spark.range(3).count())
    assert jobs >= 1  # the probe sees jobs at all
    _, jobs = _jobs_in(spark, "t-cache-stats", eng.cache_stats)
    assert jobs == 0
    calls = model.calls
    _, jobs = _jobs_in(spark, "t-ask-miss", lambda: eng.ask("group query row data"))
    assert model.calls == calls + 1 and jobs == 1  # the top-k only
    _, jobs = _jobs_in(spark, "t-ask-hit", lambda: eng.ask("group query row data"))
    assert model.calls == calls + 1 and jobs == 0


def _seq_dot(m: np.ndarray, v: np.ndarray) -> np.ndarray:
    acc = np.zeros(m.shape[0])
    for j in range(m.shape[1]):
        acc = acc + m[:, j] * v[j]
    return acc


def _exact_top3(eng, qvec: np.ndarray) -> list[str]:
    """Top-3 chunk keys by cosine (summed left to right, as Spark does),
    ties by chunk_key, over the index as collected."""
    rows = eng.index.select("chunk_key", "embedding").collect()
    m = np.array([r.embedding for r in rows], dtype=np.float64)
    nm = np.sqrt(_seq_dot(m * m, np.ones(m.shape[1])))
    nq = np.sqrt(_seq_dot((qvec * qvec)[None, :], np.ones(len(qvec)))[0])
    with np.errstate(divide="ignore", invalid="ignore"):
        s = np.where((nm == 0) | (nq == 0), 0.0, _seq_dot(m, qvec) / (nm * nq))
    order = sorted(range(len(rows)), key=lambda i: (-s[i], rows[i].chunk_key))
    return [rows[i].chunk_key for i in order[:3]]


def test_bigint_doc_id_with_upload(spark, sf_dir):
    eng, model = _engine(spark, sf_dir)
    assert dict(eng.index.dtypes)["doc_id"] == "string"
    text = "zebra quasar nebula fjord zebra quasar"
    doc_id = eng.upload_text("u1", "up0.txt", text, batch_ts=100)
    answer = eng.ask(text)
    assert answer.startswith("ANSWER ")
    hits = eng.search(text, k=3).collect()
    assert all(isinstance(r.doc_id, str) for r in hits)
    keys = [r.chunk_key for r in hits]
    assert keys == _exact_top3(eng, eng._embed_query(text))
    assert f"{doc_id}_0" in keys
    # the ask's prompt holds the same hits, in retrieval order
    ids = list(dict.fromkeys(r.doc_id for r in hits))
    prompt = model.prompts[-1]
    pos = [prompt.index(f"--- Document ID: {d} ---") for d in ids]
    assert pos == sorted(pos)


def test_uploads_fold_into_materialized_base(spark, sf_dir):
    from semantic_query_engine_spark.api import MAX_UPLOAD_SEGMENTS

    eng, _ = _engine(spark, sf_dir, n_docs=20)
    base_rows = eng.index.count()
    for i in range(MAX_UPLOAD_SEGMENTS + 2):
        eng.upload_text(f"u{i % 2}", f"f{i}.txt", f"upload {i} nebula fjord quasar", batch_ts=i)
    # the fold happened once, and one upload came after it
    assert eng._upload_segments == 1
    assert eng.index.count() == base_rows + MAX_UPLOAD_SEGMENTS + 2
    q = "upload 3 nebula fjord"
    hits = eng.search(q, k=3).collect()
    assert [r.chunk_key for r in hits] == _exact_top3(eng, eng._embed_query(q))
    tenants = {r.doc_id: r.user_id for r in eng.index.filter(F.col("user_id").isNotNull()).collect()}
    assert tenants == {f"f{i}_{i}": f"u{i % 2}" for i in range(MAX_UPLOAD_SEGMENTS + 2)}
