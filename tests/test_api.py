"""End-to-end facade tests: a reference user's workflow through
SemanticQueryEngine — build, ask (with memory + semantic cache),
streamed ask, tenant upload validation."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    from semantic_query_engine_spark.api import SemanticQueryEngine
    from semantic_query_engine_spark.sources.fixtures import load_table

    docs = load_table(spark, sf_dir, "documents").limit(100).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    return SemanticQueryEngine(spark, chunk_size=32).build_from_documents(docs)


def test_ask_returns_answer_and_saves_memory(engine):
    ans = engine.ask("fast key order sort table", chat_id="chat1")
    assert ans.startswith("STUB_ANSWER[")
    assert len(engine.memory_store["chat1"]) == 1
    # second turn sees history (A21 — works because memory_store is
    # initialized, unlike the reference's missing __init__ assignment)
    ans2 = engine.ask("row data filter column", chat_id="chat1")
    assert len(engine.memory_store["chat1"]) == 2
    assert ans2.startswith("STUB_ANSWER[")


def test_semantic_cache_hit_path(engine):
    q = "group query row data slow small"
    first = engine.ask(q)
    before = engine.cache_stats()["total_hits"]
    second = engine.ask(q)  # identical query -> cosine 1.0 >= 0.96 -> cache
    assert second == first
    assert engine.cache_stats()["total_hits"] == before + 1


def test_empty_query_guard(engine):
    assert engine.ask("  ") == "No query provided."


def test_read_path_before_build_raises_facade_error(spark):
    from semantic_query_engine_spark.api import SemanticQueryEngine

    fresh = SemanticQueryEngine(spark)
    assert fresh.ask("  ") == "No query provided."  # the guard still runs first
    for call in (
        lambda: fresh.ask("x"),
        lambda: list(fresh.ask_stream("x")),
        lambda: fresh.search("x"),
    ):
        with pytest.raises(RuntimeError, match="no index built"):
            call()


def test_search_topk(engine):
    hits = engine.search("fast key order sort", k=3).collect()
    assert len(hits) == 3
    assert hits[0].score >= hits[1].score >= hits[2].score


def test_search_rejects_query_vector_of_wrong_length(engine):
    for n in (engine.dim // 2, engine.dim * 2):
        with pytest.raises(ValueError, match="dims"):
            engine.search("x", 3, qvec=np.ones(n))


def test_search_plan_build_py4j_budget(engine, count_py4j_calls):
    """Building one search plan (no action) stays under 50
    Python-to-JVM calls; a Column-composed cosine() plan issued ~430."""
    engine.search("warm the embedder up", k=3)
    calls = count_py4j_calls(lambda: engine.search("fast key order sort", k=3))
    assert calls < 50, calls


def test_upload_py4j_budget(spark, sf_dir, count_py4j_calls):
    """One upload_text — its plan build (a one-row SQL select ->
    chunk_documents -> embed_index) and the materializing action —
    stays within 62 Python-to-JVM calls (57 measured).  It issued 83
    while the row went through createDataFrame's local-data temp file
    (36 calls, 10 for the SQL select), ~480 with the chunker and
    tokenizer composed as Columns, and ~150 while the embed went
    through the Python pipeline model, which copies every stage's
    params to the JVM on each transform.
    chunk_documents alone parses three SQL strings (~20 calls; ~350 as
    Columns)."""
    from semantic_query_engine_spark.api import SemanticQueryEngine
    from semantic_query_engine_spark.operators.chunking import chunk_documents
    from semantic_query_engine_spark.sources.fixtures import load_table

    docs = load_table(spark, sf_dir, "documents").limit(5).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    eng = SemanticQueryEngine(spark, chunk_size=32).build_from_documents(docs)
    eng.upload_text("u1", "warm.txt", "warm the upload path up", 1)
    calls = count_py4j_calls(lambda: eng.upload_text("u1", "a.txt", "fast key order sort", 2))
    assert calls <= 62, calls
    assert count_py4j_calls(lambda: chunk_documents(docs, chunk_size=32)) <= 50


def test_asks_reuse_compiled_code(spark, sf_dir):
    """No query value reaches the text of the generated Java, so after
    one warm upload and one warm ask over the index it extended, five
    distinct asks, an upload and one more ask compile no class.  They
    compiled 28 while the query norm was inlined as a double literal
    and the whole-stage ids, which shift as the index union grows, were
    part of the generated class names."""
    from semantic_query_engine_spark.api import SemanticQueryEngine

    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = metrics.METRIC_COMPILATION_TIME().getCount
    eng = SemanticQueryEngine(spark, chunk_size=32).build_from_documents(_docs(spark, sf_dir, 20))
    eng.upload_text("u", "warm.txt", "warm the upload path up", batch_ts=1)
    eng.ask("warm the search plan up")
    before = compiled()
    for q in ("fast key order", "row data filter", "group query", "nebula fjord", "slow small"):
        eng.ask(q)
    eng.upload_text("u", "more.txt", "one more upload of nebula fjord", batch_ts=2)
    eng.ask("sort after the upload")
    assert compiled() - before == 0


def test_search_scores_bit_identical_to_cosine_across_uploads(spark, sf_dir):
    """The facade's ranking of EVERY index row — (chunk_key, score),
    ties by chunk_key — equals a cosine() plan over the same
    index, after uploads and again after they fold into the base, for a
    text query and the all-zero (empty) query."""
    from semantic_query_engine_spark.api import MAX_UPLOAD_SEGMENTS, SemanticQueryEngine
    from semantic_query_engine_spark.functions.vectors import const_sql, cosine
    from semantic_query_engine_spark.sources.fixtures import load_table

    docs = load_table(spark, sf_dir, "documents").limit(20).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    eng = SemanticQueryEngine(spark, chunk_size=32).build_from_documents(docs)

    def check():
        n = eng.index.count()
        for q in ("upload nebula fjord key order", "  "):
            qvec = eng._embed_query(q)
            want = (
                eng.index.withColumn("score", cosine("embedding", const_sql(list(qvec))))
                .orderBy(F.desc("score"), F.asc("chunk_key"))
                .select("chunk_key", "score")
            )
            got = eng.search(q, k=n).select("chunk_key", "score")
            assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]

    for i in range(MAX_UPLOAD_SEGMENTS):
        eng.upload_text("u", f"f{i}.txt", f"upload {i} nebula fjord", batch_ts=i)
    assert eng._upload_segments == MAX_UPLOAD_SEGMENTS
    check()
    eng.upload_text("u", "g.txt", "upload nebula fjord after fold", batch_ts=99)
    assert eng._upload_segments == 0
    check()


def test_index_partitions_bounded_across_uploads(spark, sf_dir):
    """Each upload adds one partition and a fold returns to the base's
    count: a search runs one task per partition, so an index that kept
    every upload's default-parallelism spread grew without bound."""
    from semantic_query_engine_spark.api import MAX_UPLOAD_SEGMENTS, SemanticQueryEngine
    from semantic_query_engine_spark.sources.fixtures import load_table

    docs = load_table(spark, sf_dir, "documents").limit(20).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    eng = SemanticQueryEngine(spark, chunk_size=32).build_from_documents(docs)
    base = eng.index.rdd.getNumPartitions()
    for i in range(3 * MAX_UPLOAD_SEGMENTS):
        eng.upload_text("u", f"f{i}.txt", f"upload {i} nebula fjord", batch_ts=i)
        assert eng.index.rdd.getNumPartitions() <= base + MAX_UPLOAD_SEGMENTS, i


def test_ask_stream_chunks_and_caches(engine):
    q = "merge part scan query table unique"
    chunks = list(engine.ask_stream(q, chunk_words=3))
    assert len(chunks) >= 1
    full = " ".join(chunks)
    assert full.startswith("STUB_ANSWER[")
    # the post-stream cache write (A26) makes the next ask a cache hit
    assert engine.ask(q) == full


def test_ask_stream_incremental_token_emission(spark, sf_dir):
    """A19 true streaming: deltas must reach the consumer BEFORE the
    generator finishes, and the cache write must wait for exhaustion."""
    from semantic_query_engine_spark.api import SemanticQueryEngine
    from semantic_query_engine_spark.sources.fixtures import load_table

    produced = []

    def stream_fn(prompt):
        for tok in ("alpha ", "beta ", "gamma"):
            produced.append(tok)
            yield tok

    docs = load_table(spark, sf_dir, "documents").limit(50).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    eng = SemanticQueryEngine(
        spark, chunk_size=32, generate_stream_fn=stream_fn
    ).build_from_documents(docs)

    q = "incremental stream probe query words"
    it = eng.ask_stream(q)
    first = next(it)
    # lazy: only the first delta has been produced when we receive it
    assert first == "alpha " and produced == ["alpha "]
    rest = list(it)
    assert rest == ["beta ", "gamma"]
    # cache-after-stream (A26): next ask returns the accumulated answer
    assert eng.ask(q) == "alpha beta gamma"


def test_upload_text_validation_and_tenancy(engine):
    with pytest.raises(ValueError):
        engine.upload_text("u1", "", "body", batch_ts=123)
    with pytest.raises(ValueError):
        engine.upload_text("u1", "notes.pdf", "body", batch_ts=123)
    doc_id = engine.upload_text("u1", "notes.txt", "alpha beta gamma", batch_ts=123)
    assert doc_id == "notes_123"
    indexed = engine.index.filter(F.col("doc_id") == doc_id).collect()
    assert indexed and all(r.user_id == "u1" for r in indexed)


def test_upload_of_null_content_raises_before_spark_work(engine, count_py4j_calls):
    """A null document is refused with the filename checks, before any
    Spark work: no py4j call, no new index segment."""
    before = engine.index

    def upload():
        with pytest.raises(ValueError, match="content"):
            engine.upload_text("u1", "notes.txt", None, batch_ts=124)

    assert count_py4j_calls(upload) == 0
    assert engine.index is before


def _docs(spark, sf_dir, n):
    from semantic_query_engine_spark.sources.fixtures import load_table

    return load_table(spark, sf_dir, "documents").limit(n).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )


def test_facade_index_equals_build_index(spark, sf_dir):
    """The facade builds its index through plans.index_build: on the same
    string-id documents it equals build_index row for row, bit for bit."""
    from semantic_query_engine_spark.api import SemanticQueryEngine
    from semantic_query_engine_spark.plans.index_build import build_index

    docs = _docs(spark, sf_dir, 20).localCheckpoint()
    eng = SemanticQueryEngine(spark, chunk_size=32, dim=48).build_from_documents(docs)
    want = build_index(docs, chunk_size=32, dim=48)
    assert eng.index.columns == want.columns
    rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    assert rows(eng.index) == rows(want)


def test_facade_index_rows_normalized_across_uploads(spark, sf_dir):
    """Every index row — built, uploaded, and folded — is L2-normalized
    or all-zero.  l2_normalize divides by ||x|| + 1e-9, so a row's norm
    is 1 - 1e-9 / (||x|| + 1e-9): within 1e-8 of 1 for raw norms >= 0.1."""
    from semantic_query_engine_spark.api import MAX_UPLOAD_SEGMENTS, SemanticQueryEngine

    eng = SemanticQueryEngine(spark, chunk_size=32).build_from_documents(_docs(spark, sf_dir, 20))

    def check():
        m = np.array([r.embedding for r in eng.index.select("embedding").collect()])
        norms = np.linalg.norm(m, axis=1)
        assert np.all((norms == 0.0) | (np.abs(norms - 1.0) <= 1e-8)), norms

    for i in range(MAX_UPLOAD_SEGMENTS):
        eng.upload_text("u", f"f{i}.txt", f"upload {i} nebula fjord", batch_ts=i)
    assert eng._upload_segments == MAX_UPLOAD_SEGMENTS
    check()
    eng.upload_text("u", "g.txt", "upload nebula fjord after fold", batch_ts=99)
    assert eng._upload_segments == 0
    check()


def test_upload_before_build_raises_facade_error(spark):
    """Uploads extend a built index; before a build they raise like reads,
    after the filename checks, and leave no index behind."""
    from semantic_query_engine_spark.api import SemanticQueryEngine

    fresh = SemanticQueryEngine(spark)
    with pytest.raises(ValueError):
        fresh.upload_text("u1", "notes.pdf", "alpha beta", batch_ts=1)
    with pytest.raises(RuntimeError, match="no index built"):
        fresh.upload_text("u1", "notes.txt", "alpha beta", batch_ts=1)
    assert fresh.index is None


def test_empty_input_raises_value_error_on_both_entry_points(spark, tmp_path):
    """Documents without a word raise the facade's ValueError from
    build_index and from a corpus dir with no PMC*.txt files, not
    MLlib's "Haven't seen any document yet"."""
    from semantic_query_engine_spark.api import SemanticQueryEngine
    from semantic_query_engine_spark.plans.index_build import build_index

    blank = spark.createDataFrame([("a", ""), ("b", "  \n\t ")], "doc_id string, text string")
    with pytest.raises(ValueError, match="no documents to index"):
        build_index(blank, chunk_size=16, dim=32)
    (tmp_path / "notes.txt").write_text("words outside the name filter")
    with pytest.raises(ValueError, match="no documents to index"):
        SemanticQueryEngine(spark).build_from_corpus_dir(str(tmp_path))


# Spark jobs of a facade build plus the index count below; 7 when the
# facade probed for chunks with isEmpty and read its input once for
# the IDF fit and again for the transform.
FACADE_BUILD_JOBS = 5


def test_facade_build_job_budget(spark, sf_dir):
    from semantic_query_engine_spark.api import SemanticQueryEngine

    docs = _docs(spark, sf_dir, 20)
    sc = spark.sparkContext
    group = "facade-build-job-budget"
    sc.setJobGroup(group, group)
    try:
        SemanticQueryEngine(spark, chunk_size=32).build_from_documents(docs).index.count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= FACADE_BUILD_JOBS, jobs
