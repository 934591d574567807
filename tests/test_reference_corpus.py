"""Parity against the reference's OWN corpus: the ingest path (A3+A1+A2)
must reproduce the reference's measured corpus stats — 3,027 PMC files,
~15.9M words, ≈31k 512-word chunks (BASELINE.md 'Shipped corpus size' /
'Derived index size')."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

PMC_DIR = "/root/reference/PMC"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(PMC_DIR), reason="reference corpus not present"
)


def test_corpus_ingest_parity(spark):
    from semantic_query_engine_spark.operators.chunking import chunk_documents
    from semantic_query_engine_spark.sources.text_corpus import read_text_corpus

    docs = read_text_corpus(spark, PMC_DIR)
    assert docs.count() == 3027  # BASELINE.md: 3,027 files

    chunks = chunk_documents(docs, chunk_size=512)
    n_chunks = chunks.count()
    # ~15.9M words / 512 ≈ 31k, plus per-doc ceil rounding => low 30k's
    assert 31_000 <= n_chunks <= 34_000, n_chunks

    # chunk contract on a sample: <=512 words each, composite keys well-formed
    sample = chunks.filter(F.col("doc_id").endswith("7")).limit(200).collect()
    assert sample
    for r in sample:
        assert len(r.chunk_text.split()) <= 512
        assert r.chunk_key == f"{r.doc_id}_{r.chunk_id}"

