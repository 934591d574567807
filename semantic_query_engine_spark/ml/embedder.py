"""Embedding generation — the Spark-native replacement for the
reference's Ollama HTTP embedder (SURVEY A4/A5,
/root/reference/app/main.py:134-169: text -> 1024-dim vector, batch 64,
concurrency 5, zero-vector on empty/error).

Two interchangeable implementations behind one interface:

1. TfIdfEmbedder (default, deterministic): MLlib Tokenizer -> HashingTF
   -> IDF with a fixed dimension.  Pure JVM pipeline — embedding 100 TB
   of text is a map-side pass plus one small IDF aggregate.  Used by all
   tests so results are reproducible.
2. embed_with_pandas_udf: an Arrow-batched iterator Pandas UDF wrapping
   any Python callable (a real sentence-transformer / HTTP model would
   slot in here).  Spark's Arrow batches play the reference's
   batch_size=64 role, and task parallelism replaces its semaphore —
   cap concurrent external calls by capping partitions, not with locks.

Both honor the reference's contract: empty text -> zero vector
(/root/reference/app/embedding_gen.py:147-148,164-166), output
L2-normalizable array<double>.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterator
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_DIM = 64  # fixture dim; the reference uses 1024 (app/main.py:38)

# MLlib Tokenizer splits the lower-cased text on Java's `\s`
_JAVA_SPACE = re.compile(r"[ \t\n\x0B\f\r]")
_HASH_SEED = 42  # HashingTF's murmur3 seed
_M32 = 0xFFFFFFFF


def _tokenize(text: str) -> list[str]:
    """MLlib Tokenizer: `text.toLowerCase.split("\\s")`.  Java's split
    keeps leading empty tokens (runs of whitespace hash "" too) and
    drops trailing ones; a string without a separator is its own token."""
    tokens = _JAVA_SPACE.split(text.lower())
    if len(tokens) == 1:
        return tokens
    while tokens and not tokens[-1]:
        tokens.pop()
    return tokens


def _mix_k1(k1: int) -> int:
    k1 = (k1 * 0xCC9E2D51) & _M32
    k1 = ((k1 << 15) | (k1 >> 17)) & _M32
    return (k1 * 0x1B873593) & _M32


def murmur3_32(data: bytes) -> int:
    """murmur3_x86_32 of `data` with HashingTF's seed (it hashes a
    term's UTF-8 bytes), as a signed 32-bit int."""
    h1 = _HASH_SEED
    n = len(data)
    aligned = n - n % 4
    for i in range(0, aligned, 4):
        h1 ^= _mix_k1(int.from_bytes(data[i : i + 4], "little"))
        h1 = ((h1 << 13) | (h1 >> 19)) & _M32
        h1 = (h1 * 5 + 0xE6546B64) & _M32
    if aligned < n:
        h1 ^= _mix_k1(int.from_bytes(data[aligned:], "little"))
    h1 ^= n
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _M32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _M32
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 & 0x80000000 else h1


class TfIdfEmbedder:
    """Deterministic corpus-fitted embedder (fit = one IDF aggregate)."""

    def __init__(self, dim: int = DEFAULT_DIM, text_col: str = "text", out_col: str = "embedding"):
        self.dim = dim
        self.text_col = text_col
        self.out_col = out_col
        self._model = None
        self._java_model = None  # the fitted model's JVM side, for transform
        self._idf: Optional[tuple] = None  # (model, its IDF vector)

    def fit(self, docs: DataFrame) -> "TfIdfEmbedder":
        from pyspark.ml import Pipeline
        from pyspark.ml.feature import IDF, HashingTF, Tokenizer

        pipe = Pipeline(
            stages=[
                Tokenizer(inputCol=self.text_col, outputCol="__tokens"),
                HashingTF(
                    inputCol="__tokens", outputCol="__tf", numFeatures=self.dim
                ),
                IDF(inputCol="__tf", outputCol="__tfidf"),
            ]
        )
        self._model = pipe.fit(docs.select(self.text_col))
        self._java_model = self._model._to_java()
        return self

    @property
    def num_docs(self) -> int:
        """How many documents the IDF was fitted on: kept by the fitted
        model, so no Spark job."""
        if self._model is None:
            raise RuntimeError("call fit() first")
        return self._model.stages[-1].numDocs

    def transform(self, docs: DataFrame) -> DataFrame:
        """Add `out_col` as array<double> (MLlib vector only transient).
        Transforms through the fitted JVM pipeline model in one call:
        the Python model copies every stage's params to the JVM on each
        call, and an upload made 149 Python-to-JVM calls that way, 83
        this way."""
        from pyspark.ml.functions import vector_to_array

        if self._model is None:
            raise RuntimeError("call fit() first")
        out = DataFrame(self._java_model.transform(docs._jdf), docs.sparkSession)
        return out.withColumn(self.out_col, vector_to_array("__tfidf")).drop(
            "__tokens", "__tf", "__tfidf"
        )

    def embed_one(self, text: str) -> np.ndarray:
        """One text's embedding computed on the driver, bit-identical to
        `transform` (no Spark job): Tokenizer, then HashingTF's term
        counts at `murmur3 mod dim`, then times the fitted IDF vector,
        which is fetched from the model once, on first use."""
        if self._model is None:
            raise RuntimeError("call fit() first")
        if self._idf is None or self._idf[0] is not self._model:
            self._idf = (self._model, self._model.stages[-1].idf.toArray())
        tf = np.zeros(self.dim)
        for tok in _tokenize(text):
            tf[murmur3_32(tok.encode("utf-8")) % self.dim] += 1.0
        return tf * self._idf[1]


def embed_with_pandas_udf(
    docs: DataFrame,
    embed_fn: Optional[Callable[[list[str]], list[list[float]]]] = None,
    dim: int = DEFAULT_DIM,
    max_retries: int = 2,
    backoff_s: float = 0.1,
    per_row_fallback: bool = False,
) -> DataFrame:
    """Arrow-batched embedding of `text` into an `embedding` column via a
    Pandas iterator UDF.  `embed_fn` maps a batch of texts to vectors;
    the default is a deterministic hash-bucket embedder (a stand-in for
    a real model — the container ships no model weights).  Empty text
    -> zero vector, matching the reference's guard.  A flaky embed_fn is
    retried max_retries times per batch and then degrades to zero
    vectors — the reference's error path
    (app/embedding_gen.py:147-148), not a task failure.
    per_row_fallback=True isolates a poisoned row to itself instead of
    zeroing its whole Arrow batch (ml/resilience.py)."""

    from pyspark.sql.pandas.functions import pandas_udf

    from .resilience import with_retries, zero_vector_fallback

    if embed_fn is None:

        def embed_fn(texts: list[str]) -> list[list[float]]:
            import zlib

            import numpy as np

            out = []
            for t in texts:
                v = np.zeros(dim, dtype="float64")
                if t and t.strip():
                    for w in t.split():
                        # crc32 is process-stable (Python's hash() is salted)
                        v[zlib.crc32(w.encode("utf-8")) % dim] += 1.0
                out.append([float(x) for x in v])
            return out

    resilient_fn = with_retries(
        embed_fn,
        max_retries=max_retries,
        backoff_s=backoff_s,
        on_exhausted=zero_vector_fallback(dim),
        per_row_fallback=per_row_fallback,
    )

    @pandas_udf("array<double>")
    def _embed(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for batch in it:
            texts = ["" if t is None else str(t) for t in batch.tolist()]
            yield pd.Series(resilient_fn(texts))

    return docs.withColumn("embedding", _embed(F.col("text")))
