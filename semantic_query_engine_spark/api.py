"""User-facing facade: the reference's service surface as one class.

Reference endpoints -> methods:
- startup index build  (A27, /root/reference/app/main.py:413-456,568-580)
    -> SemanticQueryEngine.build_from_documents / build_from_corpus_dir
- POST /ask            (A20/A25, /root/reference/app/main.py:467-608)
    -> .ask(query, chat_id, top_k) -> answer string
- WS /ws/ask           (A19/A26, /root/reference/app/main.py:650-735)
    -> .ask_stream(query, top_k) -> iterator of answer chunks
       (cache written after the stream completes, no chat memory —
       preserving the reference's divergence on this path)
- POST /upload_text    (A22/A23, /root/reference/app/embedding_gen.py:315-409)
    -> .upload_text(user_id, filename, content, batch_ts)
- kNN search           (A15) -> .search(query, k, qvec=None) -> DataFrame
       (scored by operators.retrieval.score_against)

State:
- chunk index: a DataFrame (persist via plans.index_build.write_index),
  built and extended through plans.index_build (rows L2-normalized):
  base ∪ delta, never more than two leaves for a search to scan.  The
  base is the build, checkpointed by the first action on it (lazily,
  as a cache fills) in as many partitions as Spark's file scan would
  split its estimated bytes into (file_split_count).  The delta holds
  the uploads since the last fold, materialized again as one partition
  by each upload; every MAX_UPLOAD_SEGMENTS + 1 uploads fold base ∪
  delta into a new base of the base's partition count.  A superseded
  base or delta keeps its executor blocks until a JVM GC lets Spark's
  ContextCleaner drop them: DataFrames a caller still holds may read
  them, so they are not released here
- semantic LFU cache (A12-A14): plain driver memory, at most
  `cache_capacity` rows of a numpy matrix — like the reference's
  client-side scan over a Redis list.  tests/test_driver_serving checks
  its decisions against DataFrame plans of the same rules.
- query embedding: computed on the driver (TfIdfEmbedder.embed_one),
  so a cache-miss ask runs one Spark job, the top-k over the index
- conversation memory (A21): per-chat in-process buffer, like the
  reference's dict — but INITIALIZED (the reference's memory_store is
  never created in __init__, /root/reference/app/main.py:408-411 vs
  :484; first ask() there raises AttributeError.  Fixed here.)
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Iterator, Optional

import numpy as np
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from .operators import cache as cache_ops
from .operators.chunking import chunk_documents
from .operators.retrieval import _cosine_rows, score_against
from .plans.index_build import embed_index, fit_index
from .plans.rag import SYSTEM_RULES
from .functions.plan import truncate_eager, truncate_plan

DEFAULT_TOP_K = 3  # /root/reference/app/main.py:467
# uploads gathered in the delta before base and delta fold into one new
# base: each rewrites the delta, a fold rewrites the base
MAX_UPLOAD_SEGMENTS = 8
# at-rest size estimate of one index row: 8 bytes per embedding element,
# and about 8 per chunk word (a word and its separator); 7-16 % under the
# stored size of the checkpointed base at 1,159 and 3,767 rows
# (tools/index_size_ab.py)
_ELEMENT_BYTES = 8
_WORD_BYTES = 8


def file_split_count(
    n_bytes: int, parallelism: int, max_partition_bytes: int, open_cost_bytes: int
) -> int:
    """Partitions Spark's file scan would split `n_bytes` of input into
    (FilePartition.maxSplitBytes): splits of
    min(maxPartitionBytes, max(openCostInBytes, bytes / parallelism))
    bytes.  Small inputs get one partition, large ones about one per
    core, and none is larger than maxPartitionBytes."""
    split = min(max_partition_bytes, max(open_cost_bytes, -(-n_bytes // parallelism)))
    return max(1, -(-n_bytes // split))


def _default_generator(prompt: str) -> str:
    """Deterministic stand-in for the LLM call (A18)."""
    head = " ".join(prompt.split()[:12])
    return f"STUB_ANSWER[{head}...]"


class SemanticQueryEngine:
    """Spark-native semantic query engine with the reference's surface."""

    def __init__(
        self,
        spark: SparkSession,
        chunk_size: int = 512,  # /root/reference/app/main.py:37
        dim: int = 64,
        generate_fn: Optional[Callable[[str], str]] = None,
        generate_stream_fn: Optional[Callable[[str], Iterator[str]]] = None,
        cache_capacity: int = cache_ops.CACHE_CAPACITY,
        cache_threshold: float = cache_ops.CACHE_SIM_THRESHOLD,
    ):
        self.spark = spark
        self.chunk_size = chunk_size
        self.dim = dim
        self.generate = generate_fn or _default_generator
        # A19: a real token-streaming model (the reference's OpenAI
        # delta loop, app/main.py:638-643) plugs in here; None falls
        # back to word-chunking the completed answer
        self.generate_stream = generate_stream_fn
        if cache_capacity < 1:
            raise ValueError("cache_capacity must be at least 1")
        self.cache_capacity = cache_capacity
        self.cache_threshold = cache_threshold
        # base ∪ delta: never more than two leaves for a search to scan
        self.index: Optional[DataFrame] = None
        self._base: Optional[DataFrame] = None
        # the uploads since the last fold, materialized as one partition
        self._delta: Optional[DataFrame] = None
        self._upload_segments = 0  # uploads in the delta
        self._embedder = None  # the build's, from plans.index_build.fit_index
        # the LFU cache: row i is entry _cache_ids[i]; ids are the insert
        # sequence, so (freq, id) is the eviction order
        self._cache_emb = np.empty((0, dim))
        self._cache_ids = np.empty(0, dtype=np.int64)
        self._cache_freq = np.empty(0, dtype=np.int64)
        self._cache_responses: list[str] = []
        self._cache_seq = 0
        # A21 — initialized, unlike the reference (app/main.py:408-411)
        self.memory_store: dict[str, list[tuple[str, str]]] = {}

    # ------------------------------------------------------------------
    # Write path (A27 / A23)
    # ------------------------------------------------------------------

    def build_from_documents(self, docs: DataFrame) -> "SemanticQueryEngine":
        """Index build (A27) by plans.index_build.fit_index: the base, in
        `_base_partitions()` partitions, checkpointed by its first action.
        Skips nothing here — idempotence guards live on the persisted
        path (plans.index_build.index_is_empty).  doc_id is indexed as a
        string, the type upload ids have."""
        docs = docs.withColumn("doc_id", F.col("doc_id").cast("string"))
        self._embedder, index = fit_index(docs, self.chunk_size, self.dim)
        self.index = self._base = index.coalesce(self._base_partitions()).transform(truncate_plan)
        self._delta = None
        self._upload_segments = 0
        return self

    def _base_partitions(self) -> int:
        """A search runs one task per partition, so the base is split as
        Spark's file scan would split its estimated bytes: the fitted
        IDF's document (chunk) count times a row's size."""
        conf = self.spark._jsparkSession.sessionState().conf()
        row_bytes = _ELEMENT_BYTES * self.dim + _WORD_BYTES * self.chunk_size
        return file_split_count(
            self._embedder.num_docs * row_bytes,
            self.spark.sparkContext.defaultParallelism,
            conf.filesMaxPartitionBytes(),
            conf.filesOpenCostInBytes(),
        )

    def build_from_corpus_dir(self, corpus_dir: str) -> "SemanticQueryEngine":
        from .sources.text_corpus import read_text_corpus

        return self.build_from_documents(read_text_corpus(self.spark, corpus_dir))

    def upload_text(
        self, user_id: str, filename: str, content: str, batch_ts: int
    ) -> str:
        """A23: validate filename/extension, derive doc_id stem_ts,
        index the chunks under the tenant.  Returns the doc_id.

        Requires a build, whose embedder embeds the chunks.  They join
        the delta, which is materialized again as one partition in one
        job, so a search scans two leaves, base and delta, however many
        uploads came before.  The upload that takes the delta past
        MAX_UPLOAD_SEGMENTS uploads folds base ∪ delta into a new base
        of the base's partition count instead."""
        if not filename:
            raise ValueError("filename must be non-empty")
        if not filename.endswith(".txt"):
            raise ValueError("only .txt uploads are accepted")
        if content is None:
            raise ValueError("content must be a string")
        self._require_index()
        stem = filename[: -len(".txt")]
        doc_id = f"{stem}_{batch_ts}"
        # one row of two bound parameters over Spark's one-row relation,
        # without the local-data round trip through a temp file that
        # createDataFrame makes
        docs = self.spark.sql(
            "SELECT :doc_id AS doc_id, :text AS text",
            args={"doc_id": doc_id, "text": content},
        )
        chunks = embed_index(
            chunk_documents(docs, chunk_size=self.chunk_size), self._embedder
        ).withColumn("user_id", F.lit(user_id))
        if self._delta is not None:
            chunks = self._delta.unionByName(chunks)
        # the state changes only once the job has run: a failed upload
        # leaves base, delta and their count as they were
        uploads = self._upload_segments + 1
        if uploads > MAX_UPLOAD_SEGMENTS:
            # a union keeps the sum of its inputs' partitions
            parts = self._base.rdd.getNumPartitions()
            base = (
                self._base.unionByName(chunks, allowMissingColumns=True)
                .coalesce(parts)
                .transform(truncate_eager)
            )
            self.index = self._base = base
            self._delta, self._upload_segments = None, 0
        else:
            delta = chunks.coalesce(1).transform(truncate_eager)
            self.index = self._base.unionByName(delta, allowMissingColumns=True)
            self._delta, self._upload_segments = delta, uploads
        return doc_id

    # ------------------------------------------------------------------
    # Read path (A20 / A26 / A15)
    # ------------------------------------------------------------------

    def _require_index(self) -> DataFrame:
        if self.index is None:
            raise RuntimeError("no index built; call build_from_documents first")
        return self.index

    def _embed_query(self, query: str) -> np.ndarray:
        """A6: embed one query through the same model, on the driver;
        empty -> zeros (reference app/main.py:172-180)."""
        if not query or not query.strip():
            return np.zeros(self.dim)
        return self._embedder.embed_one(query)

    def search(
        self, query: str, k: int = DEFAULT_TOP_K, qvec: Optional[np.ndarray] = None
    ) -> DataFrame:
        """A15: top-k chunks for a text query (or its embedding `qvec`,
        when the caller already has it)."""
        index = self._require_index()
        if qvec is None:
            qvec = self._embed_query(query)
        if len(qvec) != self.dim:
            # zip_with would pad the shorter side with nulls: null scores
            raise ValueError(f"query vector has {len(qvec)} dims, the index {self.dim}")
        return (
            score_against(index, qvec).orderBy(F.desc("score"), F.asc("chunk_key"))
            .limit(k)
            .selectExpr("doc_id", "chunk_id", "chunk_key", "chunk_text", "score")
        )

    def _assemble_context(self, hits: list[Row]) -> str:
        """A16: group hit chunks by doc in retrieval order, format
        '--- Document ID: {id} ---' blocks
        (/root/reference/app/main.py:500-513)."""
        by_doc: dict[str, list[str]] = {}
        for r in hits:  # hits are already in retrieval order
            by_doc.setdefault(str(r.doc_id), []).append(r.chunk_text)
        return "\n".join(
            f"--- Document ID: {doc_id} ---\n" + "\n".join(texts) + "\n"
            for doc_id, texts in by_doc.items()
        )

    def _build_prompt(self, query: str, context: str, history: str) -> str:
        """A17 (/root/reference/app/main.py:519-535)."""
        parts = [SYSTEM_RULES]
        if history:
            parts.append(f"Chat history:\n{history}")
        parts.append(f"Context:\n{context}")
        parts.append(f"Question: {query}")
        return "\n\n".join(parts)

    def _cache_probe(self, qvec: np.ndarray) -> Optional[str]:
        """A12: the entry of highest cosine >= threshold (ties: lowest
        entry id); bumps its freq on hit.  Same rule and arithmetic as
        score_against filtered at the threshold (the DataFrame probe of
        tests/test_driver_serving), so a score at the threshold decides
        the same way."""
        if not self._cache_ids.size:
            return None
        scores = _cosine_rows(self._cache_emb, qvec)
        ok = np.flatnonzero(scores >= self.cache_threshold)
        if not ok.size:
            return None
        best = ok[np.lexsort((self._cache_ids[ok], -scores[ok]))[0]]
        self._cache_freq[best] += 1
        return self._cache_responses[best]

    def _cache_put(self, qvec: np.ndarray, response: str) -> None:
        """A14: insert with freq=1; at capacity the new entry replaces
        the LFU one, lowest (freq, insert order)."""
        self._cache_seq += 1
        row = np.asarray(qvec, dtype=np.float64)
        if self._cache_ids.size < self.cache_capacity:
            self._cache_emb = np.vstack([self._cache_emb, row])
            self._cache_ids = np.append(self._cache_ids, self._cache_seq)
            self._cache_freq = np.append(self._cache_freq, 1)
            self._cache_responses.append(response)
            return
        i = np.lexsort((self._cache_ids, self._cache_freq))[0]
        self._cache_emb[i] = row
        self._cache_ids[i] = self._cache_seq
        self._cache_freq[i] = 1
        self._cache_responses[i] = response

    def _lookup(
        self, query: str, top_k: int
    ) -> tuple[Optional[np.ndarray], Optional[str], list[Row]]:
        """The shared front of ask / ask_stream: guard -> embed (once) ->
        cache probe -> retrieve.  Returns (query vector, the answer when
        it is already known — guard message or cache hit — else None,
        the retrieved hits)."""
        if not query or not query.strip():
            return None, "No query provided.", []  # guard (app/main.py:477-481)
        self._require_index()
        qvec = self._embed_query(query)
        cached = self._cache_probe(qvec)
        if cached is not None:
            return qvec, cached, []
        return qvec, None, self.search(query, top_k, qvec=qvec).collect()

    def ask(
        self, query: str, chat_id: Optional[str] = None, top_k: int = DEFAULT_TOP_K
    ) -> str:
        """A20, the flagship path: guards -> embed -> cache probe ->
        retrieve -> assemble -> prompt -> generate -> memory+cache write.
        """
        qvec, answer, hits = self._lookup(query, top_k)
        if answer is not None:
            return answer
        context = self._assemble_context(hits)
        history = ""
        if chat_id is not None:
            history = "\n".join(
                f"user: {q}\nassistant: {a}"
                for q, a in self.memory_store.get(chat_id, [])
            )
        prompt = self._build_prompt(query, context, history)
        answer = self.generate(prompt)
        if chat_id is not None:  # A21 save_context
            self.memory_store.setdefault(chat_id, []).append((query, answer))
        self._cache_put(qvec, answer)
        return answer

    def ask_stream(
        self, query: str, top_k: int = DEFAULT_TOP_K, chunk_words: int = 4
    ) -> Iterator[str]:
        """A26: same pipeline, streamed generation; cache written only
        after the stream completes; no conversation memory on this path
        (preserving the reference's divergence,
        /root/reference/app/main.py:650-735).

        With a generate_stream_fn configured, token deltas are yielded
        AS THE MODEL PRODUCES THEM (true incremental emission, A19 —
        the reference's delta loop at app/main.py:638-643) and the
        full answer is accumulated for the post-stream cache write.
        Otherwise the completed answer is chunked by words."""
        qvec, answer, hits = self._lookup(query, top_k)
        if answer is not None:
            yield answer
            return
        prompt = self._build_prompt(query, self._assemble_context(hits), "")
        if self.generate_stream is not None:
            parts: list[str] = []
            for delta in self.generate_stream(prompt):
                parts.append(delta)
                yield delta
            answer = "".join(parts)
        else:
            answer = self.generate(prompt)
            words = answer.split(" ")
            for i in range(0, len(words), chunk_words):
                yield " ".join(words[i : i + chunk_words])
        self._cache_put(qvec, answer)  # app/main.py:724-727

    # ------------------------------------------------------------------

    def cache_stats(self) -> dict:
        return {
            "entries": int(self._cache_ids.size),
            "total_hits": int(self._cache_freq.sum()),
        }

