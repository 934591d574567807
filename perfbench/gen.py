"""Seeded input generator: every input of every workload comes from here.

The program under test only ever sees what these functions return: a
directory of `PMC*.txt` files, question strings and upload documents.
The same seed gives byte-identical inputs.

Text model: a pseudo-word vocabulary with a Zipf-shaped global word
distribution (so common words appear in most documents, as in real
prose) mixed with a per-document set of topic words (so documents and
the questions derived from them are distinguishable under TF-IDF).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np

_ONSETS = ("b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z", "br", "st", "tr", "ch", "ph")
_NUCLEI = ("a", "e", "i", "o", "u", "ai", "ou", "ea")
_CODAS = ("", "n", "s", "r", "l", "x", "th", "m")

VOCAB_SIZE = 20_000
COMMON = 2_000  # ranks below this are "global" words; the rest are topic words
TOPIC_WORDS = 40
TOPIC_SHARE = 0.3
QUESTION_WORDS = 6


def _vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        k = int(rng.integers(2, 5))
        w = "".join(
            _ONSETS[rng.integers(len(_ONSETS))]
            + _NUCLEI[rng.integers(len(_NUCLEI))]
            + _CODAS[rng.integers(len(_CODAS))]
            for _ in range(k)
        )
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


@dataclass
class Doc:
    doc_id: str
    text: str
    topic: list[str] = field(repr=False)

    @property
    def n_words(self) -> int:
        return len(self.text.split())


class TextModel:
    """Seeded document/question factory."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.vocab = np.array(_vocabulary(self.rng, VOCAB_SIZE))
        ranks = np.arange(1, COMMON + 1, dtype=np.float64)
        p = 1.0 / (ranks + 10.0)
        self.common_p = p / p.sum()

    def _topic(self) -> list[str]:
        idx = self.rng.choice(np.arange(COMMON, VOCAB_SIZE), TOPIC_WORDS, replace=False)
        return self.vocab[idx].tolist()

    def words(self, n: int, topic: list[str]) -> list[str]:
        common = self.vocab[self.rng.choice(COMMON, n, p=self.common_p)]
        tw = np.array(topic)[self.rng.integers(len(topic), size=n)]
        return np.where(self.rng.random(n) < TOPIC_SHARE, tw, common).tolist()

    @staticmethod
    def render(words: list[str]) -> str:
        """Words joined by spaces, with a newline every 80 words (the
        engine's cleaning maps newlines to spaces)."""
        lines = [" ".join(words[i : i + 80]) for i in range(0, len(words), 80)]
        return "\n".join(lines) + "\n"

    def doc(self, doc_id: str, n: int) -> Doc:
        topic = self._topic()
        return Doc(doc_id, self.render(self.words(n, topic)), topic)

    def lengths(self, n: int, lo: int, hi: int) -> list[int]:
        """n document lengths spread evenly over [lo, hi], in seeded
        order: every seed gets the same multiset, so the total work of a
        run does not depend on the seed, only which document gets which
        length does."""
        return [int(x) for x in self.rng.permutation(np.linspace(lo, hi, n).round())]

    def question(self, doc: Doc) -> str:
        """QUESTION_WORDS of the document's topic words: no words shared
        by all questions, so distinct questions stay below the cache's
        similarity floor."""
        picks = self.rng.choice(len(doc.topic), QUESTION_WORDS, replace=False)
        return " ".join(doc.topic[i] for i in picks) + "?"


def write_corpus(docs: list[Doc], corpus_dir: str) -> None:
    os.makedirs(corpus_dir, exist_ok=True)
    for d in docs:
        with open(os.path.join(corpus_dir, f"{d.doc_id}.txt"), "w", encoding="utf-8") as f:
            f.write(d.text)


# ----------------------------------------------------------------------
# ask workloads
# ----------------------------------------------------------------------

ASK_DOCS = 60
ASK_WORDS = (40, 2400)  # 1 to 5 chunks of 512 words
UPLOAD_WORDS = (300, 700, 1100, 500)
HOT_POOL = 50
ZIPF_S = 1.1


@dataclass
class AskInputs:
    docs: list[Doc]
    model: TextModel
    hot_pool: list[str]

    def hot_stream(self, n: int) -> list[str]:
        """n draws, Zipf(s=ZIPF_S) over the HOT_POOL questions, the most
        popular first in the pool."""
        w = 1.0 / np.arange(1, HOT_POOL + 1, dtype=np.float64) ** ZIPF_S
        draws = self.model.rng.choice(HOT_POOL, n, p=w / w.sum())
        return [self.hot_pool[i] for i in draws]

    def __post_init__(self):
        self.cold = self._cold_questions()

    def _cold_questions(self):
        """Endless stream of pairwise-distinct questions, cycling over the
        documents, none of them in the hot pool."""
        seen: set[str] = set(self.hot_pool)
        i = 0
        while True:
            q = self.model.question(self.docs[i % len(self.docs)])
            i += 1
            if q not in seen:
                seen.add(q)
                yield q

    def upload(self, k: int) -> tuple[str, str, str, int]:
        """(user_id, filename, content, batch_ts) of the k-th upload:
        4 tenants, round-robin; lengths cycle over a fixed list."""
        d = self.model.doc(f"PMCup{k}", UPLOAD_WORDS[k % len(UPLOAD_WORDS)])
        return f"tenant{k % 4}", f"{d.doc_id}.txt", d.text, 1000 + k


def ask_inputs(seed: int) -> AskInputs:
    model = TextModel(seed)
    docs = [
        model.doc(f"PMC{i:06d}", n) for i, n in enumerate(model.lengths(ASK_DOCS, *ASK_WORDS))
    ]
    pool: list[str] = []
    for d in docs:
        q = model.question(d)
        if q not in pool:
            pool.append(q)
        if len(pool) == HOT_POOL:
            break
    return AskInputs(docs, model, pool)


# ----------------------------------------------------------------------
# curate_index
# ----------------------------------------------------------------------

CURATE_DOCS = 7
CURATE_WORDS = (100, 1000)
CURATE_EXACT = 1
CURATE_NEAR = 2  # two pairs, so a recall floor of 1/2 tolerates one LSH miss
NEAR_PREFIX = 0.8


@dataclass
class CurateInputs:
    docs: list[Doc]
    exact_of: dict[str, str]  # planted exact duplicate -> its original
    near_of: dict[str, str]  # planted near duplicate -> its original


def _exact_copy(text: str, rng: np.random.Generator) -> str:
    """Same text after the engine's normalization (whitespace runs ->
    one space, lowercased) but different bytes: lines re-wrapped and the
    first word upper-cased."""
    words = text.split()
    words[0] = words[0].upper()
    step = int(rng.integers(20, 60))
    lines = [" ".join(words[i : i + step]) for i in range(0, len(words), step)]
    return "  \n".join(lines)


def curate_inputs(
    seed: int,
    n_docs: int = CURATE_DOCS,
    n_exact: int = CURATE_EXACT,
    n_near: int = CURATE_NEAR,
) -> CurateInputs:
    """n_docs files: originals, plus n_exact planted exact copies and
    n_near planted near copies (the first NEAR_PREFIX of an
    original's words: word-bigram Jaccard ~0.8, which MinHash-LSH with
    16 bands of 4 finds with probability 0.9998).  Copies get ids
    interleaved with the originals so either may sort first."""
    model = TextModel(seed)
    rng = model.rng
    n_orig = n_docs - n_exact - n_near
    ids = [f"PMC{i:06d}" for i in rng.permutation(n_docs)]
    lengths = model.lengths(n_orig, *CURATE_WORDS)
    originals = [model.doc(ids[i], lengths[i]) for i in range(n_orig)]
    # copy sources at fixed length ranks (so the total word count is the
    # same for every seed), in seeded order
    by_len = np.argsort(lengths, kind="stable")
    ranks = np.linspace(0, n_orig - 1, n_exact + n_near).round().astype(int)
    picked = by_len[ranks]
    sources = np.concatenate([rng.permutation(picked[0::2]), rng.permutation(picked[1::2])])
    docs = list(originals)
    exact_of: dict[str, str] = {}
    near_of: dict[str, str] = {}
    for j, s in enumerate(sources):
        orig = originals[s]
        new_id = ids[n_orig + j]
        if j < n_exact:
            docs.append(Doc(new_id, _exact_copy(orig.text, rng), orig.topic))
            exact_of[new_id] = orig.doc_id
        else:
            words = orig.text.split()
            keep = int(len(words) * NEAR_PREFIX)
            docs.append(Doc(new_id, TextModel.render(words[:keep]), orig.topic))
            near_of[new_id] = orig.doc_id
    return CurateInputs(docs, exact_of, near_of)
