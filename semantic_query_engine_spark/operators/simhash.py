"""SimHash near-dup detection — 64-bit signatures from word hashes,
banded for candidate generation, Hamming-distance verified.

All signature math is JVM-side expressions (xxhash64 + bit ops inside
whole-stage codegen): signature computation is a map-only stage, banding
turns near-dup search into an equality join on (band_idx, band_value),
and only colliding candidates pay the bit_count verification.  That is
the 100 TB shape: no all-pairs anywhere.

Each rule is written once, as SQL text: the md5 word hash
(`portable_word_hash_sql`, also the MinHash slot hash of
operators/dedup), the word-hash array (`_word_hashes`, over
functions/text.words_sql) and the SimHash vote (`_simhash`).  Plans
are parsed JVM-side from these strings, not composed node by node
through Python-to-JVM (py4j) calls.

Two word-hash modes, identical structure:
- xxhash64 (default `portable=False`): the production path — one
  codegen'd hash instruction per word;
- md5-derived (`portable=True`): bits 0-63 of md5(word), parsed as two
  32-bit halves.  md5 exists in DuckDB too, so portable-mode signatures
  are bit-for-bit reproducible in SQL and the full banded pipeline is
  oracle-checkable (dedup_simhash).  ~2x hash cost, same plan shape.
Unit tests pin the semantics either way (identical text -> identical
signature, hamming 0; small edit -> small hamming distance).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import sql_ident, words_sql
from ..functions.plan import truncate_plan

N_BITS = 64
N_BANDS = 4  # 16 bits per band


def portable_word_hash_sql(w: str) -> str:
    """64-bit word hash from md5 (DuckDB-reproducible) over the SQL
    operand `w`: hex chars 1-8 are the high 32 bits, 9-16 the low.
    shiftleft(hi, 32) sets the sign bit for hi >= 2^31 — the same
    two's-complement bit pattern the oracle builds as an unsigned
    HUGEINT, and bit extraction is representation-agnostic."""
    half = "CAST(conv(substring(md5({w}), {start}, 8), 16, 10) AS BIGINT)"
    hi = half.format(w=w, start=1)
    lo = half.format(w=w, start=9)
    return f"(shiftleft({hi}, 32) | {lo})"


def _word_hashes(text: str, portable: bool) -> str:
    h = portable_word_hash_sql("__h") if portable else "xxhash64(__h)"
    return f"transform({words_sql(text)}, __h -> {h})"


def word_hashes(text_col: str, portable: bool = False) -> F.Column:
    """array<long> of per-word 64-bit hashes of text column `text_col`
    — the tokenize+hash stage, meant to be PRE-PROJECTED as a real
    column before the SimHash vote consumes it 64 times (see
    simhash_from_hashes_named)."""
    return F.expr(_word_hashes(sql_ident(text_col), portable))


def _simhash(hs: str) -> str:
    votes = [
        f"aggregate({hs}, 0L, (acc, h) -> acc + ((shiftright(h, {j}) & 1L) * 2L - 1L))"
        for j in range(N_BITS)
    ]
    return " | ".join(
        f"shiftleft(CAST((CASE WHEN {v} > 0 THEN 1 ELSE 0 END) AS BIGINT), {j})"
        for j, v in enumerate(votes)
    )


def simhash_from_hashes_named(col_name: str) -> F.Column:
    """64-bit SimHash from the word-hash array column `col_name`: for
    each bit j, sum +1/-1 votes of every word-hash's bit j; bit j of the
    signature is 1 iff the vote is positive.  The bit loop is unrolled
    (shift amounts must be literals) and packing uses shiftleft so bit
    63 lands in the sign bit without overflow.

    PLAN NOTE (SCALE.md tokenize-once section): the hashes are
    referenced by 64 separate aggregate() expressions, and physical
    subexpression elimination does NOT rescue repeated HOF argument
    trees — measured at sf0.1, an inline hashes expression re-ran the
    tokenize+md5 transform once PER VOTE (~40 s vs 2.5-3.8 s with the
    array pre-projected as a real column).  So this takes a column
    name, as simhash_pairs pre-projects it."""
    return F.expr(_simhash(sql_ident(col_name)))


def _band_values(sig: str) -> str:
    """The 64-bit signature `sig` split into N_BANDS 16-bit integers
    (the 16-bit mask makes the arithmetic shift's sign-extension
    irrelevant)."""
    width = N_BITS // N_BANDS
    mask = (1 << width) - 1
    return "array(" + ", ".join(
        f"shiftright({sig}, {b * width}) & {mask}" for b in range(N_BANDS)
    ) + ")"


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 8,
    portable: bool = False,
) -> DataFrame:
    """Candidate pairs of (doc_id, text) rows sharing at least one
    16-bit band, verified by Hamming distance <= max_hamming.  Returns
    (id_a, id_b, hamming)."""
    sigs = docs.selectExpr(
        f"{sql_ident('doc_id')} AS id",
        f"{_word_hashes(sql_ident('text'), portable)} AS _wh",
    ).selectExpr("id", f"{_simhash('_wh')} AS sig")
    return banded_hamming_pairs(sigs, max_hamming)


def banded_hamming_pairs(sigs: DataFrame, max_hamming: int) -> DataFrame:
    """Near-dup pairs over ANY 64-bit signature column — the banded
    candidate join + Hamming verify shared by text SimHash
    (simhash_pairs) and image dHash (multimodal_phash_dedup).  Input is
    (id, sig); output (id_a, id_b, hamming <= max_hamming).  For
    max_hamming < N_BANDS the banding is EXACT by pigeonhole: fewer
    differing bits than bands means at least one band is bit-identical,
    so the equality join cannot miss a qualifying pair."""
    # Truncate the signature table before the self-join (r14, guide §8's
    # "fingerprint pass" shape): both join sides derive from `sigs`, so
    # without truncation the signature computation — the 64-vote SimHash
    # expression tree or a mapInPandas media fingerprint — ran TWICE per
    # row.  (id, sig) is 16 bytes a row; at corpus scale this is the
    # fingerprint table a real dedup run stages to storage anyway.
    # A/B at sf0.1 (5-run medians, back-to-back): audio 1.00 s with vs
    # 1.23 s without, phash/stats equal within the noise band.
    sigs = sigs.transform(truncate_plan)
    banded = sigs.selectExpr(
        "id", "sig", f"posexplode({_band_values('sig')}) AS (band_idx, band_val)"
    )
    cands = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            F.expr("a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.id < b.id"),
        )
        .selectExpr("a.id AS id_a", "b.id AS id_b", "a.sig AS sig_a", "b.sig AS sig_b")
        .distinct()
    )
    return (
        cands.selectExpr("id_a", "id_b", "bit_count(sig_a ^ sig_b) AS hamming")
        .filter(f"hamming <= {int(max_hamming)}")
    )
