"""SimHash near-dup detection — 64-bit signatures from word hashes,
banded for candidate generation, Hamming-distance verified.

All signature math is JVM-side expressions (xxhash64 + bit ops inside
whole-stage codegen): signature computation is a map-only stage, banding
turns near-dup search into an equality join on (band_idx, band_value),
and only colliding candidates pay the bit_count verification.  That is
the 100 TB shape: no all-pairs anywhere.

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

from ..functions.text import words_of
from ..functions.plan import truncate_plan

N_BITS = 64
N_BANDS = 4  # 16 bits per band


def portable_word_hash(w) -> F.Column:
    """64-bit word hash from md5 (DuckDB-reproducible): hex chars 1-8
    are the high 32 bits, 9-16 the low.  shiftleft(hi, 32) sets the
    sign bit for hi >= 2^31 — the same two's-complement bit pattern the
    oracle builds as an unsigned HUGEINT, and bit extraction is
    representation-agnostic."""
    m = F.md5(w)
    hi = F.conv(F.substring(m, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(m, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def portable_word_hash_sql(w: str) -> str:
    """portable_word_hash rendered as one SQL expression over the SQL
    operand `w` (same functions, same arguments, same types)."""
    half = "CAST(conv(substring(md5({w}), {start}, 8), 16, 10) AS BIGINT)"
    hi = half.format(w=w, start=1)
    lo = half.format(w=w, start=9)
    return f"(shiftleft({hi}, 32) | {lo})"


def word_hashes(text_col, portable: bool = False) -> F.Column:
    """array<long> of per-word 64-bit hashes — the tokenize+hash stage,
    meant to be PRE-PROJECTED as a real column before simhash_from_hashes
    consumes it 64 times (see that function's plan note)."""
    word_hash = portable_word_hash if portable else F.xxhash64
    return F.transform(words_of(text_col), lambda w: word_hash(w))


def simhash_from_hashes(hashes) -> F.Column:
    """64-bit SimHash from a word-hash array column: for each bit j, sum
    +1/-1 votes of every word-hash's bit j; bit j of the signature is 1
    iff the vote is positive.  The bit loop is unrolled in Python
    (shift amounts must be literals) and packing uses shiftleft so bit
    63 lands in the sign bit without overflow.

    PLAN NOTE (round 14, SCALE.md tokenize-once section): `hashes` is
    referenced by 64 separate aggregate() expressions, and physical
    subexpression elimination does NOT rescue repeated HOF argument
    trees — measured at sf0.1, an inline hashes expression re-ran the
    tokenize+md5 transform once PER VOTE (~40 s vs 2.5-3.8 s with the
    array pre-projected as a real column).  Callers must pass a column
    reference (simhash_pairs does), not an expression tree."""

    def vote(j: int):
        # factory binds j per bit; the merge lambda must stay 2-ary
        return F.aggregate(
            hashes,
            F.lit(0).cast("long"),
            lambda acc, h: acc + (F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1),
        )

    sig = F.lit(0).cast("long")
    for j in range(N_BITS):
        bit = F.when(vote(j) > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        sig = sig.bitwiseOR(F.shiftleft(bit, j))
    return sig


def simhash_from_hashes_named(col_name: str) -> F.Column:
    """simhash_from_hashes over a NAMED word-hash column, rendered as
    ONE SQL string parsed JVM-side (r15, the const_array class — guide
    §1.2 driver work): composing the 64 unrolled vote aggregates as
    Python Column objects costs ~1.4 s of py4j round-trips PER PLAN
    BUILD (measured: the multimodal_dedup_stats text leg spent 1.8 s of
    its 2.0 s row building the plan, 0.3 s executing it).  Arithmetic
    is identical to simhash_from_hashes — same shift/mask/vote/packing
    ops, long-typed throughout — verified value-identical in both hash
    modes by tests/test_dedup.py::test_simhash_identical_and_perturbed
    and corpus-wide by the dedup_simhash / multimodal_dedup_stats
    oracle gates."""
    votes = [
        f"aggregate({col_name}, 0L, (acc, h) -> "
        f"acc + ((shiftright(h, {j}) & 1L) * 2L - 1L))"
        for j in range(N_BITS)
    ]
    bits = [
        f"shiftleft(CAST((CASE WHEN {v} > 0 THEN 1 ELSE 0 END) AS BIGINT), {j})"
        for j, v in enumerate(votes)
    ]
    return F.expr(" | ".join(bits))


def simhash(text_col, portable: bool = False) -> F.Column:
    """Composed single-Column form (tests / ad-hoc use).  In a real
    plan prefer word_hashes -> pre-project -> simhash_from_hashes:
    composed inline, the 64 vote aggregates re-evaluate the
    tokenize+hash transform per vote (see simhash_from_hashes)."""
    return simhash_from_hashes(word_hashes(text_col, portable))


def band_values(sig_col) -> F.Column:
    """Split the 64-bit signature into N_BANDS 16-bit integers (the
    16-bit mask makes the arithmetic shift's sign-extension irrelevant)."""
    width = N_BITS // N_BANDS
    mask = (1 << width) - 1
    return F.array(
        *[
            F.shiftright(sig_col, b * width).bitwiseAND(F.lit(mask))
            for b in range(N_BANDS)
        ]
    )


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """Candidate pairs sharing at least one 16-bit band, verified by
    Hamming distance <= max_hamming.  Returns (id_a, id_b, hamming)."""
    sigs = docs.select(
        F.col(id_col).alias("id"),
        word_hashes(F.col(text_col), portable).alias("_wh"),
    ).select("id", simhash_from_hashes_named("_wh").alias("sig"))
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
    banded = sigs.select(
        "id", "sig", F.posexplode(band_values(F.col("sig"))).alias("band_idx", "band_val")
    )
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .distinct()
    )
    return (
        cands.withColumn(
            "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
