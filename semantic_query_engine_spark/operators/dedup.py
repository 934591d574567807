"""Deduplication operators for large-scale training-data pipelines —
exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.
(North-star extensions beyond the reference surface, BASELINE.json:6.)

Scale notes (the part that matters at 100 TB):
- exact: hash the body to a 128-bit digest FIRST, then group on the
  digest — the shuffle carries 16 bytes + key, not document bodies.
- jaccard: never all-pairs.  Explode shingles and self-join on the
  shingle (candidate pairs share >=1 shingle), count shared shingles
  with one aggregation, then filter on the Jaccard floor.  Shuffle is
  keyed by shingle; frequent shingles are the skew risk -> drop
  top-frequency shingles (stop-shingles) before the join.
- minhash/simhash: signature computation is map-only; banding turns
  near-dup detection into an equality join on (band, band_hash).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint, sql_ident, words_sql
from ..functions.vectors import _dot, const_sql, l2_norm, with_cosine
from ..functions.plan import truncate_plan
from .simhash import portable_word_hash_sql


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Keep the lowest-id representative of each exact-duplicate group
    (dup keyed on the md5 fingerprint of normalized text).

    Plan shape: the shuffle carries ONLY (16-byte digest, id) into a
    map-side-combined min() aggregation; document bodies stay in their
    input splits and the survivors are recovered with a semi join on id.
    (A window over full rows would shuffle every body — the difference
    between GBs and TBs of shuffle at corpus scale.)"""
    fp = docs.select(F.col("doc_id"), fingerprint("text").alias("fp"))
    keep = fp.groupBy("fp").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    return docs.join(keep, "doc_id", "left_semi")


def _shingles_sql(ws: str, n: int) -> str:
    """Distinct word n-gram shingle array of the SQL operand `ws`, a
    words array (words_sql's tokens; empty/whitespace text yields the
    single shingle ''), as ONE SQL expression: the n-grams as
    space-joined slices, then array_distinct.  The one definition of
    the shingle rule.

    `ws` must be a pre-projected column, not the words_sql expression
    itself: the slice sits inside the transform lambda, so an inline
    tokenizer would re-split the whole document once per shingle
    (O(words^2) per document)."""
    return (
        f"array_distinct(transform(sequence(0, greatest(1, size({ws}) - {n - 1}) - 1), "
        f"__i -> array_join(slice({ws}, __i + 1, {n}), ' ')))"
    )


def word_shingles(words_col: str, n: int = 3):
    """Distinct word n-gram shingle array for one document;
    `words_col` names a column holding the document's words array
    (words_of / words_sql projected by the caller first)."""
    return F.expr(_shingles_sql(sql_ident(words_col), n))


def shingle_table(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, shingle) exploded table: one row per distinct word n-gram of
    each document.

    The words array is projected on its own first, so each document is
    tokenized once; the explode (a Generate) keeps the two projections
    apart, as in operators/chunking.chunk_documents."""
    return docs.selectExpr(
        f"{sql_ident(id_col)} AS id", f"{words_sql(sql_ident(text_col))} AS __ws"
    ).selectExpr("id", f"explode({_shingles_sql('__ws', n)}) AS shingle")


def jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Near-dup pairs by word-n-gram Jaccard >= threshold.

    Plan shape: explode shingles -> self-join keyed on shingle (only
    pairs sharing a shingle are candidates) -> count intersections in one
    agg -> join the two per-doc set sizes -> Jaccard filter.  Returns
    (id_a, id_b, jaccard) with id_a < id_b.

    max_shingle_freq is the skew valve: a shingle appearing in more than
    that many documents (a "stop-shingle" — boilerplate, headers) would
    contribute O(freq²) candidate pairs on one join key.  Dropping it
    from BOTH the join and the per-doc sizes computes Jaccard over the
    reduced shingle space — a documented approximation that bounds the
    hottest reduce task; with no shingle above the cap the result is
    exactly the unfiltered Jaccard.
    """
    sh = shingle_table(docs, n=n)
    if max_shingle_freq is not None:
        freq = sh.groupBy("shingle").agg(F.count("*").alias("__df"))
        keep = freq.filter(F.col("__df") <= max_shingle_freq).select("shingle")
        sh = sh.join(keep, "shingle", "left_semi")
    # Truncate the exploded shingle table (r14, guide §8 fingerprint-
    # pass shape): `sh` feeds the per-doc sizes AND both self-join
    # sides, so the tokenize+shingle+explode chain (and the stop-
    # shingle semi join, when capped) ran 3x per document.  (id,
    # shingle) is the lightweight proxy a staged dedup run writes
    # anyway; payload text never enters it.
    sh = sh.transform(truncate_plan)
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_shingles").alias("nb"))
    # sizes is one row per DOCUMENT — at the corpus scale this module
    # targets that exceeds any broadcast budget, so leave the join
    # strategy to Catalyst/AQE (it broadcasts when genuinely small).
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard")
    )


def _band_table(
    sh: DataFrame, num_perm: int, n_bands: int, portable: bool
) -> DataFrame:
    """(id, band, key) banding table over an (id, shingle) table; see
    minhash_band_table."""
    if num_perm % n_bands:
        raise ValueError("num_perm must divide into n_bands")
    r = num_perm // n_bands
    if portable:
        # permutation i = md5-derived hash of "i|shingle"; band key =
        # the r signature slots rendered as one string (an equality key
        # needs no hashing — portable mode trades key bytes for a
        # DuckDB-reproducible pipeline; production mode hashes them)
        slot = portable_word_hash_sql("concat(CAST(__i AS STRING), '|', shingle)")
        key_of = lambda mhs: "concat_ws(',', {})".format(  # noqa: E731
            ", ".join(f"CAST({m} AS STRING)" for m in mhs)
        )
    else:
        # xxhash64(shingle, i): i is an INT lambda variable, the same
        # type (and therefore the same hash) as a literal int seed
        slot = "xxhash64(shingle, __i)"
        key_of = lambda mhs: f"xxhash64({', '.join(mhs)})"  # noqa: E731
    # The signature is an element-wise min over num_perm hash slots.
    # r14 shape: ONE posexplode of a num_perm-wide hash array + ONE
    # min() aggregate keyed (id, slot), reassembled per id with
    # array_sort(collect_list(struct)).  The previous shape — num_perm
    # separate min() aggregates in one groupBy — generated a whole-
    # stage-codegen class so large that javac+JIT warmup dominated the
    # first executions (measured 7.6/3.3/2.7/2.4 s across runs at
    # sf0.1 vs 6.7/5.4/1.8/1.8 for this shape) and steady state was
    # ~25% slower.  Values are identical: min per slot is min per
    # slot, whatever the grouping.  Shuffle volume is the same
    # (id, slot, min-hash) triples after map-side combine vs one
    # num_perm-wide row per id.
    e = sh.selectExpr(
        "id",
        f"posexplode(transform(sequence(0, {num_perm - 1}), __i -> {slot})) AS (i, h)",
    )
    sig = e.groupBy("id", "i").agg(F.expr("min(h) AS mh"))
    # slot index is unique per id, so the struct sort reassembles the
    # signature in slot order deterministically
    asm = sig.groupBy("id").agg(
        F.expr("array_sort(collect_list(struct(i, mh))) AS a")
    )
    bands = ", ".join(
        f"named_struct('band', {b}, 'key', "
        f"{key_of([f'a[{b * r + j}].mh' for j in range(r)])})"
        for b in range(n_bands)
    )
    return asm.selectExpr("id", f"inline(array({bands}))")


def minhash_band_table(
    docs: DataFrame,
    num_perm: int = 64,
    n_bands: int = 16,
    n: int = 2,
    portable: bool = False,
) -> DataFrame:
    """(id, band, key) minhash-LSH banding table, computed entirely in
    whole-stage codegen — no fitted model, no VectorUDT.

    The num_perm permutations are xxhash64(shingle, i) for i in
    0..num_perm-1; the signature is ONE map-side-combined aggregation of
    num_perm min()s over the exploded shingle table.  Bands pack
    num_perm/n_bands adjacent signature slots into one xxhash64 key, so
    near-dup candidate generation becomes an equality join on
    (band, key).  For a pair at Jaccard s the detect probability is
    1-(1-s^r)^b (r=4, b=16: s=0.8 -> 0.9998, s=0.15 -> 0.008 — high
    recall at the near-dup range, tiny false-candidate rate).

    PLAN NOTE (the simhash_from_hashes_named class): the slot hash
    array, the n_bands band keys and the shingle array are each ONE SQL
    string parsed JVM-side.  Composed as Python Columns — one py4j
    round-trip per function, literal, cast and field access, for
    num_perm slots and n_bands x r key fields — the same plan cost
    ~3,400-5,900 py4j calls and ~0.15 s per build; as strings it costs
    ~70-180 calls and ~0.02 s.  Values are bit-identical to the Column
    form in both hash modes (tests/test_dedup.py keeps that form as the
    reference and compares band tables and pairs with exact ==)."""
    return _band_table(shingle_table(docs, n=n), num_perm, n_bands, portable)


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    n: int = 2,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs by MinHash+LSH banding, confirmed with the exact
    Jaccard over hashed shingle sets: 64 permutations in 16 bands of 4
    (minhash_band_table).  Returns (id_a, id_b, jaccard_dist) with
    id_a < id_b and jaccard_dist <= threshold.

    Plan shape (the 100 TB story): signatures and band keys are map-only
    expressions; candidates come from an equality join keyed on
    (band, key) — never all-pairs; the exact-Jaccard confirm joins only
    the candidate pairs back to the (id, shingle-hash) table, so
    precision is exact and banding only affects recall.  Shingles cross
    the shuffle as 8-byte xxhash64 values, not strings (64-bit collisions
    are negligible next to the reference-class HashingTF 2^18 buckets).

    PLAN NOTE: the band table and the confirm table both derive from ONE
    lazily truncated (id, shingle) table, so `docs` (and, under a lazy
    caller, its whole upstream scan + dedup) is tokenized and shingled
    once, not once per derivation; with the SQL-string band keys (see
    minhash_band_table) building this plan costs ~230-420 py4j calls,
    down from 4,300-5,700 for the Column-composed form."""
    # (id, shingle) feeds the signature build AND the confirm table's
    # sizes/ea/eb: truncated once, the tokenize+shingle+explode chain
    # runs once per document.
    sh = shingle_table(docs, id_col=id_col, n=n).transform(truncate_plan)
    # Truncate the band table before the self-join.  AQE would share
    # the signature aggregation's exchange between the two sides
    # without it (ReusedExchange), saving one job, but each side then
    # re-runs the final aggregate and the band Generate: measured
    # alternating in one process, a perfbench curation pass cost ~9%
    # more CPU and a 200-doc call ~11% more.
    bt = _band_table(sh, 64, 16, portable).transform(truncate_plan)
    cand = (
        bt.alias("a")
        .join(
            bt.alias("b"),
            F.expr("a.band = b.band AND a.key = b.key AND a.id < b.id"),
        )
        .selectExpr("a.id AS id_a", "b.id AS id_b")
        .distinct()
    )
    sh_hash = portable_word_hash_sql("shingle") if portable else "xxhash64(shingle)"
    hs = sh.selectExpr("id", f"{sh_hash} AS sh")
    sizes = hs.groupBy("id").agg(F.expr("count(*) AS ns"))
    inter = (
        cand.join(hs.selectExpr("id AS id_a", "sh"), "id_a")
        .join(hs.selectExpr("id AS id_b", "sh"), ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.expr("count(*) AS inter"))
    )
    dist = "1.0D - CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE)"
    return (
        inter.join(sizes.selectExpr("id AS id_a", "ns AS na"), "id_a")
        .join(sizes.selectExpr("id AS id_b", "ns AS nb"), "id_b")
        .selectExpr("id_a", "id_b", f"round({dist}, 6) AS jaccard_dist")
        .filter(F.col("jaccard_dist") <= F.lit(threshold))
    )


def _srp_planes(n_bands: int, bits: int, dim: int, seed: int) -> list[float]:
    """Flat Rademacher (+/-1) hyperplane matrix, row-major over
    (band, bit, dim).  Seeded Python PRNG on the driver — a pure plan
    CONSTANT (no data touched, no collect), identical on every run."""
    import random

    rng = random.Random(seed)
    return [1.0 if rng.random() < 0.5 else -1.0 for _ in range(n_bands * bits * dim)]


def srp_band_table(
    embeddings: DataFrame,
    n_bands: int,
    bits: int,
    dim: int,
) -> DataFrame:
    """(id, band, key) sign-random-projection signature table of
    (vec_id, embedding) rows.
    bit_i = sign(v . h_(band,i)); key packs the band's bits.  The
    hyperplanes ride along as one literal array, the band index is
    exploded FIRST so the per-row key expression stays small (one fold
    over the bits, not bands*bits) — planning and codegen stay cheap.
    Map-only: no shuffle, no fitted model.

    The key is ONE SQL string (functions.vectors' dot over a slice of
    the plane literal, as wide as the vector), parsed JVM-side: the
    Column-composed form cost ~1,000 py4j calls per plan build."""
    planes = const_sql(_srp_planes(n_bands, bits, dim, 42))
    plane = f"slice({planes}, (band * {bits} + i) * {dim} + 1, size(__v))"
    key = (
        f"aggregate(sequence(0, {bits - 1}), 0L, (k, i) -> "
        f"k + CASE WHEN {_dot('__v', plane)} >= 0D THEN shiftleft(1L, i) ELSE 0L END)"
    )
    return embeddings.selectExpr(
        f"{sql_ident('vec_id')} AS id",
        f"{sql_ident('embedding')} AS __v",
        f"explode(sequence(0, {n_bands - 1})) AS band",
    ).selectExpr("id", "band", f"{key} AS key")


def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.95,
    block_col: str | None = None,
    srp_bands: int | None = None,
    srp_bits: int = 4,
    srp_dim: int = 64,
) -> DataFrame:
    """Near-dup pairs of (vec_id, embedding) rows by cosine >= threshold.

    Candidate generation, in order of preference:
    - block_col set (e.g. a precomputed cluster/label id): equality join
      inside blocks — pair count ~n²/B instead of n².
    - srp_bands set: sign-random-projection LSH banding.  Each vector
      gets srp_bands keys of srp_bits sign-bits; candidates are pairs
      sharing any (band, key) — an EQUALITY join on the band key, map-only
      signature computation, distinct'd before the exact cosine check.
      Recall for a pair at cosine s is 1-(1-p^bits)^bands with
      p = 1 - acos(s)/pi (s=0.98, bits=4, bands=8 -> miss ~1e-5).
      This is the declared scale path: shuffle is keyed by (band, key),
      never all-pairs.
    - neither: full pair join — tiny inputs only.

    Every candidate is confirmed with the exact cosine, so blocking only
    affects recall, never precision.
    """
    if srp_bands and not block_col:
        # Truncated: both self-join sides derive from `bands`, so the
        # srp_bits x dim sign-projection HOFs ran twice per vector
        # without it.  (id, band, key) — 3 longs a row.
        bands = srp_band_table(embeddings, srp_bands, srp_bits, srp_dim).transform(
            truncate_plan
        )
        la, lb = bands.alias("ba"), bands.alias("bb")
        cand = (
            la.join(
                lb,
                (F.col("ba.band") == F.col("bb.band"))
                & (F.col("ba.key") == F.col("bb.key"))
                & (F.col("ba.id") < F.col("bb.id")),
            )
            .select(F.col("ba.id").alias("id_a"), F.col("bb.id").alias("id_b"))
            .distinct()
        )
        # per-VECTOR norms, computed once per embedding row before the
        # pair join instead of per pair (r14, with_cosine docstring)
        va = embeddings.select(
            F.col("vec_id").alias("id_a"),
            F.col("embedding").alias("vec_a"),
            l2_norm("embedding").alias("__na"),
        )
        vb = embeddings.select(
            F.col("vec_id").alias("id_b"),
            F.col("embedding").alias("vec_b"),
            l2_norm("embedding").alias("__nb"),
        )
        pairs = cand.join(va, "id_a").join(vb, "id_b")
    else:
        a = embeddings.select(
            F.col("vec_id").alias("id_a"),
            F.col("embedding").alias("vec_a"),
            l2_norm("embedding").alias("__na"),
            *( [F.col(block_col).alias("blk")] if block_col else [] ),
        )
        b = embeddings.select(
            F.col("vec_id").alias("id_b"),
            F.col("embedding").alias("vec_b"),
            l2_norm("embedding").alias("__nb"),
            *( [F.col(block_col).alias("blk")] if block_col else [] ),
        )
        joined = a.join(b, "blk") if block_col else a.crossJoin(b)
        pairs = joined.filter(F.col("id_a") < F.col("id_b"))
    sim = with_cosine(pairs, "vec_a", "vec_b", "sim", norm_a="__na", norm_b="__nb")
    return sim.select("id_a", "id_b", F.round("sim", 6).alias("sim")).filter(
        F.col("sim") >= F.lit(threshold)
    )
