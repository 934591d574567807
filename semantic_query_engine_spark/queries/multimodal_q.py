"""Multimodal pipeline queries — the binary-column operators
(operators/multimodal.py) promoted into the VALUE-HASH oracle gate.

Until round 11 the multimodal plumbing (opaque binary payloads, Arrow
mapInPandas decode, pandas-UDF feature extraction, JVM frame sampling)
was pytest-covered only; these registrations put every byte of its
output behind the DuckDB comparison.  For the fake-decode rows the
payload is the UTF-8 encoding of `text` (pure ASCII in every fixture),
so metadata is a pure function of the byte stream that DuckDB
reproduces with octet_length / codepoint arithmetic; the round-12 rows
build SPEC-CONFORMANT BMP/RIFF-WAVE containers in-plan and genuinely
parse them (real_decode / dhash64 / audio_fingerprint64 /
bmp_band_profile), with every oracle recomputing the result
ANALYTICALLY from the generation parameters so parser bugs
hash-mismatch.

The round-12 curation leg: perceptual dedup for images (dHash) and
audio (frame-energy deltas) sharing text SimHash's banded-Hamming
join, the cross-modality pair-volume monitor, CLIP-shaped image-text
alignment scoring, video scene detection + keyframe sampling,
metadata quality gates, and streaming dedup against a historical
signature index.

Scale shape (every query here): encode/parse/fingerprint is fused
map-only work over Arrow batches — binary payloads are born and
consumed inside their split and NEVER shuffle; only ids, typed
metadata, and 8-byte signatures cross the wire; near-dup search is a
banded equality join (exact by pigeonhole at hamming<=3 under 4
bands), never all-pairs."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import _idot, _micro
from ..operators.multimodal import (
    FEATURE_BINS,
    attach_binary_payload,
    attach_real_payload,
    decode_metadata,
    extract_features,
    frame_sample,
    real_decode,
)
from ..sources.fixtures import load_table
from .registry import register

# the fake decoder's metadata formulas, in SQL, over the UTF-8 byte
# length (= octet_length of the encoded text; fixtures are pure ASCII
# so it equals the char length, but encode() keeps it honest)
_NB = "octet_length(encode(text))"


@register(
    "multimodal_decode_meta",
    oracle=f"""
    SELECT doc_id,
           CAST({_NB} AS INT) AS n_bytes,
           CAST({_NB} % 64 + 1 AS INT) AS width,
           CAST(({_NB} // 64) % 64 + 1 AS INT) AS height,
           CASE WHEN {_NB} % 2 = 0 THEN 'fakeimg' ELSE 'fakevid' END AS format,
           CAST(CASE WHEN {_NB} % 2 = 0 THEN 1
                     ELSE {_NB} % 30 + 1 END AS INT) AS n_frames
    FROM documents
    """,
)
def multimodal_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload DECODE through the real mapInPandas plumbing
    (Arrow batch in, typed-metadata batch out — the exact shape a
    libjpeg/ffmpeg decoder uses): every metadata column the fake
    decoder derives from the byte stream is value-hash-checked against
    DuckDB's arithmetic over the same bytes."""
    docs = load_table(spark, sf_dir, "documents")
    return decode_metadata(attach_binary_payload(docs))


@register(
    "multimodal_real_decode",
    oracle="""
    SELECT doc_id,
           CAST(CASE WHEN doc_id % 2 = 0
                THEN 54 + ((doc_id % 64 + 1) * 3 + 3) // 4 * 4
                          * (doc_id % 48 + 1)
                ELSE 44 + 2 * (n_chars % 1000 + 8) END AS INT) AS n_bytes,
           CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 64 + 1
                ELSE 1 END AS INT) AS width,
           CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 48 + 1
                ELSE 16 END AS INT) AS height,
           CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'wav' END AS format,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 1
                ELSE n_chars % 1000 + 8 END AS INT) AS n_frames
    FROM documents
    """,
)
def multimodal_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode metadata from GENUINELY PARSED container bytes (VERDICT
    r11 #4): each doc gets a spec-conformant uncompressed BMP (even
    doc_id) or PCM RIFF/WAVE (odd doc_id) built in-plan, and
    `real_decode` (operators/multimodal.py) reads width/height/bpp out
    of the BITMAPINFOHEADER and channels/bits/frame-count out of the
    RIFF fmt+data chunks with struct.unpack — no deterministic fake
    anywhere on this path.  The oracle recomputes every field
    ANALYTICALLY from the generation parameters (file-size formula
    includes BMP's 4-byte row padding), so a bug in either the encoder
    or the header parser hash-mismatches.  For WAV rows width = channel
    count, height = bits per sample.

    Scale shape: encode + decode are one fused mapInPandas stage over
    Arrow batches — payloads are born and consumed inside their split,
    nothing binary ever shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    return decode_metadata(attach_real_payload(docs), decode_fn=real_decode)


@register(
    "multimodal_byte_features",
    oracle=f"""
    WITH chars AS (
      SELECT doc_id, {_NB} AS n, ord(unnest(string_split(text, ''))) AS cp
      FROM documents),
    hist AS (
      SELECT doc_id, n, cp // {256 // FEATURE_BINS} AS bin,
             COUNT(*)::BIGINT AS cnt
      FROM chars GROUP BY doc_id, n, bin),
    grid AS (
      SELECT d.doc_id, d.n, b.bin
      FROM (SELECT DISTINCT doc_id, n FROM chars) d,
           (SELECT unnest(range({FEATURE_BINS})) AS bin) b)
    SELECT g.doc_id, CAST(g.bin AS INT) AS bin,
           COALESCE(h.cnt, 0) * 1000000 // g.n AS micro
    FROM grid g LEFT JOIN hist h ON h.doc_id = g.doc_id AND h.bin = g.bin
    """,
)
def multimodal_byte_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over opaque payloads (the multimodal analog
    of the text embedder — payload batch in, fixed-dim vector batch
    out, via an Arrow pandas UDF), exploded to (doc_id, bin, micro)
    scalar rows for the hash gate.  Micro-units are count*1e6 // size
    in EXACT integer arithmetic on both sides.  The oracle rebuilds
    the byte histogram from codepoints (fixtures are pure ASCII, so
    codepoint == byte)."""
    docs = load_table(spark, sf_dir, "documents")
    feats = extract_features(attach_binary_payload(docs))
    return feats.select(
        "doc_id", F.posexplode("features").alias("bin", "micro")
    ).select("doc_id", F.col("bin").cast("int").alias("bin"), "micro")


@register(
    "multimodal_frame_sample",
    oracle=f"""
    WITH meta AS (
      SELECT doc_id,
             CAST({_NB} % 30 + 1 AS INT) AS n_frames
      FROM documents WHERE {_NB} % 2 = 1)
    SELECT doc_id, n_frames,
           CAST(f * 10 AS INT) AS frame_idx
    FROM meta,
         UNNEST(range(CAST(greatest(0, (n_frames - 1) // 10) AS BIGINT) + 1))
           AS t(f)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling for the 'video' rows: one typed-metadata row
    explodes into every-10th-frame rows as a JVM generator (no UDF
    touches the bytes once metadata is typed) — 1 row -> ceil(n/10)
    rows, the decode->sample composition a video curation pipeline
    runs before per-frame featurization."""
    docs = load_table(spark, sf_dir, "documents")
    meta = decode_metadata(attach_binary_payload(docs))
    return frame_sample(meta, every_nth=10).select(
        "doc_id", "n_frames", F.col("frame_idx").cast("int").alias("frame_idx")
    )


# shared SQL fragments for 64-bit-signature banding (4 x 16-bit bands,
# HUGEINT signatures) — consumed by the image-dHash and audio oracles;
# same arithmetic as the dedup_simhash oracle twin
_SIG_SHIFTS = [1, 65536, 4294967296, 281474976710656]
_SIG_BAND_VAL = (
    "CAST((sig // CASE band_idx WHEN 0 THEN 1 WHEN 1 THEN 65536 "
    "WHEN 2 THEN 4294967296 ELSE 281474976710656 END) % 65536 AS BIGINT)"
)
_SIG_HAM = " + ".join(
    f"bit_count(xor(CAST((sig_a // {s}) % 65536 AS BIGINT), "
    f"CAST((sig_b // {s}) % 65536 AS BIGINT)))"
    for s in _SIG_SHIFTS
)
_SIG_TAIL = f"""
    bands AS (
      SELECT id, sig, band_idx, {_SIG_BAND_VAL} AS band_val
      FROM (SELECT id, sig, unnest([0, 1, 2, 3]) AS band_idx FROM sigs)),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b,
             a.sig AS sig_a, b.sig AS sig_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
           AND a.id < b.id)
    SELECT id_a, id_b, CAST({_SIG_HAM} AS INT) AS hamming
    FROM cand WHERE {_SIG_HAM} <= 3
    """


def _phash_oracle(cap: int = 1200) -> str:
    """Generate the DuckDB twin of the image dHash near-dup pipeline:
    the 9x8 sampled grayscale grid recomputed ANALYTICALLY from the BMP
    generation parameters (encode_bmp's pixel formula — pixel k of a
    w x h image is (k*31 + seed) % 256, stored bottom-up), the 64
    difference bits packed into a HUGEINT, 16-bit banding, and the
    band-wise xor/bit_count Hamming confirm — bit-for-bit the
    operator's arithmetic, but derived WITHOUT parsing bytes, so a bug
    in either the encoder or the Spark-side pixel parser (padding, row
    flip, channel stride) hash-mismatches."""
    return f"""
    WITH imgs AS (
      SELECT doc_id AS id, doc_id % 56 + 9 AS w, doc_id % 41 + 8 AS h,
             n_chars AS seed
      FROM documents WHERE doc_id < {cap}
      UNION ALL
      SELECT doc_id + 1000000, doc_id % 56 + 9, doc_id % 41 + 8,
             n_chars + 1
      FROM documents WHERE doc_id < {cap} AND doc_id % 8 = 0),
    {_DHASH_SIGS_CTES},
    {_SIG_TAIL}"""


# imgs (id, w, h, seed) -> sigs (id, HUGEINT sig): the analytic dHash
# chain shared by the pair-join, streaming, and stats oracles
_DHASH_SIGS_CTES = """grid AS (
      SELECT id, w, h, seed, r, c
      FROM imgs,
           (SELECT unnest(range(8)) AS r) rr,
           (SELECT unnest(range(9)) AS c) cc),
    pix AS (
      SELECT id, r, c,
             (((h - 1 - (r * h // 8)) * w + (c * w // 9)) * 31 + seed)
               % 256 AS p
      FROM grid),
    bits AS (
      SELECT a.id, a.r, a.c, CASE WHEN b.p > a.p THEN 1 ELSE 0 END AS bit
      FROM pix a JOIN pix b ON b.id = a.id AND b.r = a.r AND b.c = a.c + 1
      WHERE a.c < 8),
    sigs AS (
      SELECT id,
             SUM(CAST(bit AS HUGEINT)
                 * (CAST(1 AS HUGEINT) << CAST(r * 8 + c AS INT))) AS sig
      FROM bits GROUP BY id)"""


_PHASH_CAP = 1200


@register("multimodal_phash_dedup", oracle=_phash_oracle(cap=_PHASH_CAP))
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup detection over IMAGES — the dedup
    family extended to a multimodal column: every doc (capped for the
    demo) gets a spec-conformant BMP built in-plan, `dhash64`
    (operators/multimodal.py) genuinely parses the container bytes
    (header offsets, row padding, bottom-up order) into a 64-bit
    difference hash, and near-dups are found by the SAME banded-Hamming
    machinery as text SimHash (operators/simhash.py
    banded_hamming_pairs) at hamming <= 3.  Planted near-dups: every
    8th doc also emits a brightness-shifted variant (seed+1 — every
    pixel +1 mod 256), which leaves all right-neighbor comparisons
    unchanged except where a sampled pixel wraps 255 -> 0, i.e. the
    exact robustness-to-global-brightness property dHash is built for;
    the detection behavior itself is part of the value hash.

    Scale shape (the 100-TB image-corpus dedup): encode+parse+hash is
    one fused Arrow mapInPandas stage — payloads are born and consumed
    inside their split, only 8-byte signatures ever shuffle; banding
    turns near-dup search into an equality join (no all-pairs); at
    max_hamming=3 < 4 bands the banded join is EXACT by pigeonhole, so
    the oracle's identical banded twin provably equals a full-scan
    ground truth.  Reference analog: the dedup capability of
    /root/reference (documents near-dup) applied to the image modality.
    """
    from ..operators.multimodal import dhash64, encode_bmp
    from ..operators.simhash import banded_hamming_pairs

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _PHASH_CAP
    )

    def run(batches):
        for pdf in batches:
            ids, sigs = [], []
            for d, s in zip(pdf["doc_id"], pdf["n_chars"]):
                d, s = int(d), int(s)
                w, h = d % 56 + 9, d % 41 + 8
                # quarantine contract (ADVICE r13): dhash64 returns the
                # None sentinel for a malformed container; filter it here
                # instead of appending, exactly like corrupt-record
                # handling in ingest.  Encoder-built payloads never trip
                # it, but this is the call site that exercises the
                # documented contract (tests feed a corrupt payload
                # through the same filter shape).
                sig = dhash64(encode_bmp(w, h, s))
                if sig is not None:
                    ids.append(d)
                    sigs.append(sig)
                if d % 8 == 0:
                    sig = dhash64(encode_bmp(w, h, s + 1))
                    if sig is not None:
                        ids.append(d + 1_000_000)
                        sigs.append(sig)
            import pandas as _pd

            yield _pd.DataFrame({"id": ids, "sig": sigs})

    sigs = docs.select("doc_id", "n_chars").mapInPandas(run, "id long, sig long")
    return banded_hamming_pairs(sigs, max_hamming=3)


def _audio_oracle(cap: int = 1200) -> str:
    """Generate the DuckDB twin of the audio fingerprint dedup: PCM
    samples recomputed ANALYTICALLY from encode_wav's generation
    formula at quad_step=9 (sample i = (i*37 + i*i*9 + seed) % 65536
    - 32768 — the quadratic term is what makes clip content
    pseudo-random instead of one smooth ramp; see encode_wav), bucketed
    into
    65 frames by the shared assignment frame(i) = i*65 // n, absolute
    amplitudes summed per frame, 64 louder-than-previous bits packed
    into a HUGEINT, then the shared banding/Hamming tail.  A Spark-side
    bug in RIFF chunk walking, int16 decoding, or frame assignment
    hash-mismatches."""
    return f"""
    WITH pool AS (
      SELECT doc_id AS id, doc_id AS seed, n_chars % 1000 + 8 AS n
      FROM documents WHERE doc_id < {cap}
      UNION ALL
      SELECT doc_id + 1000000, doc_id, n_chars % 1000 + 8
      FROM documents WHERE doc_id < {cap} AND doc_id % 8 = 0
      UNION ALL
      SELECT doc_id + 2000000, doc_id + 1, n_chars % 1000 + 8
      FROM documents WHERE doc_id < {cap} AND doc_id % 8 = 4),
    samp AS (
      SELECT id, CAST(i * 65 // n AS INT) AS f,
             abs(((i * 37 + i * i * 9 + seed) % 65536) - 32768) AS a
      FROM (SELECT id, seed, n, unnest(range(n)) AS i FROM pool)),
    eng0 AS (SELECT id, f, SUM(a) AS e FROM samp GROUP BY id, f),
    grid AS (SELECT p.id, ff.f
             FROM pool p, (SELECT unnest(range(65)) AS f) ff),
    eng AS (SELECT g.id, g.f, COALESCE(e0.e, 0) AS e
            FROM grid g LEFT JOIN eng0 e0 ON e0.id = g.id AND e0.f = g.f),
    bits AS (
      SELECT a.id, a.f, CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
      FROM eng a JOIN eng b ON b.id = a.id AND b.f = a.f + 1
      WHERE a.f < 64),
    sigs AS (
      SELECT id,
             SUM(CAST(bit AS HUGEINT)
                 * (CAST(1 AS HUGEINT) << CAST(f AS INT))) AS sig
      FROM bits GROUP BY id),
    {_SIG_TAIL}"""


@register("multimodal_audio_dedup", oracle=_audio_oracle(cap=_PHASH_CAP))
def multimodal_audio_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup detection — the dedup family's third modality:
    every doc (capped like the image demo) gets a spec-conformant PCM
    RIFF/WAVE built in-plan, `audio_fingerprint64`
    (operators/multimodal.py) genuinely walks the RIFF chunks, decodes
    the int16 samples, and codes the sign of adjacent frame-energy
    deltas into a 64-bit fingerprint (Chromaprint/Shazam-style
    sign-of-difference coding over 65 frames), and near-dups run
    through the SAME banded-Hamming join as text SimHash and image
    dHash.  Planted dups exercise the two real-world cases: every 8th
    doc is re-emitted with a DIFFERENT SAMPLE RATE header around
    identical samples (same content re-encoded: fingerprint is
    bit-identical, hamming 0 — metadata invariance is the point of
    content fingerprinting), and every (8k+4)th doc gets a +1 DC
    offset (every sample +1, wrapping at int16 max), which moves frame
    energies only where positive/negative sample counts differ — the
    near-but-not-exact case.  Detection behavior is part of the value
    hash.  Beyond the plants, same-length clips from the same generator
    are genuine near-dups of one another (their samples differ by a
    constant offset — a DC shift family), so the pair list also
    clusters those; everything is hash-checked either way.

    Scale shape: identical to multimodal_phash_dedup — fused
    encode+parse+fingerprint in one Arrow mapInPandas stage, 8-byte
    signatures are all that shuffles, banded equality join (exact by
    pigeonhole at hamming<=3 under 4 bands), no all-pairs anywhere."""
    from ..operators.multimodal import audio_fingerprint64, encode_wav
    from ..operators.simhash import banded_hamming_pairs

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _PHASH_CAP
    )

    def run(batches):
        import pandas as _pd

        for pdf in batches:
            ids, sigs = [], []
            for d, nc in zip(pdf["doc_id"], pdf["n_chars"]):
                d, n = int(d), int(nc) % 1000 + 8
                ids.append(d)
                sigs.append(
                    audio_fingerprint64(encode_wav(n, seed=d, quad_step=9))
                )
                if d % 8 == 0:
                    # same samples, different container sample rate
                    ids.append(d + 1_000_000)
                    sigs.append(
                        audio_fingerprint64(
                            encode_wav(
                                n, seed=d, sample_rate=16000, quad_step=9
                            )
                        )
                    )
                if d % 8 == 4:
                    # +1 DC offset: seed+1 shifts every sample by one
                    ids.append(d + 2_000_000)
                    sigs.append(
                        audio_fingerprint64(
                            encode_wav(n, seed=d + 1, quad_step=9)
                        )
                    )
            yield _pd.DataFrame({"id": ids, "sig": sigs})

    sigs = docs.select("doc_id", "n_chars").mapInPandas(run, "id long, sig long")
    return banded_hamming_pairs(sigs, max_hamming=3)


def _mm_stats_leg(modality: str, inner_sql: str) -> str:
    """One UNION ALL leg of the cross-modality dedup monitor: aggregate
    a full pair-pipeline twin (nested WITH inside a subquery — DuckDB
    scopes CTEs per subquery, so the three pipelines' CTE names never
    collide) down to its occupancy stats."""
    return f"""
    SELECT '{modality}' AS modality,
           COUNT(*)::BIGINT AS n_pairs,
           COALESCE(SUM(CASE WHEN hamming = 0 THEN 1 ELSE 0 END),
                    0)::BIGINT AS n_exact,
           CAST(COALESCE(MAX(hamming), -1) AS INT) AS max_hamming
    FROM ({inner_sql}) t_{modality}"""


def _mm_stats_oracle() -> str:
    from .dedup_q import _simhash_oracle

    return " UNION ALL ".join(
        [
            _mm_stats_leg("audio", _audio_oracle(cap=_PHASH_CAP)),
            _mm_stats_leg("image", _phash_oracle(cap=_PHASH_CAP)),
            _mm_stats_leg("text", _simhash_oracle()),
        ]
    )


@register("multimodal_dedup_stats", oracle=_mm_stats_oracle())
def multimodal_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modality dedup monitor — one row per modality (text SimHash,
    image dHash, audio energy-delta fingerprint) with pair volume,
    exact-collision count, and worst Hamming distance: the report a
    multimodal 100-TB curation run reads BEFORE acting on any modality's
    pair list (the cross-family analog of dup_cluster_stats for CC
    clusters and lsh_bucket_stats for LSH bands — a fat n_pairs or an
    n_exact spike on one modality flags degenerate content, e.g. the
    linear-ramp false-dup factory documented in SCALE.md r12, before
    keep-one-per-cluster deletes real data).  All three pair pipelines
    are the REGISTERED operators' own plans; the oracle aggregates each
    pipeline's full SQL twin in a scoped subquery, so the stats are
    value-hash-checked end to end.

    Scale shape: three bounded pair pipelines (banded equality joins,
    nothing all-pairs) each reduced by one combining aggregate; the
    union is 3 rows."""
    from ..operators.simhash import simhash_pairs
    from .dedup_q import _docs_with_truncated_copies

    def stats(pairs: DataFrame, modality: str) -> DataFrame:
        agg = pairs.agg(
            F.count("*").alias("n_pairs"),
            F.coalesce(
                F.sum(F.when(F.col("hamming") == 0, 1).otherwise(0)), F.lit(0)
            )
            .cast("long")
            .alias("n_exact"),
            F.coalesce(F.max("hamming"), F.lit(-1))
            .cast("int")
            .alias("max_hamming"),
        )
        return agg.select(
            F.lit(modality).alias("modality"), "n_pairs", "n_exact", "max_hamming"
        )

    text = simhash_pairs(
        _docs_with_truncated_copies(spark, sf_dir), max_hamming=8, portable=True
    )
    return (
        stats(multimodal_audio_dedup(spark, sf_dir), "audio")
        .unionByName(stats(multimodal_phash_dedup(spark, sf_dir), "image"))
        .unionByName(stats(text, "text"))
    )


@register(
    "imagetext_alignment",
    oracle=f"""
    WITH imgs AS (
      SELECT doc_id AS id, doc_id % 56 + 9 AS w, doc_id % 41 + 8 AS h,
             n_chars AS seed
      FROM documents WHERE doc_id < {_PHASH_CAP}),
    rws AS (SELECT id, w, h, seed, unnest(range(h)) AS r FROM imgs),
    cells AS (SELECT id, w, h, seed, r, unnest(range(w)) AS c FROM rws),
    bandsum AS (
      SELECT id, CAST(r * 16 // h AS INT) AS b,
             SUM((((h - 1 - r) * w + c) * 31 + seed) % 256) AS s
      FROM cells GROUP BY id, b),
    grid AS (SELECT i.id, gb.b
             FROM imgs i, (SELECT unnest(range(16)) AS b) gb),
    prof AS (
      SELECT g.id, CAST(g.b AS INT) AS b, COALESCE(bs.s, 0) AS s
      FROM grid g LEFT JOIN bandsum bs ON bs.id = g.id AND bs.b = g.b),
    emb AS (
      SELECT vec_id AS id,
             generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(round(unnest(embedding)::DOUBLE * 1000000) AS BIGINT)
               AS micro
      -- loud dim guard, mirrored on the Spark side (ADVICE r12): a
      -- short embedding must FAIL, not silently sum fewer dims
      FROM embeddings WHERE vec_id < {_PHASH_CAP}
        AND CASE WHEN len(embedding) >= 16 THEN TRUE
                 ELSE error('imagetext_alignment: embedding dim < 16')
            END),
    j AS (
      SELECT p.id, SUM(p.s * e.micro) AS score
      FROM prof p JOIN emb e ON e.id = p.id AND e.pos = p.b
      GROUP BY p.id)
    SELECT id AS doc_id, CAST(score AS BIGINT) AS score,
           score >= 0 AS aligned
    FROM j
    """,
)
def imagetext_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-text pair scoring — the LAION/CLIP-filter shape for
    multimodal pair curation (Schuhmann et al. 2022 kept image-text
    pairs with CLIP similarity >= 0.28; DataComp made that filter the
    whole benchmark): join each document's IMAGE-side feature vector
    (16-band grayscale-mass profile from genuinely parsed BMP pixels —
    `bmp_band_profile`, a real encoder slots into the same signature)
    against its TEXT-side embedding (first 16 dims, micro-quantized),
    score the pair with an integer dot product, and emit the
    keep/drop verdict.  Scores here are synthetic-content artifacts;
    the OPERATOR — modality join on the pair id, map-only scoring,
    threshold verdict — is the real pipeline stage, and every score
    is value-hash-checked (pixel sums integer-exact from the analytic
    formula; embedding micros via the embedding_centroids
    quantization recipe).

    Scale shape: feature extraction is fused encode+parse mapInPandas
    (payloads never shuffle); the only shuffle is the 1:1 equi-join of
    two id-keyed 16-d vector tables; scoring is one zip_with/aggregate
    expression inside codegen — no explode, no per-dim rows."""
    from ..operators.multimodal import bmp_band_profile, encode_bmp

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _PHASH_CAP
    )

    def run(batches):
        import pandas as _pd

        for pdf in batches:
            ids, profs = [], []
            for d, s in zip(pdf["doc_id"], pdf["n_chars"]):
                d, s = int(d), int(s)
                ids.append(d)
                profs.append(bmp_band_profile(encode_bmp(d % 56 + 9, d % 41 + 8, s)))
            yield _pd.DataFrame({"id": ids, "bands": profs})

    prof = docs.select("doc_id", "n_chars").mapInPandas(
        run, "id long, bands array<bigint>"
    )
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _PHASH_CAP)
        # loud dim guard (ADVICE r12): with dim < 16 the zip_with below
        # would pad with nulls and silently NULL the score while the
        # oracle's pos-join summed fewer dims — a silent divergence.
        # assert_true fails the job instead, identically to the
        # oracle's error() branch; on dim >= 16 rows it is NULL and the
        # filter keeps every row, adding no shuffle.
        .filter(
            F.assert_true(
                F.size("embedding") >= 16,
                F.lit("imagetext_alignment: embedding dim < 16"),
            ).isNull()
        )
        .selectExpr("vec_id AS id", f"{_micro('slice(embedding, 1, 16)')} AS micro")
    )
    scored = prof.join(emb, "id").selectExpr(
        "id AS doc_id", f"{_idot('bands', 'micro')} AS score"
    )
    return scored.select(
        "doc_id", "score", (F.col("score") >= 0).alias("aligned")
    )


_N_FRAMES = 12  # frames per synthetic video clip
_SCENE_JUMP = 128  # seed jump at the planted cut: only the value mod 256
# matters (pixels are mod-256), and +128 maximizes ordering disruption —
# each difference bit flips iff exactly ONE of its two sampled pixels
# wraps, p=0.5 for +128 (expected hamming ~32); the first cut used 3^12,
# which is ~-15 mod 256 and flipped only ~7 bits — under the threshold
_SCENE_HAM = 11  # boundary threshold, MEASURED (round 13): the midpoint
# of the fixture-wide separation gap — steady +1-drift steps reach
# hamming 9 (sf0.01) while planted-cut steps never fall below 14
# (sf0.001/0.01/0.1/sf1 all swept; SCALE.md "Round 13: video boundary
# threshold measured").  The original 8 (borrowed from the simhash
# near-dup default) sat BELOW the steady tail and produced 1 false
# boundary at sf0.01; 11 is exact (0 false, 0 missed) on all four fixtures.


def _video_oracle(cap: int = 1200) -> str:
    """DuckDB twin of the scene detector: per-frame dHash recomputed
    analytically (the phash pixel formula with the per-frame seed),
    consecutive-frame Hamming via the shared band arithmetic, boundary
    rule and running scene counter as window functions."""
    ham = _SIG_HAM.replace("sig_a", "prev_sig").replace("sig_b", "sig")
    return f"""
    WITH vids AS (
      SELECT doc_id AS id, doc_id % 56 + 9 AS w, doc_id % 41 + 8 AS h,
             n_chars AS s0, doc_id % {_N_FRAMES} AS fc
      FROM documents WHERE doc_id < {cap}),
    frames AS (
      SELECT id, w, h, CAST(f AS INT) AS f,
             s0 + f + CASE WHEN fc > 0 AND f >= fc
                           THEN {_SCENE_JUMP} ELSE 0 END AS seed
      FROM vids, (SELECT unnest(range({_N_FRAMES})) AS f) ff),
    grid AS (
      SELECT id, f, w, h, seed, r, c
      FROM frames,
           (SELECT unnest(range(8)) AS r) rr,
           (SELECT unnest(range(9)) AS c) cc),
    pix AS (
      SELECT id, f, r, c,
             (((h - 1 - (r * h // 8)) * w + (c * w // 9)) * 31 + seed)
               % 256 AS p
      FROM grid),
    bits AS (
      SELECT a.id, a.f, a.r, a.c,
             CASE WHEN b.p > a.p THEN 1 ELSE 0 END AS bit
      FROM pix a JOIN pix b
        ON b.id = a.id AND b.f = a.f AND b.r = a.r AND b.c = a.c + 1
      WHERE a.c < 8),
    sigs AS (
      SELECT id, f,
             SUM(CAST(bit AS HUGEINT)
                 * (CAST(1 AS HUGEINT) << CAST(r * 8 + c AS INT))) AS sig
      FROM bits GROUP BY id, f),
    lagged AS (
      SELECT id, f, sig,
             LAG(sig) OVER (PARTITION BY id ORDER BY f) AS prev_sig
      FROM sigs),
    hams AS (
      SELECT id, f,
             CASE WHEN prev_sig IS NULL THEN -1
                  ELSE CAST({ham} AS INT) END AS ham_prev
      FROM lagged)
    SELECT id AS doc_id, f AS frame_idx, ham_prev,
           (f = 0 OR ham_prev > {_SCENE_HAM}) AS is_boundary,
           CAST(SUM(CASE WHEN f = 0 OR ham_prev > {_SCENE_HAM}
                         THEN 1 ELSE 0 END)
                OVER (PARTITION BY id ORDER BY f) AS INT) AS scene_id
    FROM hams
    """


@register("video_scene_detect", oracle=_video_oracle(cap=_PHASH_CAP))
def video_scene_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-boundary detection over video frames — the segmentation
    step a video curation pipeline runs BEFORE frame sampling (sample
    per scene, not per fixed stride, or 90% of frames come from the
    longest static shot; shot-boundary detection via frame-signature
    distance is the classic public technique).  Each doc becomes a
    {_N_FRAMES}-frame clip built in-plan; every frame is a real BMP and
    its dHash comes from `dhash64`'s genuine byte parsing.  Frames
    within a scene drift by +1 brightness per frame (hamming ~0-2);
    at the planted cut (frame doc_id % {_N_FRAMES}, when nonzero) the
    seed jumps by 128, shifting every pixel half the value range mod
    256 — each difference bit flips with p=0.5 (expected hamming
    ~32), far above the boundary threshold.  Output: per-frame Hamming to the previous
    frame, the boundary verdict, and a running scene_id — all
    value-hash-checked against the analytic twin.

    Gradual transitions (round 13, VERDICT r12 #8): a planted k-frame
    fade was built and MEASURED at rates 6-16 seed-units/frame
    (SCALE.md "Round 13: video boundary threshold measured") and
    rejected — on this
    content the fade's worst single step (hamming 19-26) overlaps the
    hard-cut minimum (14) at every rate, so no threshold can both stay
    quiet across the fade and fire on every cut; exhaustive
    enumeration over all 588,544 (w, h, seed mod 256) combos shows
    even the within-scene +1 drift reaches hamming 16 on 66
    adversarial combos.  That is the classic pairwise-delta detector
    weakness on gradual transitions (the reason twin-comparison
    accumulates a run-sum: measured fade run-sum >= 31 vs steady
    run-sum <= 20 — separable — but its candidate band still needs
    per-step fade < cut, which this content refuses).  The measured
    outcome kept instead: _SCENE_HAM raised 8 -> 11 to sit inside the
    steady/cut separation gap (see the constant's note).

    Scale shape: frame synthesis + hashing is one fused mapInPandas
    stage (frames never shuffle — only (doc, frame, 8-byte sig) rows);
    the consecutive-frame compare is a LAG window PARTITIONED BY the
    clip (bounded {_N_FRAMES}-row partitions, no skew possible); the
    scene counter is a running sum in the same window.  No join at
    all."""
    from pyspark.sql import Window

    from ..operators.multimodal import dhash64, encode_bmp

    # spread=True: in-plan BMP frame synthesis + dHash in one fused
    # mapInPandas is the heaviest per-row stage in the multimodal family
    # (scan-spread A/B: scene_detect 1.02 s spread vs 1.33 s not,
    # keyframe_sample 0.87 s vs 1.34 s — fixtures.py).
    docs = load_table(spark, sf_dir, "documents", spread=True).filter(
        F.col("doc_id") < _PHASH_CAP
    )

    def run(batches):
        import pandas as _pd

        for pdf in batches:
            ids, fs, sigs = [], [], []
            for d, s0 in zip(pdf["doc_id"], pdf["n_chars"]):
                d, s0 = int(d), int(s0)
                w, h, fc = d % 56 + 9, d % 41 + 8, d % _N_FRAMES
                for f in range(_N_FRAMES):
                    seed = s0 + f + (_SCENE_JUMP if 0 < fc <= f else 0)
                    ids.append(d)
                    fs.append(f)
                    sigs.append(dhash64(encode_bmp(w, h, seed)))
            yield _pd.DataFrame({"id": ids, "f": fs, "sig": sigs})

    frames = docs.select("doc_id", "n_chars").mapInPandas(
        run, "id long, f int, sig long"
    )
    w_clip = Window.partitionBy("id").orderBy("f")
    lagged = frames.withColumn("prev_sig", F.lag("sig").over(w_clip))
    hams = lagged.select(
        "id",
        "f",
        F.when(F.col("prev_sig").isNull(), F.lit(-1))
        .otherwise(F.bit_count(F.col("sig").bitwiseXOR(F.col("prev_sig"))))
        .cast("int")
        .alias("ham_prev"),
    )
    boundary = (F.col("f") == 0) | (F.col("ham_prev") > _SCENE_HAM)
    return hams.select(
        F.col("id").alias("doc_id"),
        F.col("f").alias("frame_idx"),
        "ham_prev",
        boundary.alias("is_boundary"),
        F.sum(boundary.cast("int"))
        .over(Window.partitionBy("id").orderBy("f"))
        .cast("int")
        .alias("scene_id"),
    )


@register(
    "video_keyframe_sample",
    oracle=f"""
    SELECT doc_id, scene_id, frame_idx AS keyframe_idx
    FROM ({_video_oracle(cap=_PHASH_CAP)}) scenes
    WHERE is_boundary
    """,
)
def video_keyframe_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-aware frame sampling — the consumer video_scene_detect
    exists for: keep ONE keyframe per scene (the boundary frame that
    opened it) instead of a fixed stride, so a clip that is 90% one
    static shot contributes one frame for that shot plus one per real
    cut — the sampling rule that keeps a frame-level training set
    diverse instead of redundant (stride sampling of the same clip
    would emit ~12/stride near-identical frames for the static shot,
    which the downstream image dHash dedup would then have to pay to
    remove; sampling at boundaries removes them for free).

    Scale shape: video_scene_detect's window plan plus one filter —
    boundary rows are ~scenes-per-clip, so output is a bounded
    fraction of frames and nothing new shuffles."""
    scenes = video_scene_detect(spark, sf_dir)
    return scenes.filter(F.col("is_boundary")).select(
        "doc_id", "scene_id", F.col("frame_idx").alias("keyframe_idx")
    )


@register(
    "stream_phash_dedup",
    oracle=f"""
    WITH imgs AS (
      SELECT doc_id AS id, doc_id % 56 + 9 AS w, doc_id % 41 + 8 AS h,
             n_chars AS seed
      FROM documents WHERE doc_id < {_PHASH_CAP}),
    {_DHASH_SIGS_CTES},
    hist AS (SELECT DISTINCT sig FROM sigs WHERE id < 250),
    matched AS (
      SELECT DISTINCT s.id FROM sigs s JOIN hist h ON h.sig = s.sig),
    signed AS (
      SELECT id,
             CAST(sig - CASE WHEN sig >= 9223372036854775808
                             THEN 18446744073709551616 ELSE 0 END
                  AS BIGINT) AS sig
      FROM sigs)
    SELECT g.id AS doc_id, g.sig
    FROM signed g LEFT JOIN matched m ON m.id = g.id
    WHERE m.id IS NULL
    """,
)
def stream_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming IMAGE dedup against a historical perceptual-hash index
    — stream_dedup_incremental's multimodal twin: the incoming document
    stream materializes each arrival's BMP, `dhash64` fingerprints it
    (genuine byte parsing inside a streaming mapInPandas stage), and
    the arrival is DROPPED if its signature already exists in the
    historical index (docs < 250 play history; they replay in the
    stream, and identical-dHash tail docs — perceptual duplicates of a
    history image — drop too).  Streaming does EXACT perceptual dedup
    (hamming 0): identical dHash = same image content under dHash's
    invariances (brightness shifts, re-encoding).  Near-dup at
    hamming<=3 stays a BATCH adjudication (`multimodal_phash_dedup`)
    by design: a band-level streaming anti-join was built and measured
    first — the gradient fixtures' band values cluster, and it dropped
    80% of the genuinely-new tail (the same degenerate-content mode
    `multimodal_dedup_stats` monitors), so the precise-but-exact rule
    wins for the always-on path.

    Scale shape: fingerprinting is map-only on the stream; the check
    is ONE stream-static LEFT ANTI join against a static 8-byte-key
    signature table (re-planned per micro-batch: broadcast while
    small, shuffle when not) — ZERO state-store growth, state lives in
    the static index exactly like stream_dedup_incremental."""
    import os

    from ..operators.multimodal import dhash64, encode_bmp
    from ..streaming.jobs import run_to_memory

    batch = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    stream = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )

    def run(batches):
        import pandas as _pd

        for pdf in batches:
            ids, sigs = [], []
            for d, s in zip(pdf["doc_id"], pdf["n_chars"]):
                d, s = int(d), int(s)
                ids.append(d)
                sigs.append(dhash64(encode_bmp(d % 56 + 9, d % 41 + 8, s)))
            yield _pd.DataFrame({"id": ids, "sig": sigs})

    def sigs_of(df):
        return df.filter(F.col("doc_id") < _PHASH_CAP).select(
            "doc_id", "n_chars"
        ).mapInPandas(run, "id long, sig long")

    hist = (
        sigs_of(batch.filter(F.col("doc_id") < 250))
        .select(F.col("sig").alias("hsig"))
        .distinct()
    )
    fresh = sigs_of(stream).join(
        hist, F.col("sig") == F.col("hsig"), "left_anti"
    )
    out = run_to_memory(
        fresh.select(F.col("id").alias("doc_id"), "sig"), output_mode="append"
    )
    return out.select("doc_id", "sig")


@register(
    "multimodal_quality_filter",
    oracle=f"""
    WITH meta AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'wav' END AS format,
             CASE WHEN doc_id % 2 = 0 THEN doc_id % 64 + 1 ELSE 1 END AS width,
             CASE WHEN doc_id % 2 = 0 THEN doc_id % 48 + 1 ELSE 16 END
               AS height,
             CASE WHEN doc_id % 2 = 0 THEN 1
                  ELSE n_chars % 1000 + 8 END AS n_frames
      FROM documents),
    verdicts AS (
      SELECT doc_id, format, width, height, n_frames,
             CASE WHEN format = 'bmp' THEN
                    CASE WHEN width * height < 256 THEN 'too_small'
                         WHEN width > 4 * height OR height > 4 * width
                           THEN 'extreme_aspect'
                         ELSE 'keep' END
                  ELSE
                    CASE WHEN n_frames < 400 THEN 'too_short'
                         ELSE 'keep' END
             END AS verdict
      FROM meta)
    SELECT doc_id, format, verdict, verdict = 'keep' AS kept
    FROM verdicts
    """,
)
def multimodal_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-modality quality gates over REAL decoded metadata — the
    LAION-style preprocessing rules that run between decode and any
    expensive featurization (Schuhmann et al. 2022 dropped images under
    a minimum pixel count; audio pipelines drop sub-second clips):
    images must clear a minimum pixel area (w*h >= 256) and an aspect
    ratio bound (neither side > 4x the other); audio must carry at
    least 400 PCM frames (50 ms at the 8 kHz fixture rate).  The
    metadata comes from `real_decode`'s genuine header parsing of
    in-plan BMP/WAV containers (the multimodal_real_decode path), so
    the filter exercises decode -> rule -> verdict end to end; the
    oracle recomputes verdicts from the generation parameters.  Rows
    are emitted with their verdict rather than silently dropped — the
    audit table a curation run keeps (curation_verdict's multimodal
    analog); both keep and every drop reason occur on the fixture.

    Scale shape: one fused encode+parse mapInPandas stage then pure
    row-local CASE logic — no shuffle, no join; the verdict histogram
    downstream is one map-side-combined agg."""
    docs = load_table(spark, sf_dir, "documents")
    meta = decode_metadata(attach_real_payload(docs), decode_fn=real_decode)
    is_img = F.col("format") == "bmp"
    verdict = (
        F.when(
            is_img,
            F.when(F.col("width") * F.col("height") < 256, F.lit("too_small"))
            .when(
                (F.col("width") > 4 * F.col("height"))
                | (F.col("height") > 4 * F.col("width")),
                F.lit("extreme_aspect"),
            )
            .otherwise(F.lit("keep")),
        )
        .otherwise(
            F.when(F.col("n_frames") < 400, F.lit("too_short")).otherwise(
                F.lit("keep")
            )
        )
    )
    return meta.select(
        "doc_id",
        "format",
        verdict.alias("verdict"),
        (verdict == "keep").alias("kept"),
    )
