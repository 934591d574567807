"""Sources/sinks: raw text-corpus scan (SURVEY A3), partitioned index
write + idempotence guard (A9/A10/A11), and the streaming foreachBatch
incremental output path (A19/A26 analog)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def test_text_corpus_scan(spark, tmp_path):
    from semantic_query_engine_spark.sources.text_corpus import read_text_corpus

    (tmp_path / "PMC1.txt").write_text("alpha beta\ngamma")
    (tmp_path / "PMC2.txt").write_text("delta")
    (tmp_path / "notes.txt").write_text("ignored prefix")
    (tmp_path / "PMC3.dat").write_text("ignored suffix")
    docs = read_text_corpus(spark, str(tmp_path)).collect()
    by_id = {r.doc_id: r.text for r in docs}
    assert set(by_id) == {"PMC1", "PMC2"}
    assert by_id["PMC1"] == "alpha beta\ngamma"  # wholetext keeps newlines


def test_text_corpus_directory_read_matches_glob_read(spark, tmp_path):
    """The corpus is read as a directory with pathGlobFilter (a glob
    path made Spark log a FileNotFoundException trace on every read);
    the rows must be exactly those of the old `dir/*.txt` glob read:
    non-PMC names, other suffixes and subdirectories stay out."""
    from semantic_query_engine_spark.sources.text_corpus import read_text_corpus

    (tmp_path / "PMC10.txt").write_text("one two\nthree")
    (tmp_path / "PMC11.txt").write_text("four")
    (tmp_path / "other.txt").write_text("not a PMC file")
    (tmp_path / "PMC12.md").write_text("wrong suffix")
    (tmp_path / "sub").mkdir()
    (tmp_path / "sub" / "PMC13.txt").write_text("nested")
    got = sorted(tuple(r) for r in read_text_corpus(spark, str(tmp_path)).collect())
    fname = F.element_at(F.split(F.input_file_name(), "/"), -1)
    glob_read = (
        spark.read.text(f"{tmp_path}/*.txt", wholetext=True)
        .select(fname.alias("fname"), F.col("value").alias("text"))
        .filter(F.col("fname").startswith("PMC"))
        .select(F.regexp_replace("fname", r"\.txt$", "").alias("doc_id"), "text")
    )
    assert got == sorted(tuple(r) for r in glob_read.collect())
    assert got == [("PMC10", "one two\nthree"), ("PMC11", "four")]


def test_latin1_fallback_byte_faithful(spark, tmp_path):
    """The corpus reader reproduces the reference's decode chain
    exactly (app/main.py:430-437): whole-file UTF-8, else whole-file
    latin-1, byte for byte, including bytes that are invalid UTF-8."""
    from semantic_query_engine_spark.sources.text_corpus import read_text_corpus

    bad = b"caf\xe9 latin-1 only \xff\xfe tail"
    good = "café plain utf-8".encode("utf-8")
    (tmp_path / "PMC1.txt").write_bytes(bad)
    (tmp_path / "PMC2.txt").write_bytes(good)
    (tmp_path / "ignored.txt").write_bytes(b"filtered out")

    rows = {r.doc_id: r.text for r in read_text_corpus(spark, str(tmp_path)).collect()}
    assert set(rows) == {"PMC1", "PMC2"}
    assert rows["PMC1"] == bad.decode("latin-1")
    assert rows["PMC2"] == good.decode("utf-8")


def test_text_corpus_doc_id_is_the_raw_filename_stem(spark, tmp_path):
    """doc_id is the filename stem as the reference sees it (os.listdir):
    a space or a percent sign stays as it is, not URI-escaped."""
    from semantic_query_engine_spark.sources.text_corpus import read_text_corpus

    (tmp_path / "PMC 3.txt").write_text("space")
    (tmp_path / "PMC%6.txt").write_text("percent")
    got = sorted(tuple(r) for r in read_text_corpus(spark, str(tmp_path)).collect())
    assert got == [("PMC 3", "space"), ("PMC%6", "percent")]


def test_facade_corpus_build_decodes_latin1(spark, tmp_path):
    """build_from_corpus_dir indexes a latin-1 PMC file with the
    reference's characters, not U+FFFD replacements."""
    from semantic_query_engine_spark.api import SemanticQueryEngine

    (tmp_path / "PMC1.txt").write_bytes(b"caf\xe9 au lait near the fjord")
    (tmp_path / "PMC2.txt").write_text("plain ascii text about sorting keys")
    eng = SemanticQueryEngine(spark, chunk_size=32).build_from_corpus_dir(str(tmp_path))
    texts = [r.chunk_text for r in eng.index.filter(F.col("doc_id") == "PMC1").collect()]
    assert len(texts) == 1 and "café" in texts[0], texts
    assert "\ufffd" not in texts[0]


def test_index_build_write_and_guard(spark, sf_dir, tmp_path):
    from semantic_query_engine_spark.plans.index_build import (
        build_index,
        check_count_invariant,
        index_is_empty,
        write_index,
    )
    from semantic_query_engine_spark.sources.fixtures import load_table

    out = str(tmp_path / "index")
    assert index_is_empty(spark, out)  # nothing written yet -> build

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 50)
        .select("doc_id", "text", (F.col("doc_id") % 3).alias("user_id"))
    )
    index = build_index(docs, chunk_size=16, dim=32, user_col="user_id")
    check_count_invariant(docs, index, 16)
    write_index(index, out, user_col="user_id")

    assert not index_is_empty(spark, out)  # A11: skip rebuild
    back = spark.read.parquet(out)
    assert back.count() == index.count()
    # partitionBy layout: per-user directories exist -> partition pruning
    assert any(d.startswith("user_id=") for d in os.listdir(out))
    pruned = back.filter(F.col("user_id") == 1)
    assert pruned.count() == index.filter(F.col("user_id") == 1).count()


def test_foreach_batch_incremental_sink(spark, sf_dir, tmp_path):
    """A19/A26: incremental micro-batch output via foreachBatch — the
    Spark analog of the reference's token-streaming WebSocket path."""
    from semantic_query_engine_spark.streaming.jobs import read_events_stream

    out = str(tmp_path / "batches")
    seen = []

    def sink(batch_df, batch_id):
        seen.append((batch_id, batch_df.count()))
        batch_df.limit(10).write.mode("append").parquet(out)

    src = read_events_stream(spark, sf_dir).select("event_id", "user_id", "value")
    q = (
        src.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    assert seen and sum(n for _, n in seen) > 0
    assert spark.read.parquet(out).count() >= 1


def test_csv_json_source_roundtrip(spark, sf_dir, tmp_path):
    """CSV and JSON-lines sources (SURVEY §2 Part B scans row): the
    nation fixture written out and read back through each format must
    equal the parquet original — schema-on-read via explicit schema for
    CSV (header) and schema inference for JSON."""
    from semantic_query_engine_spark.sources.fixtures import load_table

    nation = load_table(spark, sf_dir, "nation")
    want = sorted((r.n_nationkey, r.n_name, r.n_regionkey) for r in nation.collect())

    csv_dir, json_dir = str(tmp_path / "csv"), str(tmp_path / "json")
    nation.write.mode("overwrite").option("header", True).csv(csv_dir)
    nation.write.mode("overwrite").json(json_dir)

    got_csv = spark.read.schema(nation.schema).option("header", True).csv(csv_dir)
    got_json = spark.read.json(json_dir)
    assert sorted(
        (r.n_nationkey, r.n_name, r.n_regionkey) for r in got_csv.collect()
    ) == want
    assert sorted(
        (r.n_nationkey, r.n_name, r.n_regionkey) for r in got_json.collect()
    ) == want


def test_hash_split_proportions_and_stability(spark, sf_dir):
    """hash_split is a pure function of doc_id: same assignment on
    repeated runs, all three splits populated, train the majority."""
    from semantic_query_engine_spark.queries.mlpipeline_q import hash_split

    a = {r.doc_id: r.split for r in hash_split(spark, sf_dir).collect()}
    b = {r.doc_id: r.split for r in hash_split(spark, sf_dir).collect()}
    assert a == b
    from collections import Counter

    c = Counter(a.values())
    assert set(c) == {"train", "val", "test"}
    assert c["train"] > c["val"] and c["train"] > c["test"]


def test_upsert_index_latest_wins(spark, tmp_path):
    """upsert_index merges a delta into an existing parquet index with
    latest-version-per-key semantics, and bootstraps from empty."""
    from semantic_query_engine_spark.plans.index_build import upsert_index

    path = str(tmp_path / "idx")
    base = spark.createDataFrame(
        [(1, 0, "old a", 1), (1, 1, "old b", 1), (2, 0, "keep", 1)],
        "doc_id int, chunk_id int, chunk_text string, version int",
    )
    upsert_index(spark, path, base, ["doc_id", "chunk_id"], "version")

    delta = spark.createDataFrame(
        [(1, 0, "new a", 2), (3, 0, "added", 2)],
        "doc_id int, chunk_id int, chunk_text string, version int",
    )
    upsert_index(spark, path, delta, ["doc_id", "chunk_id"], "version")

    got = {
        (r.doc_id, r.chunk_id): (r.chunk_text, r.version)
        for r in spark.read.parquet(path).collect()
    }
    assert got == {
        (1, 0): ("new a", 2),
        (1, 1): ("old b", 1),
        (2, 0): ("keep", 1),
        (3, 0): ("added", 2),
    }


def test_multimodal_resize_deterministic_shape(spark, sf_dir):
    """resize_stub: every output payload is exactly out_w*out_h bytes,
    deterministic across runs, and a nearest-neighbor subsample of the
    input bytes (first byte preserved, bytes drawn from the input)."""
    from semantic_query_engine_spark.operators.multimodal import (
        attach_binary_payload,
        resize_stub,
    )
    from semantic_query_engine_spark.sources.fixtures import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    out = resize_stub(attach_binary_payload(docs), out_w=8, out_h=8)
    rows = {r.doc_id: r for r in out.collect()}
    again = {r.doc_id: r for r in resize_stub(
        attach_binary_payload(docs), out_w=8, out_h=8).collect()}
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    assert rows and set(rows) == set(texts)
    for did, r in rows.items():
        assert len(r.resized) == 64
        assert r.resized == again[did].resized  # deterministic
        src = texts[did].encode("utf-8")
        assert r.n_bytes_in == len(src)
        if src:
            assert r.resized[0] == src[0]  # nearest-neighbor keeps byte 0
            assert set(r.resized) <= set(src)


def test_real_decode_parses_genuine_containers():
    """real_decode reads metadata out of ACTUAL container bytes
    (VERDICT r11 #4): the WAV leg is cross-checked against Python's own
    stdlib `wave` reader (an independent third implementation of the
    spec), the BMP leg against the encode parameters, and non-container
    bytes quarantine as format='unknown' instead of raising."""
    import io
    import wave

    from semantic_query_engine_spark.operators.multimodal import (
        encode_bmp,
        encode_wav,
        real_decode,
    )

    bmp = encode_bmp(13, 7, seed=99)
    meta = real_decode(bmp)
    assert meta == {
        "n_bytes": len(bmp),
        "width": 13,
        "height": 7,
        "format": "bmp",
        "n_frames": 1,
    }
    # row padding: 13*3 = 39 -> padded to 40; 54-byte header + 40*7
    assert len(bmp) == 54 + 40 * 7

    wav = encode_wav(321, seed=5)
    meta = real_decode(wav)
    assert meta["format"] == "wav" and meta["n_frames"] == 321
    assert meta["width"] == 1 and meta["height"] == 16  # mono, 16-bit
    with wave.open(io.BytesIO(wav)) as w:  # stdlib agrees byte-for-byte
        assert w.getnframes() == 321
        assert w.getnchannels() == 1
        assert w.getsampwidth() == 2
        assert w.getframerate() == 8000

    for junk in (b"", b"BM short", b"RIFFxxxxWAVE", b"not a container" * 10):
        meta = real_decode(junk)
        assert meta["format"] == "unknown" and meta["n_bytes"] == len(junk)


def test_dhash64_parses_pixels_and_is_brightness_robust():
    """dhash64 reads the sampled 9x8 grid out of ACTUAL BMP bytes:
    (a) it equals an independent analytic twin computed from the
    generation parameters alone (never touching bytes — so padding /
    row-flip / channel-stride parser bugs diverge); (b) a global
    brightness shift (+1 to every pixel, mod 256) moves the hash only
    where a sampled pixel wraps 255 -> 0 — the robustness property
    perceptual hashing exists for; (c) unrelated images sit near the
    ~32-bit random baseline, far above the hamming<=3 dedup threshold."""
    from semantic_query_engine_spark.operators.multimodal import (
        dhash64,
        encode_bmp,
    )

    def analytic(w, h, seed):
        bits = 0
        for r in range(8):

            def pix(cc):
                sr, sc = r * h // 8, cc * w // 9
                return (((h - 1 - sr) * w + sc) * 31 + seed) % 256

            for c in range(8):
                if pix(c + 1) > pix(c):
                    bits |= 1 << (r * 8 + c)
        return bits - (1 << 64) if bits >= (1 << 63) else bits

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    for (w, h, seed) in [(9, 8, 0), (13, 8, 5), (64, 48, 999), (33, 29, 254)]:
        assert dhash64(encode_bmp(w, h, seed)) == analytic(w, h, seed)
        shift = ham(
            dhash64(encode_bmp(w, h, seed)), dhash64(encode_bmp(w, h, seed + 1))
        )
        # expected flips = sampled neighbor pairs straddling a 255 wrap
        assert shift == ham(analytic(w, h, seed), analytic(w, h, seed + 1))
        assert shift <= 3  # the planted variants stay under the threshold
    assert ham(dhash64(encode_bmp(20, 15, 0)), dhash64(encode_bmp(33, 29, 1234))) > 20


def test_orc_source_roundtrip(spark, sf_dir, tmp_path):
    """ORC source/sink (SURVEY §2 Part B scans row): the columnar
    alternative to parquet, with the same predicate-pushdown contract —
    the nation fixture round-trips bit-for-bit and a pushed filter
    appears in the scan."""
    from semantic_query_engine_spark.sources.fixtures import load_table

    nation = load_table(spark, sf_dir, "nation")
    want = sorted((r.n_nationkey, r.n_name, r.n_regionkey) for r in nation.collect())

    orc_dir = str(tmp_path / "orc")
    nation.write.mode("overwrite").orc(orc_dir)
    got = spark.read.orc(orc_dir)
    assert sorted(
        (r.n_nationkey, r.n_name, r.n_regionkey) for r in got.collect()
    ) == want
    plan = got.filter("n_regionkey = 1")._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(n_regionkey), EqualTo(n_regionkey,1)]" in plan, plan


def test_schema_evolution_merge_read(spark, tmp_path):
    """Lakehouse reality: yesterday's files lack today's column.  A
    mergeSchema read must unify both generations, null-filling the old
    files — no rewrite of 100 TB required."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "evolving")
    spark.range(5).select("id", F.lit("a").alias("src")).write.parquet(out)
    spark.range(5, 10).select(
        "id", F.lit("b").alias("src"), (F.col("id") * 2).alias("extra")
    ).write.mode("append").parquet(out)

    df = spark.read.option("mergeSchema", "true").parquet(out)
    assert set(df.columns) == {"id", "src", "extra"}
    rows = {r.id: r for r in df.collect()}
    assert len(rows) == 10
    assert rows[2]["extra"] is None          # old generation null-fills
    assert rows[7]["extra"] == 14            # new generation keeps data


def test_corrupt_file_tolerance(spark, tmp_path):
    """One bad object among millions must not kill the job: with
    ignoreCorruptFiles the scan skips it and returns every healthy row
    (and without the flag the read fails loudly — both behaviors pinned)."""
    import pytest

    out = str(tmp_path / "mixed")
    spark.range(100).write.parquet(out)
    with open(f"{out}/part-junk.parquet", "wb") as f:
        f.write(b"PAR1 this is not a real parquet footer")

    strict = spark.read.parquet(out)
    with pytest.raises(Exception, match="(?i)parquet|corrupt|footer|magic"):
        strict.count()

    prev = spark.conf.get("spark.sql.files.ignoreCorruptFiles", "false")
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        assert spark.read.parquet(out).count() == 100
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", prev)


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    """64 tiny files -> a handful of target-sized ones, rows intact;
    the sorted variant must also leave files range-disjoint on the key."""
    import glob

    import pyarrow.parquet as pq

    from semantic_query_engine_spark.operators.layout import compact_parquet

    src = str(tmp_path / "small")
    spark.range(10_000).repartition(64).write.parquet(src)
    assert len(glob.glob(f"{src}/*.parquet")) == 64

    dst = str(tmp_path / "compact")
    n = compact_parquet(spark, src, dst, target_mb=1)
    assert n < 16
    assert spark.read.parquet(dst).count() == 10_000

    dst2 = str(tmp_path / "compact_sorted")
    compact_parquet(spark, src, dst2, target_mb=1, sort_by=["id"])
    assert spark.read.parquet(dst2).count() == 10_000
    ranges = []
    for f in glob.glob(f"{dst2}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        st = md.row_group(0).column(0).statistics
        lo, hi = st.min, st.max
        for g in range(md.num_row_groups):
            s = md.row_group(g).column(0).statistics
            lo, hi = min(lo, s.min), max(hi, s.max)
        ranges.append((lo, hi))
    ranges.sort()
    for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
        assert a_hi < b_lo, "sorted compaction left overlapping file ranges"


def test_dynamic_partition_overwrite(spark, sf_dir, tmp_path):
    """Idempotent backfill: with partitionOverwriteMode=dynamic, an
    INSERT OVERWRITE rewrites ONLY the partitions present in the new
    data — the reprocess-one-day pattern a 100 TB pipeline relies on
    (static mode would truncate the whole table)."""
    from pyspark.sql import functions as F

    from semantic_query_engine_spark.sources.fixtures import load_table

    target = str(tmp_path / "by_day")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.to_date("ts").alias("day"), "value"
    )
    days = [r.day for r in ev.select("day").distinct().orderBy("day").limit(2).collect()]
    assert len(days) == 2
    ev.filter(F.col("day").isin(days)).write.partitionBy("day").parquet(target)
    before = {
        r.day: r.n
        for r in spark.read.parquet(target).groupBy("day").count()
        .withColumnRenamed("count", "n").collect()
    }
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # backfill day[0] only, with halved values -> day[1] must survive
        patch = ev.filter(F.col("day") == days[0]).withColumn(
            "value", F.col("value") / 2
        )
        patch.write.mode("overwrite").partitionBy("day").parquet(target)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)
    after = spark.read.parquet(target)
    counts = {
        r.day: r.n
        for r in after.groupBy("day").count().withColumnRenamed("count", "n").collect()
    }
    assert counts == before, "non-overwritten partition must be untouched"
    # and the overwritten day really carries the patched values
    orig_sum = ev.filter(F.col("day") == days[0]).agg(F.sum("value")).collect()[0][0]
    new_sum = after.filter(F.col("day") == days[0]).agg(F.sum("value")).collect()[0][0]
    assert abs(new_sum - orig_sum / 2) < 1e-6


def test_audio_fingerprint_parses_samples_and_ignores_container():
    """audio_fingerprint64 decodes REAL PCM bytes: (a) it equals an
    independent analytic twin computed from the generation parameters
    (so RIFF-walk / int16 / frame-assignment parser bugs diverge);
    (b) re-encoding the same samples at a different sample rate leaves
    the fingerprint bit-identical (content hashing ignores container
    metadata); (c) different clips differ."""
    from semantic_query_engine_spark.operators.multimodal import (
        audio_fingerprint64,
        encode_wav,
    )

    def analytic(seed, n, quad=9):
        energy = [0] * 65
        for i in range(n):
            s = ((i * 37 + i * i * quad + seed) % 65536) - 32768
            energy[i * 65 // n] += abs(s)
        bits = 0
        for f in range(64):
            if energy[f + 1] > energy[f]:
                bits |= 1 << f
        return bits - (1 << 64) if bits >= (1 << 63) else bits

    for seed, n in [(0, 8), (7, 130), (123, 1007)]:
        fp = audio_fingerprint64(encode_wav(n, seed=seed, quad_step=9))
        assert fp == analytic(seed, n)
        assert fp == audio_fingerprint64(
            encode_wav(n, seed=seed, sample_rate=16000, quad_step=9)
        )
    a = audio_fingerprint64(encode_wav(500, seed=1, quad_step=9))
    b = audio_fingerprint64(encode_wav(501, seed=900, quad_step=9))
    # different length AND far seed: above the hamming<=3 dedup line
    assert bin((a ^ b) & ((1 << 64) - 1)).count("1") > 3


def test_bmp_band_profile_parses_pixels(spark, sf_dir):
    """bmp_band_profile sums genuine pixel bytes per horizontal band:
    equals the analytic twin, total mass equals the whole-image pixel
    sum (no band lost, padding excluded), and sparse bands (height <
    16) read 0."""
    from semantic_query_engine_spark.operators.multimodal import (
        bmp_band_profile,
        encode_bmp,
    )

    for w, h, seed in [(9, 8, 3), (13, 16, 0), (64, 48, 999)]:
        prof = bmp_band_profile(encode_bmp(w, h, seed))
        want = [0] * 16
        for r in range(h):
            for c in range(w):
                want[r * 16 // h] += (((h - 1 - r) * w + c) * 31 + seed) % 256
        assert prof == want
        assert sum(prof) == sum(
            ((k * 31 + seed) % 256) for k in range(w * h)
        )
    assert 0 in bmp_band_profile(encode_bmp(9, 8, 3))  # h=8: odd bands empty


def test_fingerprint_parsers_quarantine_malformed_payloads():
    """The fingerprint parsers honor real_decode's quarantine-don't-
    crash contract (ADVICE r12): not-a-container, truncated-container,
    wrong-bpp, and empty-data payloads all return the None sentinel —
    one malformed byte string must never fail a whole mapInPandas
    task — while well-formed containers parse exactly as before."""
    import struct

    from semantic_query_engine_spark.operators.multimodal import (
        audio_fingerprint64,
        bmp_band_profile,
        dhash64,
        encode_bmp,
        encode_wav,
    )

    bmp, wav = encode_bmp(12, 10, 5), encode_wav(200, seed=5, quad_step=9)
    for fn in (dhash64, bmp_band_profile):
        assert fn(b"") is None
        assert fn(b"not a bitmap at all, just text " * 4) is None
        assert fn(bmp[:40]) is None  # truncated mid-header
        assert fn(bmp[:-10]) is None  # truncated pixel array
        assert fn(wav) is None  # wrong container entirely
        # 8-bpp header: parseable header, unsupported pixel layout
        eight = bytearray(bmp)
        struct.pack_into("<H", eight, 28, 8)
        assert fn(bytes(eight)) is None
        assert fn(bmp) is not None  # well-formed still parses
    assert audio_fingerprint64(b"") is None
    assert audio_fingerprint64(bmp) is None  # wrong container
    assert audio_fingerprint64(b"RIFF\x00\x00\x00\x00WAVE") is None  # no data
    assert audio_fingerprint64(wav[:-7]) is None  # truncated data chunk
    assert audio_fingerprint64(wav) == audio_fingerprint64(bytes(wav))


def test_imagetext_alignment_short_embedding_fails_loudly(spark, tmp_path):
    """A fixture whose embeddings carry fewer than the 16 dims the
    image profile joins against must FAIL (assert_true on the Spark
    side, error() in the oracle) — not silently NULL the score
    (ADVICE r12)."""
    import pytest

    from semantic_query_engine_spark.queries.multimodal_q import (
        imagetext_alignment,
    )

    spark.createDataFrame(
        [(0, "some document text here", "en", "s", 23)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    spark.createDataFrame(
        [(0, [0.1] * 8, 0)],
        "vec_id long, embedding array<float>, cluster long",
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    with pytest.raises(Exception, match="dim < 16"):
        imagetext_alignment(spark, str(tmp_path)).collect()


def test_imagetext_alignment_verdict_split(spark, sf_dir):
    """The alignment filter produces one row per capped doc with a
    consistent integer score and a verdict that actually splits the
    corpus (both aligned and rejected pairs exist — a filter that
    keeps everything isn't exercising its threshold)."""
    from semantic_query_engine_spark.queries.multimodal_q import (
        imagetext_alignment,
    )

    rows = imagetext_alignment(spark, sf_dir).collect()
    assert len(rows) > 0
    assert all(r.aligned == (r.score >= 0) for r in rows)
    verdicts = {r.aligned for r in rows}
    assert verdicts == {True, False}


def test_video_scene_detect_finds_planted_cuts(spark, sf_dir):
    """Scene segmentation semantics: frame 0 always opens scene 1;
    within-scene frames (+1 brightness drift) stay under the boundary
    threshold; the planted seed-jump cut at frame doc_id%12 (when
    nonzero) is detected for the overwhelming majority of clips
    (wrap-around flips ~1/3 of difference bits); scene_id is the
    running boundary count."""
    from collections import defaultdict

    from semantic_query_engine_spark.queries.multimodal_q import (
        _N_FRAMES,
        video_scene_detect,
    )

    clips = defaultdict(dict)
    for r in video_scene_detect(spark, sf_dir).collect():
        clips[r.doc_id][r.frame_idx] = r
    assert clips
    planted = detected = 0
    for did, frames in clips.items():
        assert len(frames) == _N_FRAMES
        assert frames[0].is_boundary and frames[0].scene_id == 1
        assert frames[0].ham_prev == -1
        running = 0
        for f in range(_N_FRAMES):
            running += int(frames[f].is_boundary)
            assert frames[f].scene_id == running
        fc = did % _N_FRAMES
        if fc > 0:
            planted += 1
            detected += int(frames[fc].is_boundary)
            # no spurious boundary inside a scene for this clip beyond
            # the planted one is NOT asserted per-clip (wraps can in
            # principle spike) — the aggregate rate below pins behavior
    assert planted > 0
    assert detected / planted >= 0.9, (detected, planted)


def test_video_scene_threshold_sits_in_measured_gap(spark, sf_dir):
    """The round-13 threshold calibration (VERDICT r12 #8, measured in
    SCALE.md "Round 13: video boundary threshold measured"):
    _SCENE_HAM = 11 sits inside the fixture-wide separation gap — steady
    steps reach hamming 9, cuts never fall below 14 — so on this
    fixture the detector is EXACT: every planted cut detected, zero
    false boundaries (the original threshold 8 fired a false boundary
    at sf0.01).  Asserted from the registered query's own output, per
    frame."""
    from collections import defaultdict

    from semantic_query_engine_spark.queries.multimodal_q import (
        _N_FRAMES,
        _SCENE_HAM,
        video_scene_detect,
    )

    assert 9 <= _SCENE_HAM < 14  # the measured steady-max / cut-min gap
    clips = defaultdict(dict)
    for r in video_scene_detect(spark, sf_dir).collect():
        clips[r.doc_id][r.frame_idx] = r
    assert clips
    for did, frames in clips.items():
        fc = did % _N_FRAMES
        for f in range(1, _N_FRAMES):
            if fc > 0 and f == fc:
                assert frames[f].is_boundary, (did, f, frames[f].ham_prev)
                assert frames[f].ham_prev >= 14
            else:
                assert not frames[f].is_boundary, (did, f, frames[f].ham_prev)
                assert frames[f].ham_prev <= 9


def test_dhash64_none_sentinel_is_quarantined_by_filter():
    """dhash64's quarantine contract (ADVICE r12/r13): malformed
    containers return the None sentinel instead of raising, and the
    caller-side filter shape used in multimodal_phash_dedup's
    signature loop drops them, so one corrupt byte string can't fail a
    whole mapInPandas task or leak a NULL signature into the banded
    join."""
    from semantic_query_engine_spark.operators.multimodal import (
        dhash64,
        encode_bmp,
    )

    corrupt = [
        b"",  # empty
        b"BM" + b"\x00" * 10,  # truncated header
        b"JUNK" * 100,  # wrong magic
        encode_bmp(9, 8, 0)[:40],  # valid header, truncated pixels
    ]
    for payload in corrupt:
        assert dhash64(payload) is None
    # the production filter shape: Nones never reach the sig column
    payloads = corrupt + [encode_bmp(9, 8, 0), encode_bmp(13, 8, 5)]
    sigs = []
    for p in payloads:
        sig = dhash64(p)
        if sig is not None:
            sigs.append(sig)
    assert len(sigs) == 2 and all(isinstance(s, int) for s in sigs)


def test_upsert_index_onto_damaged_index_raises(spark, tmp_path):
    """Only an absent path counts as an empty index: an upsert onto an
    index with a damaged parquet file raises and leaves its files as
    they were, instead of overwriting it with the delta."""
    from py4j.protocol import Py4JJavaError

    from semantic_query_engine_spark.plans.index_build import upsert_index

    path = tmp_path / "idx"
    schema = "doc_id int, chunk_id int, chunk_text string, version int"
    base = spark.createDataFrame([(i, 0, f"t{i}", 1) for i in range(5)], schema)
    base.coalesce(1).write.parquet(str(path))
    (part,) = path.glob("*.parquet")
    part.write_bytes(b"PAR1 not a parquet file PAR1")
    before = {p.name: p.read_bytes() for p in path.iterdir()}

    delta = spark.createDataFrame([(9, 0, "new", 2)], schema)
    with pytest.raises(Py4JJavaError):
        upsert_index(spark, str(path), delta, ["doc_id", "chunk_id"], "version")
    assert {p.name: p.read_bytes() for p in path.iterdir()} == before
