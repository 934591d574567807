"""Raw text-corpus source — the Spark-native analog of the reference's
startup directory scan (SURVEY A3, /root/reference/app/main.py:427-438:
os.listdir, keep PMC*.txt, read whole file, utf-8 with latin-1
fallback).

Spark-first shape: `spark.read.text(dir, wholetext=True)` gives one row
per file in one distributed scan (no driver-side listdir loop);
`input_file_name()` carries the filename; the PMC*.txt filter is a
plan-level predicate.  Charset fallback: Spark's text source decodes
UTF-8 with replacement instead of raising, so the latin-1 fallback
branch collapses into lossless-or-replaced decoding — same
never-fail contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_text_corpus_faithful(
    spark: SparkSession,
    corpus_dir: str,
    prefix: str = "PMC",
    suffix: str = ".txt",
) -> DataFrame:
    """(doc_id, text) with BYTE-FAITHFUL decoding parity with the
    reference (app/main.py:430-437): decode the whole file as UTF-8,
    and if the bytes are not valid UTF-8 decode the whole file as
    latin-1 instead (a total byte->char mapping, so never fails).

    Spark-first shape: the `binaryFile` source yields one (path,
    content) row per file in a distributed scan; `is_valid_utf8` does
    the validity check JVM-side (the expression twin of the reference's
    try/except UnicodeDecodeError) and ISO-8859-1 decoding is total, so
    the fallback branch can never throw.  All codegen'd expressions; no
    Python touches the bytes."""
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", f"*{suffix}")
        .load(corpus_dir)
        .select(F.col("path"), F.col("content"))
    )
    fname = F.element_at(F.split(F.col("path"), "/"), -1)
    utf8 = F.col("content").cast("string")
    text = F.when(F.is_valid_utf8(utf8), utf8).otherwise(
        F.decode("content", "ISO-8859-1")
    )
    return (
        raw.withColumn("fname", fname)
        .filter(F.col("fname").startswith(prefix) & F.col("fname").endswith(suffix))
        .select(
            F.regexp_replace("fname", f"{suffix}$", "").alias("doc_id"),
            text.alias("text"),
        )
    )


def read_text_corpus(
    spark: SparkSession,
    corpus_dir: str,
    prefix: str = "PMC",
    suffix: str = ".txt",
) -> DataFrame:
    """(doc_id, text) — doc_id is the bare filename stem, matching the
    reference's use of the filename as doc_id (app/main.py:446-449)."""
    # a directory plus pathGlobFilter, not a `dir/*.txt` glob path:
    # for a glob, Spark's FileStreamSink probe logs a FileNotFoundException
    raw = (
        spark.read.option("pathGlobFilter", f"*{suffix}")
        .text(corpus_dir, wholetext=True)
        .select(F.input_file_name().alias("path"), F.col("value").alias("text"))
    )
    fname = F.element_at(F.split(F.col("path"), "/"), -1)
    return (
        raw.withColumn("fname", fname)
        .filter(F.col("fname").startswith(prefix) & F.col("fname").endswith(suffix))
        .select(
            F.regexp_replace("fname", f"{suffix}$", "").alias("doc_id"),
            "text",
        )
    )
