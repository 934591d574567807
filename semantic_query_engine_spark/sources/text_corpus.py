"""Raw text-corpus source — the Spark-native analog of the reference's
startup directory scan (SURVEY A3, /root/reference/app/main.py:427-438:
os.listdir, keep PMC*.txt, read whole file, utf-8 with latin-1
fallback).

Spark-first shape: the `binaryFile` source gives one (path, content)
row per file in one distributed scan (no driver-side listdir loop); the
PMC*.txt filter is a plan-level predicate on the filename.  Decoding
follows the reference byte for byte: the whole file as UTF-8 if its
bytes are valid UTF-8, else the whole file as latin-1.  Latin-1 maps
every byte to a character, so the read never fails and never replaces
a byte (a UTF-8 decode with replacement would turn each invalid byte
into U+FFFD).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PREFIX = "PMC"
SUFFIX = ".txt"


def read_text_corpus(spark: SparkSession, corpus_dir: str) -> DataFrame:
    """(doc_id, text) for every PMC*.txt file directly in `corpus_dir`;
    doc_id is the bare filename stem, matching the reference's use of
    the filename as doc_id (app/main.py:446-449).

    An empty file yields no row: Spark's file scan skips zero-length
    files.  The index is the same either way, because the reference
    chunks an empty document into zero chunks.

    `is_valid_utf8` is the expression twin of the reference's
    try/except UnicodeDecodeError and ISO-8859-1 decoding is total, so
    the fallback branch cannot throw.  All codegen'd expressions; no
    Python touches the bytes."""
    # a directory plus pathGlobFilter, not a `dir/*.txt` glob path:
    # for a glob, Spark's FileStreamSink probe logs a FileNotFoundException
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", f"*{SUFFIX}")
        .load(corpus_dir)
        .select("path", "content")
    )
    fname = F.element_at(F.split(F.col("path"), "/"), -1)
    utf8 = F.col("content").cast("string")
    text = F.when(F.is_valid_utf8(utf8), utf8).otherwise(
        F.decode("content", "ISO-8859-1")
    )
    return (
        raw.withColumn("fname", fname)
        .filter(F.col("fname").startswith(PREFIX) & F.col("fname").endswith(SUFFIX))
        .select(
            F.regexp_replace("fname", f"{SUFFIX}$", "").alias("doc_id"),
            text.alias("text"),
        )
    )
