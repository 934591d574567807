"""Streaming queries: real Structured Streaming runs (micro-batch
engine + state store) materialized through availableNow so the driver
can compare against DuckDB where semantics allow.

- stream_tumbling_hourly: windowed agg, COMPLETE mode -> every window is
  final -> full DuckDB oracle.
- stream_sliding_windows: 1h windows sliding 30min, COMPLETE mode ->
  oracle via the two half-shifted tumbling buckets.
- session_window_agg: session_window in batch mode (same operator the
  stream uses) -> oracle via lag-gap islands.
- stream_stateful_memory: applyInPandasWithState per-user conversation
  state (SURVEY A21 — fixing the reference's uninitialized memory_store
  bug, /root/reference/app/main.py:484 vs :408-411) -> oracle-checked
  (deterministic window twin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.fixtures import load_table
from ..streaming.jobs import read_events_stream, run_to_memory
from .registry import register
from ..functions.plan import truncate_eager

_TS = "yyyy-MM-dd HH:mm:ss"
_DTS = "%Y-%m-%d %H:%M:%S"


def _time_chunked(events: DataFrame, n: int = 4) -> DataFrame:
    """Add a replay `chunk` column (1..n) bucketing rows into n equal TIME
    spans of [min ts, max ts] of the `ts` column — a map-only expression
    after one 2-value agg.  Replaces the ntile-over-global-ORDER-BY
    chunker, which funneled the whole input through ONE partition (the
    exact UNPART_WINDOW shape tools/plan_audit.py hard-flags; VERDICT r5
    #3).  Chunk k's rows all precede chunk k+1's in event time — the
    property monotone-watermark replay needs; equal row COUNTS, which
    ntile gave, it never needed."""
    lo, hi = (
        events.agg(
            F.min(F.col("ts").cast("double")),
            F.max(F.col("ts").cast("double")),
        ).first()
    )
    span = max(hi - lo, 1e-9)
    frac = (F.col("ts").cast("double") - F.lit(lo)) / F.lit(span)
    chunk = F.least(F.lit(n), (F.floor(frac * n) + 1).cast("int"))
    return events.withColumn("chunk", chunk)


def _write_replay_chunks(chunked: DataFrame, src: str, n: int = 4,
                         double: bool = False) -> None:
    """Write chunk k of a `chunk`-columned frame to src/chunk-k.parquet
    — a DETERMINISTIC name per chunk, then strictly increasing mtimes
    stamped in name order.  (Stamping files sorted by their original
    write mtime was ambiguous when two sequential writes landed within
    the filesystem's mtime resolution, which could replay chunks out of
    order — ADVICE r5.)  FileStreamSource with maxFilesPerTrigger=1
    then replays micro-batch k = chunk k.  `double` writes every row
    twice (at-least-once delivery for the dedup streams)."""
    import glob
    import os
    import shutil

    os.makedirs(src, exist_ok=True)
    for k in range(1, n + 1):
        part = chunked.filter(F.col("chunk") == k).drop("chunk")
        if double:
            part = part.union(part)
        stage = f"{src}.stage{k}"
        part.coalesce(1).write.mode("overwrite").parquet(stage)
        files = sorted(glob.glob(stage + "/part-*.parquet"))
        # An empty time quartile (skewed ts after a fixture
        # regeneration, or every chunk-1 row rerouted by a late-data
        # rule) yields either no part file (0-partition plan) or a
        # 0-row part file (empty partition) — the former surfaced as a
        # bare IndexError (ADVICE r6), the latter silently replayed a
        # no-op micro-batch.  Replay determinism needs all n chunks
        # non-empty — fail with the chunk named.  The row count comes
        # from the parquet footer, not a Spark job.
        import pyarrow.parquet as pq

        if not files or pq.ParquetFile(files[0]).metadata.num_rows == 0:
            shutil.rmtree(stage, ignore_errors=True)
            raise ValueError(
                f"replay chunk {k}/{n} is empty for {src!r}: the time-"
                "bucketed chunker produced no rows in this quartile; "
                "check the fixture's ts distribution / late-data rule"
            )
        shutil.move(files[0], os.path.join(src, f"chunk-{k}.parquet"))
        shutil.rmtree(stage, ignore_errors=True)
    for i, f in enumerate(sorted(glob.glob(src + "/chunk-*.parquet"))):
        os.utime(f, (1e9 + i * 10, 1e9 + i * 10))


@register(
    "stream_tumbling_hourly",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windowed aggregation executed BY THE STREAMING
    ENGINE (readStream -> window agg -> availableNow -> memory sink,
    complete mode).  Complete mode makes every window final, so the
    result equals the batch hourly rollup — hence a full oracle."""
    src = read_events_stream(spark, sf_dir)
    agg = src.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").alias("n"),
        (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias("sum_value"),
    )
    out = run_to_memory(agg, output_mode="complete")
    return out.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:00").alias("window_start"),
        "event_type",
        "n",
        "sum_value",
    )


@register(
    "stream_sliding_windows",
    oracle="""
    WITH buckets AS (
      SELECT ts, value,
             date_trunc('hour', ts)
               + CASE WHEN minute(ts) >= 30 THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END
               AS half_slot
      FROM events),
    slid AS (
      SELECT half_slot AS window_start, value FROM buckets
      UNION ALL
      SELECT half_slot - INTERVAL 30 MINUTE, value FROM buckets)
    SELECT strftime(window_start, '%Y-%m-%d %H:%M') AS window_start,
           COUNT(*) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
    FROM slid GROUP BY 1
    """,
)
def stream_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h length, 30 min slide) on the streaming
    engine.  Each event lands in exactly 2 windows; the oracle rebuilds
    them from half-hour buckets."""
    src = read_events_stream(spark, sf_dir)
    agg = src.groupBy(F.window("ts", "1 hour", "30 minutes")).agg(
        F.count("*").alias("n"),
        (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias("sum_value"),
    )
    out = run_to_memory(agg, output_mode="complete")
    return out.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm").alias("window_start"),
        "n",
        "sum_value",
    )


@register(
    "session_window_agg",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN epoch_us(ts)
                    - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                    >= 1800000000 THEN 1 ELSE 0 END AS new_sess
      FROM events),
    numbered AS (
      SELECT user_id, event_id, ts,
             CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM flagged)
    SELECT user_id,
           strftime(MIN(ts), '{_DTS}') AS session_start,
           COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, session_id
    """,
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F.session_window (30-min gap) — Spark's native session operator,
    run in batch mode (identical operator to the streaming form).  The
    oracle derives the same sessions via lag-gap islands at microsecond
    precision: Spark session windows are half-open [start, last+gap), so
    a new session begins when the inter-event gap is >= the gap duration
    exactly — hence epoch_us >= 1800000000, not a seconds-truncated
    comparison."""
    e = load_table(spark, sf_dir, "events")
    agg = e.groupBy(F.session_window("ts", "30 minutes"), "user_id").agg(
        F.count("*").alias("n_events")
    )
    return agg.select(
        "user_id",
        F.date_format(F.col("session_window.start"), _TS).alias("session_start"),
        "n_events",
    )


@register(
    "stream_stateful_memory",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events),
    counts AS (SELECT user_id, COUNT(*) AS n_messages FROM events GROUP BY user_id)
    SELECT c.user_id, c.n_messages, r.event_type AS last_event_type
    FROM counts c JOIN ranked r ON r.user_id = c.user_id AND r.rn = 1
    """,
)
def stream_stateful_memory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user conversation memory as streaming keyed state
    (applyInPandasWithState) — the Spark-native ConversationBufferMemory
    (SURVEY A21).  Each user's state accumulates (n_messages,
    last_event_type) across micro-batches; the state store and update
    protocol are real.  The fixture arrives as one micro-batch, so the
    final emitted state equals the batch aggregate — which is exactly
    what the oracle computes (count + latest event per user, ties broken
    by event_id like the stable sort below)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = read_events_stream(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type"
    )

    def update(key, pdfs, state: GroupState):
        n, last_type, last_ts = (state.get if state.exists else (0, "", ""))  # type: ignore[misc]
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts", "event_id"], kind="mergesort")
        n += len(rows)
        last_type = str(rows["event_type"].iloc[-1])
        last_ts = str(rows["ts"].iloc[-1])
        state.update((n, last_type, last_ts))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_messages": [n],
                "last_event_type": [last_type],
            }
        )

    out = src.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_messages long, last_event_type string",
        stateStructType="n long, last_type string, last_ts string",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_memory(out, output_mode="update")


@register(
    "stream_stream_join",
    oracle=f"""
    SELECT p.event_id AS purchase_id, s.event_id AS signup_id, p.user_id,
           strftime(p.ts, '{_DTS}') AS purchase_ts,
           strftime(s.ts, '{_DTS}') AS signup_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      ON p.user_id = s.user_id
     AND s.ts >= p.ts - INTERVAL 1 HOUR AND s.ts <= p.ts
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join: purchases joined to signups
    of the same user within the preceding hour.  Both sides are REAL
    streams with watermarks; the time-interval condition bounds each
    side's join state (Spark evicts signup state older than the interval
    + watermark — the property that makes stream-stream joins feasible
    over unbounded inputs).  With availableNow over the fixture the
    emitted matches equal the batch range join — hence a full oracle."""
    purchases = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    ).withWatermark("ts", "2 hours").alias("p")
    signups = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "signup"
    ).withWatermark("ts", "2 hours").alias("s")
    joined = purchases.join(
        signups,
        F.expr(
            "p.user_id = s.user_id AND "
            "s.ts >= p.ts - INTERVAL 1 HOUR AND s.ts <= p.ts"
        ),
    ).select(
        F.col("p.event_id").alias("purchase_id"),
        F.col("s.event_id").alias("signup_id"),
        F.col("p.user_id").alias("user_id"),
        F.date_format("p.ts", _TS).alias("purchase_ts"),
        F.date_format("s.ts", _TS).alias("signup_ts"),
    )
    return run_to_memory(joined, output_mode="append")


@register(
    "stream_cdc_compact",
    oracle=f"""
    SELECT user_id,
           max_by(event_id,
                  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') || '|' ||
                  lpad(CAST(event_id AS VARCHAR), 12, '0')) AS last_event_id,
           max_by(event_type,
                  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') || '|' ||
                  lpad(CAST(event_id AS VARCHAR), 12, '0')) AS last_type,
           max_by(ROUND(value, 6),
                  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') || '|' ||
                  lpad(CAST(event_id AS VARCHAR), 12, '0')) AS last_value,
           strftime(MAX(ts), '{_DTS}') AS last_ts,
           COUNT(*) AS n_changes
    FROM events GROUP BY user_id
    """,
)
def stream_cdc_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log compaction ON THE STREAMING ENGINE: treat events as a
    change stream keyed by user_id and reduce it to the
    latest-write-wins snapshot (the Kafka compacted-topic / Delta CDF
    'latest state' op).  One streaming groupBy with max_by aggregates in
    complete mode — the state store holds one row per key, not the log.
    Ordering is a lexicographic (microsecond-timestamp, zero-padded
    event_id) string, so ties are deterministic and the DuckDB twin
    orders identically — full oracle."""
    src = read_events_stream(spark, sf_dir)
    ordk = F.concat(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        F.lit("|"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    agg = src.groupBy("user_id").agg(
        F.max_by("event_id", ordk).alias("last_event_id"),
        F.max_by("event_type", ordk).alias("last_type"),
        F.max_by(F.round("value", 6), ordk).alias("last_value"),
        F.date_format(F.max("ts"), _TS).alias("last_ts"),
        F.count("*").alias("n_changes"),
    )
    return run_to_memory(agg, output_mode="complete")


@register(
    "stream_incremental_rollup",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0
             AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the events table is
    split into 4 file chunks and streamed with maxFilesPerTrigger=1, so
    availableNow delivers MULTIPLE micro-batches; each foreachBatch
    partially aggregates its chunk and algebraically merges (counts and
    integer cents ADD) into the accumulated view — history is never
    reprocessed.  The final view must equal the one-shot batch rollup,
    which is exactly what the oracle checks.  At production scale the
    merge target is a Delta/Iceberg MERGE instead of the checkpointed
    frame; the per-batch plan is identical."""
    import os
    import shutil
    import tempfile

    from ..sources.fixtures import load_table

    events = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    tmp = tempfile.mkdtemp(prefix="incr_rollup_")
    src = os.path.join(tmp, "src")
    events.repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    acc: dict = {"df": None, "batches": 0}

    def merge(batch_df: DataFrame, _bid: int) -> None:
        agg = batch_df.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            "event_type",
        ).agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
        prev = acc["df"]
        merged = (
            agg
            if prev is None
            else prev.unionByName(agg)
            .groupBy("day", "event_type")
            .agg(F.sum("n").alias("n"), F.sum("cents").alias("cents"))
        )
        # eager checkpoint: batch_df is only valid inside this call, and
        # the accumulator's lineage must not grow batch-over-batch
        acc["df"] = merged.transform(truncate_eager)
        acc["batches"] += 1

    q = (
        stream.writeStream.foreachBatch(merge)
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(tmp, "ckpt"))
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(tmp, ignore_errors=True)
    stream_incremental_rollup.last_n_batches = acc["batches"]  # type: ignore[attr-defined]
    return acc["df"].select(
        "day", "event_type", "n", (F.col("cents") / 100.0).alias("sum_value")
    )


@register(
    "stream_watermark_append",
    oracle=f"""
    WITH bounds AS (
      SELECT MIN(ts) + INTERVAL 1 HOUR AS early_cut,
             MAX(ts) - INTERVAL 1 HOUR AS final_wm
      FROM events),
    kept AS (
      SELECT ts, value FROM events, bounds
      WHERE NOT (event_id % 7 = 0 AND ts < bounds.early_cut)),
    agg AS (
      SELECT date_trunc('hour', ts) AS wstart,
             COUNT(*) AS n,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0
               AS sum_value
      FROM kept GROUP BY 1)
    SELECT strftime(wstart, '%Y-%m-%d %H:00') AS window_start, n, sum_value
    FROM agg, bounds
    WHERE wstart + INTERVAL 1 HOUR <= bounds.final_wm
    """,
)
def stream_watermark_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time watermark semantics in APPEND mode — the canonical
    late-data contract the complete-mode streams above don't exercise.
    The events table is split into 4 TIME-ORDERED chunks streamed one
    file per micro-batch; rows from the corpus's first hour whose
    event_id % 7 == 0 are planted into the LAST chunk as late arrivals.
    With a 1-hour watermark the engine (a) finalizes and emits each
    hourly window exactly once, when the watermark passes its end, and
    (b) DROPS the planted rows row-level, because they arrive with
    event time far below the batch-4 watermark.

    Both behaviors are deterministic, so the oracle is exact: emitted
    windows are precisely those with end <= max(ts) - 1h (the final
    no-data batch flushes up to the terminal watermark), aggregated
    WITHOUT the planted late rows.

    Scale shape: the streaming agg keeps one state row per open window;
    the watermark bounds state to ~1h of windows regardless of stream
    length — this is the property that makes the job run forever on an
    unbounded 100 TB/day stream without unbounded state."""
    import datetime
    import os
    import shutil
    import tempfile

    from ..sources.fixtures import load_table

    events = load_table(spark, sf_dir, "events").select("ts", "event_id", "value")
    lo = events.agg(F.min("ts").alias("lo")).collect()[0]["lo"]
    early_cut = lo + datetime.timedelta(hours=1)
    chunked = _time_chunked(events, 4).withColumn(
        "chunk",
        F.when(
            (F.col("event_id") % 7 == 0) & (F.col("ts") < F.lit(early_cut)),
            F.lit(4),
        ).otherwise(F.col("chunk")),
    )
    tmp = tempfile.mkdtemp(prefix="wm_append_")
    src = os.path.join(tmp, "src")
    _write_replay_chunks(chunked.drop("event_id"), src, 4)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(
            F.count("*").alias("n"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias(
                "sum_value"
            ),
        )
    )
    out = run_to_memory(agg, output_mode="append")
    result = out.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:00").alias(
            "window_start"
        ),
        "n",
        "sum_value",
    )
    # materialize before deleting the temp source (memory sink has
    # already collected, but the returned frame must not re-read tmp)
    result = result.transform(truncate_eager)
    shutil.rmtree(tmp, ignore_errors=True)
    return result


@register(
    "stream_dedup_watermarked",
    oracle="""
    SELECT event_type, COUNT(*) AS n
    FROM (SELECT DISTINCT event_id, event_type FROM events)
    GROUP BY event_type
    """,
)
def stream_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED-STATE streaming dedup: dropDuplicatesWithinWatermark —
    the scale-correct form of stream_dedup (mlpipeline_q.py), whose
    unbounded dropDuplicates keeps every id in the state store forever.
    Here the at-least-once delivery duplicates each event WITHIN its
    micro-batch (each replay chunk is written doubled), the stream
    carries a 1-hour event-time watermark, and the engine evicts dedup
    state for keys older than the watermark — so state holds ~1h of
    ids on an unbounded stream instead of all of history.  Every
    duplicate pair lands inside the horizon, so the emitted set is
    exactly the distinct events — the same plain-DISTINCT oracle as
    stream_dedup, now with bounded state."""
    import os
    import shutil
    import tempfile

    from ..sources.fixtures import load_table

    events = load_table(spark, sf_dir, "events").select(
        "ts", "event_id", "event_type"
    )
    chunked = _time_chunked(events, 4)
    tmp = tempfile.mkdtemp(prefix="wm_dedup_")
    src = os.path.join(tmp, "src")
    _write_replay_chunks(chunked, src, 4, double=True)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    out = run_to_memory(deduped, output_mode="append")
    result = out.groupBy("event_type").agg(F.count("*").alias("n"))
    result = result.transform(truncate_eager)
    shutil.rmtree(tmp, ignore_errors=True)
    return result


@register(
    "stream_python_source",
    oracle="""
    WITH synth AS (
      SELECT i AS event_id,
             TIMESTAMP '2024-01-01' + to_seconds(i) AS ts,
             ['view', 'click', 'purchase', 'refund'][CAST(i % 4 AS INT) + 1]
               AS event_type,
             (i % 1000) / 10.0 AS value
      FROM (SELECT unnest(range(40000)) AS i))
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0
             AS sum_value,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
    FROM synth GROUP BY event_type
    """,
)
def stream_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end custom Python STREAMING data source
    (sources/synthetic_stream.py): 4 micro-batches x 10,000 rows of a
    deterministic synthetic event firehose flow through offset tracking,
    per-batch partition planning, executor-side reads, and a streaming
    aggregation — the full connector contract a Kafka-like source
    implements.  Content is a pure function of the row index, so the
    DuckDB oracle regenerates the identical 40,000 rows with range()
    and the aggregate hash-matches exactly (unlike Spark's built-in
    non-deterministic `rate` source).  sf-independent by design."""
    from ..sources.synthetic_stream import register_synthetic_stream

    register_synthetic_stream(spark)
    stream = (
        spark.readStream.format("synthetic_events")
        .option("rowsperbatch", "10000")
        .option("batches", "4")
        .option("partitionsperbatch", "4")
        .load()
    )
    agg = stream.groupBy("event_type").agg(
        F.count("*").alias("n"),
        (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias(
            "sum_value"
        ),
        F.date_format(F.max("ts"), _TS).alias("last_ts"),
    )
    import uuid

    name = f"pysrc_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    result = spark.table(name).transform(truncate_eager)
    spark.catalog.dropTempView(name)
    return result


@register(
    "stream_session_windows",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN epoch_us(ts)
                    - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                    >= 1800000000 THEN 1 ELSE 0 END AS new_sess
      FROM events),
    numbered AS (
      SELECT user_id, event_id, ts,
             CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM flagged),
    sess AS (
      SELECT user_id,
             MIN(ts) AS session_start,
             MAX(ts) + INTERVAL 30 MINUTE AS session_end,
             COUNT(*) AS n_events
      FROM numbered GROUP BY user_id, session_id),
    wm AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS final_wm FROM events)
    SELECT user_id,
           strftime(session_start, '{_DTS}') AS session_start,
           n_events
    FROM sess, wm WHERE session_end <= wm.final_wm
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SESSIONIZATION: session_window (30-min gap) running on
    the micro-batch engine with a 1-hour event-time watermark in APPEND
    mode — sessions merge across micro-batches in the state store and
    are emitted exactly once, when the watermark passes session end
    (last event + gap).  The batch twin is session_window_agg; this is
    the form that runs forever on an unbounded clickstream with state
    bounded to ~1h of open sessions per user.

    Deterministic (time-ordered replay chunks, no late data), so the
    oracle is exact: lag-gap islands whose end (last ts + 30 min) lies
    at or before max(ts) - 1h — verified value-equal against the batch
    operator in the design probe."""
    import os
    import shutil
    import tempfile

    from ..sources.fixtures import load_table

    events = load_table(spark, sf_dir, "events").select("ts", "event_id", "user_id")
    chunked = _time_chunked(events, 4)
    tmp = tempfile.mkdtemp(prefix="wm_sess_")
    src = os.path.join(tmp, "src")
    _write_replay_chunks(chunked, src, 4)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n_events"))
    )
    out = run_to_memory(agg, output_mode="append")
    result = out.select(
        "user_id",
        F.date_format(F.col("session_window.start"), _TS).alias("session_start"),
        "n_events",
    ).transform(truncate_eager)
    shutil.rmtree(tmp, ignore_errors=True)
    return result


@register(
    "stream_distinct_users_hourly",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS window_start,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS within_tol
    FROM events GROUP BY 1
    """,
)
def stream_distinct_users_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketches INSIDE the streaming engine: per-hour approximate
    distinct users via approx_count_distinct (HLL++) in a streaming
    windowed aggregation, complete mode.  HLL state merges
    commutatively across micro-batches and partitions, so the sketch
    value is deterministic for fixed data and the accuracy claim —
    within max(2 users, 5%) per window, the absolute floor covering
    HLL's small-cardinality windows — is hash-checked against the
    exact-only oracle (same gate pattern as distinct_count_checked).
    The tolerance itself is probabilistic (HLL guarantees no error
    direction): stable under partitioning, but re-validate after any
    fixture regeneration or scale change (ADVICE r5).

    At 100 TB/day this is the shape that keeps per-window state at a
    fixed few KB per window (one HLL) instead of one entry per user."""
    src = read_events_stream(spark, sf_dir)
    # exact COUNT(DISTINCT) is not allowed in streaming aggs (that's
    # the point of the sketch) — the exact side comes from the batch
    # twin and joins on the window for the accuracy gate
    agg = src.groupBy(F.window("ts", "1 hour")).agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users")
    )
    out = run_to_memory(agg, output_mode="complete").select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:00").alias(
            "window_start"
        ),
        "approx_users",
    )
    from ..sources.fixtures import load_table

    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00").alias(
                "window_start"
            )
        )
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    return exact.join(out, "window_start").select(
        "window_start",
        "exact_users",
        (
            F.abs(
                F.col("approx_users").cast("double")
                - F.col("exact_users").cast("double")
            )
            <= F.greatest(
                F.lit(2.0), F.col("exact_users").cast("double") * 0.05
            )
        ).alias("within_tol"),
    )


@register(
    "stream_static_enrich",
    oracle="""
    WITH profile AS (
      SELECT user_id,
             CASE WHEN COUNT(*) >= 120 THEN 'heavy'
                  WHEN COUNT(*) >= 60 THEN 'mid'
                  ELSE 'light' END AS cohort
      FROM events GROUP BY user_id)
    SELECT e.event_type, p.cohort,
           COUNT(*) AS n,
           CAST(SUM(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) / 100.0
             AS sum_value
    FROM events e JOIN profile p ON p.user_id = e.user_id
    GROUP BY e.event_type, p.cohort
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC dimension join — the enrichment pattern every
    production stream runs (click joins user profile, txn joins account
    tier): the events STREAM joins a static batch-derived user-cohort
    dimension, then aggregates per (event_type, cohort) in complete
    mode.  The static side is planned once and broadcast per
    micro-batch; no state store is involved for the join itself (unlike
    stream_stream_join), which is why this shape is free at any stream
    length.  Complete-mode windowless agg -> every group is final ->
    full batch-SQL oracle."""
    from ..sources.fixtures import load_table

    profile = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_hist"))
        .select(
            "user_id",
            F.when(F.col("n_hist") >= 120, "heavy")
            .when(F.col("n_hist") >= 60, "mid")
            .otherwise("light")
            .alias("cohort"),
        )
    )
    src = read_events_stream(spark, sf_dir).select("user_id", "event_type", "value")
    # UN-HINTED: the per-user profile grows with the user base — at demo
    # scale Spark broadcasts it from the static side's size estimate; at
    # 100 TB the stream-static join falls back to a partitioned join
    # rather than OOMing every executor on a forced hint.
    enriched = src.join(profile, "user_id")
    agg = enriched.groupBy("event_type", "cohort").agg(
        F.count("*").alias("n"),
        (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias(
            "sum_value"
        ),
    )
    return run_to_memory(agg, output_mode="complete")


@register(
    "stream_index_maintenance",
    oracle="""
    SELECT doc_id,
           md5(lower(array_to_string(
             regexp_split_to_array(
               trim(regexp_replace(text, chr(10), ' ', 'g')), '\\s+'), ' '))) AS fp,
           CAST(len(regexp_split_to_array(
             trim(regexp_replace(text, chr(10), ' ', 'g')), '\\s+')) AS INT)
             AS n_tokens
    FROM documents
    """,
)
def stream_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous index maintenance — the reference's startup index
    build (SURVEY A27) as a STREAMING job: documents arrive in 4
    micro-batches; each batch cleans, fingerprints, and token-counts
    its rows and foreachBatch-appends them to the parquet index.  The
    final index must equal the one-shot batch build — which is exactly
    what the oracle computes — proving the incremental write path loses
    and duplicates nothing.

    Scale shape: per-batch work is map-only row-local expressions; the
    sink append is partitioned parquet (at production scale a
    Delta/Iceberg append with the same foreachBatch body)."""
    import os
    import shutil
    import tempfile

    from ..functions import text as TX
    from ..sources.fixtures import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="idx_maint_")
    src = os.path.join(tmp, "src")
    target = os.path.join(tmp, "index")
    chunked = docs.withColumn("chunk", (F.col("doc_id") % 4 + 1).cast("int"))
    _write_replay_chunks(chunked, src, 4)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )

    def upsert(batch_df: DataFrame, _bid: int) -> None:
        # tokenize once per row (the functions/text module docstring)
        batch_df.select(
            "doc_id", TX.words_of("text").alias("ws")
        ).select(
            "doc_id",
            TX.fingerprint_ws("ws").alias("fp"),
            F.size("ws").alias("n_tokens"),
        ).write.mode("append").parquet(target)

    q = (
        stream.writeStream.foreachBatch(upsert)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation", os.path.join(tmp, "ckpt")
        )
        .start()
    )
    q.awaitTermination()
    result = spark.read.parquet(target).transform(truncate_eager)
    shutil.rmtree(tmp, ignore_errors=True)
    return result


@register(
    "stream_dedup_incremental",
    oracle="""
    WITH fp_of AS (
      SELECT doc_id,
             md5(lower(array_to_string(
               list_filter(regexp_split_to_array(
                 trim(regexp_replace(text, chr(10), ' ', 'g')), '\\s+'),
                 x -> x <> ''), ' '))) AS fp
      FROM documents),
    hist AS (SELECT DISTINCT fp FROM fp_of WHERE doc_id < 250)
    SELECT i.doc_id, i.fp
    FROM fp_of i LEFT JOIN hist h USING (fp)
    WHERE h.fp IS NULL
    """,
)
def stream_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest deduplicated against a HISTORICAL index — the
    production shape of continuous corpus growth: the incoming document
    stream (a file stream over the same parquet the batch engine reads)
    fingerprints each arrival and a STREAM-STATIC LEFT ANTI join drops
    anything whose fingerprint already exists in the historical corpus
    (here: docs < 250 play history; the stream replays all docs, so
    exactly the >= 250 tail survives — the fixture has no text dups).
    Complements stream_dedup (within-stream exactly-once state) with
    the against-EXISTING-data check an incremental crawl needs, and
    dedup_incremental's batch shape with its streaming twin.

    Scale shape: the static side is a fingerprint TABLE (16-byte keys,
    not documents) that Spark re-plans per micro-batch — broadcast
    while small, shuffle-join when not; the stream side is map-only
    fingerprinting, so no state store grows at all (unlike
    dropDuplicates, whose state is unbounded without a watermark —
    the anti join keys state OFF the stream entirely)."""
    import os

    from ..functions.text import fingerprint

    batch = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    stream = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    hist = (
        batch.filter(F.col("doc_id") < 250)
        .select(fingerprint("text").alias("fp"))
        .distinct()
    )
    fresh = stream.select(
        "doc_id", fingerprint("text").alias("fp")
    ).join(hist, "fp", "left_anti")
    out = run_to_memory(fresh, output_mode="append")
    return out.select("doc_id", "fp")
