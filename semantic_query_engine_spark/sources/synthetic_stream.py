"""Custom Python STREAMING data source (Spark 4
`pyspark.sql.datasource.DataSourceStreamReader` API): a deterministic
synthetic event firehose.

It covers offset tracking (initialOffset / latestOffset / commit),
per-batch partition planning, and EXECUTOR-SIDE partition reads — the
contract a Kafka-like connector implements, demonstrated end-to-end
through the micro-batch engine.  Content is a pure function of the
row index, so a DuckDB oracle can regenerate the identical stream with
`range()` and the result is hash-checkable — the determinism Spark's
built-in `rate` source cannot give.

Scale shape: `partitions(start, end)` splits each micro-batch's id
range into N independent slices read in parallel on executors; the
driver holds only the integer offset.  A real connector swaps the
synthesizer for seeks into its log.
"""

from __future__ import annotations

import datetime

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

SCHEMA = StructType(
    [
        StructField("event_id", LongType(), False),
        StructField("ts", TimestampType(), False),
        StructField("event_type", StringType(), False),
        StructField("value", DoubleType(), False),
    ]
)

_BASE = datetime.datetime(2024, 1, 1)
_TYPES = ("view", "click", "purchase", "refund")


def synth_row(i: int) -> tuple:
    """Row i of the stream — shared by the reader and the tests; the
    DuckDB oracle spells the identical formulas."""
    return (
        i,
        _BASE + datetime.timedelta(seconds=i),
        _TYPES[i % 4],
        (i % 1000) / 10.0,
    )


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class SyntheticEventsStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self.rows_per_batch = int(options.get("rowsperbatch", 10000))
        self.max_batches = int(options.get("batches", 4))
        self.parts = int(options.get("partitionsperbatch", 4))
        self.current = 0

    def initialOffset(self) -> dict:
        return {"batch": 0}

    def latestOffset(self) -> dict:
        # one synthetic batch becomes available per poll, up to the cap;
        # after that the offset is stable and processAllAvailable()
        # unblocks
        if self.current < self.max_batches:
            self.current += 1
        return {"batch": self.current}

    def partitions(self, start: dict, end: dict):
        lo = start["batch"] * self.rows_per_batch
        hi = end["batch"] * self.rows_per_batch
        step = max(1, (hi - lo) // self.parts)
        return [
            _RangePartition(s, min(s + step, hi)) for s in range(lo, hi, step)
        ]

    def read(self, partition: _RangePartition):
        for i in range(partition.start, partition.end):
            yield synth_row(i)

    def commit(self, end: dict) -> None:
        pass  # nothing external to acknowledge


class SyntheticEventsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "synthetic_events"

    def schema(self) -> StructType:
        return SCHEMA

    def streamReader(self, schema: StructType) -> SyntheticEventsStreamReader:
        return SyntheticEventsStreamReader(self.options)


def register_synthetic_stream(spark) -> None:
    spark.dataSource.register(SyntheticEventsDataSource)
