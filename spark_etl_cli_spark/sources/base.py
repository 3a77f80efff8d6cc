"""Source/sink abstractions shared by all connectors.

Mirrors the capability of the reference's ``DataFrameSource`` /
``DataFrameSink`` traits and its ``DefaultDataFrameSource`` /
``StreamingDataFrameSource`` helpers (reference
``core/src/main/scala/dev/mauch/spark/dfio/DataFrameSource.scala:13-53``):

- batch read = ``spark.read.format(f).options(o).load(path)``
- ``-stream`` scheme suffix switches to ``spark.readStream``
- ``schema=<url-encoded Spark DataType JSON>`` query param provides an
  explicit schema (required for file streams)
- ``watermark=col:duration`` attaches an event-time watermark
"""

from __future__ import annotations

import functools
import json
import weakref
from dataclasses import dataclass, field
from typing import Protocol

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from spark_etl_cli_spark.uri import ParsedUri


class DataFrameSource(Protocol):
    def read(self, spark: SparkSession) -> DataFrame: ...


class DataFrameSink(Protocol):
    def write(self, df: DataFrame) -> bool: ...


def per_spark_context(probe):
    """Memoize ``probe(spark, *args)`` per SparkContext (one live JVM
    each), held weakly so a stopped context's answers go with it: a
    classpath does not change, and a failed probe costs a py4j
    exception round trip every time it is asked."""
    answers: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()

    @functools.wraps(probe)
    def cached(spark: SparkSession, *args):
        seen = answers.setdefault(spark.sparkContext, {})
        if args not in seen:
            seen[args] = probe(spark, *args)
        return seen[args]

    return cached


def parse_schema_json(schema_json: str) -> T.StructType:
    """Spark DataType JSON (or DDL) → StructType."""
    s = schema_json.strip()
    if s.startswith("{"):
        dt = T.StructType.fromJson(json.loads(s))
        return dt
    return T.StructType.fromDDL(s)


def apply_watermark(df: DataFrame, watermark: str | None) -> DataFrame:
    """``col:duration`` → ``df.withWatermark(col, duration)``."""
    if not watermark:
        return df
    col, _, dur = watermark.partition(":")
    if not dur:
        raise ValueError(f"watermark must be 'col:duration', got {watermark!r}")
    return df.withWatermark(col, dur)


def apply_trigger(writer, trigger: str | None):
    """``?trigger-interval=`` → writeStream trigger.

    ``availableNow``/``available-now`` drains the backlog and stops
    (the deterministic-test + backfill trigger), ``once`` is the legacy
    single-batch form, anything else is a processing-time interval.
    """
    if not trigger:
        return writer
    if trigger in ("availableNow", "available-now"):
        return writer.trigger(availableNow=True)
    if trigger == "once":
        return writer.trigger(once=True)
    return writer.trigger(processingTime=trigger)


def stream_via_foreach_batch(
    df: DataFrame, write_batch, uri: ParsedUri, pass_epoch: bool = False
) -> bool:
    """Bridge a batch-only sink into Structured Streaming.

    ``foreachBatch`` hands each micro-batch to the sink's ordinary batch
    writer — the standard Spark answer for sinks without a native
    streaming implementation (JDBC, Excel, ...). Honors
    ``?checkpointLocation=`` and ``?trigger-interval=`` like native
    streaming sinks. Exactly-once depends on the downstream system;
    per-batch idempotence (e.g. keyed upserts) is the sink's concern —
    sinks that implement it from the epoch id (the delta-lite txn
    path) opt into receiving it via ``pass_epoch``.
    """
    writer = df.writeStream.foreachBatch(
        (lambda batch_df, epoch_id: write_batch(batch_df, epoch_id))
        if pass_epoch
        else (lambda batch_df, _epoch_id: write_batch(batch_df))
    )
    ckpt = uri.params.get("checkpointLocation")
    if ckpt:
        writer = writer.option("checkpointLocation", ckpt)
    writer = apply_trigger(writer, uri.params.get("trigger-interval"))
    writer.start()
    return True


# query params consumed by the framework, not forwarded as reader options
_RESERVED = {"schema", "watermark", "trigger-interval", "mode",
             "partition-by", "sort-by", "where", "view"}


def reader_options(p: ParsedUri) -> dict[str, str]:
    return {k: v for k, v in p.params.items() if k not in _RESERVED}


@dataclass
class FileSource:
    """Generic file-format source: batch or streaming per URI scheme."""

    uri: ParsedUri
    fmt: str
    default_options: dict[str, str] = field(default_factory=dict)

    def read(self, spark: SparkSession) -> DataFrame:
        # nanosAsLong for TIMESTAMP(NANOS) parquet lives in the session
        # build (session.py BASE_CONFS), not here: a per-read conf.set
        # mutated shared session state as a side effect.
        opts = {**self.default_options, **reader_options(self.uri)}
        path = self.uri.path
        # ?where= is a uniform row predicate on every file source —
        # declared before any transform, so Catalyst pushes it into the
        # scan (PushedFilters) rather than filtering post-hoc; the lite
        # lakehouse readers additionally prune their FILE lists with it
        where = self.uri.params.get("where")
        if self.uri.is_stream:
            reader = spark.readStream.format(self.fmt).options(**opts)
            schema_json = self.uri.params.get("schema")
            if schema_json:
                reader = reader.schema(parse_schema_json(schema_json))
            df = reader.load(path)
            if where:
                df = df.filter(where)
            return apply_watermark(df, self.uri.params.get("watermark"))
        reader = spark.read.format(self.fmt).options(**opts)
        schema_json = self.uri.params.get("schema")
        if schema_json:
            reader = reader.schema(parse_schema_json(schema_json))
        df = reader.load(path)
        if where:
            df = df.filter(where)
        return apply_watermark(df, self.uri.params.get("watermark"))


@dataclass
class FileSink:
    """Generic file-format sink: batch or streaming per DataFrame kind.

    Unlike the reference's parquet sink (default ``errorifexists`` with
    swallowed exceptions, reference ``core/.../ParquetDataFrameIO.scala:11-18``),
    the default mode is ``overwrite`` and errors propagate; ``?mode=``
    overrides. No ``repartition(1)``: single-file output is opt-in via
    ``?single-file=true`` because it serializes the write at scale.

    Data-layout params for scale-aware writes:

    - ``?partition-by=a,b`` — hive-style partitioned output (readers
      prune partitions on those columns)
    - ``?sort-by=a,b`` — sortWithinPartitions before writing, so column
      stores get clustered row groups (min/max skipping)
    """

    uri: ParsedUri
    fmt: str
    default_mode: str = "overwrite"
    default_options: dict[str, str] = field(default_factory=dict)

    def write(self, df: DataFrame) -> bool:
        opts = {**self.default_options, **reader_options(self.uri)}
        single = opts.pop("single-file", "false").lower() == "true"
        path = self.uri.path
        partition_by = [
            c for c in self.uri.params.get("partition-by", "").split(",") if c
        ]
        sort_by = [c for c in self.uri.params.get("sort-by", "").split(",") if c]
        if df.isStreaming:
            writer = df.writeStream.format(self.fmt).options(**opts)
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer = apply_trigger(writer, self.uri.params.get("trigger-interval"))
            writer.start(path)
            return True
        if single:
            df = df.coalesce(1)
        if sort_by:
            df = df.sortWithinPartitions(*sort_by)
        mode = self.uri.params.get("mode", self.default_mode)
        writer = df.write.mode(mode).options(**opts).format(self.fmt)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.save(path)
        return True
