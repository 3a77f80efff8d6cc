"""``delta-stream://`` READS without delta-spark: a Python DataSource
micro-batch reader over the transaction log.

The offset is the last fully-processed delta VERSION; each batch reads
the parquet files ADDED by commits in (last, latest] — the same
additions-only contract as Spark's own file sources and the
iceberg-stream twin (sources/icebergstream.py). Removes/rewrites in a
commit are not retracted (stream additions, not CDC); deletion-vector
re-adds are rejected loudly rather than silently double-counting.

Driver touches only the JSON log (file names); parquet decoding runs
executor-side through Arrow batches. Partitioned tables are supported:
partition values ride the offset metadata and are restored as typed
constant columns worker-side (they are not in the data files).
Checkpoint files are irrelevant here — offsets advance
commit-by-commit from the JSON tail, which is exactly the part of the
log checkpoints compact away for BATCH readers.
"""

from __future__ import annotations

import json
import os
from functools import partial
from urllib.parse import unquote

from pyspark.sql import SparkSession
from pyspark.sql.datasource import DataSource
from pyspark.sql.types import StructType

from spark_etl_cli_spark.sources.logtail import (
    FilePart,
    LogTailReader,
    register_once,
    require_path,
)

_FORMAT_NAME = "deltalite-stream"


def _log_dir(path: str) -> str:
    return os.path.join(path, "_delta_log")


def _versions(path: str) -> list[int]:
    try:
        names = os.listdir(_log_dir(path))
    except FileNotFoundError:
        return []
    return sorted(
        int(f[:20])
        for f in names
        if f.endswith(".json") and f[:20].isdigit()
    )


def _read_commit(path: str, v: int) -> list[dict]:
    with open(os.path.join(_log_dir(path), f"{v:020d}.json")) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _latest_meta(path: str) -> dict | None:
    meta = None
    for v in _versions(path):
        for action in _read_commit(path, v):
            if "metaData" in action:
                meta = action["metaData"]
    return meta


class _DeltaLiteStreamReader(LogTailReader):
    offset_key = "version"

    def __init__(self, options: dict) -> None:
        super().__init__(options)
        # Spark hands Python data sources a lowercased option map
        self.skip_change_commits = str(
            options.get("skipchangecommits")
            or options.get("skipChangeCommits", "")
        ).lower() in ("1", "true", "yes")

    def commit_ids(self) -> list[int]:
        return _versions(self.path)

    def files_between(self, lo: int, hi: int) -> list[FilePart]:
        meta = _latest_meta(self.path) or {}
        part_cols = meta.get("partitionColumns") or []
        schema_json = meta.get("schemaString", "")
        entries: dict[str, str] = {}
        for v in _versions(self.path):
            if not (lo < v <= hi):
                continue
            actions = _read_commit(self.path, v)
            # a remove with dataChange=true means rows were UPDATED or
            # DELETED (overwrite / DELETE / MERGE), not just appended.
            # Streaming the commit's re-adds would re-deliver surviving
            # rows. Same contract as real Delta streaming: fail loudly,
            # or drop the WHOLE commit under skipChangeCommits.
            changed = any(
                a.get("remove") and a["remove"].get("dataChange") is not False
                for a in actions
            )
            if changed:
                if self.skip_change_commits:
                    continue
                raise ValueError(
                    f"delta-stream: version {v} of {self.path} updates or "
                    "deletes existing rows; streaming it would re-deliver "
                    "surviving rows. Pass ?skipChangeCommits=true to skip "
                    "such commits (inserts in them are skipped too), or "
                    "use batch delta:// reads"
                )
            for action in actions:
                add = action.get("add")
                if not add:
                    continue
                if add.get("dataChange") is False:
                    # compaction/optimize re-adds carry no new rows
                    # (protocol dataChange=false); delivering them
                    # would double-count — same skip real Delta
                    # streaming applies
                    continue
                if add.get("deletionVector"):
                    raise ValueError(
                        "delta-stream (jar-less) cannot stream a "
                        "deletion-vector re-add without double-counting; "
                        "use batch delta:// reads for DV tables"
                    )
                pv = add.get("partitionValues") or {}
                entries[os.path.join(self.path, unquote(add["path"]))] = (
                    json.dumps({c: pv.get(c) for c in part_cols})
                    if part_cols
                    else "{}"
                )
        # conform EVERY file to the declared schema: restores partition
        # columns, and fills null for columns a mergeSchema widening
        # added after this file was written
        return [
            FilePart(
                f,
                partial(
                    _with_partition_columns,
                    part_json=entries[f],
                    schema_json=schema_json,
                )
                if schema_json
                else None,
            )
            for f in sorted(entries)
        ]


def _with_partition_columns(table, part_json: str, schema_json: str):
    """Restore partition columns as typed constant arrays, in the
    table schema's declared column order (partition values live in the
    log, not the data files). Pure-python: runs in a session-less
    worker, so typing goes through pyspark.sql.types + pyarrow only."""
    import datetime as _dt

    import pyarrow as pa
    from pyspark.sql import types as T

    schema = T.StructType.fromJson(json.loads(schema_json))
    values = json.loads(part_json)
    pa_of = {
        T.LongType: pa.int64(),
        T.IntegerType: pa.int32(),
        T.ShortType: pa.int16(),
        T.ByteType: pa.int8(),
        T.StringType: pa.string(),
        T.DoubleType: pa.float64(),
        T.FloatType: pa.float32(),
        T.BooleanType: pa.bool_(),
        T.DateType: pa.date32(),
    }

    def typed(raw: str | None, dt):
        if raw is None:
            return None
        if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
            return int(raw)
        if isinstance(dt, (T.DoubleType, T.FloatType)):
            return float(raw)
        if isinstance(dt, T.BooleanType):
            return raw.lower() == "true"
        if isinstance(dt, T.DateType):
            return _dt.date.fromisoformat(raw)
        return raw

    n = table.num_rows
    cols, names = [], []
    for f in schema.fields:
        pa_type = next(
            (t for cls, t in pa_of.items() if isinstance(f.dataType, cls)),
            None,
        )
        if f.name in values:
            if pa_type is None:
                raise NotImplementedError(
                    f"delta-stream: partition column type {f.dataType} "
                    "unsupported jar-less; use batch delta:// reads"
                )
            cols.append(pa.array([typed(values[f.name], f.dataType)] * n, pa_type))
        elif f.name in table.column_names:
            cols.append(table.column(f.name))
        else:
            # file predates a mergeSchema widening: the column reads
            # null, exactly like the batch reader's schema-fill
            if pa_type is None:
                raise NotImplementedError(
                    f"delta-stream: widened column {f.name!r} of type "
                    f"{f.dataType} unsupported jar-less; use batch "
                    "delta:// reads"
                )
            cols.append(pa.nulls(n, pa_type))
        names.append(f.name)
    return pa.table(dict(zip(names, cols)))


class DeltaLiteStreamSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return _FORMAT_NAME

    def schema(self) -> StructType:
        # runs in a session-less Python worker: parse schemaString
        # (pure-python StructType.fromJson) from the latest metaData
        path = require_path(self.options)
        meta = _latest_meta(path)
        if meta is None:
            raise FileNotFoundError(
                f"no delta metaData found under {path!r} (checkpoint-only "
                "logs need the delta-spark jars for streaming)"
            )
        # partitioned tables stream too: partition values live in the
        # log, and read() restores them as typed constant columns
        return StructType.fromJson(json.loads(meta["schemaString"]))

    def streamReader(self, schema: StructType) -> _DeltaLiteStreamReader:
        return _DeltaLiteStreamReader(dict(self.options))


def ensure_registered(spark: SparkSession) -> None:
    register_once(spark, DeltaLiteStreamSource)
