"""``delta-stream://…?readChangeFeed=true`` — a Change Data Feed
STREAM without delta-spark jars: a Python DataSource micro-batch
reader that delivers each commit's change records.

Same offset model as the plain deltalite stream (sources/
deltastream.py): the offset is the last fully-processed delta VERSION.
The difference is WHAT a commit yields — change records, not table
rows:

- commits carrying ``cdc`` actions (UPDATE / DELETE / MERGE wrote
  change files under ``_change_data/``) stream those files verbatim;
- other commits derive changes exactly like the batch
  ``read_delta_changes`` (sources/delta_lite.py): adds with
  dataChange=true are ``insert`` records, removes with dataChange=true
  are ``delete`` records read from the removed files (a vacuumed file
  raises loudly instead of silently dropping changes).

Output schema = table schema + ``_change_type`` / ``_commit_version``
/ ``_commit_timestamp`` — the same three columns real Delta's
``readChangeFeed`` streaming source appends, so a downstream
``?mode=merge`` / ``?mode=cdc`` delta sink can replicate the table.
Driver touches only the JSON log; parquet decoding runs executor-side
through Arrow. Exactly-once across restarts via the checkpointed
version offset (reference streaming surface: DeltaUriParser.scala
13-60; CDF itself is delta PROTOCOL.md "Add CDC File").
"""

from __future__ import annotations

import json
import os
from functools import partial
from urllib.parse import unquote

from pyspark.sql import SparkSession
from pyspark.sql.datasource import DataSource
from pyspark.sql.types import StructType

from spark_etl_cli_spark.sources.deltastream import (
    _latest_meta,
    _log_dir,
    _read_commit,
    _versions,
    _with_partition_columns,
)
from spark_etl_cli_spark.sources.logtail import (
    FilePart,
    LogTailReader,
    register_once,
    require_path,
)

_FORMAT_NAME = "deltalite-cdf-stream"

_CDC_COL = "_change_type"
_VER_COL = "_commit_version"
_TS_COL = "_commit_timestamp"


def _cdf_enabled(meta: dict | None) -> bool:
    cfg = (meta or {}).get("configuration") or {}
    return str(cfg.get("delta.enableChangeDataFeed", "")).lower() in (
        "true",
        "1",
    )


def _change_records(
    table,
    kind: str,
    version: int,
    ts_ms: int,
    part_json: str,
    schema_json: str,
):
    """One file's rows as change records: the table columns conformed
    to ``schema_json`` plus ``_change_type`` / ``_commit_version`` /
    ``_commit_timestamp``. ``kind`` is "cdc" (a change file carrying
    its own ``_change_type``), "insert" or "delete"."""
    import pyarrow as pa

    if kind == "cdc":
        # change file: table columns (possibly pre-widening) +
        # _change_type. Conform the data columns to the declared
        # schema, then re-attach the file's _change_type.
        change_type = table.column(_CDC_COL)
        base = table.drop_columns([_CDC_COL])
        base = _with_partition_columns(base, part_json, schema_json)
        table = base.append_column(_CDC_COL, change_type)
    else:
        table = _with_partition_columns(table, part_json, schema_json)
        table = table.append_column(
            _CDC_COL, pa.array([kind] * table.num_rows, pa.string())
        )
    n = table.num_rows
    table = table.append_column(
        _VER_COL, pa.array([version] * n, pa.int64())
    )
    return table.append_column(
        _TS_COL, pa.array([ts_ms * 1000] * n, pa.timestamp("us"))
    )


class _CdfStreamReader(LogTailReader):
    offset_key = "version"

    def __init__(self, options: dict) -> None:
        super().__init__(options)
        # Spark lowercases Python data source option keys
        sv = options.get("startingversion") or options.get(
            "startingVersion"
        )
        self.start = (int(sv) if sv is not None else 0) - 1

    def commit_ids(self) -> list[int]:
        return _versions(self.path)

    def files_between(self, lo: int, hi: int) -> list[FilePart]:
        meta = _latest_meta(self.path) or {}
        schema_json = meta.get("schemaString", "")
        parts: list[FilePart] = []

        def part(f: str, kind: str, v: int, ts_ms: int, pv: dict) -> None:
            parts.append(
                FilePart(
                    f,
                    partial(
                        _change_records,
                        kind=kind,
                        version=v,
                        ts_ms=ts_ms,
                        part_json=json.dumps(pv),
                        schema_json=schema_json,
                    ),
                )
            )

        for v in _versions(self.path):
            if not (lo < v <= hi):
                continue
            actions = _read_commit(self.path, v)
            ts_ms = next(
                (
                    a["commitInfo"].get("timestamp")
                    for a in actions
                    if "commitInfo" in a
                    and a["commitInfo"].get("timestamp") is not None
                ),
                None,
            )
            if ts_ms is None:
                ts_ms = int(
                    os.path.getmtime(
                        os.path.join(_log_dir(self.path), f"{v:020d}.json")
                    )
                    * 1000
                )
            cdc = [a["cdc"] for a in actions if "cdc" in a]
            if cdc:
                # the cdc files ARE the commit's change set; add/remove
                # actions in the same commit describe the table rewrite,
                # not additional changes (PROTOCOL.md "Add CDC File")
                for c in cdc:
                    f = os.path.join(self.path, unquote(c["path"]))
                    if not os.path.exists(f):
                        raise FileNotFoundError(
                            f"change data file vacuumed away: {f}"
                        )
                    part(f, "cdc", v, ts_ms, {})
                continue
            for a in actions:
                add = a.get("add")
                rem = a.get("remove")
                if add and add.get("dataChange", True):
                    if add.get("deletionVector"):
                        raise ValueError(
                            "CDF stream: deletion-vector re-add without "
                            "cdc actions — was the table written with "
                            "enableChangeDataFeed set? Use batch "
                            "readChangeFeed or rewrite with CDF on"
                        )
                    part(
                        os.path.join(self.path, unquote(add["path"])),
                        "insert",
                        v,
                        ts_ms,
                        add.get("partitionValues") or {},
                    )
                elif rem and rem.get("dataChange", True):
                    f = os.path.join(self.path, unquote(rem["path"]))
                    if not os.path.exists(f):
                        raise FileNotFoundError(
                            "CDF stream: removed data file vacuumed "
                            f"away, cannot derive deletes: {f}"
                        )
                    part(
                        f, "delete", v, ts_ms, rem.get("partitionValues") or {}
                    )
        return parts


class DeltaLiteCdfStreamSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return _FORMAT_NAME

    def schema(self) -> StructType:
        path = require_path(self.options)
        from pyspark.sql import types as T

        meta = _latest_meta(path)
        if meta is None:
            raise FileNotFoundError(
                f"no delta metaData found under {path!r}"
            )
        if not _cdf_enabled(meta):
            raise ValueError(
                f"table {path} does not have "
                "delta.enableChangeDataFeed=true; create it with "
                "?enableChangeDataFeed=true to stream changes"
            )
        base = T.StructType.fromJson(json.loads(meta["schemaString"]))
        return T.StructType(
            list(base.fields)
            + [
                T.StructField(_CDC_COL, T.StringType()),
                T.StructField(_VER_COL, T.LongType()),
                T.StructField(_TS_COL, T.TimestampType()),
            ]
        )

    def streamReader(self, schema: StructType) -> _CdfStreamReader:
        return _CdfStreamReader(dict(self.options))


def ensure_registered(spark: SparkSession) -> None:
    register_once(spark, DeltaLiteCdfStreamSource)
