"""Jar-less ``avro-stream://`` READS: a Python DataSource stream reader
over an append-only directory of Avro container files, decoding with
the from-scratch codec in ``sources/avro_lite.py``.

Mirrors the Arrow IPC stream source (``sources/arrowipc.py``, the
repo's reference use of Spark 4's Python DataSource API): an offset is
the SET of files fully processed — container files are atomic units
once their final sync block lands — so the reader is robust to part
names that don't sort in arrival order (the avro_lite batch writer
names parts by uuid). Reference behavior target:
``AvroFileDataFrameSource.scala:9-20`` (spark-avro streaming read).

Scale: one task per new file per micro-batch; decode runs on
executors; the driver touches only file NAMES (offsets) and one header
(schema inference). Files could further split at sync markers if a
producer ever writes giant single files.
"""

from __future__ import annotations

import glob as _glob
import os
from typing import Iterator, Sequence

from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from spark_etl_cli_spark.sources.logtail import (
    FilePart,
    register_once,
    require_path,
)

_FORMAT_NAME = "avrolite"


def _list_avro_files(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(
            _glob.glob(os.path.join(path, "**", "*.avro"), recursive=True)
        )
    return [path] if os.path.exists(path) else []


class _AvroLiteStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict) -> None:
        self.path = require_path(options)

    def initialOffset(self) -> dict:
        return {"files": []}

    def latestOffset(self) -> dict:
        # offsets store ROOT-RELATIVE paths (not basenames): the glob is
        # recursive, so a partitioned layout (part=x/f.avro) must not
        # alias same-named files across subdirs or silently drop them
        return {
            "files": [
                os.path.relpath(f, self.path)
                for f in _list_avro_files(self.path)
            ]
        }

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        new = sorted(set(end.get("files", [])) - set(start.get("files", [])))
        parts = []
        for name in new:
            full = os.path.join(self.path, name)
            if not os.path.exists(full):
                # an offset-listed file vanishing between latestOffset
                # and planning is data loss — fail loudly, don't skip
                raise FileNotFoundError(
                    f"avrolite stream: offset lists {name!r} but it no "
                    f"longer exists under {self.path!r}"
                )
            parts.append(FilePart(full))
        return parts or [FilePart("")]

    def read(self, partition: FilePart) -> Iterator[tuple]:
        if not partition.file:
            return
        from spark_etl_cli_spark.sources.avro_lite import read_container

        with open(partition.file, "rb") as fh:
            schema, records = read_container(fh.read())
        names = [f["name"] for f in schema["fields"]]
        for rec in records:
            yield tuple(rec.get(n) for n in names)

    def commit(self, end: dict) -> None:
        return None


class AvroLiteDataSource(DataSource):
    """``spark.readStream.format("avrolite").option("path", dir)``."""

    @classmethod
    def name(cls) -> str:
        return _FORMAT_NAME

    def schema(self) -> StructType:
        from spark_etl_cli_spark.sources.avro_lite import (
            _header_span,
            avro_to_spark_type,
            read_container,
        )

        path = require_path(self.options)
        # NOTE: an explicit user schema arrives via readStream.schema()
        # (parsed driver-side in files.py) — this hook then never runs.
        # It executes in a session-less Python worker, so it can only
        # infer from an existing file's header.
        files = _list_avro_files(path)
        if not files:
            raise FileNotFoundError(
                f"no .avro files under {path!r} — write one first or pass "
                "an explicit ?schema="
            )
        with open(files[0], "rb") as fh:
            head = fh.read()
        avro_schema, _ = read_container(head[: _header_span(head)])
        return avro_to_spark_type(avro_schema)

    def streamReader(self, schema: StructType) -> _AvroLiteStreamReader:
        return _AvroLiteStreamReader(dict(self.options))


def ensure_registered(spark: SparkSession) -> None:
    register_once(spark, AvroLiteDataSource)
