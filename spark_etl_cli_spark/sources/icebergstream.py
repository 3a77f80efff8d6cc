"""``iceberg-stream://`` — incremental Iceberg reads, engine-free.

Micro-batch streaming over an Iceberg table's snapshot history (the
shape of real Iceberg's incremental/CDC read): an offset is the last
fully-processed SNAPSHOT ID; each batch reads the data files ADDED by
newer snapshots (manifest entries with status=1), decoded from the
avro manifests by avro_lite and parsed executor-side. Mirrors the
arrowipc/avrostream Python-DataSource pattern: the driver touches only
metadata (snapshot ids, file names + one schema), rows flow through
Arrow batches on executors.

Bounded-state by construction: the offset is one integer; per-batch
work is proportional to the files the producer actually added.
Snapshots that change existing rows (operation=overwrite/delete, e.g.
a copy-on-write DELETE) are refused loudly — their ADDED files re-list
surviving rows, so streaming them would double-count; pass
``?skip-overwrite-snapshots=true`` to drop such snapshots whole (the
same knob real Iceberg's incremental read exposes). ``replace``
snapshots (compaction) are always skipped: the row set is unchanged.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.datasource import DataSource
from pyspark.sql.types import StructType

from spark_etl_cli_spark.sources.logtail import (
    FilePart,
    LogTailReader,
    register_once,
    require_path,
)

_FORMAT_NAME = "iceberglite-stream"


class _IcebergStreamReader(LogTailReader):
    offset_key = "snapshot"

    def __init__(self, options: dict) -> None:
        super().__init__(options)
        self.skip_overwrites = str(
            options.get("skip-overwrite-snapshots", "")
        ).lower() in ("1", "true", "yes")

    def commit_ids(self) -> list[int]:
        from spark_etl_cli_spark.sources.iceberg_lite import _load_metadata

        try:
            meta = _load_metadata(self.path)
        except FileNotFoundError:
            return []
        return sorted(s["snapshot-id"] for s in meta.get("snapshots") or [])

    def files_between(self, lo: int, hi: int) -> list[FilePart]:
        from spark_etl_cli_spark.sources.iceberg_lite import (
            _load_metadata,
            _localize,
            _manifest_entries,
        )

        files: set[str] = set()
        for snap in _load_metadata(self.path).get("snapshots") or []:
            sid = snap["snapshot-id"]
            if not (lo < sid <= hi):
                continue
            op = (snap.get("summary") or {}).get("operation")
            if op == "replace":
                # compaction/rewrite snapshots (compact_iceberg_lite,
                # real Iceberg's rewrite_data_files) re-add existing
                # rows in new files — streaming them would double-count.
                # Same skip real Iceberg's incremental read applies.
                continue
            if op in ("overwrite", "delete"):
                # row set CHANGED: the added files re-list surviving
                # rows of rewritten files. Never stream them silently.
                if self.skip_overwrites:
                    continue
                raise ValueError(
                    f"iceberg-stream: snapshot {sid} of {self.path} is an "
                    f"{op} (rows updated/deleted); streaming its re-added "
                    "files would double-count surviving rows. Pass "
                    "?skip-overwrite-snapshots=true to skip such snapshots "
                    "(their inserts are skipped too), or use batch "
                    "iceberg:// reads"
                )
            for e in _manifest_entries(self.path, snap):
                if e.get("status") != 1:  # only files ADDED by this snap
                    continue
                dfile = e.get("data_file") or {}
                if (dfile.get("content") or 0) != 0:
                    continue  # delete files are not streamed
                if e.get("snapshot_id") not in (None, sid):
                    continue  # carried entry re-listed by a later manifest
                files.add(_localize(dfile["file_path"], self.path))
        return [FilePart(f) for f in sorted(files)]


class IcebergLiteStreamSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return _FORMAT_NAME

    def schema(self) -> StructType:
        from spark_etl_cli_spark.sources.iceberg_lite import (
            _load_metadata,
            _schema_to_spark,
        )

        return _schema_to_spark(_load_metadata(require_path(self.options)))

    def streamReader(self, schema: StructType) -> _IcebergStreamReader:
        return _IcebergStreamReader(dict(self.options))


def ensure_registered(spark: SparkSession) -> None:
    register_once(spark, IcebergLiteStreamSource)
