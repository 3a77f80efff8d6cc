"""``hudi-stream://`` — incremental Hudi reads, engine-free.

Micro-batch streaming over a Hudi table's timeline (the shape of real
Hudi's incremental query): an offset is the last fully-processed
INSTANT timestamp; each batch reads the base files of newer
PURE-INSERT instants (commits/deltacommits whose write stats name only
brand-new file groups and no log files). Mirrors the deltastream /
icebergstream Python-DataSource pattern — the driver touches only
timeline JSON (instant ids, file names, one schema), rows flow through
Arrow batches on executors.

Row-changing instants are never streamed silently: a replacecommit
(clustering / insert_overwrite / COW DELETE), a log-file write (MOR
update/delete), or a commit re-listing an EXISTING file group (COW
upsert rewrite, MOR compaction) would double-count or drop rows. They
raise with guidance; ``?skip-change-commits=true`` skips such instants
whole — the same contract the delta-lite stream reader exposes as
``skipChangeCommits``.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession
from pyspark.sql.datasource import DataSource
from pyspark.sql.types import StructType

from spark_etl_cli_spark.sources.logtail import (
    FilePart,
    LogTailReader,
    register_once,
    require_path,
)

_FORMAT_NAME = "hudilite-stream"


def _drop_meta_columns(table):
    """The payload the user wrote: base files without hoodie meta columns."""
    drop = [n for n in table.schema.names if n.startswith("_hoodie_")]
    return table.drop_columns(drop) if drop else table


def _table_schema(path: str) -> StructType:
    """Spark schema from the NEWEST base file's parquet footer, hoodie
    meta columns dropped (the payload the user wrote)."""
    from pyspark.sql.pandas.types import from_arrow_schema

    import pyarrow.parquet as pq

    from spark_etl_cli_spark.sources.hudi_lite import (
        _completed_instants,
        _live_file_slices,
    )

    instants = _completed_instants(path)
    groups = _live_file_slices(path, instants)
    bases = sorted(
        ent["base"] for ent in groups.values() if ent["base"]
    )
    if not bases:
        raise ValueError(
            f"hudi-stream: table {path} has no base files to derive a "
            "schema from"
        )
    arrow = pq.read_schema(bases[-1])
    keep = [n for n in arrow.names if not n.startswith("_hoodie_")]
    return StructType(
        [
            f
            for f in from_arrow_schema(arrow).fields
            if f.name in keep
        ]
    )


class _HudiStreamReader(LogTailReader):
    offset_key = "instant"
    start = 0

    def __init__(self, options: dict) -> None:
        super().__init__(options)
        # Python DataSource option keys arrive LOWERCASED
        self.skip_changes = str(
            options.get("skip-change-commits", "")
        ).lower() in ("1", "true", "yes")

    def commit_ids(self) -> list[int]:
        from spark_etl_cli_spark.sources.hudi_lite import (
            _completed_instants,
        )

        return sorted(int(i[0]) for i in _completed_instants(self.path))

    def files_between(self, lo: int, hi: int) -> list[FilePart]:
        from spark_etl_cli_spark.sources.hudi_lite import (
            _completed_instants,
        )

        files: set[str] = set()
        seen_fids: set[str] = set()
        for ts, action, ipath in _completed_instants(self.path):
            with open(ipath) as fh:
                commit = json.load(fh)
            stats = [
                (part, st)
                for part, sts in (
                    commit.get("partitionToWriteStats") or {}
                ).items()
                for st in sts
            ]
            fids = {st.get("fileId") or st["path"] for _p, st in stats}
            in_range = lo < int(ts) <= hi
            if in_range:
                has_logs = any(
                    ".log." in os.path.basename(st["path"])
                    for _p, st in stats
                )
                rewrites = fids & seen_fids
                if action == "replacecommit" or has_logs or rewrites:
                    if not self.skip_changes:
                        kind = (
                            "replacecommit"
                            if action == "replacecommit"
                            else "log-file write"
                            if has_logs
                            else f"rewrite of file groups {sorted(rewrites)[:3]}"
                        )
                        raise ValueError(
                            f"hudi-stream: instant {ts} of {self.path} is a "
                            f"{kind} (rows updated/deleted/re-listed); "
                            "streaming it would double-count or drop rows. "
                            "Pass ?skip-change-commits=true to skip such "
                            "instants whole, or use batch hudi:// reads"
                        )
                else:
                    files.update(
                        os.path.join(self.path, st["path"])
                        for _p, st in stats
                        if st["path"]
                    )
            seen_fids |= fids
        return [FilePart(f, _drop_meta_columns) for f in sorted(files)]


class HudiLiteStreamSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return _FORMAT_NAME

    def schema(self) -> StructType:
        return _table_schema(require_path(self.options))

    def streamReader(self, schema: StructType) -> _HudiStreamReader:
        return _HudiStreamReader(dict(self.options))


def ensure_registered(spark: SparkSession) -> None:
    register_once(spark, HudiLiteStreamSource)
