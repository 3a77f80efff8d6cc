"""Shared substrate of the package's Python DataSources.

:func:`register_once` registers every Python DataSource of the package
(the four lakehouse ``-stream`` readers, ``avrostream`` and
``arrowipc``) with a session exactly once.

:class:`LogTailReader` is the micro-batch reader behind
``delta-stream://`` (plain and change feed), ``iceberg-stream://`` and
``hudi-stream://``: an offset is the last fully-processed commit id
(delta version, iceberg snapshot id, hudi instant), and each batch
reads the parquet files the commits in ``(start, end]`` added. The
driver touches only the log; decoding runs executor-side through
Arrow batches. A format supplies two hooks — :meth:`commit_ids` and
:meth:`files_between` — and everything else (path check, rate limit,
position bookkeeping, the empty partition, ``read``) lives here.
"""

from __future__ import annotations

import weakref
from dataclasses import dataclass
from typing import Callable, Iterator, Sequence

from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

# sessions are held weakly: keyed by id(spark), a new session could
# inherit a freed one's id (CPython reuses them) and skip registration
_registered: weakref.WeakKeyDictionary[SparkSession, set[str]] = (
    weakref.WeakKeyDictionary()
)


def register_once(spark: SparkSession, cls: type[DataSource]) -> bool:
    """Register ``cls`` with ``spark`` (registration is per session)
    unless already done; True when this call registered it."""
    names = _registered.setdefault(spark, set())
    if cls.name() in names:
        return False
    spark.dataSource.register(cls)
    names.add(cls.name())
    return True


def require_path(options) -> str:
    path = options.get("path")
    if not path:
        raise ValueError("this data source requires a path option")
    return path


@dataclass
class FilePart(InputPartition):
    """One data file of a micro-batch ("" = the empty partition).
    ``fix`` is a picklable per-file Arrow table fix-up run on the
    worker (restore partition columns, append change columns, ...)."""

    file: str
    fix: Callable | None = None


class LogTailReader(DataSourceStreamReader):
    offset_key: str  # the offset JSON's one field
    start = -1  # offset before the first commit

    def __init__(self, options: dict) -> None:
        self.path = require_path(options)
        # steady-state backlog control: at most N commits per
        # micro-batch while TAILING, counted by position in the sorted
        # commit list (ids are monotone, not always dense). The first
        # micro-batch after a (re)start is uncapped — Spark asks for
        # latestOffset before the reader learns its position, and
        # returning an offset behind a restart's checkpoint would
        # rewind the stream — so the cap binds from the second batch.
        self.max_commits = int(
            options.get("max-commits-per-batch")
            or options.get("maxcommitsperbatch")
            or 0
        )
        self._pos: int | None = None

    def commit_ids(self) -> list[int]:
        """Every committed id of the table, ascending."""
        raise NotImplementedError

    def files_between(self, lo: int, hi: int) -> list[FilePart]:
        """The files the commits in ``(lo, hi]`` added."""
        raise NotImplementedError

    def initialOffset(self) -> dict:
        return {self.offset_key: self.start}

    def latestOffset(self) -> dict:
        ids = self.commit_ids()
        if self.max_commits and self._pos is not None:
            ahead = [i for i in ids if i > self._pos][: self.max_commits]
            return {self.offset_key: ahead[-1] if ahead else self._pos}
        return {self.offset_key: ids[-1] if ids else self.start}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        lo = int(start.get(self.offset_key, self.start))
        hi = int(end.get(self.offset_key, self.start))
        self._pos = max(lo, hi, self.start if self._pos is None else self._pos)
        parts = self.files_between(lo, hi) if hi > lo else []
        return parts or [FilePart("")]

    def read(self, partition: FilePart) -> Iterator:
        if not partition.file:
            return
        import pyarrow.parquet as pq

        table = pq.read_table(partition.file)
        if partition.fix is not None:
            table = partition.fix(table)
        for batch in table.to_batches():
            if batch.num_rows:
                yield batch

    def commit(self, end: dict) -> None:
        return None
