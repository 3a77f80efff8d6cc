"""The fused key probe under the iceberg and hudi copy-on-write
upserts (``sources/keyprobe.py``), the pyarrow-written empty hudi slice,
and the per-context classpath probe cache."""

from __future__ import annotations

import gc
import glob
import json
import os
import weakref
from contextlib import contextmanager
from datetime import date, datetime
from decimal import Decimal
from types import SimpleNamespace

import pytest

# --- action counts --------------------------------------------------------


@contextmanager
def _counted_actions(spark, monkeypatch):
    """Record every outermost DataFrame collect/count/head and
    DataFrameWriter parquet/save call (head -> collect counts once)."""
    probe = spark.range(1)
    calls: list[str] = []
    depth = [0]
    with monkeypatch.context() as m:
        for cls, names in (
            (type(probe), ("collect", "count", "head")),
            (type(probe.write), ("parquet", "save")),
        ):
            for name in names:
                real = getattr(cls, name)

                def counted(self, *a, _real=real, _name=name, **k):
                    if depth[0] == 0:
                        calls.append(_name)
                    depth[0] += 1
                    try:
                        return _real(self, *a, **k)
                    finally:
                        depth[0] -= 1

                m.setattr(cls, name, counted)
        yield calls


def test_iceberg_upsert_action_counts(spark, tmp_path, monkeypatch):
    """Create path: one write. Into an existing unpartitioned table:
    the key probe, the rewrite of the affected file, the incoming
    write."""
    from spark_etl_cli_spark.sources.iceberg_lite import (
        read_iceberg_lite,
        upsert_iceberg_lite,
    )

    table = str(tmp_path / "ice")
    first = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 3.0)], "id long, v double"
    ).coalesce(1)
    with _counted_actions(spark, monkeypatch) as calls:
        stats = upsert_iceberg_lite(first, table, on="id")
    assert calls == ["parquet"]
    assert stats["rows_inserted"] == 3

    incoming = spark.createDataFrame(
        [(2, 20.0), (9, 9.0)], "id long, v double"
    )
    with _counted_actions(spark, monkeypatch) as calls:
        stats = upsert_iceberg_lite(incoming, table, on="id")
    assert calls == ["collect", "parquet", "parquet"]
    assert stats == {
        "files_rewritten": 1,
        "files_added": stats["files_added"],
        "rows_updated": 1,
        "rows_inserted": 1,
    }
    got = {(r.id, r.v) for r in read_iceberg_lite(spark, table).collect()}
    assert got == {(1, 1.0), (2, 20.0), (3, 3.0), (9, 9.0)}


def test_hudi_cow_upsert_action_counts(spark, tmp_path, monkeypatch):
    from spark_etl_cli_spark.sources.hudi_lite import (
        read_hudi_lite,
        write_hudi_lite,
    )

    table = str(tmp_path / "hudi")
    write_hudi_lite(
        spark.createDataFrame(
            [(1, "a"), (2, "a"), (3, "a")], "id long, v string"
        ).coalesce(1),
        table,
    )
    incoming = spark.createDataFrame([(2, "b"), (9, "b")], "id long, v string")
    with _counted_actions(spark, monkeypatch) as calls:
        write_hudi_lite(incoming, table, mode="upsert", record_key="id")
    assert calls == ["collect", "parquet", "parquet"]
    got = {(r.id, r.v) for r in read_hudi_lite(spark, table).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "a"), (9, "b")}


@pytest.mark.parametrize("fmt", ["iceberg", "hudi"])
def test_upsert_replacing_whole_files_runs_no_rewrite(
    spark, tmp_path, monkeypatch, fmt
):
    """When every row of each matched file holds an incoming key the
    probe's counts say so: no rewrite job, just the incoming write."""
    from spark_etl_cli_spark.sources.hudi_lite import (
        read_hudi_lite,
        write_hudi_lite,
    )
    from spark_etl_cli_spark.sources.iceberg_lite import (
        read_iceberg_lite,
        upsert_iceberg_lite,
    )

    def upsert(df, table):
        if fmt == "iceberg":
            return upsert_iceberg_lite(df, table, on="id")
        return write_hudi_lite(df, table, mode="upsert", record_key="id")

    read = read_iceberg_lite if fmt == "iceberg" else read_hudi_lite
    table = str(tmp_path / fmt)
    ddl = "id long, v string"
    upsert(spark.createDataFrame([(1, "a"), (2, "a")], ddl).coalesce(1), table)
    upsert(spark.createDataFrame([(5, "a")], ddl), table)
    incoming = spark.createDataFrame([(1, "b"), (2, "b"), (3, "b")], ddl)
    with _counted_actions(spark, monkeypatch) as calls:
        stats = upsert(incoming, table)
    assert calls == ["collect", "parquet"]
    if fmt == "iceberg":
        assert (stats["files_rewritten"], stats["rows_updated"]) == (1, 2)
        assert stats["rows_inserted"] == 1
    got = {(r.id, r.v) for r in read(spark, table).collect()}
    assert got == {(1, "b"), (2, "b"), (3, "b"), (5, "a")}


# --- the refusal keeps its message ----------------------------------------


@pytest.mark.parametrize(
    "rows, offender",
    [([(1, 10.0), (1, 11.0)], "1"), ([(None, 10.0), (5, 5.0)], "None")],
    ids=["duplicate", "null"],
)
def test_iceberg_upsert_refuses_bad_keys(spark, tmp_path, rows, offender):
    from spark_etl_cli_spark.sources.iceberg_lite import (
        read_iceberg_lite,
        upsert_iceberg_lite,
        write_iceberg_lite,
    )

    table = str(tmp_path / "ice")
    write_iceberg_lite(
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, v double"),
        table,
    )
    before = sorted(glob.glob(os.path.join(table, "metadata", "*.json")))
    with pytest.raises(ValueError) as err:
        upsert_iceberg_lite(
            spark.createDataFrame(rows, "id long, v double"), table, on="id"
        )
    assert str(err.value) == (
        "iceberg upsert: incoming 'id' values must be unique and "
        f"non-null; first offender: {offender}"
    )
    after = sorted(glob.glob(os.path.join(table, "metadata", "*.json")))
    assert after == before
    got = {(r.id, r.v) for r in read_iceberg_lite(spark, table).collect()}
    assert got == {(1, 1.0), (2, 2.0)}


_HUDI_BAD = {
    ("id", "duplicate"): ([(1, 1, "x"), (1, 1, "y")], "1"),
    ("id", "null"): ([(None, 1, "x"), (5, 1, "y")], "None"),
    ("k1,k2", "duplicate"): ([("a", 1, "x"), ("a", 1, "y")], "'a'"),
    ("k1,k2", "null"): ([("a", None, "x"), ("b", 2, "y")], "'a'"),
}


@pytest.mark.parametrize("record_key, case", sorted(_HUDI_BAD))
def test_hudi_upsert_refuses_bad_keys(spark, tmp_path, record_key, case):
    from spark_etl_cli_spark.sources.hudi_lite import (
        read_hudi_lite,
        write_hudi_lite,
    )

    rows, offender = _HUDI_BAD[(record_key, case)]
    ddl = (
        "id long, k2 long, v string"
        if record_key == "id"
        else "k1 string, k2 long, v string"
    )
    first = [(1, 1, "v"), (2, 2, "v")] if record_key == "id" else [
        ("a", 1, "v"), ("b", 2, "v")
    ]
    table = str(tmp_path / "hudi")
    write_hudi_lite(
        spark.createDataFrame(first, ddl), table,
        mode="upsert", record_key=record_key,
    )
    timeline = sorted(os.listdir(os.path.join(table, ".hoodie")))
    with pytest.raises(ValueError) as err:
        write_hudi_lite(
            spark.createDataFrame(rows, ddl), table,
            mode="upsert", record_key=record_key,
        )
    assert str(err.value) == (
        f"hudi_lite upsert: incoming {record_key!r} values must be "
        "unique and non-null (no precombine field is emulated); "
        f"first offender: {offender}"
    )
    assert sorted(os.listdir(os.path.join(table, ".hoodie"))) == timeline
    assert read_hudi_lite(spark, table).count() == 2


# --- the empty slice of a fully replaced file group -----------------------

_TYPED = (
    "id long, s string, d decimal(12,2), dt date, ts timestamp, "
    "st struct<a:int,b:string>, arr array<long>"
)


def _typed_rows(ids, tag):
    return [
        (
            i, f"{tag}{i}", Decimal(f"{i}.25"), date(2024, 1, i + 1),
            datetime(2024, 1, i + 1, 12, 30), (i, f"{tag}-{i}"), [i, i + 1],
        )
        for i in ids
    ]


def _spark_empty_slice(spark):
    """The Spark-job empty slice writer the pyarrow one replaced."""
    import shutil

    def write(schema, path):
        tmp = path + ".spark"
        spark.createDataFrame([], schema).coalesce(1).write.parquet(tmp)
        (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
        shutil.move(part, path)
        shutil.rmtree(tmp)

    return write


def _commits(table):
    return sorted(glob.glob(os.path.join(table, ".hoodie", "*.commit")))


def _upsert_replacing_a_group(spark, table):
    """Two file groups (ids 0-1, ids 2-3); the upsert replaces every
    key of the first and one key of the second, and inserts id 4."""
    from spark_etl_cli_spark.sources.hudi_lite import write_hudi_lite

    for ids in ((0, 1), (2, 3)):
        write_hudi_lite(
            spark.createDataFrame(_typed_rows(ids, "old"), _TYPED).coalesce(1),
            table, mode="upsert", record_key="id",
        )
    write_hudi_lite(
        spark.createDataFrame(_typed_rows((0, 1, 2, 4), "new"), _TYPED),
        table, mode="upsert", record_key="id",
    )


def test_hudi_empty_slice_parity(spark, tmp_path, monkeypatch):
    import pyarrow.parquet as pq

    import spark_etl_cli_spark.sources.hudi_lite as hl

    sc = spark.sparkContext
    jobs: dict[str, list[int]] = {}

    def watched(writer, name):
        def write(schema, path):
            group = f"empty-slice-{name}"
            sc.setJobGroup(group, "hudi empty slice")
            try:
                writer(schema, path)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            jobs.setdefault(name, []).extend(
                sc.statusTracker().getJobIdsForGroup(group)
            )

        return write

    tables = {}
    for name, writer in (
        ("arrow", hl._write_empty_slice),
        ("spark", _spark_empty_slice(spark)),
    ):
        tables[name] = str(tmp_path / name)
        with monkeypatch.context() as m:
            m.setattr(hl, "_write_empty_slice", watched(writer, name))
            _upsert_replacing_a_group(spark, tables[name])
    # one empty slice each; only the Spark writer starts a job for it
    assert set(jobs) == {"arrow", "spark"}
    assert jobs["arrow"] == []
    assert jobs["spark"]

    def last_commit_files(table):
        with open(_commits(table)[-1]) as fh:
            stats = json.load(fh)["partitionToWriteStats"][""]
        return [os.path.join(table, st["path"]) for st in stats]

    def schema_of(path):
        return spark.read.parquet(path).schema

    files = last_commit_files(tables["arrow"])
    empty = [p for p in files if pq.ParquetFile(p).metadata.num_rows == 0]
    assert len(empty) == 1
    non_empty = [p for p in files if p not in empty]
    (reference,) = [
        p for p in last_commit_files(tables["spark"])
        if pq.ParquetFile(p).metadata.num_rows == 0
    ]
    # the empty slice keeps the replaced group's fileId in its name
    with open(_commits(tables["arrow"])[0]) as fh:
        (group,) = json.load(fh)["partitionToWriteStats"][""]
    assert os.path.basename(empty[0]).startswith(group["fileId"] + "_")
    for other in non_empty + [reference]:
        assert schema_of(empty[0]) == schema_of(other)

    def reads(table):
        instants = [os.path.basename(p).split(".")[0] for p in _commits(table)]
        out = {"snapshot": hl.read_hudi_lite(spark, table)}
        for ts in instants:
            out[f"as-of {ts}"] = hl.read_hudi_lite(spark, table, as_of=ts)
            out[f"since {ts}"] = hl.read_hudi_incremental(spark, table, ts)
        return {k: v.orderBy("id").collect() for k, v in out.items()}

    got, want = reads(tables["arrow"]), reads(tables["spark"])
    assert got == want
    assert [r.s for r in got["snapshot"]] == [
        "new0", "new1", "new2", "old3", "new4"
    ]


# --- classpath probes -----------------------------------------------------


class _Context:
    """Stands in for a SparkContext: hashable and weakly referenceable."""


def test_classpath_probes_once_per_live_context():
    """Each class is probed once per SparkContext, misses included; a
    new context probes again, and a dropped one is not kept alive."""
    from spark_etl_cli_spark.sources.optional import _jvm_class_exists

    asked: list[str] = []

    def for_name(fqcn):
        asked.append(fqcn)
        if fqcn != "present.Cls":
            raise RuntimeError("ClassNotFoundException")

    def session():
        jvm = SimpleNamespace(
            java=SimpleNamespace(
                lang=SimpleNamespace(Class=SimpleNamespace(forName=for_name))
            )
        )
        return SimpleNamespace(sparkContext=_Context(), _jvm=jvm)

    first = session()
    for _ in range(3):
        assert _jvm_class_exists(first, "present.Cls")
        assert not _jvm_class_exists(first, "absent.Cls")
    assert asked == ["present.Cls", "absent.Cls"]

    second = session()
    assert not _jvm_class_exists(second, "absent.Cls")
    assert asked == ["present.Cls", "absent.Cls", "absent.Cls"]

    context = weakref.ref(first.sparkContext)
    del first
    gc.collect()
    assert context() is None
