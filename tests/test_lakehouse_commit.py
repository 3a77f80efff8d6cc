"""The shared lakehouse substrate: one commit primitive
(``sources/commit.py``) under every delta/iceberg/hudi commit, and one
log-tail stream reader (``sources/logtail.py``) under the four
``-stream`` sources."""

from __future__ import annotations

import errno
import glob
import json
import os
import time
from pathlib import Path

import pytest
from pyspark.sql import Row

PACKAGE = Path(__file__).resolve().parent.parent / "spark_etl_cli_spark"


# --- one substrate --------------------------------------------------------


@pytest.mark.parametrize("needle", ["os.O_EXCL", "dataSource.register"])
def test_one_module_owns_each_substrate_primitive(needle):
    """Commit reservation and DataSource registration live in one
    module each; a second copy is the drift this guards against."""
    owners = sorted(
        str(p.relative_to(PACKAGE))
        for p in PACKAGE.rglob("*.py")
        if needle in p.read_text()
    )
    assert len(owners) <= 1, f"{needle} appears in {owners}"


def test_register_once_per_live_session():
    """Registration is per session and keyed by the session object, not
    by ``id()``: a session created after another was freed registers
    again even if CPython hands it the freed id."""
    from spark_etl_cli_spark.sources.deltastream import DeltaLiteStreamSource
    from spark_etl_cli_spark.sources.logtail import register_once

    class _Registry:
        def __init__(self):
            self.calls = []

        def register(self, cls):
            self.calls.append(cls.name())

    class _Session:
        def __init__(self):
            self.dataSource = _Registry()

    first = _Session()
    assert register_once(first, DeltaLiteStreamSource)
    assert not register_once(first, DeltaLiteStreamSource)
    assert first.dataSource.calls == ["deltalite-stream"]
    del first
    for _ in range(20):  # the freed id is usually reused at once
        fresh = _Session()
        assert register_once(fresh, DeltaLiteStreamSource)
        assert fresh.dataSource.calls == ["deltalite-stream"]
        del fresh


# --- commit primitive -----------------------------------------------------


def test_claim_publishes_whole_body_or_conflicts(tmp_path):
    from spark_etl_cli_spark.sources.commit import CommitConflict, claim

    slot = str(tmp_path / "00000000000000000000.json")
    claim(slot, '{"a": 1}\n')
    with pytest.raises(CommitConflict, match="00000000000000000000.json"):
        claim(slot, '{"b": 2}\n')
    assert Path(slot).read_text() == '{"a": 1}\n'
    assert os.listdir(tmp_path) == ["00000000000000000000.json"]


class _TornFile:
    """A file whose first write lands half its bytes and then fails,
    like a disk filling up (or a crash) in the middle of a commit."""

    def __init__(self, fh):
        self._fh = fh

    def write(self, data):
        self._fh.write(data[: len(data) // 2])
        self._fh.flush()
        raise OSError(errno.ENOSPC, "injected failure while writing commit")

    def close(self):
        self._fh.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self._fh.close()
        return False


def _torn_fdopen(real):
    def fdopen(fd, mode="r", *args, **kwargs):
        fh = real(fd, mode, *args, **kwargs)
        return _TornFile(fh) if "w" in mode else fh

    return fdopen


def _delta_ops():
    from spark_etl_cli_spark.sources.delta_lite import (
        read_delta_lite,
        write_delta_lite,
    )

    return (
        lambda spark, df, p: write_delta_lite(df, p, mode="append"),
        read_delta_lite,
        "_delta_log/*.json",
    )


def _iceberg_ops():
    from spark_etl_cli_spark.sources.iceberg_lite import (
        read_iceberg_lite,
        write_iceberg_lite,
    )

    return (
        lambda spark, df, p: write_iceberg_lite(df, p),
        read_iceberg_lite,
        "metadata/*.metadata.json",
    )


def _hudi_ops():
    from spark_etl_cli_spark.sources.hudi_lite import (
        read_hudi_lite,
        write_hudi_lite,
    )

    return (
        lambda spark, df, p: write_hudi_lite(df, p, mode="append"),
        read_hudi_lite,
        ".hoodie/*.commit",
    )


_OPS = {"delta": _delta_ops, "iceberg": _iceberg_ops, "hudi": _hudi_ops}


def _ids(df) -> list[int]:
    return sorted(r.id for r in df.select("id").collect())


@pytest.mark.parametrize("fmt", sorted(_OPS))
def test_commit_interrupted_mid_write_leaves_table_intact(
    spark, tmp_path, monkeypatch, fmt
):
    """A writer that fails while writing its commit body publishes
    nothing: the table still reads its previous snapshot, no log
    listing shows a partial or temp file, and the next write lands."""
    write, read, commits = _OPS[fmt]()
    path = str(tmp_path / fmt)
    write(spark, spark.createDataFrame([Row(id=1)]), path)
    log_dir = os.path.dirname(os.path.join(path, commits))
    before = sorted(glob.glob(os.path.join(path, commits)))

    with monkeypatch.context() as m:
        m.setattr(os, "fdopen", _torn_fdopen(os.fdopen))
        with pytest.raises(OSError, match="injected failure"):
            write(spark, spark.createDataFrame([Row(id=2)]), path)

    assert sorted(glob.glob(os.path.join(path, commits))) == before
    assert not [n for n in os.listdir(log_dir) if n.endswith(".tmp")]
    assert _ids(read(spark, path)) == [1]
    write(spark, spark.createDataFrame([Row(id=3)]), path)
    assert _ids(read(spark, path)) == [1, 3]


# --- iceberg: claim relative to the version read --------------------------


@pytest.mark.parametrize("stale_op", ["append", "delete"])
def test_iceberg_stale_writer_conflicts_instead_of_losing_commit(
    spark, tmp_path, monkeypatch, stale_op
):
    """Writer A loads v1; writer B appends id=2 as v2; A then commits.
    A's snapshot was built from v1, so publishing it would silently
    drop B's rows. A must raise the conflict naming the taken slot."""
    import spark_etl_cli_spark.sources.iceberg_lite as il
    from spark_etl_cli_spark.sources.commit import CommitConflict

    path = str(tmp_path / "ice")
    il.write_iceberg_lite(spark.createDataFrame([Row(id=1), Row(id=9)]), path)
    real = il._commit_metadata

    def b_commits_first(table_path, meta, base_version):
        monkeypatch.setattr(il, "_commit_metadata", real)
        il.write_iceberg_lite(spark.createDataFrame([Row(id=2)]), path)
        return real(table_path, meta, base_version)

    monkeypatch.setattr(il, "_commit_metadata", b_commits_first)
    with pytest.raises(CommitConflict, match=r"v2\.metadata\.json"):
        if stale_op == "append":
            il.write_iceberg_lite(spark.createDataFrame([Row(id=3)]), path)
        else:
            il.delete_iceberg_lite(spark, path, "id = 9")

    assert _ids(il.read_iceberg_lite(spark, path)) == [1, 2, 9]
    meta = il._load_metadata(path)
    assert meta.version == 2
    seqs = [s["sequence-number"] for s in meta["snapshots"]]
    assert seqs == sorted(set(seqs)), seqs
    # re-run against the new head: both commits survive
    il.write_iceberg_lite(spark.createDataFrame([Row(id=3)]), path)
    assert _ids(il.read_iceberg_lite(spark, path)) == [1, 2, 3, 9]


def test_iceberg_load_steps_past_stale_version_hint(spark, tmp_path):
    """The hint moves after the claim; a writer that died in between
    leaves it one behind, and the next writer must still see the
    newest version instead of conflicting forever."""
    import spark_etl_cli_spark.sources.iceberg_lite as il

    path = str(tmp_path / "ice")
    il.write_iceberg_lite(spark.createDataFrame([Row(id=1)]), path)
    il.write_iceberg_lite(spark.createDataFrame([Row(id=2)]), path)
    Path(path, "metadata", "version-hint.text").write_text("1")
    assert il._load_metadata(path).version == 2
    il.write_iceberg_lite(spark.createDataFrame([Row(id=3)]), path)
    assert _ids(il.read_iceberg_lite(spark, path)) == [1, 2, 3]


# --- delta: OPTIMIZE commits through the shared commit path ---------------


def test_delta_optimize_writes_checkpoint_on_interval(
    spark, tmp_path, monkeypatch
):
    import spark_etl_cli_spark.sources.delta_lite as dl

    monkeypatch.setattr(dl, "CHECKPOINT_INTERVAL", 4)
    table = str(tmp_path / "dlopt")
    for i in range(3):  # versions 0-2
        dl.write_delta_lite(
            spark.createDataFrame([Row(id=i)]), table, mode="append"
        )
    stats = dl.optimize_delta_lite(spark, table)  # version 3
    assert stats["files_removed"] == 3
    log = os.path.join(table, "_delta_log")
    assert os.path.exists(os.path.join(log, f"{3:020d}.checkpoint.parquet"))
    with open(os.path.join(log, "_last_checkpoint")) as fh:
        assert json.load(fh)["version"] == 3
    assert _ids(dl.read_delta_lite(spark, table)) == [0, 1, 2]


# --- delta: row ops claim relative to the version they replayed -----------


@pytest.mark.parametrize("row_op", ["delete", "upsert"])
def test_delta_row_op_refuses_stale_claim(
    spark, tmp_path, monkeypatch, row_op
):
    """A row op replays v0; a blind append lands as v1; the row op then
    commits. Claiming v2 would publish a rewrite built without the
    append's view of the table, so it must raise the conflict."""
    import spark_etl_cli_spark.sources.delta_lite as dl

    path = str(tmp_path / "dl")
    dl.write_delta_lite(
        spark.createDataFrame([Row(id=1, v=1), Row(id=9, v=9)]), path
    )
    real = dl._write_commit

    def append_lands_first(*args, **kwargs):
        monkeypatch.setattr(dl, "_write_commit", real)
        dl.write_delta_lite(
            spark.createDataFrame([Row(id=2, v=2)]), path, mode="append"
        )
        return real(*args, **kwargs)

    def run():
        if row_op == "delete":
            dl.delete_delta_lite(spark, path, "id = 9")
        else:
            dl.write_delta_lite(
                spark.createDataFrame([Row(id=9, v=90)]), path,
                mode="upsert", merge_key="id",
            )

    monkeypatch.setattr(dl, "_write_commit", append_lands_first)
    with pytest.raises(RuntimeError, match="concurrent commit conflict"):
        run()

    log = os.path.join(path, "_delta_log")
    assert sorted(f for f in os.listdir(log) if f.endswith(".json")) == [
        f"{0:020d}.json", f"{1:020d}.json"
    ]
    rows = {(r.id, r.v) for r in dl.read_delta_lite(spark, path).collect()}
    assert rows == {(1, 1), (2, 2), (9, 9)}
    # re-run against the new head: both commits survive
    run()
    rows = {(r.id, r.v) for r in dl.read_delta_lite(spark, path).collect()}
    assert rows == {(1, 1), (2, 2)} | ({(9, 90)} if row_op == "upsert" else set())


# --- log-tail stream readers: one rate-limit path -------------------------


@pytest.mark.parametrize("fmt", ["iceberg", "hudi"])
def test_stream_max_commits_per_batch_caps_tailing(spark, tmp_path, fmt):
    """?max-commits-per-batch=1 on iceberg-stream and hudi-stream: while
    tailing, each micro-batch covers at most one commit (the first
    batch after a start is uncapped by design). delta-stream's case
    lives in test_delta_row_ops."""
    from spark_etl_cli_spark.registry import resolve_source

    write, _read, _commits = _OPS[fmt]()
    path = str(tmp_path / "tbl")
    write(spark, spark.createDataFrame([Row(id=0, v=0.0)]), path)
    _, src = resolve_source(
        f"c+{fmt}-stream://{path}?max-commits-per-batch=1"
    )
    name = f"cap_{fmt}"
    q = (
        src.read(spark)
        .writeStream.format("memory")
        .queryName(name)
        .trigger(processingTime="500 milliseconds")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )

    def count() -> int:
        return spark.sql(f"select count(*) c from {name}").head()["c"]

    try:
        deadline = time.time() + 120
        while time.time() < deadline and count() < 1:
            time.sleep(0.5)
        for i in (1, 2, 3):
            write(spark, spark.createDataFrame([Row(id=i, v=float(i))]), path)
        while time.time() < deadline and count() < 4:
            time.sleep(0.5)
    finally:
        q.stop()
    assert count() == 4
    sizes = [
        p["numInputRows"] for p in q.recentProgress if p["numInputRows"] > 0
    ]
    # the three tailed commits arrived one per batch
    assert sizes[1:] == [1, 1, 1], sizes


def test_stream_offsets_keep_their_json_shape():
    """Checkpointed offsets from before the shared reader still parse:
    each format keeps its own one-field offset document."""
    from spark_etl_cli_spark.sources.cdfstream import _CdfStreamReader
    from spark_etl_cli_spark.sources.deltastream import _DeltaLiteStreamReader
    from spark_etl_cli_spark.sources.hudistream import _HudiStreamReader
    from spark_etl_cli_spark.sources.icebergstream import _IcebergStreamReader

    opts = {"path": "/nonexistent-table"}
    assert _DeltaLiteStreamReader(opts).initialOffset() == {"version": -1}
    assert _CdfStreamReader(
        {**opts, "startingversion": "3"}
    ).initialOffset() == {"version": 2}
    assert _IcebergStreamReader(opts).initialOffset() == {"snapshot": -1}
    assert _HudiStreamReader(opts).initialOffset() == {"instant": 0}
    assert _DeltaLiteStreamReader(opts).latestOffset() == {"version": -1}
