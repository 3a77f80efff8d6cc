"""One key probe for the copy-on-write upserts (iceberg, hudi).

An upsert has to refuse duplicate or null incoming keys, find the
target files that hold an incoming key, and count the matched target
rows and the keys it will insert. :func:`probe_keys` answers all of it
with ONE Spark action: the incoming rows grouped by key (counting
duplicates, flagging nulls), left-joined to the target's
``(key, __file)`` pairs, collected as one row per matched target file
plus one row for the unmatched keys. The data is tiny; what an action
costs is its fixed planning, scheduling and py4j overhead.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class KeyProbe:
    matched: dict[str, int]  # target file -> its rows holding an incoming key
    unmatched: int  # incoming keys no target row holds (the inserts)

    @property
    def rows_matched(self) -> int:
        return sum(self.matched.values())

    def survivors(self, path: str) -> bool:
        """Whether matched file ``path`` keeps rows no incoming key
        replaces, by its parquet footer (a file without any needs no
        rewrite job)."""
        import pyarrow.parquet as pq

        return pq.ParquetFile(path).metadata.num_rows > self.matched[path]


def _any_null(fields: list[str]) -> Column:
    out = F.lit(False)
    for f in fields:
        out = out | F.col(f).isNull()
    return out


def check_unique_keys(df: DataFrame, fields: list[str], refusal: str) -> None:
    """Raise ``ValueError("<refusal>; first offender: <key>")`` when an
    incoming key repeats or has a null field (one Spark action)."""
    bad = (
        df.groupBy(*fields)
        .count()
        .filter((F.col("count") > 1) | _any_null(fields))
        .head(1)
    )
    if bad:
        raise ValueError(f"{refusal}; first offender: {bad[0][0]!r}")


def probe_keys(
    incoming: DataFrame,
    fields: list[str],
    refusal: str,
    target: DataFrame | None = None,
    key: Column | None = None,
) -> KeyProbe:
    """Locate ``incoming``'s keys in ``target`` in one Spark action.

    ``target`` carries the join key and ``__file``; ``None`` stands for
    a table with no live files. The join key is ``fields`` itself, or
    ``key`` (an expression over ``fields``, joined as ``__k``). Bad keys
    raise :func:`check_unique_keys`'s refusal; the offender query runs
    only then."""
    grouped = incoming.groupBy(*fields).agg(
        F.count(F.lit(1)).alias("__n")
    ).withColumn("__bad", (F.col("__n") > 1) | _any_null(fields))
    if target is None:
        per_file = grouped.withColumn("__file", F.lit(None).cast("string"))
    else:
        on = fields
        if key is not None:
            grouped, on = grouped.withColumn("__k", key), ["__k"]
        per_file = grouped.join(target, on, "left")
    rows = (
        per_file.groupBy("__file")
        .agg(
            F.count(F.lit(1)).alias("__rows"), F.max("__bad").alias("__bad")
        )
        .collect()
    )
    if any(r["__bad"] for r in rows):
        check_unique_keys(incoming, fields, refusal)
        raise ValueError(refusal)  # the input changed between the two reads
    matched = {r["__file"]: r["__rows"] for r in rows}
    return KeyProbe(matched, unmatched=matched.pop(None, 0))
