"""The benchmark's workloads: their ops, inputs and output checks.

An op is one timed unit a user would wait for: one registered query
built and written in full to Spark's ``noop`` sink, or one
``Pipeline.run``. Each workload runs an untimed warm pass whose
outputs are checked, then timed passes over the same ops.
"""

from __future__ import annotations

import random
import urllib.parse
from dataclasses import dataclass
from pathlib import Path

import datagen
from tracing import NullTracer

# Subset of the relational, tpch_extra and subqueries modules (the SQL
# surface a ``sql://`` transform hands to Catalyst), sized so that one
# warm pass takes about four seconds on two cores.
SQL_CORE = [
    "q01_pricing_summary",
    "q11_rollup",
    "q21_set_ops",
    "q24_json_extraction",
    "q82_full_outer_reconciliation",
    "q99_exact_median",
    "q121_recursive_hierarchy",
    "q122_lateral_topn",
]

# One query per heavy-tail family: graph rounds with checkpoints,
# candidate-pair generation, an Arrow text stage on Python workers,
# and a stateful stream drain.
OPERATOR_TAIL = [
    "q136_triangle_count",
    "q35_jaccard_pairs",
    "q145_cms_heavy_hitters",
    "q54_stream_stateful",
]

QUERY_SF = 0.01
# The query tables are the same for every ``--seed`` (the seed sets the
# op order), so seed-to-seed spread is run-to-run noise, not data.
TABLE_SEED = 0
ETL_BATCHES = 2
ETL_ORDERS = 1000


@dataclass
class Op:
    name: str
    batch: int = 0
    kind: str = ""


class QueryWorkload:
    """Registered queries over generated tables, in a seeded order."""

    def __init__(self, names: list[str], work: Path, seed: int):
        self.names = names
        self.seed = seed
        self.data = work / "tables"

    def prepare(self) -> None:
        datagen.write_tables(self.data, TABLE_SEED, QUERY_SF)

    def start(self, spark) -> None:
        import __spark_entry__ as entry

        self.queries, self.oracles = entry.queries(), entry.oracle_sql()

    def ops(self, pass_no: int) -> list[Op]:
        order = list(self.names)
        random.Random(f"{self.seed}:{pass_no}").shuffle(order)
        return [Op(n) for n in order]

    def run_op(self, spark, op: Op, pass_no: int, tracer) -> None:
        with tracer.span("plans.build", op.name):
            df = self.queries[op.name](spark, str(self.data))
        if tracer.forces_plan:
            with tracer.span("spark.plan", op.name):
                df._jdf.queryExecution().executedPlan()  # noqa: SLF001
        with tracer.span("spark.exec", op.name):
            df.write.format("noop").mode("overwrite").save()

    def warm_and_check(self, spark) -> list[str]:
        """Run every op once, untimed, and compare with its oracle."""
        import duckdb

        con = duckdb.connect()
        for t in datagen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        failed = []
        for op in self.ops(0):
            try:
                df = self.queries[op.name](spark, str(self.data))
                cols, rows = df.columns, [tuple(r) for r in df.collect()]
                if op.name in self.oracles:
                    res = con.execute(self.oracles[op.name])
                    ocols = [d[0] for d in res.description]
                    problems = compare(cols, rows, ocols, res.fetchall())
                else:
                    # rows-only queries (no SQL oracle exists)
                    problems = [] if rows else ["no rows"]
            except Exception as e:  # an op that raises counts as failed
                problems = [f"raised {type(e).__name__}: {e}"]
            if problems:
                failed.append(f"{op.name}: {'; '.join(problems)}")
        con.close()
        return failed

    def check_pass(self, spark, pass_no: int) -> list[str]:
        return []  # timed passes write to the noop sink; pass 0 was checked

    def lake_stats(self, passes: list[int]) -> tuple[int, int, int]:
        return 0, 0, 0


def compare(cols, rows, ocols, orows) -> list[str]:
    """Order-insensitive multiset comparison, as scripts/check_oracles.py does."""
    from check_oracles import row_multiset

    problems = []
    if sorted(cols) != sorted(ocols):
        problems.append(f"cols {sorted(cols)} != {sorted(ocols)}")
    elif len(rows) != len(orows):
        problems.append(f"row count {len(rows)} != {len(orows)}")
    elif row_multiset(cols, rows, None) != row_multiset(ocols, orows, None):
        problems.append("values differ")
    elif not rows:
        problems.append("0 rows on both engines (vacuous)")
    return problems


# --- pipeline workload -------------------------------------------------

ORDER_DDL = (
    "order_id BIGINT, day STRING, customer STRUCT<id: BIGINT, region: STRING>, "
    "items ARRAY<STRUCT<sku: STRING, qty: INT, price: DECIMAL(10,2)>>"
)
AGG_SQL = (
    "SELECT concat(day, '|', customer_region) AS dk, day, "
    "customer_region AS region, count(*) AS n_lines, "
    "CAST(sum(items_qty) AS BIGINT) AS qty, "
    "CAST(sum(items_qty * items_price * 100) AS BIGINT) AS revenue_cents "
    "FROM lines GROUP BY day, customer_region"
)
REPORT_SQL = (
    "SELECT items_sku AS sku, count(*) AS n_lines, "
    "CAST(sum(items_qty) AS BIGINT) AS qty, "
    "CAST(sum(items_qty * items_price * 100) AS BIGINT) AS revenue_cents "
    "FROM lines GROUP BY items_sku"
)
AGG_COLS = "dk, day, region, n_lines, qty, revenue_cents"


def _q(s: str) -> str:
    return urllib.parse.quote(s, safe="")


class EtlWorkload:
    """Ingest → cross-check → report pipelines over landing batches."""

    def __init__(self, work: Path, seed: int):
        self.seed = seed
        self.landing = work / "landing"
        self.lakes = work / "lakes"

    def prepare(self) -> None:
        self.batches = datagen.etl_batches(self.seed, ETL_BATCHES, ETL_ORDERS)
        for b, batch in enumerate(self.batches):
            datagen.write_batch(self.landing / f"batch-{b}.json", batch)
        self.expected = datagen.etl_expected(self.batches)

    def start(self, spark) -> None:
        from spark_etl_cli_spark.pipeline import Pipeline

        self.Pipeline = Pipeline

    def lake(self, pass_no: int) -> Path:
        return self.lakes / f"pass-{pass_no}"

    def ops(self, pass_no: int) -> list[Op]:
        return [
            Op(f"b{b}.{kind}", b, kind)
            for b in range(len(self.batches))
            for kind in ("ingest", "check", "report")
        ]

    def uris(self, op: Op, lake: Path) -> tuple[list[str], list[str], list[str]]:
        if op.kind == "ingest":
            src = self.landing / f"batch-{op.batch}.json"
            return (
                [f"orders+json://{src}?schema={_q(ORDER_DDL)}"],
                [
                    "orders+lines+flatten-explode://",
                    f"lines+agg+sql://{_q(AGG_SQL)}",
                ],
                [
                    f"lines+delta://{lake}/lines?mode=append",
                    f"agg+iceberg://{lake}/agg_ice?mode=upsert&merge-key=dk",
                    f"agg+hudi://{lake}/agg_hudi?mode=upsert&record-key=dk",
                ],
            )
        if op.kind == "check":
            return (
                [f"ice+iceberg://{lake}/agg_ice", f"hud+hudi://{lake}/agg_hudi"],
                [
                    f"ice+icep+sql://{_q(f'SELECT {AGG_COLS} FROM ice')}",
                    f"hud+hudp+sql://{_q(f'SELECT {AGG_COLS} FROM hud')}",
                    "icep+diffs+diff://hudp?id=dk&handleDifferences=filter",
                ],
                [f"diffs+parquet://{lake}/diff?mode=overwrite"],
            )
        return (
            [f"lines+delta://{lake}/lines"],
            [f"lines+rep+sql://{_q(REPORT_SQL)}"],
            [f"rep+parquet://{lake}/report?mode=overwrite"],
        )

    def run_op(self, spark, op: Op, pass_no: int, tracer) -> None:
        srcs, xforms, sinks = self.uris(op, self.lake(pass_no))
        with tracer.span("registry.resolve", op.name):
            pipe = self.Pipeline.from_uris(srcs, xforms, sinks)
        with tracer.span("pipeline.run", op.name):
            pipe.run(spark)

    def warm_and_check(self, spark) -> list[str]:
        failed = []
        for op in self.ops(0):
            try:
                self.run_op(spark, op, 0, NullTracer())
            except Exception as e:  # an op that raises counts as failed
                failed.append(f"{op.name}: raised {type(e).__name__}: {e}")
        return failed + self.check_pass(spark, 0)

    def check_pass(self, spark, pass_no: int) -> list[str]:
        """Compare the lake a pass wrote with the generator's totals."""
        from spark_etl_cli_spark import registry

        lake = self.lake(pass_no)

        def read(uri: str):
            return registry.resolve_source(uri)[1].read(spark)

        exp = self.expected
        problems = []
        try:
            n_lines = read(f"delta://{lake}/lines").count()
            if n_lines != exp["lines"]:
                problems.append(f"delta lines {n_lines} != {exp['lines']}")
            for uri in (f"iceberg://{lake}/agg_ice", f"hudi://{lake}/agg_hudi"):
                got = {
                    r.dk: (r.n_lines, r.qty, r.revenue_cents)
                    for r in read(uri).select("dk", "n_lines", "qty", "revenue_cents").collect()
                }
                if got != exp["keys"]:
                    problems.append(f"{uri.split('://')[0]} table != expected per-key totals")
            n_diff = read(f"parquet://{lake}/diff").count()
            if n_diff:
                problems.append(f"iceberg/hudi diff has {n_diff} rows")
            rep = {
                r.sku: (r.n_lines, r.qty, r.revenue_cents)
                for r in read(f"parquet://{lake}/report").collect()
            }
            if rep != exp["report"]:
                problems.append("report != expected per-sku sums")
        except Exception as e:  # unreadable output is a failed check
            problems.append(f"check raised {type(e).__name__}: {e}")
        return [f"lake {lake.name}: {p}" for p in problems]

    def lake_stats(self, passes: list[int]) -> tuple[int, int, int]:
        """(bytes, files, lines ingested) over the lakes of ``passes``."""
        size = files = 0
        for p in passes:
            for f in self.lake(p).rglob("*"):
                if f.is_file():
                    size += f.stat().st_size
                    files += 1
        return size, files, self.expected["lines"] * len(passes)
