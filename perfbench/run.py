"""Run one benchmark workload and print its metrics as one JSON line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload operator_tail --seed 1 --seconds 15 --trace 0

A run

1. starts a SparkSession the way every CLI invocation does and records
   how long that took (``setup_s``);
2. writes the workload's inputs from ``--seed`` into a private temp dir
   under the checkout (removed at exit);
3. runs every op once, untimed, and checks its output (the warm pass),
   then runs one more untimed pass while the JIT settles;
4. runs whole passes over the ops, in the seed's order, until
   ``--seconds`` have passed (the timed section);
5. prints ``{"correct", "attempted", "failed", "metrics"}`` as the last
   stdout line: end-to-end metrics with ``--trace 0``, per-layer
   metrics from a traced timed section with ``--trace 1``.

See perfbench/README.md for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass, field
from pathlib import Path

import host
import tracing
import workloads as W

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("sql_core", "operator_tail", "etl_pipeline")
CORES = 2
DRIVER_MEM = "2g"
# the schemes the pipeline workload reads and writes
READ_SCHEMES = ("json", "delta", "iceberg", "hudi")
WRITE_SCHEMES = ("delta", "iceberg", "hudi", "parquet")


def spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def hermetic_env(work: Path, trace: bool) -> dict[str, str]:
    """Point every scratch path of Spark and the package into ``work``.

    Returns the Spark confs to pass to ``get_spark``. Must run before
    ``spark_etl_cli_spark.session`` is imported (it reads env at import).
    """
    for sub in ("tmp", "local", "ckpt", "warehouse", "derby", "events"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    # Python workers import the package too; they inherit PYTHONPATH
    # from the driver JVM, which inherits it from this process.
    pp = os.environ.get("PYTHONPATH")
    os.environ.update({
        "PYTHONPATH": f"{ROOT}{os.pathsep}{pp}" if pp else str(ROOT),
        "TMPDIR": str(work / "tmp"),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "SPARK_GRAFT_STREAM_CKPT": str(work / "ckpt"),
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # the JVM spark-submit runs to build the driver command line
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
    })
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path[:0] = [str(ROOT), str(ROOT / "scripts")]
    from spark_etl_cli_spark.session import BASE_CONFS

    java_opts = " ".join([
        BASE_CONFS["spark.driver.extraJavaOptions"],
        "-XX:-UsePerfData",
        # JIT compiler threads then live as long as the JVM, so
        # host.cpu_seconds can subtract their time from a pass
        "-XX:-UseDynamicNumberOfCompilerThreads",
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dderby.system.home={work / 'derby'}",
    ])
    confs = {
        "spark.driver.extraJavaOptions": java_opts,
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.local.dir": str(work / "local"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work / 'events'}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return confs


def start_session(confs: dict[str, str]):
    """What a CLI invocation pays before its first step: the session
    and the query and connector registries."""
    from spark_etl_cli_spark import registry
    from spark_etl_cli_spark.plans import all_queries  # noqa: F401
    from spark_etl_cli_spark.session import get_spark

    registry.known_schemes()
    return get_spark(app_name="perfbench", extra_confs=confs)


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def make_workload(name: str, work: Path, seed: int):
    if name == "sql_core":
        return W.QueryWorkload(W.SQL_CORE, work, seed)
    if name == "operator_tail":
        return W.QueryWorkload(W.OPERATOR_TAIL, work, seed)
    return W.EtlWorkload(work, seed)


@dataclass
class Timed:
    """What the timed section measured."""

    lat: list[tuple[str, float]]  # (op, seconds) for every timed op
    pass_walls: list[float]
    pass_cpu: list[float]  # CPU seconds of this process tree per pass
    t0: float  # epoch bounds, for matching spans, stages and progress
    t1: float

    @property
    def passes(self) -> int:
        return len(self.pass_walls)


class Runner:
    """Passes over a workload's ops; an op that raises is recorded as a
    failure and the pass goes on."""

    def __init__(self, wl, spark):
        self.wl, self.spark = wl, spark
        self.next_pass = 1  # pass 0 is the warm pass
        self.attempted = 0
        self.failures: list[str] = []

    def one_pass(self, tracer) -> list[tuple[str, float]]:
        p = self.next_pass
        self.next_pass += 1
        lat = []
        for op in self.wl.ops(p):
            self.attempted += 1
            t = time.perf_counter()
            try:
                with tracer.span("op", op.name):
                    self.wl.run_op(self.spark, op, p, tracer)
            except Exception as e:  # counted, reported, and the pass goes on
                self.failures.append(f"{op.name} (pass {p}): {type(e).__name__}: {e}")
            lat.append((op.name, time.perf_counter() - t))
        return lat

    def timed(self, seconds: float, tracer) -> Timed:
        """Whole passes until ``seconds`` have elapsed (at least one)."""
        lat, walls, cpu, t0 = [], [], [], time.time()
        while True:
            t, c = time.perf_counter(), host.cpu_seconds(os.getpid())
            lat += self.one_pass(tracer)
            walls.append(time.perf_counter() - t)
            cpu.append(host.cpu_seconds(os.getpid()) - c)
            if sum(walls) >= seconds:
                return Timed(lat, walls, cpu, t0, time.time())


@dataclass
class Outcome:
    setup_s: float
    warm_s: float = 0.0
    timed: Timed | None = None
    failures: list[str] = field(default_factory=list)
    attempted: int = 0
    steal_frac: float = 0.0
    canary: tuple[float, float] = (0.0, 0.0)
    peak_rss_mb: float = 0.0
    # traced runs only
    tracer: tracing.Tracer | None = None
    ref_lat: list[tuple[str, float]] = field(default_factory=list)
    traced_passes: list[int] = field(default_factory=list)


def run_workload(spark, wl, seconds: float, trace: bool, out: Outcome) -> None:
    t = time.perf_counter()
    out.failures += wl.warm_and_check(spark)
    runner = Runner(wl, spark)
    null = tracing.NullTracer()
    # The JIT keeps compiling well into the second pass (its ops ran
    # ~1.3x slower than later ones), so a second untimed pass lets it
    # settle before anything is timed.
    runner.one_pass(null)
    out.warm_s = time.perf_counter() - t

    canary_before, cpu0 = host.canary(), host.cpu_times()
    if trace:
        # untraced passes just before and after the traced ones are the
        # reference for the tracing overhead (bracketing cancels drift)
        ref_before = runner.one_pass(null)
        out.tracer = tracing.Tracer(spark)
        undo = instrument_pipeline(out.tracer)
        first = runner.next_pass
        try:
            out.timed = runner.timed(seconds, out.tracer)
        finally:
            undo()
        out.tracer.close()
        out.traced_passes = list(range(first, runner.next_pass))
        out.ref_lat = ref_before + runner.one_pass(null)
    else:
        out.timed = runner.timed(seconds, null)
    out.steal_frac = host.steal_frac(cpu0, host.cpu_times())
    out.canary = (canary_before, host.canary())

    out.failures += runner.failures + wl.check_pass(spark, runner.next_pass - 1)
    out.attempted = len(wl.ops(0)) + runner.attempted
    out.peak_rss_mb = host.peak_rss_mb(os.getpid())


def instrument_pipeline(tracer):
    """Wrap the pipeline step classes' ``run`` in spans; returns an undo."""
    from spark_etl_cli_spark import pipeline as P

    saved = []
    for cls, layer in ((P.SourceStep, "source"), (P.TransformStep, "transform"),
                       (P.SinkStep, "sink")):
        orig = cls.run

        def run(self, spark, *a, _orig=orig, _layer=layer, **kw):
            scheme = self.uri.base_scheme if self.uri else "identity"
            with tracer.span(f"{_layer}.{scheme}"):
                return _orig(self, spark, *a, **kw)

        saved.append((cls, orig))
        cls.run = run

    def undo():
        for cls, orig in saved:
            cls.run = orig

    return undo


def end_to_end(out: Outcome) -> dict:
    return {
        "setup_s": out.setup_s,
        "cpu_s": statistics.median(out.timed.pass_cpu),
        "peak_rss_mb": out.peak_rss_mb,
    }


def latency(lat: list[tuple[str, float]], pass_walls: list[float]) -> dict:
    """Pass time and op latency, shown in every run; a traced run reports
    them per layer, from its untraced reference passes."""
    return {
        "run.wall_s": statistics.median(pass_walls),
        "run.op_p50_s": statistics.median(s for _, s in lat),
    }


def per_layer(out: Outcome, wl, stages, executions) -> dict:
    """Layer metrics per timed pass, from the spans, stages, streaming
    progress and SQL executions inside the traced timed section."""
    tm, tracer = out.timed, out.tracer
    spans = tracer.in_window(tm.t0, tm.t1)
    tot = lambda name: sum(s.seconds for s in spans if s.name == name)  # noqa: E731
    jobs = lambda name: sum(s.jobs for s in spans if s.name == name)  # noqa: E731
    build, plan, exe = tot("plans.build"), tot("spark.plan"), tot("spark.exec")
    pipe = [s for s in spans if s.name == "pipeline.run"]
    sm = tracing.stage_metrics(stages, tm.t0, tm.t1)
    scans = sum(
        e["scans"] for e in executions
        if any(s.start <= e["time"] <= s.end for s in pipe)
    )
    lake_bytes, lake_files, rows = wl.lake_stats(out.traced_passes)
    ref_wall = sum(s for _, s in out.ref_lat) / 2
    totals = {
        "registry.resolve_s": tot("registry.resolve"),
        "pipeline.self_s": sum(tracer.self_seconds(s) for s in pipe),
        "plans.build_s": build,
        "plans.build_jobs": jobs("plans.build"),
        "spark.plan_s": plan,
        "spark.exec_s": exe,
        "spark.exec_jobs": jobs("spark.exec"),
        "spark.stages": sm["stages"],
        "spark.tasks": sm["tasks"],
        "spark.task_s": sm["task_s"],
        "spark.gc_s": sm["gc_s"],
        "spark.shuffle_write_mb": sm["shuffle_write_mb"],
        "spark.shuffle_read_mb": sm["shuffle_read_mb"],
        "spark.spill_mb": sm["spill_mb"],
        "spark.input_mb": sm["input_mb"],
        "operators.transform_s": sm["py_task_s"] + sum(
            s.seconds for s in spans if s.name.startswith("transform.")
        ),
        "operators.py_sent_mb": sm["py_sent_mb"],
        "operators.py_recv_mb": sm["py_recv_mb"],
        "sources.lake_mb": lake_bytes / (1024.0 * 1024.0),
        "sources.lake_files": lake_files,
    }
    for k, v in tracing.streaming_metrics(tracer.progress, tm.t0, tm.t1).items():
        totals[f"streaming.{k}"] = v
    for scheme in READ_SCHEMES:
        totals[f"sources.read_s.{scheme}"] = tot(f"source.{scheme}")
    for scheme in WRITE_SCHEMES:
        totals[f"sources.write_s.{scheme}"] = tot(f"sink.{scheme}")
        totals[f"sources.write_jobs.{scheme}"] = jobs(f"sink.{scheme}")
    metrics = {k: v / tm.passes for k, v in totals.items()}
    metrics.update({
        "session.start_s": out.setup_s,
        "session.warm_s": out.warm_s,
        "pipeline.source_scans": scans / len(pipe) if pipe else 0.0,
        "plans.build_share": build / (build + plan + exe) if build + plan + exe else 0.0,
        "spark.stage_skew": sm["stage_skew"],
        "sources.bytes_per_row": lake_bytes / rows if rows else 0.0,
        "host.steal_frac": out.steal_frac,
        "host.canary_s": sum(out.canary) / 2,
        "trace.overhead_frac": statistics.median(tm.pass_walls) / ref_wall - 1.0,
        "failed_ops_frac": len(out.failures) / out.attempted,
        # from the untraced reference passes
        **latency(out.ref_lat, [ref_wall]),
    })
    return metrics


def format_metrics(values: dict, trace: bool) -> dict:
    """Every metric BENCHMARK.json lists for this mode, with its unit."""
    listed = spec()["per_layer" if trace else "end_to_end"]
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in listed}


def main(argv: list[str] | None = None) -> int:
    t_start = time.time() - host.process_age()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    if not (ROOT / "spark_etl_cli_spark" / "__init__.py").is_file():
        print(f"perfbench: no spark_etl_cli_spark package under {ROOT}", file=sys.stderr)
        return 2

    scratch = ROOT / ".perfbench_tmp"
    scratch.mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix="run-", dir=scratch))
    spark = None
    try:
        confs = hermetic_env(work, trace)
        spark = start_session(confs)
        out = Outcome(setup_s=time.time() - t_start)
        wl = make_workload(args.workload, work, args.seed)
        wl.prepare()
        wl.start(spark)
        run_workload(spark, wl, args.seconds, trace, out)
        spark, stopping = None, spark
        stop_session(stopping)
        if trace:
            stages, executions = tracing.parse_event_log(work / "events")
            metrics = per_layer(out, wl, stages, executions)
        else:
            metrics = end_to_end(out)

        print(f"perfbench: {args.workload} seed={args.seed} "
              f"steal={out.steal_frac:.4f} canary_before={out.canary[0]:.4f}s "
              f"canary_after={out.canary[1]:.4f}s setup={out.setup_s:.2f}s "
              f"warm={out.warm_s:.2f}s passes="
              + ",".join(f"{w:.2f}" for w in out.timed.pass_walls) + " "
              + " ".join(f"{k}={v:.4f}" for k, v in
                         latency(out.timed.lat, out.timed.pass_walls).items()))
        for f in out.failures:
            print(f"perfbench: FAILED {f}")
        print(json.dumps({
            "correct": not out.failures,
            "attempted": out.attempted,
            "failed": len(out.failures),
            "metrics": format_metrics(metrics, trace),
        }))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            scratch.rmdir()
        except OSError:
            pass  # another run still uses it


if __name__ == "__main__":
    sys.exit(main())
