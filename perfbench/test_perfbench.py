"""Self-tests of the benchmark (no Spark needed).

Run from the repo root:  python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT / "scripts")]

import datagen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _input_bytes(tmp: Path, seed: int) -> dict[str, bytes]:
    workloads.EtlWorkload(tmp, seed).prepare()
    workloads.QueryWorkload(workloads.OPERATOR_TAIL, tmp, seed).prepare()
    files = sorted(p for p in tmp.rglob("*") if p.is_file())
    return {str(p.relative_to(tmp)): p.read_bytes() for p in files}


def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path):
    a = _input_bytes(tmp_path / "a", 7)
    b = _input_bytes(tmp_path / "b", 7)
    c = _input_bytes(tmp_path / "c", 8)
    assert a == b
    assert a.keys() == c.keys()
    # the seed changes the landing batches and the query order; the
    # query tables are the same for every seed
    assert all(a[k] != c[k] for k in a if k.startswith("landing/"))
    assert all(a[k] == c[k] for k in a if k.startswith("tables/"))
    orders = [
        [op.name for op in workloads.QueryWorkload(workloads.SQL_CORE, tmp_path, s).ops(1)]
        for s in (7, 7, 8)
    ]
    assert orders[0] == orders[1] != orders[2]


def test_expected_totals_follow_upsert_and_append_semantics():
    batches = datagen.etl_batches(3, 2, 50)
    exp = datagen.etl_expected(batches)
    assert exp["lines"] == sum(len(o["items"]) for b in batches for o in b)
    # report sums every appended line; per-key values come from the
    # last batch that touched the key
    assert sum(v[0] for v in exp["report"].values()) == exp["lines"]
    last = datagen.etl_expected(batches[1:])["keys"]
    for dk, v in last.items():
        assert exp["keys"][dk] == v


def test_verifier_flags_perturbed_result():
    cols = ["k", "v"]
    rows = [(1, 0.5), (2, 1.25), (3, 2.0)]
    assert workloads.compare(cols, rows, ["v", "k"], [(2.0, 3), (0.5, 1), (1.25, 2)]) == []
    bad = [(1, 0.5), (2, 1.2500001), (3, 2.0)]
    assert workloads.compare(cols, bad, cols, rows)
    assert workloads.compare(cols, rows[:2], cols, rows)
    assert workloads.compare(["k", "w"], rows, cols, rows)
    assert workloads.compare(cols, [], cols, [])  # vacuous match is a failure


class _Tracer:
    progress: list = []

    def in_window(self, t0, t1):
        return []


def test_output_carries_every_listed_metric_and_unit():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    out = run.Outcome(
        setup_s=1.0, warm_s=2.0, attempted=4, peak_rss_mb=900.0,
        timed=run.Timed([("q", 0.5), ("r", 0.7)], [1.2], [2.5], 0.0, 1.0),
        tracer=_Tracer(), ref_lat=[("q", 0.4), ("r", 0.6)],
    )
    wl = workloads.QueryWorkload(workloads.OPERATOR_TAIL, Path("."), 1)
    e2e = run.end_to_end(out)
    layer = run.per_layer(out, wl, stages=[], executions=[])
    for trace, values in ((False, e2e), (True, layer)):
        listed = spec["per_layer" if trace else "end_to_end"]
        out_line = run.format_metrics(values, trace)
        assert list(out_line) == [m["name"] for m in listed]
        for m in listed:
            assert out_line[m["name"]]["unit"] == m["unit"]
            assert isinstance(out_line[m["name"]]["value"], float)
    # every per-layer metric the benchmark computes is listed, and back
    assert set(layer) == {m["name"] for m in spec["per_layer"]}
    assert set(e2e) == {m["name"] for m in spec["end_to_end"]}


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    p = subprocess.run(
        [*spec["command"], "--workload", "sql_core", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
