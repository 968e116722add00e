"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

Each smoke run is a real run of ``run.py`` (one second of timed passes, at
least two passes) started from a temporary working directory, so the
package must be importable by Spark's Python workers from anywhere.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import workloads as W  # noqa: E402
from perfbench.run import quantile_beyond  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(tmp_path, workload: str, seed: int, trace: int) -> tuple[dict, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=tmp_path, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), proc.stdout


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    """One traced smoke run per workload, seed 5, plus a repeat of one.

    A traced run also runs the maintenance-cycle probe and checks the final
    table against its model, so these runs cover the write path too."""
    out = {w: _run(tmp_path_factory.mktemp(w), w, 5, 1) for w in W.WORKLOADS}
    out["repeat"] = _run(tmp_path_factory.mktemp("repeat"), "scan_planning", 5, 1)
    return out


def test_pass_order_is_seeded():
    a = W.pass_order(W.SCAN_PLANNING, 3, 1)
    assert a == W.pass_order(W.SCAN_PLANNING, 3, 1)
    assert sorted(a) == sorted(W.SCAN_PLANNING)
    assert a != W.pass_order(W.SCAN_PLANNING, 4, 1)


def test_generated_tables_are_fixed_and_fixture_shaped():
    import pyarrow as pa

    from iceberg_benchmark_poc_spark.core.io import TABLES
    from perfbench.gen import make_tables, row_counts

    a, b = make_tables(0.01), make_tables(0.01)
    assert sorted(a) == sorted(TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert {t: a[t].num_rows for t in row_counts(0.01)} == row_counts(0.01)
    assert a["events"].schema.field("ts").type == pa.timestamp("us")
    texts = a["documents"].column("text").to_pylist()
    assert len(set(texts)) == len(texts)  # near-duplicates, no exact copies
    assert all(10 <= len(t.split()) <= 100 for t in texts)


def test_quantile_beyond():
    xs = list(range(1, 31))
    assert quantile_beyond(xs, 10) == (20, pytest.approx(100 * 20 / 30))
    assert quantile_beyond(xs[:5], 10) == (5, 100.0)


def test_reset_peak_rss_forgets_earlier_peaks():
    from perfbench.tracing import peak_rss_mb, reset_peak_rss

    blob = b"x" * (256 * 2**20)
    del blob
    before = peak_rss_mb()
    reset_peak_rss()
    assert peak_rss_mb() < before - 200


def test_spec_and_untraced_metric_names(tmp_path):
    assert SPEC["command"] == ["python3", "perfbench/run.py"]
    assert {w["name"] for w in SPEC["workloads"]} == set(W.WORKLOADS)
    res, out = _run(tmp_path, "scan_planning", 5, 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())
    assert "host {" in out and "quartiles" in out
    also = out.split("also measured: ", 1)[1].splitlines()[0]
    assert all(f"{k}=" in also for k in ("pass_s", "pass_cpu_s", "query_geomean_s"))


@pytest.mark.parametrize("workload", W.WORKLOADS)
def test_traced_smoke_run(traced, workload):
    res, out = traced[workload]
    assert res["correct"] and res["failed"] == 0, out
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert "where the time goes" in out and "tracing overhead" in out


def test_same_seed_same_counts(traced):
    a, b = traced["scan_planning"][0]["metrics"], traced["repeat"][0]["metrics"]
    for name in ("build_jobs", "core.io.load_table_jobs", "exec_jobs", "table_writes.bytes_written_mb"):
        assert a[name]["value"] == b[name]["value"], name


def test_bare_directory_fails_without_result(tmp_path):
    """Without the engine package the run exits non-zero and prints no result."""
    os.makedirs(tmp_path / "perfbench")
    for f in os.listdir(os.path.join(ROOT, "perfbench")):
        if f.endswith(".py"):
            with open(os.path.join(ROOT, "perfbench", f)) as src:
                (tmp_path / "perfbench" / f).write_text(src.read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "scan_planning", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
