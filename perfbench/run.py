#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload scan_planning --seed 1 --seconds 10 --trace 0

One process drives a single-client closed loop on ``local[<nproc>]``:

1. set-up, three times (the median is ``setup_s``): write the input
   tables, start the Spark session with ``core.session.get_spark`` and load
   every table once with ``core.io.load_table``;
2. warm-up: the correctness pass, every op once, each query collected and
   compared with its DuckDB oracle, then ``WARMUP_PASSES`` more;
3. timed passes while the next one should end within ``--seconds`` (at
   least ``MIN_TIMED_PASSES``);
4. with ``--trace 1``, timed passes alternate between traced and untraced,
   and the layer probes run after them (see ``workloads``).

Human-readable lines go to stdout first; the last line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. Everything the run writes stays under ``.perfbench/`` in the
checkout and is removed at exit, except the traced run's spans file.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import workloads as W  # noqa: E402
from perfbench.gen import write_tables  # noqa: E402
from perfbench.tracing import (  # noqa: E402
    EVENTLOG_CONF,
    Tracer,
    covered,
    descendants,
    eventlog_by_group,
    group_counts,
    job_group,
    peak_rss_mb,
    reset_peak_rss,
    steal_cpu_s,
    tree_cpu_s,
)
from tests.conftest import compare_query_to_oracle  # noqa: E402

#: set-up rounds; the first also starts the JVM, so the median of three is
#: a warm-JVM set-up
SETUP_ROUNDS = 3
#: untimed noop passes after the correctness pass. Measured on a 4-core
#: host (scan_planning, 14 passes in one session): the cold correctness pass
#: takes about 3.5x a later pass, the first two after it 1.5x and 1.15x,
#: and passes keep falling about 2% a pass after that (JIT compilation).
#: The metrics (set-up time, peak memory, jobs per pass) do not depend on
#: where the timed passes sit on that slope; the printed walls do
WARMUP_PASSES = 1
MIN_TIMED_PASSES = 2
#: a timed pass during which the hypervisor took more than this share of
#: the host's CPU time is not counted (unless no pass of its kind is left):
#: on the 4-core tuning host such steal episodes, up to 15% of the CPU for
#: tens of seconds, made a whole scan_planning run 65% slower
MAX_STEAL_SHARE = 0.05
TAIL_BEYOND = 10  # op_tail_s: highest percentile with this many samples beyond it


def quantile_beyond(values: list[float], beyond: int) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with ``beyond`` samples
    above it; the maximum (100th) when there are too few samples."""
    xs = sorted(values)
    if len(xs) <= beyond:
        return xs[-1], 100.0
    k = len(xs) - beyond - 1
    return xs[k], 100.0 * (k + 1) / len(xs)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def calibration_ms() -> float:
    """Fixed-work pure-Python probe (median of 5), for comparing hosts."""
    walls = []
    for _ in range(5):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc * 31 + i) % 1_000_003
        walls.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(walls)


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str, cpus: int) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.cpus = cpus
        self.tracer = Tracer(False)
        self.spark = None
        self.duck = None
        self.errors: list[str] = []
        self.attempted = 0
        self.op_seq = 0
        self.passes: list[dict] = []  # every pass: kind, wall, ops
        self.queries = {}
        self.names, self.sf = W.WORKLOADS[workload]
        self.conf = {
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # keep the JVM's temp files and perf data inside the run directory
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if trace:
            self.conf.update(EVENTLOG_CONF)
            self.conf["spark.eventLog.dir"] = os.path.join(work, "events")

    # -- set-up -------------------------------------------------------------

    def setup(self) -> list[float]:
        from iceberg_benchmark_poc_spark.core.io import TABLES, load_table
        from iceberg_benchmark_poc_spark.core.session import get_spark

        for d in ("local", "warehouse", "tmp", "events"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        walls, self.session_s = [], []
        for r in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            if self.spark is not None:
                self.spark.stop()
            self.sf_dir = os.path.join(self.work, f"inputs{r}")
            write_tables(self.sf_dir, self.sf)
            t1 = time.perf_counter()
            self.spark = get_spark(app_name=f"perfbench-{self.workload}", extra_conf=self.conf)
            self.spark.sparkContext.setLogLevel("ERROR")
            self.session_s.append(time.perf_counter() - t1)
            for t in TABLES:
                load_table(self.spark, self.sf_dir, t)
            walls.append(time.perf_counter() - t0)
            if r:
                shutil.rmtree(os.path.join(self.work, f"inputs{r - 1}"))
        self.sc = self.spark.sparkContext
        self.default_parallelism = self.sc.defaultParallelism
        # event-log times are epoch seconds, spans are perf_counter seconds
        self.clock_skew = time.time() - time.perf_counter()
        return walls

    # -- one op -------------------------------------------------------------

    def _op(self, name: str, build, execute, module: str) -> dict:
        """Run one op as build + execute under its own job groups."""
        op_id = f"op{self.op_seq}"
        self.op_seq += 1
        tr = self.tracer
        tr.op_id = op_id
        rec = {"op": name, "id": op_id, "module": module}
        t0 = time.perf_counter()
        with job_group(self.sc, f"{op_id}:build"), tr.span(f"{module}.build"):
            built = build()
        with job_group(self.sc, f"{op_id}:exec"), tr.span(f"{module}.exec"):
            rec["result"] = execute(built)
        rec["start"], rec["end"] = t0, time.perf_counter()
        rec["wall"] = rec["end"] - t0
        if tr.enabled:
            rec["build"] = group_counts(self.sc, f"{op_id}:build")
            rec["io"] = group_counts(self.sc, f"{op_id}:io")
            rec["exec"] = group_counts(self.sc, f"{op_id}:exec")
            rec["jobs"] = rec["build"][0] + rec["io"][0] + rec["exec"][0]
        else:
            st = self.sc.statusTracker()
            rec["jobs"] = sum(len(st.getJobIdsForGroup(f"{op_id}:{ph}")) for ph in ("build", "exec"))
        return rec

    def _read_op(self, name: str, check: bool) -> dict:
        q = self.queries[name]
        module = "queries." + q.fn.__module__.rsplit(".", 1)[1]

        def execute(df):
            if check:
                # the repo's oracle-parity rule, shared with its test suite:
                # column names, result types, row count and order-insensitive
                # values; raises on a mismatch
                compare_query_to_oracle(self.spark, self.duck, name, lambda spark, sf_dir: df, q.oracle)
            else:
                W.noop(df)

        return self._op(name, lambda: q.fn(self.spark, self.sf_dir), execute, module)

    # -- passes -------------------------------------------------------------

    def run_pass(self, kind: str, idx: int) -> dict:
        """One pass of the workload; ``kind`` is check, warmup, timed or
        probe (the traced run's maintenance cycle)."""
        ops = []
        t0, steal0, cpu0 = time.perf_counter(), steal_cpu_s(), tree_cpu_s()
        if kind != "probe":
            for name in W.pass_order(self.names, self.seed, idx):
                self.attempted += 1
                try:
                    ops.append(self._read_op(name, check=kind == "check"))
                except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
                    self.errors.append(f"{name}: {traceback.format_exc().strip().splitlines()[-1][:300]}")
        else:
            cycle = W.MaintenanceCycle(self.spark, self.table, self.tracer)
            for name in W.MaintenanceCycle.OPS:
                self.attempted += 1
                build, execute = cycle.op(name)
                try:
                    ops.append(self._op(name, build, execute, f"table_writes.{name}"))
                except Exception:  # noqa: BLE001
                    self.errors.append(f"{name}: {traceback.format_exc().strip().splitlines()[-1][:200]}")
                    break  # the table state is unknown after a failed op
        wall = time.perf_counter() - t0
        p = {"kind": kind, "idx": idx, "wall": wall, "ops": ops, "traced": self.tracer.enabled}
        p["steal"] = steal_cpu_s() - steal0
        p["cpu"] = tree_cpu_s() - cpu0
        p["valid"] = p["steal"] <= MAX_STEAL_SHARE * wall * self.cpus
        if kind == "probe":
            p["files_written"], p["bytes_written"] = cycle.files_written, cycle.bytes_written
        self.passes.append(p)
        return p

    def _check_table(self) -> None:
        """The final table state against the model: one more checked op."""
        self.attempted += 1
        self.errors += W.check_table(self.spark, self.table)

    def _open_oracle(self) -> None:
        """The run's queries, and DuckDB with one view per input table."""
        import duckdb

        from iceberg_benchmark_poc_spark.core.io import TABLES
        from iceberg_benchmark_poc_spark.core.registry import all_queries

        qs = all_queries()
        self.queries = {n: qs[n] for n in self.names}
        self.duck = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            self.duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    # -- the run ------------------------------------------------------------

    def run(self) -> dict:
        import pyspark

        t_run = time.perf_counter()
        self.spark_version = pyspark.__version__
        self.calibration = calibration_ms()
        setup_walls = self.setup()
        self._open_oracle()
        idx = 0
        self.run_pass("check", idx)
        self.duck.close()
        self.duck = None
        for _ in range(WARMUP_PASSES):
            idx += 1
            self.run_pass("warmup", idx)
        # peak_rss_mb covers the timed passes only, not the harness's
        # table generation, oracle queries and collected results
        reset_peak_rss()
        # timed passes: at least two, and none that should end past --seconds
        t_timed, n_timed, last = time.perf_counter(), 0, 0.0
        while n_timed < MIN_TIMED_PASSES or time.perf_counter() - t_timed + last <= self.seconds:
            idx += 1
            self.tracer.enabled = self.trace and n_timed % 2 == 1
            with traced_load_table(self.tracer, self.sc):
                last = self.run_pass("timed", idx)["wall"]
            n_timed += 1
        self.tracer.enabled = self.trace
        rss = peak_rss_mb()
        probes = self._probes() if self.trace else {}
        app_id = self.sc.applicationId
        self.spark.stop()
        self.spark = None
        events = (
            eventlog_by_group(os.path.join(self.work, "events", app_id)) if self.trace else {}
        )
        return self.report(setup_walls, rss, probes, events, time.perf_counter() - t_run)

    def _probes(self) -> dict:
        """Layer probes of the traced run, on this run's seeded inputs."""
        out = W.codec_probes(self.seed)
        self.tracer.op_id = "probe"
        W.operator_probes(self.spark, self.sf_dir, self.sf, self.tracer)
        # one maintenance cycle gives the write-path layers a reading
        self.table = W.init_table(os.path.join(self.work, "probe_table"), self.seed)
        with traced_load_table(self.tracer, self.sc):
            self.run_pass("probe", -1)
        self._check_table()
        return out

    # -- report -------------------------------------------------------------

    def report(self, setup_walls, rss, probes, events, run_wall) -> dict:
        timed = [p for p in self.passes if p["kind"] == "timed"]
        valid = [p for p in timed if p["valid"]]
        untraced = [p for p in valid if not p["traced"]] or [p for p in timed if not p["traced"]]
        traced = [p for p in valid if p["traced"]] or [p for p in timed if p["traced"]]
        by_op: dict[str, list[float]] = {}
        for p in untraced:
            for o in p["ops"]:
                by_op.setdefault(o["op"], []).append(o["wall"])
        tail, pct = quantile_beyond([w for ws in by_op.values() for w in ws], TAIL_BEYOND)
        pass_walls = [p["wall"] for p in untraced]
        warmup_s = sum(p["wall"] for p in self.passes if p["kind"] in ("check", "warmup"))
        e2e = {
            "setup_s": (statistics.median(setup_walls), "s"),
            "pass_s": (statistics.median(pass_walls), "s"),
            "pass_cpu_s": (statistics.median(p["cpu"] for p in untraced), "s"),
            "query_geomean_s": (
                math.exp(statistics.fmean(math.log(statistics.median(ws)) for ws in by_op.values())),
                "s",
            ),
            "peak_rss_mb": (rss, "MB"),
            "jobs_per_pass": (statistics.median(sum(o["jobs"] for o in p["ops"]) for p in untraced), "count"),
        }
        q = statistics.quantiles(pass_walls, n=4) if len(pass_walls) > 1 else [pass_walls[0]] * 3
        n_samples = sum(len(ws) for ws in by_op.values())
        print(f"workload {self.workload} seed {self.seed} run_wall_s {run_wall:.2f}")
        print(
            "host "
            + json.dumps(
                {
                    "nproc": self.cpus,
                    "defaultParallelism": self.default_parallelism,
                    "spark": self.spark_version,
                    "python": platform.python_version(),
                    "seed": self.seed,
                    "calibration_ms": round(self.calibration, 3),
                }
            )
        )
        print("setup rounds s: " + " ".join(f"{w:.3f}" for w in setup_walls))
        for p in self.passes:
            tags = ("traced " if p["traced"] else "") + ("" if p["valid"] else "not-counted")
            print(
                f"pass {p['idx']:>3} {p['kind']:<6} {p['wall']:8.3f} s  cpu {p['cpu']:7.2f} s"
                f"  steal {p['steal']:5.2f} CPU-s {tags}"
            )
        print(f"timed untraced passes counted: n={len(pass_walls)} quartiles s: " + " ".join(f"{x:.3f}" for x in q))
        print(f"warmup_s {warmup_s:.3f} (the untimed passes)")
        print(f"op_tail_s {tail:.3f}: the p{pct:.1f} of {n_samples} op latencies")
        print("median op latency s: " + " ".join(f"{k}={statistics.median(v):.3f}" for k, v in sorted(by_op.items())))
        failed = len(self.errors)
        print(f"failed_frac {failed / max(self.attempted, 1):.4f} ({failed} of {self.attempted} ops)")
        for e in self.errors:
            print(f"FAILED {e}")
        if not self.trace:
            # BENCHMARK.json names the metrics; the other candidates are
            # printed, with the reason they are not metrics in README.md
            names = [m["name"] for m in load_spec()["end_to_end"]]
            metrics = {k: e2e[k] for k in names}
            print("also measured: " + " ".join(f"{k}={v:.4f} {u}" for k, (v, u) in e2e.items() if k not in names))
        else:
            metrics = self.layer_metrics(traced, untraced, probes, events)
        return {
            "correct": not self.errors,
            "attempted": self.attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def layer_metrics(self, traced, untraced, probes, events) -> dict:
        """Per-layer metrics: per-pass medians over the traced timed passes,
        plus the probes; also prints the self-time table."""
        tr = self.tracer

        def per_pass(fn) -> float:
            return statistics.median(sum(fn(o) for o in p["ops"]) for p in traced)

        def ev(o, key):
            return sum(events.get(f"{o['id']}:{ph}", {}).get(key, 0.0) for ph in ("build", "io", "exec"))

        def gap(o):
            iv = [i for ph in ("build", "io", "exec") for i in events.get(f"{o['id']}:{ph}", {}).get("intervals", [])]
            return o["wall"] - covered(iv, o["start"] + self.clock_skew, o["end"] + self.clock_skew)

        self_t = tr.self_times({o["id"] for p in traced for o in p["ops"]})
        n = len(traced)

        def span_s(suffix):
            return sum(v for k, v in self_t.items() if k.endswith(suffix)) / n

        m = {
            "core.session.get_spark_s": (statistics.median(self.session_s), "s"),
            "core.io.load_table_s": (span_s("core.io.load_table"), "s"),
            "core.io.load_table_jobs": (per_pass(lambda o: o["io"][0]), "count"),
            "build_s": (span_s(".build"), "s"),
            "build_jobs": (per_pass(lambda o: o["build"][0]), "count"),
            "exec_s": (span_s(".exec"), "s"),
            "exec_jobs": (per_pass(lambda o: o["exec"][0]), "count"),
            "exec_stages": (per_pass(lambda o: o["exec"][1]), "count"),
            "exec_tasks": (per_pass(lambda o: o["exec"][2]), "count"),
        }
        for key, unit in (
            ("executor_cpu_s", "s"),
            ("executor_run_s", "s"),
            ("gc_s", "s"),
            ("shuffle_read_mb", "MB"),
            ("shuffle_write_mb", "MB"),
            ("spill_mb", "MB"),
        ):
            m[key] = (per_pass(lambda o, k=key: ev(o, k)), unit)
        m["driver_gap_s"] = (per_pass(gap), "s")
        m.update({k: (v, "us") for k, v in probes.items()})
        for name in (
            "operators.prefix.global_prefix_sum",
            "operators.quantiles.exact_quantiles",
            "operators.graph.connected_components_star",
            "operators.text.minhash_signatures",
        ):
            m[f"{name}_s"] = (sum(tr.durations(name)), "s")
        # write-path layers: per maintenance cycle (the probe cycle)
        cycles = [p for p in self.passes if p["kind"] == "probe"]
        cyc_ids = {o["id"] for p in cycles for o in p["ops"]}
        nc = len(cycles)
        for name in (
            "core.layout.write_sorted",
            "operators.lifecycle.merge_latest_wins",
            "operators.lifecycle.apply_equality_deletes",
            "streaming.ingest.exactly_once_ingest",
        ):
            m[f"{name}_s"] = (sum(s.end - s.start for s in tr.spans if s.name == name and s.op_id in cyc_ids) / nc, "s")
        m["streaming.ingest.batches_committed"] = (statistics.median(tr.counts["streaming.ingest.batches_committed"]), "count")
        m["table_writes.files_written"] = (statistics.median(p["files_written"] for p in cycles), "count")
        m["table_writes.bytes_written_mb"] = (
            statistics.median(p["bytes_written"] for p in cycles) / 2**20,
            "MB",
        )
        m["table_writes.stored_bytes_ratio"] = (
            W.disk_bytes(self.table.data_dir) / W.live_user_bytes(self.table.model),
            "ratio",
        )
        u = statistics.median(p["wall"] for p in untraced)
        t = statistics.median(p["wall"] for p in traced)
        m["tracing_overhead_frac"] = (t / u - 1.0, "ratio")

        print(f"tracing overhead: traced pass_s {t:.3f} vs untraced {u:.3f} ({100 * (t / u - 1):+.1f}%)")
        print("where the time goes (self time per traced pass, s):")
        for k, v in sorted(self_t.items(), key=lambda kv: -kv[1]):
            print(f"  {k:<48} {v / n:8.3f}")
        by_module: dict[str, dict] = {}
        for p in traced:
            for o in p["ops"]:
                d = by_module.setdefault(o["module"], {"exec_jobs": 0, "exec_stages": 0, "exec_tasks": 0, "cpu_s": 0.0, "gap_s": 0.0})
                d["exec_jobs"] += o["exec"][0]
                d["exec_stages"] += o["exec"][1]
                d["exec_tasks"] += o["exec"][2]
                d["cpu_s"] += ev(o, "executor_cpu_s")
                d["gap_s"] += gap(o)
        print("per module, per traced pass:")
        for mod, d in sorted(by_module.items()):
            print("  " + mod + " " + " ".join(f"{k}={v / n:.3f}" for k, v in d.items()))
        spans = os.path.join(ROOT, ".perfbench", f"spans-{self.workload}-seed{self.seed}-{os.getpid()}.jsonl")
        tr.dump(spans)
        print(f"spans written to {os.path.relpath(spans, ROOT)}")
        return m


@contextlib.contextmanager
def traced_load_table(tracer: Tracer, sc):
    """While ``tracer`` is on, wrap ``core.io.load_table`` in a span and an
    ``<op>:io`` job group in every package module that imported it."""
    if not tracer.enabled:
        yield
        return
    import iceberg_benchmark_poc_spark.core.io as io

    orig = io.load_table

    def load_table(spark, sf_dir, name):
        with tracer.span("core.io.load_table"), job_group(sc, f"{tracer.op_id}:io"):
            return orig(spark, sf_dir, name)

    patched = [
        m
        for name, m in list(sys.modules.items())
        if name.startswith("iceberg_benchmark_poc_spark") and getattr(m, "load_table", None) is orig
    ]
    for m in patched:
        m.load_table = load_table
    try:
        yield
    finally:
        for m in patched:
            m.load_table = orig


def _stop_jvm() -> None:
    """Shut the py4j gateway down and wait until the JVM and every process
    under it (the Python workers) have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    spawned = descendants(os.getpid())
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 10
    while spawned and time.monotonic() < deadline:
        spawned = [p for p in spawned if _alive(p)]
        time.sleep(0.05)
    for p in spawned:
        os.kill(p, signal.SIGKILL)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    try:  # a zombie is dead but not yet reaped by its parent
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cpus = len(os.sched_getaffinity(0))  # what nproc prints
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # Python workers import the package by name, from any working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    tempfile.tempdir = os.environ["TMPDIR"]
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work, cpus)
    try:
        result = run.run()
    finally:
        if run.spark is not None:
            run.spark.stop()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
