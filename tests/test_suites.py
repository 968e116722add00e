"""Smoke + invariant tests for the reference-suite benchmark harness."""

from __future__ import annotations

import pytest

from iceberg_benchmark_poc_spark.bench.suites import (
    suite_adaptive_tree,
    suite_concurrent_writers,
    suite_delete_storm,
    suite_density_policy,
    suite_dv_resolution,
    suite_wide_table,
    suite_writer_org,
)


def test_writer_org_invariants(spark):
    r = suite_writer_org(spark, n_entries=10_000)
    # the reference's core finding: sorted layout always skips more and reads
    # less. 10K entries -> 10 row groups -> each sorted group spans ~10% of
    # the domain, so skip rate 0.9 here (99% at the reference's 100K scale);
    # the inputs are deterministic, so every figure is exact
    assert (r["skip_rate_unsorted"], r["skip_rate_sorted"]) == (0.004, 0.9)
    assert (r["bytes_read_unsorted_mb"], r["bytes_read_sorted_mb"]) == (1.9, 0.191)
    assert r["bytes_reduction_x"] == 10.0  # 93x at reference scale


def test_delete_storm_counts(spark):
    r = suite_delete_storm(spark, n_files=1_000)
    assert r["metadata_reads_inline"] == 1
    assert r["metadata_reads_external"] == 1_001
    assert r["files_with_dv"] == 300  # deterministic 30% coverage
    assert r["modeled_speedup_x"] > 100


def test_density_policy_all_inline(spark):
    r = suite_density_policy(spark, n_mdvs=2_000)
    assert r["inline_rate"] == 1.0  # reference: 100% in all scenarios
    assert r["decision_wall_ms"] < 51_108.8  # beat the reference's O(n^2) time


def test_dv_resolution_shapes(spark):
    r = suite_dv_resolution(spark, scales=(1_000,))
    row = r["1000"]
    assert set(row) == {
        "job_floor_ms",
        "hash_join_ms",
        "hash_join_net_ms",
        "positional_join_ms",
        "coalesced_join_ms",
    }
    # the net decomposition may legitimately floor at 0.0 when the join wall
    # lands below the measured scheduler floor; every gross wall is positive
    assert all(v > 0 for k, v in row.items() if k != "hash_join_net_ms")
    assert row["hash_join_net_ms"] >= 0


def test_adaptive_tree_prunes(spark):
    r = suite_adaptive_tree(spark, scales=(10_000,))
    row = r["10000"]
    # pruned walk touches one of the 100 leaves
    assert row["leaves_visited"] == 1
    assert row["files_matched"] == 5


def test_wide_table_stats_agree(spark, tmp_path):
    r = suite_wide_table(spark, str(tmp_path), n_cols=50, n_files=5, rows_per_file=200)
    assert r["files_qualifying_v3"] == r["files_qualifying_v4"] == 5
    assert r["v4_stats_lookup_ms"] < r["v3_footer_scan_ms"]


def test_concurrent_writers_all_commit(spark, tmp_path):
    r = suite_concurrent_writers(spark, str(tmp_path), n_writers=3, writes_each=4)
    assert r["final_version"] == 12  # every write eventually commits
    assert 0.0 <= r["conflict_rate"] < 1.0
    d = r["spark_data_write"]
    assert d["final_version"] == 3 * d["writes_each"]
    assert 0.0 <= d["conflict_rate"] < 1.0


def test_manifest_commit_bench_shape(tmp_path):
    from iceberg_benchmark_poc_spark.bench.suites import _manifest_commit_bench

    r = _manifest_commit_bench(str(tmp_path), batch_sizes=(1, 100), commits=5)
    assert set(r) == {"batch_1", "batch_100"}
    for v in r.values():
        assert v["avg_commit_ms"] > 0 and v["files_per_sec"] > 0
    # amortization: batching 100 files per commit must raise files/s
    assert r["batch_100"]["files_per_sec"] > r["batch_1"]["files_per_sec"]
    # manifest size grows with entries
    assert r["batch_100"]["avg_manifest_kb"] > r["batch_1"]["avg_manifest_kb"]


def test_bloom_prune_counts_agree(spark, tmp_path):
    from iceberg_benchmark_poc_spark.bench.suites import suite_bloom_prune

    r = suite_bloom_prune(spark, str(tmp_path), n_rows=200_000, n_files=4)
    # the suite asserts plain/bloom lookups return identical counts; here:
    # the filter costs storage (premium rounds away in MB at small scale)
    # and both timings are real
    assert r["storage_premium_pct"] > 0
    assert r["point_lookup_plain_ms"] > 0 and r["point_lookup_bloom_ms"] > 0
    # pruning evidence from the scan node itself: the bloom path must surface
    # strictly fewer rows than the full scan (row groups actually skipped)
    assert r["rows_scanned_plain"] == 200_000
    assert r["rows_scanned_bloom"] < r["rows_scanned_plain"]
    assert r["rowgroups_scanned"] < r["rowgroups_total"]


def test_skew_join_plans_agree(spark):
    from iceberg_benchmark_poc_spark.bench.suites import suite_skew_join

    r = suite_skew_join(spark, n_rows=100_000)
    # the suite itself asserts all three plans return identical row counts;
    # here: timings exist and the confs were restored
    assert r["plain_join_ms"] > 0 and r["salted_join_ms"] > 0 and r["aqe_skew_split_ms"] > 0
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_bucketed_join_suite_is_exchange_free(spark, tmp_path):
    from iceberg_benchmark_poc_spark.bench.suites import suite_bucketed_join

    r = suite_bucketed_join(spark, str(tmp_path), n_fact=50_000, n_dim=5_000, n_buckets=4)
    assert r["n_exchanges_bucketed"] == 0  # co-located: zero shuffles
    assert r["n_exchanges_plain"] >= 2  # baseline shuffles both join sides


def test_stream_throughput_processes_all_rows(spark, tmp_path):
    from iceberg_benchmark_poc_spark.bench.suites import suite_stream_throughput

    from .conftest import SF_DIR

    r = suite_stream_throughput(spark, SF_DIR, str(tmp_path), n_files=4)
    assert r["input_rows"] > 0
    assert r["result_rows"] > 0  # windowed aggregate rows emitted
    # 4 files at 2 per trigger -> 2 data batches, plus possibly one final
    # empty batch when the watermark advance flushes remaining state
    assert 2 <= r["micro_batches"] <= 3
    assert r["rows_per_sec"] > 0


def test_media_decode_same_rasters_different_bytes(spark, tmp_path):
    """All four containers must decode the identical corpus (same doc count,
    same raster volume), PNG+PGM must store ~1 byte/pixel vs PPM/BMP's ~3,
    and PNG must store fewer bytes than raw PPM (the zlib IDAT actually
    compresses). Uses reps=2 — this is a shape test, not a measurement."""
    from iceberg_benchmark_poc_spark.bench.suites import suite_media_decode

    from .conftest import SF_DIR

    r = suite_media_decode(spark, SF_DIR, str(tmp_path), reps=2)
    assert r["n_docs"] > 0 and r["raster_bytes"] > 0
    for name in ("ppm", "pgm", "bmp", "png"):
        assert r[name]["decode_ms"] > 0
        assert r[name]["raster_mb_per_s"] > 0
    # PPM/BMP carry 3 bytes per pixel (+headers), PGM ~1, PNG < raw gray+filters
    assert r["ppm"]["stored_bytes"] > 2.5 * r["pgm"]["stored_bytes"]
    assert r["bmp"]["stored_bytes"] > 2.5 * r["pgm"]["stored_bytes"]
    assert r["png"]["stored_bytes"] < r["ppm"]["stored_bytes"]
    assert r["png_vs_ppm_bytes_x"] < 1.0


def test_bench_headline_fits_driver_tail():
    """The driver keeps only ~2KB of stdout; r01's per-query map was lost to
    the truncation. The final headline line must stay under the cap for the
    REAL current result set (BENCH_FULL.json) and for a worst-case synthetic
    one (every registered query slow, all suites present)."""
    import importlib.util
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location("bench", os.path.join(root, "bench.py"))
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    from iceberg_benchmark_poc_spark.core.registry import all_queries

    cap = bench.HEADLINE_MAX_BYTES
    assert cap <= 1800

    # worst case: every query name at a slow-looking timing, suites maximal
    timings = {name: 123.4567 for name in all_queries()}
    suites = {
        "writer_org": {"bytes_reduction_x": 12345.6},
        "delete_storm": {"modeled_speedup_x": 123456.7},
        "parallel_fetch": {
            "parallel_vs_inline_x": 123.45,
            "parallel_vs_inline_modeled_x": 123.45,
            "metadata_requests_external": 100000,
        },
        "manifest_parse": {"parse_ms_32mb": 12345.67},
        "density_policy": {"decision_wall_ms": 123456.78},
        "dv_resolution": {
            "100000": {
                "hash_join_ms": 12345.6,
                "job_floor_ms": 12345.6,
                "hash_join_net_ms": 12345.6,
                "positional_join_ms": 12345.6,
            }
        },
        "single_file_commits": {
            "manifest_commit": {
                "batch_1": {"avg_commit_ms": 123.456, "p50_commit_ms": 123.456},
                "batch_1000": {"avg_commit_ms": 12345.678},
            }
        },
        "adaptive_tree": {"50000": {"flat_scan_ms": 12345.6, "tree_prune_ms": 12345.6}},
        "wide_table": {"v3_footer_scan_ms": 12345.67, "v4_stats_lookup_ms": 123.456},
        "wide_table_1000": {"v3_footer_scan_ms": 12345.67, "v4_stats_lookup_ms": 123.456},
        "stream_throughput": {"rows_per_sec": 1234567.8},
        "skew_join": {"salted_speedup_x": 123.45},
        "bloom_prune": {"bloom_speedup_x": 123.45},
        "concurrent_writers": {"commits_per_sec": 12345.6, "conflict_rate": 0.123},
        "column_update": {
            "column_update_speedup_x": 1234.5,
            "bytes_ratio_x": 1234.5,
            "full_rewrite_ms": 123456.7,
            "column_update_ms": 123456.7,
        },
        "media_decode": {
            "ppm": {"raster_mb_per_s": 12345.6},
            "pgm": {"raster_mb_per_s": 12345.6},
            "bmp": {"raster_mb_per_s": 12345.6},
            "png": {"raster_mb_per_s": 12345.6},
            "png_vs_ppm_bytes_x": 123.45,
        },
    }
    cal = {
        "jvm_fold_50m_ms": 123456.7,
        "jvm_fold_50m_x32_ms": 123456.7,
        "python_loop_2m_ms": 123456.7,
    }
    line = bench.build_headline_line(9999.9999, timings, suites, 0.1, cal, 123.45)
    assert len(line.encode()) < cap, f"worst-case headline {len(line)}B >= {cap}B"
    json.loads(line)  # still valid JSON after truncation

    # the committed real result, when present
    full_path = os.path.join(root, "BENCH_FULL.json")
    if os.path.exists(full_path):
        full = json.load(open(full_path))
        line = bench.build_headline_line(
            full["value"],
            full["queries"],
            full.get("suites"),
            full.get("sf", 0.1),
            full.get("calibration"),
        )
        assert len(line.encode()) < cap
        json.loads(line)


def test_bench_contention_gate():
    """r9 verdict #2: a run whose 32-task calibration probe reads >1.3x the
    committed snapshot's was measured under multi-core contention and must be
    quarantined (BENCH_CONTENDED.json) instead of overwriting the snapshot;
    within-threshold, missing-probe, and faster-host runs all pass."""
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location("bench", os.path.join(root, "bench.py"))
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    prev = {"calibration": {"jvm_fold_50m_x32_ms": 1000.0}}
    gate = bench.contended_vs_snapshot
    assert gate(prev, {"jvm_fold_50m_x32_ms": 1400.0}) == 1.4      # contended
    assert gate(prev, {"jvm_fold_50m_x32_ms": 1250.0}) is None     # within 1.3x
    assert gate(prev, {"jvm_fold_50m_x32_ms": 500.0}) is None      # faster host
    assert gate({}, {"jvm_fold_50m_x32_ms": 1400.0}) is None       # no snapshot probe
    assert gate(prev, {}) is None                                  # no run probe
    # the quarantine flag rides the headline so a driver run is never silent
    line = bench.build_headline_line(1.0, {"q": 1.0}, None, 0.1, prev["calibration"], 1.4)
    import json

    assert json.loads(line)["contended_x"] == 1.4


def test_committed_snapshots_carry_both_calibration_probes():
    """r9 verdict #2 done-criterion: both committed bench snapshots must
    carry the single-thread AND the 32-task calibration probes — the
    quarantine gate needs a committed parallel-probe reference to compare
    against, and a snapshot missing it silently disables the gate."""
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for name in ("BENCH_FULL.json", "BENCH_SF1.json"):
        with open(os.path.join(root, name)) as f:
            cal = json.load(f).get("calibration") or {}
        for probe in ("jvm_fold_50m_ms", "jvm_fold_50m_x32_ms", "python_loop_2m_ms"):
            assert cal.get(probe), f"{name} missing calibration probe {probe}"


def test_mdv_compression_wire_sizes():
    """Deterministic codec-size parity cells (BASELINE.md 'MDV compression'):
    a 500-contiguous-delete run container must be a fixed 15 bytes (cookie
    word + run bitset + descriptor + n_runs + one pair) and the sparse shape
    ~2 bytes/delete — these are exact wire-format facts, not timings."""
    from iceberg_benchmark_poc_spark.bench.suites import suite_mdv_compression

    r = suite_mdv_compression()
    assert r["contiguous_run_bytes"] == 15
    assert r["contiguous_array_bytes"] == 16 + 2 * 500
    assert r["run_vs_array_reduction_x"] > 60
    assert 2.0 <= r["sparse_bytes_per_delete"] < 2.1
