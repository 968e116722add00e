"""The reference's 11 benchmark suites as Spark workloads.

Synthetic inputs are the correctness fixtures' own builders
(core/fixtures.py ``file_meta_of`` / ``dv_entries_of`` / ``dv_multi_of``)
fed by a row-count-sized ``spark.range`` id source (deterministic,
JVM-only, no Python round-trips), and a suite that times a registered
query's workload runs that query's body (``skip_rate`` / ``scan_tree`` in
queries/manifests.py, ``spill_policy`` in queries/aggregates.py): each
formula and plan is defined once and oracle-gated there, and the suites
only pick the reference's own scale points, so numbers are directly
comparable to BASELINE.md. Wall-clocks are measured around full
materialization (count, collect or noop write); simulated-I/O metrics (S3
TTFB sleeps) are reproduced as request counts + the reference's published
cost model, marked "modeled".

Reference provenance per suite is cited in each function docstring.
"""

from __future__ import annotations

import json
import os
import threading
import time

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..core.fixtures import (
    ENTRY_BYTES,
    S3_BYTES_PER_MS,
    dv_entries_of,
    dv_multi_of,
    dv_size_bytes,
    file_meta_of,
    has_dv,
)
from ..core.io import load_table, read_parquet
from ..queries.aggregates import spill_policy
from ..queries.manifests import N_PROBES, TREE_PROBE_DATE, scan_tree, skip_rate

#: the writer-organization experiment's row groups hold 1,000 entries
#: (tab0_content.txt:180); the registered q_skip_rate keeps the fixtures' 100
WRITER_ORG_ROW_GROUP_ENTRIES = 1000
TTFB_MS = 50.0  # poc/utils/s3_simulator.py avg TTFB


def _timed(df: DataFrame, collect: bool = False) -> tuple[float, object]:
    """Wall-clock of a full materialization (count, or collect when
    ``collect``) and its last result. One untimed run first so the number
    is steady-state (codegen compiled, JIT warm) — what the reference's
    repeated-iteration timings measure. Median of 3 timed runs: at the
    ~100 ms local job floor a single shot jitters ~2x under GC/writeback
    noise (same rationale as the skew-join suite's median).

    Every run collects a fresh ``select("*")``: collecting one DataFrame
    twice re-runs only its final stage, because the adaptive plan keeps
    the finished shuffle stages of its one physical plan (count already
    plans afresh on each call)."""

    def run():
        return df.select("*").collect() if collect else df.count()

    run()
    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        result = run()
        walls.append((time.perf_counter() - t0) * 1000)
    return sorted(walls)[1], result


def _file_ids(spark: SparkSession, n: int) -> DataFrame:
    """``n`` synthetic file ids, the input of the fixture builders.

    Partition count is sized to the row count (~25K rows per task, capped at
    the session parallelism): at the reference's scales (1K-100K) a 32-way
    range means 32 near-empty tasks whose scheduling overhead IS the
    measurement, which benchmarks the scheduler instead of the operator. At
    real scale the same rule (partitions ~ data / target-split) is what
    maxPartitionBytes does for file scans.
    """
    parallelism = int(spark.sparkContext.defaultParallelism)
    return spark.range(n, numPartitions=max(1, min(n // 25_000, parallelism)))


# ---------------------------------------------------------------------------
# suite 0 — writer organization (tab0_content.txt:85-250; headline 99.2x)
# ---------------------------------------------------------------------------


def suite_writer_org(spark: SparkSession, n_entries: int = 100_000) -> dict:
    """Sorted vs unsorted layout -> row-group skip rate and bytes read: the
    q_skip_rate plan over ``n_entries`` entries in 1,000-entry row groups."""
    query = skip_rate(file_meta_of(_file_ids(spark, n_entries)), WRITER_ORG_ROW_GROUP_ENTRIES)
    wall_ms, stats = _timed(query, collect=True)
    r = {row["layout"]: row for row in stats}
    bytes_uns, bytes_srt = r["unsorted"]["bytes_read_total"], r["sorted"]["bytes_read_total"]
    return {
        "n_entries": n_entries,
        "skip_rate_unsorted": round(r["unsorted"]["skip_rate"], 4),
        "skip_rate_sorted": round(r["sorted"]["skip_rate"], 4),
        "bytes_read_unsorted_mb": round(bytes_uns / N_PROBES / 1048576, 3),
        "bytes_read_sorted_mb": round(bytes_srt / N_PROBES / 1048576, 3),
        "bytes_reduction_x": round(bytes_uns / max(bytes_srt, 1), 1),
        "wall_ms": round(wall_ms, 1),
    }


# ---------------------------------------------------------------------------
# suite 1+9 — delete storm + parallel fetch (poc/test_delete_storm.py,
# poc/test_parallel_s3_fetching.py). Reference wall-clock is time.sleep (⚠):
# reproduce request counts + modeled latency; measure the real planning join.
# ---------------------------------------------------------------------------


def suite_delete_storm(spark: SparkSession, n_files: int = 10_000) -> dict:
    """Inline vs external DV resolution during scan planning."""
    plan = dv_entries_of(_file_ids(spark, n_files)).select("file_id", "dv_size_bytes")
    wall_ms, n_dv = _timed(plan)
    # one lookup per FILE (not per DV): the external planner must ask for
    # every file's DV to learn it has none — the reference's own published
    # methodology counts 10,001 reads for 10K files at 30% DV coverage
    # (BASELINE.md "10,001 sequential reads"), so this count is the
    # baseline-comparable one, deliberately not files_with_dv + 1
    external_reads = n_files + 1  # manifest + one lookup per file
    modeled_external_ms = external_reads * TTFB_MS
    modeled_inline_ms = max(wall_ms, 1.0)
    return {
        "n_files": n_files,
        "metadata_reads_inline": 1,
        "metadata_reads_external": external_reads,
        "planning_wall_ms_inline": round(wall_ms, 1),
        "modeled_external_ms": round(modeled_external_ms, 1),
        "modeled_speedup_x": round(modeled_external_ms / modeled_inline_ms, 1),
        "files_with_dv": n_dv,
    }


#: the reference's parallel-fetch experiment pins TTFB to a FIXED 55 ms and
#: ~1.06 ms/thread pool spin-up (poc/results/parallel_s3_results.json:
#: 656.02 ms at 100 threads = ceil(1000/100) waves x 55 + 106), not the
#: 20-150 ms distribution its other suites draw from — use its exact
#: configuration so the modeled external wall is the same experiment
PARALLEL_FETCH_TTFB_MS = 55.0
PARALLEL_FETCH_THREAD_MS = 1.06


def suite_parallel_fetch(spark: SparkSession, n_files: int = 1000, threads: int = 100) -> dict:
    """Thread-pool fan-out of external fetches vs inline planning.

    PRIMARY metric: metadata request counts (1 inline vs n_files external) —
    methodology facts that match the reference exactly and survive any
    latency assumption. The wall ratio is informational (BASELINE.md
    footnote): the external side is ⚠-modeled with the reference's exact
    configuration (55 ms TTFB waves + 1.06 ms/thread spin-up — its own
    walls are time.sleep of the same model), while the inline side is our
    MEASURED planning wall over the same 1,000-file manifest (the
    reference's 23.77 ms inline figure is likewise its measured in-process
    planning). The ratio therefore mixes one modeled and one measured wall
    on both sides identically; runtime floors differ (~tens of ms of Spark
    scheduler floor vs single-thread Python dict walk), which is why the
    request counts, not the ratio, are the parity gate.
    """
    plan = dv_entries_of(_file_ids(spark, n_files)).select("file_id", "dv_size_bytes")
    plan.count()  # warm: absorb codegen + first-scan costs, as every suite
    # median-of-3: the ratio divides a fixed modeled numerator by this wall,
    # so its run-to-run TTFB-class variance (r8: 18.2x driver vs 22.6x
    # builder on the same code) is pure measurement noise — damp it the
    # same way bench.py damps sub-second query walls
    inline_wall_ms = sorted(_timed(plan)[0] for _ in range(3))[1]
    sequential_ms = n_files * PARALLEL_FETCH_TTFB_MS
    parallel_ms = (
        -(-n_files // threads) * PARALLEL_FETCH_TTFB_MS + threads * PARALLEL_FETCH_THREAD_MS
    )
    # modeled inline: ONE S3 round trip (the manifest the planner reads
    # anyway, DVs riding inline) + the DV-inflated manifest transfer at
    # 100 MiB/s — the same S3 model the external side uses, so the ratio is
    # deterministic and round-over-round comparable (the measured Spark wall
    # is dominated by the local scheduler floor and swings 2-4x)
    inline_model_ms = PARALLEL_FETCH_TTFB_MS + n_files * ENTRY_BYTES / S3_BYTES_PER_MS
    return {
        "n_files": n_files,
        "threads": threads,
        "metadata_requests_inline": 1,
        "metadata_requests_external": n_files,
        "modeled_sequential_ms": round(sequential_ms, 1),
        "modeled_parallel_ms": round(parallel_ms, 1),
        "modeled_inline_ms": round(inline_model_ms, 1),
        "measured_inline_planning_ms": round(inline_wall_ms, 1),
        # the reference's 27.6x divides its modeled external wall by its
        # MEASURED inline planning (23.77 ms) — mirror that exactly (our
        # warm measured inline lands within a few ms of theirs); the
        # all-modeled variant is kept as the deterministic floor
        "parallel_vs_inline_x": round(parallel_ms / max(inline_wall_ms, 0.1), 1),
        "parallel_vs_inline_modeled_x": round(parallel_ms / inline_model_ms, 1),
        "note": "request counts are the primary (exact-match) metric; ratio mirrors the reference's modeled-external / measured-inline methodology (BASELINE.md footnote)",
    }


# ---------------------------------------------------------------------------
# suite 2 — GC cliff (poc/test_gc_performance_cliff.py): large-manifest parse
# ---------------------------------------------------------------------------


def _jvm_heap_used_mb(spark: SparkSession) -> float:
    """Driver JVM heap in use (MB) — the memory proxy the reference records
    per suite (poc/utils/metrics_collector.py:91-103: RSS + gc stats)."""
    rt = spark._jvm.java.lang.Runtime.getRuntime()  # noqa: SLF001
    return (rt.totalMemory() - rt.freeMemory()) / 1048576


def _python_rss_mb() -> float:
    import resource

    # ru_maxrss is KB on linux
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def suite_manifest_parse(spark: SparkSession, tmp_dir: str, sizes_mb: tuple = (1, 8, 16, 32)) -> dict:
    """JSON manifest parse wall-clock AND memory vs manifest size.

    Mirrors the reference's per-suite memory collection
    (poc/utils/metrics_collector.py:91-103) and its GC-cliff probe
    (poc/test_gc_performance_cliff.py:65-136, which found no cliff —
    poc/results/gc_cliff_results.json): we record the driver-JVM heap delta
    across each parse plus process peak RSS, and flag a cliff if parse time
    grows superlinearly (>3x the per-MB rate of the smallest manifest).
    """

    def write_manifest(n: int, path: str) -> None:
        # V4 entries with their DV riding inline (poc/utils/manifest_generator.py:79-126)
        fid = F.col("file_id")
        file_meta_of(_file_ids(spark, n)).select(
            "file_id",
            "partition_date",
            "partition_hour",
            "record_count",
            dv_size_bytes(fid).alias("dv_size_bytes"),
            has_dv(fid).alias("has_dv"),
        ).coalesce(1).write.mode("overwrite").json(path)

    results = {}
    warm = os.path.join(tmp_dir, "manifest_warm")
    write_manifest(100, warm)
    spark.read.json(warm).count()  # absorb first-json-read codepath warmup
    # fixed per-job overhead (scheduler + task launch, ~100ms on local[32]):
    # measured on a near-empty read and subtracted from every parse wall
    # before computing per-MB rates. Without this the 1 MB point's rate is
    # floor-dominated — an inflated baseline that masks real parse cliffs.
    t0 = time.perf_counter()
    spark.read.json(warm).count()
    job_floor_ms = (time.perf_counter() - t0) * 1000
    per_mb_ms = {}
    for mb in sizes_mb:
        n = mb * 1048576 // ENTRY_BYTES
        path = os.path.join(tmp_dir, f"manifest_{mb}mb")
        write_manifest(n, path)
        heap0 = _jvm_heap_used_mb(spark)
        t0 = time.perf_counter()
        cnt = spark.read.json(path).count()
        wall_ms = (time.perf_counter() - t0) * 1000
        results[f"parse_ms_{mb}mb"] = round(wall_ms, 1)
        # heap delta can be negative if a GC ran mid-parse; clamp at 0 — the
        # signal sought is "does parse memory scale with manifest size"
        results[f"heap_delta_mb_{mb}mb"] = round(max(_jvm_heap_used_mb(spark) - heap0, 0.0), 1)
        per_mb_ms[mb] = max(wall_ms - job_floor_ms, 0.1) / mb
        assert cnt == n
    smallest = min(sizes_mb)
    cliff = any(per_mb_ms[mb] > 3 * per_mb_ms[smallest] for mb in sizes_mb)
    return {
        "sizes_mb": list(sizes_mb),
        **results,
        "job_floor_ms": round(job_floor_ms, 1),
        "python_peak_rss_mb": round(_python_rss_mb(), 1),
        "cliff_detected": cliff,
    }


# ---------------------------------------------------------------------------
# suite 3 — density-adaptive policy (poc/test_density_adaptive_policy.py:282-336)
# reference decision time at 10K MDVs: 51,108 ms (O(n^2) flagged bottleneck)
# ---------------------------------------------------------------------------


def suite_density_policy(spark: SparkSession, n_mdvs: int = 10_000) -> dict:
    """4KB-floor / run-container / 16MB-cap policy: the q_spill_policy plan.

    MDV sizes mirror the reference's scenario C density (10K MDVs totaling
    ~9.8 MB, avg ~1 KB — poc/results/density_adaptive_policy_results.json),
    so the expected outcome is the reference's: 100% inline.
    """
    fid = F.col("id")
    # container mix: runs every 7th, a bitmap (8 KiB) every 101st — the
    # bitmaps exceed the 4 KiB floor, so the policy's cap-admission window
    # runs on a REAL candidate set (with arrays only, deleted_rows caps at 983 ->
    # every MDV was must_inline and the admission path was measured on empty
    # input). They still fit the 16 MiB budget, so the reference scenario's
    # expected outcome — 100% inline — is preserved.
    mdv = spark.range(n_mdvs).select(
        fid.alias("manifest_id"),
        (F.lit(1) + (fid * 37) % 983).alias("deleted_rows"),
        F.when(fid % 7 == 0, "run")
        .when(fid % 101 == 0, "bitmap")
        .otherwise("array")
        .alias("container_type"),
    ).withColumn(
        "mdv_size",
        F.when(F.col("container_type") == "run", 32)
        .when(F.col("container_type") == "array", F.col("deleted_rows") * 2)
        .otherwise(8192)
        .cast("bigint"),
    )
    t0 = time.perf_counter()
    n_inline = spill_policy(mdv).filter(F.col("decision") == "inline").count()
    wall_ms = (time.perf_counter() - t0) * 1000
    inline_rate = n_inline / n_mdvs
    return {
        "n_mdvs": n_mdvs,
        "decision_wall_ms": round(wall_ms, 1),
        "inline_rate": round(inline_rate, 4),
        "reference_decision_ms": 51108.8,
        "speedup_vs_reference_x": round(51108.8 / max(wall_ms, 1), 1),
    }


# ---------------------------------------------------------------------------
# suite 4 — DV resolution strategies (poc/test_dv_resolution_strategies.py)
# ---------------------------------------------------------------------------


def suite_dv_resolution(
    spark: SparkSession, scales: tuple = (1_000, 10_000, 25_000, 1_000_000, 100_000)
) -> dict:
    """Hash vs positional vs coalesced join wall-clock at reference scales.

    Scales include a 1M point beyond the reference's published 100K max: at
    reference scales the ~100 ms Spark job floor dominates (the reference's
    single-process dict probe wins below ~100K by doing no scheduling at
    all), and the 1M point shows the crossover — wall grows sub-linearly
    with 10x the rows while a linear row-at-a-time resolver would be ~10x.
    The 1M point runs BEFORE the 100K measurement so the comparable number
    is taken JIT-warm, like the reference's loop-warm python.
    """
    out = {}
    for n in scales:
        # drain garbage from the previous scale point before sub-200ms timing:
        # the 1M point's shuffle/broadcast garbage otherwise lands as a GC
        # pause inside the 100K measurement (the baseline-comparable one)
        spark._jvm.System.gc()
        ids = _file_ids(spark, n)
        fm = file_meta_of(ids)
        dv = dv_entries_of(ids).select("file_id", "dv_size_bytes")
        # scheduler/synthesis floor for this scale point: materializing the
        # probe side ALONE, same task count, no join. hash_join_ms minus this
        # is the join's own cost — at reference scales (<=100K) the floor is
        # most of the wall (local job scheduling + codegen of the synth
        # projection), which is why the single-process dict probe "wins"
        # below the crossover; the published decomposition makes that
        # visible instead of leaving a 1.9x-vs-baseline number unexplained
        floor_ms, _ = _timed(fm)
        # the DV side is the small side by construction (30% coverage, id+size
        # only) — broadcast it explicitly so the measured operator is the
        # map-side hash join itself, never a sort-merge shuffle of the big side
        hash_ms, _ = _timed(fm.join(F.broadcast(dv.withColumnRenamed("dv_size_bytes", "s")), "file_id"))
        data_side = dv.select("file_id").withColumn("pos", F.row_number().over(Window.orderBy("file_id")))
        dv_side = dv.withColumn("pos", F.row_number().over(Window.orderBy("file_id"))).select(
            "pos", F.col("dv_size_bytes").alias("s")
        )
        pos_ms, _ = _timed(data_side.join(dv_side, "pos"))
        w = Window.partitionBy("file_id").orderBy("manifest_idx")
        coal_ms, _ = _timed(dv_multi_of(ids).withColumn("rk", F.row_number().over(w)).filter("rk = 1"))
        out[str(n)] = {
            "job_floor_ms": round(floor_ms, 1),
            "hash_join_ms": round(hash_ms, 1),
            "hash_join_net_ms": round(max(hash_ms - floor_ms, 0.0), 1),
            "positional_join_ms": round(pos_ms, 1),
            "coalesced_join_ms": round(coal_ms, 1),
        }
    return out


# ---------------------------------------------------------------------------
# suite 5 — single-file commits (poc/test_single_file_commits.py) — real
# micro-batch streaming commits, see streaming.ingest
# ---------------------------------------------------------------------------


def _manifest_commit_bench(tmp_dir: str, batch_sizes: tuple = (1, 100, 1000), commits: int = 40) -> dict:
    """The reference's actual measurement: JSON-manifest append latency per
    commit at batch sizes 1..1000 (poc/test_single_file_commits.py:68-109;
    baseline 4.27 ms / 234 files/s at batch=1, 49.10 ms / 20,367 files/s at
    batch=1000). Metadata-only by design — the data files already exist; a
    streaming commit adds one manifest naming them. The Spark data-write
    path is measured separately below; this one is directly comparable to
    BASELINE.md."""
    out = {}
    mdir = os.path.join(tmp_dir, "manifests")
    os.makedirs(mdir, exist_ok=True)
    try:
        os.sync()  # drain writeback from earlier suites before sub-ms timing
    except OSError:
        pass
    for bs in batch_sizes:
        lat, bytes_written = [], 0
        # one untimed warmup commit: the first tiny write pays allocator +
        # page-cache cold-start that no steady-state commit pays — at
        # batch=1 that single outlier dominated a 10-commit mean (r02
        # showed 0.33 ms vs r01's 0.156 ms from exactly this)
        with open(os.path.join(mdir, f"warmup_{bs}.json"), "w") as f:
            json.dump({"format-version": 2, "entries": []}, f)
        for c in range(commits):
            entries = [
                {
                    "file_path": f"s3://bucket/data/file_{bs}_{c}_{i:08d}.parquet",
                    "file_format": "PARQUET",
                    "record_count": 1000,
                    "file_size_bytes": 1 << 20,
                    "partition_date": "2026-01-01",
                    "snapshot_id": c,
                    "status": 1,
                }
                for i in range(bs)
            ]
            path = os.path.join(mdir, f"manifest_{bs}_{c}.json")
            t0 = time.perf_counter()
            with open(path, "w") as f:
                json.dump({"format-version": 2, "entries": entries}, f)
            lat.append((time.perf_counter() - t0) * 1000)
            bytes_written += os.path.getsize(path)
        total_s = sum(lat) / 1000
        srt = sorted(lat)
        out[f"batch_{bs}"] = {
            "avg_commit_ms": round(sum(lat) / len(lat), 3),
            # median alongside the mean: sub-ms file writes are jitter-prone
            # (GC, dirty-page writeback), and p50 vs avg shows whether a
            # reading is outlier noise or a systematic shift
            "p50_commit_ms": round(srt[len(srt) // 2], 3),
            "files_per_sec": round(bs * commits / max(total_s, 1e-9), 1),
            "avg_manifest_kb": round(bytes_written / commits / 1024, 2),
        }
    return out


def suite_single_file_commits(spark: SparkSession, sf_dir: str, tmp_dir: str) -> dict:
    from ..streaming.ingest import _dir_bytes, micro_batch_commit_metrics, split_events_for_streaming

    # measure the BASELINE.md-comparable JSON-manifest commits FIRST: the
    # streaming ingest + compaction below flush megabytes of parquet through
    # the page cache, and timing 1-entry json writes during that writeback
    # reads ~0.3 ms instead of the ~0.05 ms the writes actually cost (the
    # reference measured its JSON commits in isolation too)
    manifest_commit = _manifest_commit_bench(tmp_dir)
    src = split_events_for_streaming(spark, sf_dir, tmp_dir, n_files=20)
    log = micro_batch_commit_metrics(spark, src, os.path.join(tmp_dir, "commits"))
    lat = [c["commit_ms"] for c in log.commits]
    rows = sum(c["n_rows"] for c in log.commits)
    total_s = sum(lat) / 1000

    # compaction: the accumulated small commit files -> 1 (the reference's
    # 100-manifests->1 rewrite, poc/test_single_file_commits.py:153-194,
    # on real parquet instead of JSON-indent-biased json.dump)
    sink = os.path.join(tmp_dir, "commits", "sink")
    small_files = [f for f in os.listdir(sink) if f.endswith(".parquet")]
    before_bytes = _dir_bytes(sink)
    compacted = os.path.join(tmp_dir, "compacted")
    t0 = time.perf_counter()
    read_parquet(spark, sink).coalesce(1).write.mode("overwrite").parquet(compacted)
    compact_ms = (time.perf_counter() - t0) * 1000
    after_files = [f for f in os.listdir(compacted) if f.endswith(".parquet")]
    return {
        "manifest_commit": manifest_commit,
        "n_commits": len(log.commits),
        "avg_commit_ms": round(sum(lat) / len(lat), 2),
        "min_commit_ms": round(min(lat), 2),
        "max_commit_ms": round(max(lat), 2),
        "rows_per_sec": round(rows / max(total_s, 1e-9), 1),
        "sink_bytes": log.commits[-1]["cum_bytes"],
        "compaction": {
            "files_before": len(small_files),
            "files_after": len(after_files),
            "bytes_before": before_bytes,
            "bytes_after": _dir_bytes(compacted),
            "rewrite_ms": round(compact_ms, 1),
        },
    }


def suite_skew_join(
    spark: SparkSession, n_rows: int = 4_000_000, n_keys: int = 1000, n_salts: int = 16
) -> dict:
    """Quantify the skew-join story: plain shuffle join vs AQE skew split vs
    explicit salting, on a key where 90% of the fact rows share one value.

    The engine's scale claims about salting (operators/skew.py, q_salted_join)
    are measured here instead of asserted: broadcast is disabled so the join
    must shuffle, and the hot key funnels 90% of rows through one reducer
    unless AQE splits it or the salt spreads it. Measured at local[32]:
    salting ~2x; AQE's skew split ~1x — it only rewrites sort-merge joins
    whose skewed partitions cross its size thresholds, which this shape
    doesn't, making the explicit salt the portable fix. The gap widens with
    executor count since the hot reducer is a single-task serial floor. All
    three plans return the same grouped result (asserted) — only the
    physical distribution differs.
    """
    from ..operators.skew import salted_join

    fid = F.col("id")
    big = spark.range(n_rows).select(
        F.when(fid % 10 != 0, 0).otherwise(fid % n_keys).alias("k"),
        (fid % 97).alias("v"),
        (fid % 256).alias("salt_src"),
    )
    small = spark.range(n_keys).select(F.col("id").alias("k"), (F.col("id") % 7).alias("grp"))

    def run_grouped(build_joined) -> tuple[float, int]:
        # warm on one lineage, TIME freshly built identical lineages:
        # re-collecting the same DataFrame lets Spark skip its shuffle
        # stages (map outputs are kept), which would measure only the final
        # stage and scramble the ratio; a fresh lineage gets new shuffle ids
        # while codegen/JIT stay warm from the first run. Median of 3 runs:
        # single-shot shuffle walls jitter ~2x under GC/writeback noise,
        # which made the headline ratio swing run to run.
        build_joined().groupBy("grp").agg(F.sum("v").alias("sv"), F.count("*").alias("n")).collect()
        walls = []
        n_total = 0
        for _ in range(3):
            agg = build_joined().groupBy("grp").agg(F.sum("v").alias("sv"), F.count("*").alias("n"))
            t0 = time.perf_counter()
            rows = agg.collect()
            walls.append((time.perf_counter() - t0) * 1000)
            n_total = sum(r["n"] for r in rows)
        return sorted(walls)[1], n_total

    prev_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_skew = spark.conf.get("spark.sql.adaptive.skewJoin.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        plain_ms, n_plain = run_grouped(lambda: big.join(small, "k"))
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        aqe_ms, n_aqe = run_grouped(lambda: big.join(small, "k"))
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        salted_ms, n_salted = run_grouped(
            lambda: salted_join(big, small, "k", F.col("salt_src"), n_salts=n_salts)
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bcast)
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", prev_skew)
    assert n_plain == n_aqe == n_salted == n_rows
    return {
        "n_rows": n_rows,
        "hot_key_share": 0.9,
        "plain_join_ms": round(plain_ms, 1),
        "aqe_skew_split_ms": round(aqe_ms, 1),
        "salted_join_ms": round(salted_ms, 1),
        "salted_speedup_x": round(plain_ms / max(salted_ms, 1e-9), 2),
        "aqe_speedup_x": round(plain_ms / max(aqe_ms, 1e-9), 2),
    }


def suite_bloom_prune(spark: SparkSession, tmp_dir: str, n_rows: int = 40_000_000, n_files: int = 4) -> dict:
    """Parquet bloom-filter row-group pruning for point lookups.

    The data-skipping layer min/max stats can't provide: a high-cardinality
    key hashed across the domain makes every row group's [min, max] span
    everything, so equality predicates prune NOTHING from stats alone (the
    writer-org suite's sorted-layout fix doesn't apply when lookups are by
    an unsorted secondary key). Parquet bloom filters (Iceberg:
    write.parquet.bloom-filter-enabled.column.*) answer "definitely absent"
    per row group, skipping reads stats must scan.

    Layout matters for the measurement: few large files with many small row
    groups (parquet.block.size=1MB -> ~140K rows/group), so pruning shows as
    decode work avoided rather than being hidden under per-task scheduler
    overhead (the r10 20-small-file layout measured 0.99x for this reason).
    Evidence is taken from the scan node's own numOutputRows metric — rows
    the vectorized reader actually surfaced after row-group filtering — not
    just wall time, plus the row-group census from the parquet footers.
    """
    fid = F.col("id")
    df = spark.range(n_rows).select(
        (fid * 2654435761 % 4_000_000_000).alias("key"), (fid % 97).alias("v")
    )
    plain, bloom = os.path.join(tmp_dir, "bf_plain"), os.path.join(tmp_dir, "bf_bloom")
    # ~1MB row groups => many groups per file => skipping is observable
    df.repartition(n_files).write.mode("overwrite").option(
        "parquet.block.size", str(1 << 20)
    ).parquet(plain)
    (
        df.repartition(n_files)
        .write.mode("overwrite")
        .option("parquet.block.size", str(1 << 20))
        .option("parquet.bloom.filter.enabled#key", "true")
        # sized to actual per-row-group NDV (~140K distinct keys/group), not
        # per-file NDV: blooms are per row group, oversizing pays 2x storage
        .option("parquet.bloom.filter.expected.ndv#key", "150000")
        .parquet(bloom)
    )
    probe_key = int(read_parquet(spark, plain).limit(1).collect()[0]["key"])

    import pyarrow.parquet as pq

    def rg_census(path: str) -> tuple[int, float]:
        total, rows = 0, 0
        for part in os.listdir(path):
            if part.endswith(".parquet"):
                md = pq.ParquetFile(os.path.join(path, part)).metadata
                total += md.num_row_groups
                rows += md.num_rows
        return total, rows / max(total, 1)

    def rows_scanned(path: str) -> tuple[int, int]:
        """(result rows, rows the scan node surfaced post row-group filter)."""
        d = read_parquet(spark, path).filter(F.col("key") == probe_key)
        n = len(d.collect())  # no exchange -> executed plan carries metrics
        scan = d._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
        it = scan.metrics().iterator()
        surfaced = 0
        while it.hasNext():
            kv = it.next()
            if kv._1() == "numOutputRows":
                surfaced = int(kv._2().value())
        return n, surfaced

    def point_lookup_ms(path: str) -> float:
        d = read_parquet(spark, path).filter(F.col("key") == probe_key)
        d.count()  # warm
        t0 = time.perf_counter()
        for _ in range(5):
            d.count()
        return (time.perf_counter() - t0) / 5 * 1000

    n_plain, scanned_plain = rows_scanned(plain)
    n_bloom, scanned_bloom = rows_scanned(bloom)
    assert n_plain == n_bloom >= 1
    assert scanned_bloom < scanned_plain  # pruning must actually engage
    plain_ms = point_lookup_ms(plain)
    bloom_ms = point_lookup_ms(bloom)
    rg_total, rows_per_rg = rg_census(bloom)
    from ..streaming.ingest import _dir_bytes

    plain_b, bloom_b = _dir_bytes(plain), _dir_bytes(bloom)
    return {
        "n_rows": n_rows,
        "point_lookup_plain_ms": round(plain_ms, 1),
        "point_lookup_bloom_ms": round(bloom_ms, 1),
        "bloom_speedup_x": round(plain_ms / max(bloom_ms, 1e-9), 2),
        "rows_scanned_plain": scanned_plain,
        "rows_scanned_bloom": scanned_bloom,
        "scan_rows_reduction_x": round(scanned_plain / max(scanned_bloom, 1), 1),
        "rowgroups_total": rg_total,
        "rowgroups_scanned": round(scanned_bloom / max(rows_per_rg, 1.0), 1),
        "plain_mb": round(plain_b / 1e6, 1),
        "bloom_mb": round(bloom_b / 1e6, 1),
        "storage_premium_pct": round((bloom_b - plain_b) / plain_b * 100, 1),
    }


def suite_stream_throughput(spark: SparkSession, sf_dir: str, tmp_dir: str, n_files: int = 8) -> dict:
    """Sustained throughput of a live watermarked streaming aggregation.

    Beyond the reference's modeled commit pattern: run the actual
    Structured Streaming pipeline (file source -> watermark -> 1h tumbling
    window agg -> foreachBatch sink) to completion over the events fixture
    and measure end-to-end rows/sec and per-micro-batch latency. The same
    windowed aggregation is oracle-gated in batch form (q_stream_tumbling);
    here the streaming runtime itself — state store, watermark eviction,
    micro-batch scheduling — is on the clock.
    """
    from ..streaming.ingest import split_events_for_streaming, stream_events
    from ..streaming.windows import tumbling_counts

    src = split_events_for_streaming(spark, sf_dir, os.path.join(tmp_dir, "tp"), n_files=n_files)
    totals = {"rows": 0, "batches": 0}

    def sink(batch_df, batch_id):
        totals["rows"] += batch_df.count()
        totals["batches"] += 1

    t0 = time.perf_counter()
    q = (
        tumbling_counts(stream_events(spark, src, files_per_trigger=2))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(tmp_dir, "tp_ckpt"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall_s = time.perf_counter() - t0
    n_input = read_parquet(spark, src).count()
    return {
        "input_rows": n_input,
        "result_rows": totals["rows"],
        "micro_batches": totals["batches"],
        "wall_s": round(wall_s, 2),
        "rows_per_sec": round(n_input / max(wall_s, 1e-9), 1),
    }


# ---------------------------------------------------------------------------
# suite 6 — adaptive metadata tree (poc/test_adaptive_metadata_tree.py)
# ---------------------------------------------------------------------------


def suite_adaptive_tree(spark: SparkSession, scales: tuple = (1_000, 10_000, 50_000)) -> dict:
    """Flat scan vs the q_scan_tree plan over synthetic manifests.

    The tree is the reference's root->branch->leaf descent
    (poc/test_adaptive_metadata_tree.py): branch summaries are consulted
    first, leaf summaries only within surviving branches, and entries only
    within surviving leaves. ``tree_prune_ms`` is the wall of the whole
    plan, matched files included.
    """
    probe = F.to_date(F.lit(TREE_PROBE_DATE))
    out = {}
    for n in scales:
        fm = file_meta_of(_file_ids(spark, n))
        flat_ms, _ = _timed(fm.filter(F.col("partition_date") == probe))
        tree_ms, (row,) = _timed(scan_tree(fm), collect=True)
        out[str(n)] = {
            "flat_scan_ms": round(flat_ms, 1),
            "tree_prune_ms": round(tree_ms, 1),
            "leaves_visited": row["leaves_visited"],
            "files_matched": row["files_matched"],
        }
    return out


# ---------------------------------------------------------------------------
# suite 7 — wide-table pruning (poc/test_wide_table_pruning.py)
# ---------------------------------------------------------------------------


def suite_wide_table(spark: SparkSession, tmp_dir: str, n_cols: int = 500, n_files: int = 50, rows_per_file: int = 1000) -> dict:
    """V3 (open every footer) vs V4 (aggregated stats) planning."""
    import pyarrow.parquet as pq

    path = os.path.join(tmp_dir, "wide")
    metrics = [((F.col("id") * (i + 13)) % 200 - 100).cast("double").alias(f"metric_{i}") for i in range(n_cols)]
    spark.range(n_files * rows_per_file).select(F.col("id"), *metrics).repartition(n_files).write.mode(
        "overwrite"
    ).parquet(path)
    files = [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]
    target = f"metric_{n_cols - 1}"
    # V3: open every footer, extract the target column's stats
    t0 = time.perf_counter()
    v3_hits = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index(target)
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is not None and st.max is not None and st.max > 0:
                v3_hits += 1
                break
    v3_ms = (time.perf_counter() - t0) * 1000
    # V4: one aggregated-stats table answers the predicate without footers.
    # Group by the actual source file (_metadata) — read-side partition ids
    # would coalesce small files and misattribute stats.
    stats_df = read_parquet(spark, path).groupBy(
        F.col("_metadata.file_name").alias("file_name")
    ).agg(F.max(target).alias("mx"))
    stats = stats_df.collect()  # build once (the writer would persist this)
    t0 = time.perf_counter()
    v4_hits = sum(1 for r in stats if r["mx"] is not None and r["mx"] > 0)
    v4_ms = (time.perf_counter() - t0) * 1000
    return {
        "n_cols": n_cols,
        "n_files": len(files),
        "v3_footer_scan_ms": round(v3_ms, 2),
        "v4_stats_lookup_ms": round(max(v4_ms, 0.001), 3),
        "speedup_x": round(v3_ms / max(v4_ms, 0.001), 1),
        "files_qualifying_v3": v3_hits,
        "files_qualifying_v4": v4_hits,
    }


# ---------------------------------------------------------------------------
# suite 8 — concurrent writers (poc/test_concurrent_writers.py)
# ---------------------------------------------------------------------------


def _optimistic_commit_run(n_writers: int, writes_each: int, meta_write, data_write=None) -> dict:
    """Run the optimistic-locking commit protocol across n_writers threads.

    Iceberg's conflict window: the data write (if any) runs first and is
    never redone — data files land conflict-free at per-writer paths and
    are cheap to re-point. Then the version is snapshotted, the metadata
    attempt (``meta_write(wid, i, expected)``) runs, and the CAS fires. A
    lost race counts a conflict, re-snapshots, redoes only the metadata
    attempt against the new base (Iceberg's rebase), and retries with
    exponential backoff.
    """
    version = {"v": 0}
    lock = threading.Lock()
    stats = {"commits": 0, "conflicts": 0}
    lat: list[float] = []

    def writer(wid: int) -> None:
        for i in range(writes_each):
            if data_write is not None:
                data_write(wid, i)
            with lock:
                expected = version["v"]
            retries = 0
            while True:
                # latency is per-attempt (work + CAS of the attempt that
                # lands), the reference's definition — not cumulative across
                # lost races and backoff (poc/test_concurrent_writers.py:122-137)
                t0 = time.perf_counter()
                meta_write(wid, i, expected)
                with lock:
                    if version["v"] == expected:
                        version["v"] += 1
                        stats["commits"] += 1
                        lat.append((time.perf_counter() - t0) * 1000)
                        break
                    stats["conflicts"] += 1
                    expected = version["v"]
                time.sleep(0.001 * (2**min(retries, 5)))  # reference backoff curve
                retries += 1

    t0 = time.perf_counter()
    threads = [threading.Thread(target=writer, args=(w,)) for w in range(n_writers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall_s = time.perf_counter() - t0
    attempts = stats["commits"] + stats["conflicts"]
    return {
        "commits_per_sec": round(stats["commits"] / wall_s, 1),
        "conflict_rate": round(stats["conflicts"] / max(attempts, 1), 3),
        "avg_commit_ms": round(sum(lat) / max(len(lat), 1), 2),
        "final_version": version["v"],
    }


def suite_concurrent_writers(spark: SparkSession, tmp_dir: str, n_writers: int = 5, writes_each: int = 50) -> dict:
    """Optimistic-locking commit protocol, two timing profiles.

    Mirrors Iceberg's model (poc/test_concurrent_writers.py:57-157): data
    files land conflict-free at per-writer paths; only the metadata version
    pointer is contended, and each commit attempt does real work — building
    and writing a JSON manifest for the new version — inside the CAS window
    (rebased and rewritten on every lost race).

    Top-level numbers are the metadata-only profile, the apples-to-apples
    comparison with the reference (whose per-commit work is a sub-ms JSON
    write, yielding its 26.4%-conflict / 293-commits-per-sec shape). The
    ``spark_data_write`` sub-profile adds a real Spark parquet job per
    commit — same protocol with a data plane attached; its lower commit
    rate is write cost, not protocol cost.
    """
    meta_dir = os.path.join(tmp_dir, "concurrent/meta")
    os.makedirs(meta_dir, exist_ok=True)
    # The reference's in-window "work" is time.sleep(uniform(1ms, 5ms)), mean
    # 3 ms (poc/test_concurrent_writers.py:128) — a sleep RELEASES the GIL, so
    # its five writers overlap fully. Round 1 sized a pure-python json.dump to
    # the same 3 ms, but that holds the GIL and serializes every writer,
    # understating commit throughput ~35% at identical conflict shape. Match
    # the reference: a small real manifest write plus a deterministic 1-5 ms
    # sleep (hash-draw, mean 3 ms) filling the rest of the conflict window.
    entries = [{"path": f"data/f{i}.parquet", "records": 1000 + i} for i in range(20)]

    def write_manifest(wid: int, i: int, expected: int) -> None:
        # optimistic locking serializes commits at ~1/window system-wide (one
        # winner per epoch; every overlapping attempt is doomed to conflict),
        # so commit throughput is set by the TOTAL window length. The write
        # cost counts toward the window — sleep only the remainder — otherwise
        # the cadence runs ~25% slower than the reference's at the same shape.
        t0 = time.perf_counter()
        target_ms = 1.0 + ((wid * 1315423911 + i * 2654435761 + expected * 97) % 4001) / 1000.0
        manifest = {"base_version": expected, "writer": wid, "seq": i, "entries": entries}
        with open(os.path.join(meta_dir, f"w{wid}_s{i}.json"), "w") as f:
            json.dump(manifest, f)
        remainder = target_ms / 1000.0 - (time.perf_counter() - t0)
        if remainder > 0:
            time.sleep(remainder)

    meta = _optimistic_commit_run(n_writers, writes_each, write_manifest)

    def write_data(wid: int, i: int) -> None:
        spark.range(10).select(
            (F.col("id") + wid * 1_000_000 + i * 1000).alias("row_id")
        ).write.mode("overwrite").parquet(os.path.join(tmp_dir, f"concurrent/w{wid}/f{i}"))

    data = _optimistic_commit_run(
        n_writers, max(writes_each // 10, 2), write_manifest, data_write=write_data
    )

    return {
        "n_writers": n_writers,
        "writes_each": writes_each,
        **meta,
        "spark_data_write": {"writes_each": max(writes_each // 10, 2), **data},
    }


# ---------------------------------------------------------------------------
# suite 10 — column-file DV updates (reference file empty; reconstructed from
# poc/results/column_file_dv_updates_results.json schema)
# ---------------------------------------------------------------------------


def suite_column_update(spark: SparkSession, tmp_dir: str, n_rows: int = 100_000, n_cols: int = 50) -> dict:
    """Single-column update vs full-file rewrite cost.

    Median of 3 timed write pairs after one untimed warmup pair: a parquet
    write at this scale (~100 ms) rides the page-cache writeback of earlier
    suites, and a single shot moved the speedup 2.9->1.9 between rounds
    (r04 verdict) purely on that noise — the same rationale as _timed()'s
    median for reads.

    Both sides coalesce(1): the reference's unit is ONE column file rewritten
    vs ONE row group rewritten (poc column-file DV update, baseline 2.9x), so
    each side must produce one file — writing 32 sliver files makes per-task
    scheduling the measurement and compresses the ratio toward 1x regardless
    of bytes (probed: 32-file 1.2-1.5x, 1-file 3.2x with full-side encode
    cost plainly visible). Single-file writes are the microbench shape only;
    the engine's real write path sizes files by maxPartitionBytes.
    """
    path = os.path.join(tmp_dir, "colupd")
    cols = [((F.col("id") * (i + 13)) % 200).cast("double").alias(f"c{i}") for i in range(n_cols)]
    spark.range(n_rows).select(F.col("id"), *cols).write.mode("overwrite").parquet(path)
    base = read_parquet(spark, path)

    def _write_ms(df: DataFrame, out: str) -> float:
        t0 = time.perf_counter()
        df.write.mode("overwrite").parquet(os.path.join(tmp_dir, out))
        return (time.perf_counter() - t0) * 1000

    full_df = base.withColumn("c0", F.col("c0") + 1).coalesce(1)
    col_df = base.select("id", (F.col("c0") + 1).alias("c0")).coalesce(1)
    _write_ms(full_df, "full_warm")
    _write_ms(col_df, "col_warm")
    full_walls = sorted(_write_ms(full_df, "full") for _ in range(3))
    col_walls = sorted(_write_ms(col_df, "col") for _ in range(3))
    full_ms, col_ms = full_walls[1], col_walls[1]

    def _dir_bytes(out: str) -> int:
        d = os.path.join(tmp_dir, out)
        return sum(
            os.path.getsize(os.path.join(d, f)) for f in os.listdir(d) if f.endswith(".parquet")
        )

    # published decomposition (r05 verdict item 4): the wall ratio printed
    # 2.9/1.9/4.1 across rounds because the measured unit kept shifting.
    # Pin the two deterministic physical quantities alongside the walls:
    # output BYTES per side (the I/O the reference's 2.9x rests on — one
    # 51-wide full row group vs one (id,c0) column file) and the implied
    # CELLS encoded (51 vs 2 per row). The wall speedup is bracketed by
    # them — bytes_ratio (I/O-bound floor; the repeated c_i columns
    # dictionary-encode small, so unique int64 `id` dominates both files)
    # <= speedup <= cells ratio (encode-bound ceiling) — so a future wall
    # wobble inside the bracket is scheduler noise, outside it a unit change.
    full_bytes, col_bytes = _dir_bytes("full"), _dir_bytes("col")
    return {
        "n_rows": n_rows,
        "n_cols": n_cols,
        "reps": 3,
        "full_rewrite_ms": round(full_ms, 1),
        "column_update_ms": round(col_ms, 1),
        "full_rewrite_bytes": full_bytes,
        "column_update_bytes": col_bytes,
        "bytes_ratio_x": round(full_bytes / max(col_bytes, 1), 1),
        "cells_ratio_x": round((n_cols + 1) / 2, 1),
        "column_update_speedup_x": round(full_ms / max(col_ms, 0.001), 1),
    }


# ---------------------------------------------------------------------------
# suite 11 — per-container media decode cost (r05 verdict stretch item:
# the image fixture carries compressed (PNG) and uncompressed (PPM/PGM/BMP)
# encodings of IDENTICAL rasters, so the container is the only variable —
# a controlled measurement of what compressed decode costs at the column
# level, the reference-style finding for the multimodal band)
# ---------------------------------------------------------------------------


def suite_media_decode(spark: SparkSession, sf_dir: str, tmp_dir: str, reps: int = 20) -> dict:
    """Decode wall per image container over the same raster corpus.

    Every document's text becomes the same grayscale raster in each of the
    four containers; payloads are pre-written to parquet (encode cost is the
    fixture writer's, not the reader's), then the timed pipeline is the real
    column workload: parquet binary scan -> mapInPandas magic-byte dispatch
    -> decode -> feature row, materialized by count. Each payload is decoded
    ``reps`` times (map-only explode before the decode stage) so the codec
    work dominates the ~250 ms local job floor instead of drowning in it —
    otherwise every container times the scheduler. Per container we report
    the stored corpus bytes (PNG's zlib IDAT vs raw planes), the median
    amplified decode wall, and decoded-raster throughput (MB/s of PIXELS
    produced, comparable across containers — same pixels out, different
    bytes in). Map-only: at 100 TB this scales with executor count; the
    suite prices the CPU asymmetry a format choice buys."""
    import pandas as pd

    from ..operators.multimodal import media_features, text_to_image

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    raster_bytes = docs.select(
        F.sum(F.pow(F.ceil(F.sqrt(F.length("text"))), 2).cast("bigint")).alias("b")
    ).collect()[0]["b"]
    names = ("ppm", "pgm", "bmp", "png")
    n_docs = docs.count()
    out: dict = {"n_docs": n_docs, "reps": reps, "raster_bytes": int(raster_bytes)}
    decoded_mb = raster_bytes * reps / 1e6
    for idx, name in enumerate(names):
        enc = F.pandas_udf(
            lambda s, _i=idx: pd.Series([text_to_image(t.encode("utf-8"), _i) for t in s]),
            "binary",
        )
        path = os.path.join(tmp_dir, f"media_{name}")
        docs.select("doc_id", enc(F.col("text")).alias("payload")).write.mode(
            "overwrite"
        ).parquet(path)
        payloads = read_parquet(spark, path)
        stored = payloads.select(F.sum(F.length("payload")).alias("b")).collect()[0]["b"]
        amplified = payloads.withColumn(
            "r", F.explode(F.sequence(F.lit(1), F.lit(reps)))
        ).repartition(32).drop("r")
        ms, n = _timed(media_features(amplified))
        out[name] = {
            "stored_bytes": int(stored),
            "decode_ms": round(ms, 1),
            # 3 significant digits: a slow decode under contention must not
            # round a positive throughput to 0.0
            "raster_mb_per_s": float(f"{decoded_mb / max(ms / 1000, 1e-9):.3g}"),
        }
        assert n == n_docs * reps
    out["png_vs_ppm_decode_x"] = round(out["png"]["decode_ms"] / max(out["ppm"]["decode_ms"], 0.001), 2)
    out["png_vs_ppm_bytes_x"] = round(out["png"]["stored_bytes"] / max(out["ppm"]["stored_bytes"], 1), 2)
    return out


def suite_text_index(spark: SparkSession, sf_dir: str, tmp_dir: str, n_probes: int = 20, reps: int = 5) -> dict:
    """Inverted-index build wall + point-probe latency + BM25 scoring wall.

    The search band's reference-style suite row (r06 verdict stretch item):

    - **build**: tokenize -> distinct (term, doc_id) -> per-term df + capped
      posting head (the q_inverted_index shape, without its df floor so the
      index covers the whole vocabulary), written range-partitioned and
      term-sorted to parquet. The sorted layout is the scale design: term
      probes prune on footer min/max instead of scanning the vocabulary.
    - **probe**: ``n_probes`` terms spread deterministically across the df
      spectrum (every (n_terms/n_probes)-th term of the df-ranked
      vocabulary), each filtered + collected against the parquet index;
      reports the median single-probe wall — dominated by the local job
      floor, which is exactly what a point lookup costs on this engine.
    - **score**: one full-corpus BM25 pass (the registered q_bm25 plan),
      the ranked-retrieval throughput number.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    term_doc = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term")
    ).distinct()
    idx = term_doc.groupBy("term").agg(
        F.count("*").cast("bigint").alias("df"),
        F.array_join(
            F.slice(F.sort_array(F.collect_list("doc_id")), 1, 64), ","
        ).alias("postings_head"),
    )
    path = os.path.join(tmp_dir, "inverted_index")
    t0 = time.perf_counter()
    idx.repartitionByRange(8, "term").sortWithinPartitions("term").write.mode("overwrite").parquet(path)
    build_ms = (time.perf_counter() - t0) * 1000
    index = read_parquet(spark, path)
    n_terms = index.count()
    n_docs = docs.count()

    # probe terms: every k-th term of the df-ranked vocabulary (hot -> cold)
    stride = max(1, n_terms // n_probes)
    ranked = index.select("term", "df", F.row_number().over(Window.orderBy(F.desc("df"), "term")).alias("r"))
    probe_terms = [
        row["term"] for row in ranked.filter(((F.col("r") - 1) % stride) == 0).limit(n_probes).collect()
    ]
    if not probe_terms:  # empty vocabulary (degenerate fixture) — skip, don't IndexError
        return {
            "n_docs": int(n_docs),
            "n_terms": int(n_terms),
            "index_build_ms": round(build_ms, 1),
            "probe_p50_ms": None,
            "probe_max_ms": None,
            "n_probes": 0,
            "bm25_score_ms": None,
            "skipped": "empty vocabulary — no probe terms",
        }
    # warm the reader path once so probe walls are steady-state
    index.filter(F.col("term") == probe_terms[0]).collect()
    probe_walls = []
    for t in probe_terms:
        walls = []
        for _ in range(reps):
            t0 = time.perf_counter()
            index.filter(F.col("term") == t).collect()
            walls.append((time.perf_counter() - t0) * 1000)
        probe_walls.append(sorted(walls)[len(walls) // 2])
    probe_walls.sort()

    from ..core.registry import all_queries

    bm25_ms, _ = _timed(all_queries()["q_bm25"].fn(spark, sf_dir))
    return {
        "n_docs": int(n_docs),
        "n_terms": int(n_terms),
        "index_build_ms": round(build_ms, 1),
        "probe_p50_ms": round(probe_walls[len(probe_walls) // 2], 2),
        "probe_max_ms": round(probe_walls[-1], 2),
        "n_probes": len(probe_terms),
        "bm25_score_ms": round(bm25_ms, 1),
    }


# ---------------------------------------------------------------------------
# runner
# ---------------------------------------------------------------------------



def suite_bucketed_join(
    spark: SparkSession, tmp_dir: str, n_fact: int = 2_000_000, n_dim: int = 400_000, n_buckets: int = 32
) -> dict:
    """Bucketed co-located join vs plain shuffle join, measured.

    The pre-shuffled-layout story (core/layout.py): writing both tables
    bucketed AND bucket-sorted on the join key makes every later join
    between them exchange-free and sort-free — Spark reads matching buckets
    into the same tasks and streams the merge off the sorted files. tests/
    test_layout.py asserts the zero-Exchange plan property; this suite
    prices it. Broadcast is disabled so the baseline genuinely shuffles
    both sides (the dim here is the "too big to broadcast" middle class).
    The one-time bucketed-write cost is reported alongside: bucketing pays
    off after (write_ms / per-join saving) joins — the standard
    amortization argument for dimension tables joined by every query of a
    nightly batch. At cluster scale the saved exchange is the fact table's
    full network transit, and co-bucketed layouts also survive executor
    loss better than shuffle files.
    """
    from ..core.layout import colocated_join, write_bucketed

    fid = F.col("id")
    fact = spark.range(n_fact).select(
        (fid % n_dim).alias("k"), (fid % 97).alias("v")
    )
    dim = spark.range(n_dim).select(F.col("id").alias("dk"), (F.col("id") % 1000).alias("grp"))

    fact_path = os.path.join(tmp_dir, "bj_fact")
    dim_path = os.path.join(tmp_dir, "bj_dim")
    fact.write.mode("overwrite").parquet(fact_path)
    dim.write.mode("overwrite").parquet(dim_path)

    # repartition ON the bucket key before writing: every task then holds
    # exactly one bucket, so each bucket is ONE sorted file — which is what
    # lets Spark elide the per-task sort as well as the exchange (a bucketed
    # table whose buckets span many unsorted files still sort-merges).
    t0 = time.perf_counter()
    write_bucketed(
        fact.repartition(n_buckets, "k"), "bj_fact_b", ["k"], n_buckets=n_buckets, sort_cols=["k"]
    )
    write_bucketed(
        dim.repartition(n_buckets, "dk"), "bj_dim_b", ["dk"], n_buckets=n_buckets, sort_cols=["dk"]
    )
    bucketed_write_ms = (time.perf_counter() - t0) * 1000

    def timed_agg(build_joined) -> float:
        build_joined().agg(F.sum("v").alias("sv"), F.count("*").alias("n")).collect()
        walls = []
        for _ in range(3):
            agg = build_joined().agg(F.sum("v").alias("sv"), F.count("*").alias("n"))
            t = time.perf_counter()
            rows = agg.collect()
            walls.append((time.perf_counter() - t) * 1000)
            assert rows[0]["n"] == n_fact
        return sorted(walls)[1]

    def plan_exchanges(df) -> int:
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        return df._jdf.queryExecution().explainString(mode).count("Exchange")

    prev_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        def plain():
            f = read_parquet(spark, fact_path)
            d = read_parquet(spark, dim_path)
            return f.join(d, f.k == d.dk)

        def bucketed():
            return colocated_join(spark, "bj_fact_b", "bj_dim_b", "k", "dk")

        plain_ms = timed_agg(plain)
        bucketed_ms = timed_agg(bucketed)
        n_exchanges_plain = plan_exchanges(plain())
        n_exchanges_bucketed = plan_exchanges(bucketed())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bcast)
        spark.sql("DROP TABLE IF EXISTS bj_fact_b")
        spark.sql("DROP TABLE IF EXISTS bj_dim_b")
    # join-side exchanges only: the final 1-row agg contributes none on the
    # bucketed plan and its partial/final pair is shared by both
    return {
        "n_fact": n_fact,
        "n_dim": n_dim,
        "n_buckets": n_buckets,
        "plain_join_ms": round(plain_ms, 1),
        "bucketed_join_ms": round(bucketed_ms, 1),
        "bucketed_speedup_x": round(plain_ms / max(bucketed_ms, 1e-9), 2),
        "bucketed_write_ms": round(bucketed_write_ms, 1),
        "n_exchanges_plain": n_exchanges_plain,
        "n_exchanges_bucketed": n_exchanges_bucketed,
    }


def suite_mdv_compression() -> dict:
    """Delete-vector wire-size parity with the reference's Roaring
    validation row (BASELINE.md "MDV compression": run containers ~9 bytes
    for 500 contiguous deletes, ~2 bytes/delete sparse — index.html
    Scenario B partition-drop table ~line 1331-1367;
    poc/utils/mdv_generator.py:112-150 always run_optimize()s before
    serializing, so run containers ARE its write path).

    Pure codec-size metrics — deterministic and data-independent, no
    timing: the engine's portable Roaring serialization with
    run_optimize=True on the two canonical delete shapes:

    - partition drop: 500 contiguous positions -> a single run container
      (cookie word + run bitset + descriptor + one (start,len) pair);
    - sparse scatter: 500 positions at stride 97 -> one array container
      (the reference's "~2 bytes per deleted position" row).

    Sizes are reported raw (the reference's table quotes serialize()
    output) and inside the zlib'd MDV2 frame (the actual storage path both
    engines use — zlib's 11-byte floor dominates at these tiny sizes,
    which is why the raw number is the comparable one).
    """
    import zlib

    from ..operators.dv_payload import encode_positions_roaring
    from ..operators.roaring import roaring_serialize

    contiguous = list(range(1000, 1500))
    sparse = list(range(0, 500 * 97, 97))
    raw_run = roaring_serialize(contiguous, run_optimize=True)
    raw_sparse = roaring_serialize(sparse, run_optimize=True)
    # the no-run encoding of the same contiguous set: one array container
    raw_contig_array = roaring_serialize(contiguous)
    return {
        "n_deletes": 500,
        "contiguous_run_bytes": len(raw_run),
        "contiguous_array_bytes": len(raw_contig_array),
        "run_vs_array_reduction_x": round(len(raw_contig_array) / len(raw_run), 1),
        "contiguous_framed_bytes": len(encode_positions_roaring(contiguous, run_optimize=True)),
        "sparse_roaring_bytes": len(raw_sparse),
        "sparse_bytes_per_delete": round(len(raw_sparse) / 500, 3),
        "zlib_floor_bytes": len(zlib.compress(b"", 6)),
    }


def run_all_suites(spark: SparkSession, sf_dir: str, tmp_dir: str) -> dict:
    """Run every suite at the reference's scale points."""
    return {
        "writer_org": suite_writer_org(spark),
        "delete_storm": suite_delete_storm(spark),
        "parallel_fetch": suite_parallel_fetch(spark),
        "manifest_parse": suite_manifest_parse(spark, tmp_dir),
        "density_policy": suite_density_policy(spark),
        "dv_resolution": suite_dv_resolution(spark),
        "single_file_commits": suite_single_file_commits(spark, sf_dir, tmp_dir),
        "stream_throughput": suite_stream_throughput(spark, sf_dir, tmp_dir),
        "skew_join": suite_skew_join(spark),
        "bucketed_join": suite_bucketed_join(spark, tmp_dir),
        "bloom_prune": suite_bloom_prune(spark, tmp_dir),
        "mdv_compression": suite_mdv_compression(),
        "adaptive_tree": suite_adaptive_tree(spark),
        "wide_table": suite_wide_table(spark, tmp_dir),
        # the survey's full range is "up to 1000 columns"
        # (poc/test_wide_table_pruning.py:76-95 supports 998 metrics; the
        # published config is 500). Row count is kept small: footer-scan
        # cost is files x cols metadata, not data rows.
        "wide_table_1000": suite_wide_table(
            spark,
            os.path.join(tmp_dir, "wide1000"),
            n_cols=1000,
            n_files=50,
            rows_per_file=200,
        ),
        "concurrent_writers": suite_concurrent_writers(spark, tmp_dir),
        "column_update": suite_column_update(spark, tmp_dir),
        "media_decode": suite_media_decode(spark, sf_dir, tmp_dir),
        "text_index": suite_text_index(spark, sf_dir, tmp_dir),
    }


if __name__ == "__main__":
    import sys
    import tempfile

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
    from iceberg_benchmark_poc_spark.core.session import get_spark

    spark = get_spark(app_name="suites")
    spark.sparkContext.setLogLevel("ERROR")
    results = run_all_suites(spark, os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"), tempfile.mkdtemp())
    print(json.dumps(results, indent=2))
