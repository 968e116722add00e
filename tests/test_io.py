"""core.io: job-free schema resolution per file state, its fallbacks, the
footer bounds that stand in for Spark's min/max folds, and ``cut``'s
survival of an executor loss.

Every table here is written with pyarrow (or with Spark) under ``tmp_path``,
so each test owns its paths and the module-level footer cache cannot carry
state from one test to the next; the fixture checks start from an empty
cache.
"""

from __future__ import annotations

import datetime
import math
import os
import re
import subprocess
import sys
import textwrap

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from iceberg_benchmark_poc_spark.bench.census import jobs_of
from iceberg_benchmark_poc_spark.core import io
from iceberg_benchmark_poc_spark.core.io import (
    TABLES,
    column_bounds,
    ensure_session_confs,
    join_small,
    load_small,
    load_table,
    read_parquet,
    spread_narrow,
    table_bounds,
)
from iceberg_benchmark_poc_spark.queries.behavior import q_power_users, q_rfm_segments
from iceberg_benchmark_poc_spark.queries.relational import q_skyline
from iceberg_benchmark_poc_spark.queries.textpipe import q_shard_pack

from .conftest import SF_DIR

#: the sf0.001 and sf0.01 fixture directories beside the test fixtures
_TESTDATA = os.path.dirname(os.path.abspath(SF_DIR))
FIXTURE_DIRS = [
    d for d in (os.path.join(_TESTDATA, sf) for sf in ("sf0.001", "sf0.01")) if os.path.isdir(d)
]
#: (table, columns) of the range-bucket folds of q_skyline, q_shard_pack,
#: q_power_users and q_rfm_segments
FOLD_SITES = (
    ("part", ["p_retailprice"]),
    ("documents", ["doc_id"]),
    ("events", ["value"]),
    ("events", ["ts", "value"]),
)


def _write_events(sf_dir) -> None:
    # events.ts as TIMESTAMP(NANOS), not UTC-adjusted: the nanos layout of other
    # writers (the fixtures store MICROS), read through nanosAsLong's BIGINT branch
    t0 = datetime.datetime(2024, 1, 1)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2, 3], pa.int64()),
                "ts": pa.array([t0, t0 + datetime.timedelta(seconds=1), None], pa.timestamp("ns")),
                "user_id": pa.array([7, 7, 8], pa.int64()),
                "value": pa.array([1.5, None, 2.0], pa.float64()),
            }
        ),
        os.path.join(sf_dir, "events.parquet"),
    )


def test_repeat_load_of_unchanged_table_runs_no_job(spark, tmp_path):
    _write_events(tmp_path)
    miss, miss_jobs = jobs_of(spark, lambda: load_table(spark, str(tmp_path), "events"))
    hit, hit_jobs = jobs_of(spark, lambda: load_table(spark, str(tmp_path), "events"))
    assert miss_jobs == 0  # the schema comes from the footer
    assert hit_jobs == 0
    assert hit.dtypes == miss.dtypes
    assert dict(hit.dtypes)["ts"] == "timestamp_ntz"
    assert hit.schema == miss.schema
    assert sorted(hit.collect()) == sorted(miss.collect())


def test_file_rewritten_with_new_schema_is_reinferred(spark, tmp_path):
    path = tmp_path / "orders.parquet"
    pq.write_table(pa.table({"o_orderkey": pa.array([1, 2], pa.int64())}), path)
    assert load_table(spark, str(tmp_path), "orders").dtypes == [("o_orderkey", "bigint")]
    pq.write_table(
        pa.table({"o_orderkey": pa.array([1, 2], pa.int32()), "o_comment": ["a", "b"]}), path
    )
    again, jobs = jobs_of(spark, lambda: load_table(spark, str(tmp_path), "orders"))
    assert again.dtypes == [("o_orderkey", "int"), ("o_comment", "string")]
    assert jobs == 0


def test_directory_overwritten_then_appended_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "part.parquet")
    spark.createDataFrame([(1,)], "p_partkey bigint").write.parquet(path)
    assert load_table(spark, str(tmp_path), "part").dtypes == [("p_partkey", "bigint")]

    spark.createDataFrame([(1, "x")], "p_partkey int, p_name string").write.mode(
        "overwrite"
    ).parquet(path)
    over = load_table(spark, str(tmp_path), "part")
    assert over.dtypes == [("p_partkey", "int"), ("p_name", "string")]
    assert over.count() == 1

    spark.createDataFrame([(2, "y")], "p_partkey int, p_name string").write.mode(
        "append"
    ).parquet(path)
    appended, jobs = jobs_of(spark, lambda: load_table(spark, str(tmp_path), "part"))
    assert jobs == 0  # the new part file changed the signature; footer re-read
    assert appended.dtypes == [("p_partkey", "int"), ("p_name", "string")]
    assert sorted(r.p_partkey for r in appended.collect()) == [1, 2]


def test_missing_path_raises_spark_path_not_found(spark, tmp_path):
    for _ in range(2):  # nothing is cached for a path the driver cannot stat
        with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
            load_table(spark, str(tmp_path), "region")


class _BuilderRecorder:
    """Stands in for ``SparkSession.builder``: records every conf."""

    def __init__(self):
        self.conf = {}

    def appName(self, name):
        return self

    def master(self, url):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


def test_builder_turns_dataframe_debugging_off(spark, monkeypatch):
    """get_spark's builder sets the flag PySpark caches on the first API
    call, and extra_conf can turn it back on."""
    from pyspark.errors.utils import is_debugging_enabled
    from pyspark.sql import SparkSession

    from iceberg_benchmark_poc_spark.core.session import get_spark

    key = "spark.python.sql.dataFrameDebugging.enabled"
    assert spark.conf.get(key) == "false"
    assert is_debugging_enabled() is False
    monkeypatch.setattr(SparkSession, "builder", _BuilderRecorder())
    assert get_spark()[key] == "false"
    monkeypatch.setattr(SparkSession, "builder", _BuilderRecorder())
    assert get_spark(extra_conf={key: "true"})[key] == "true"


def test_session_confs_written_only_when_different(spark, monkeypatch):
    writes = []
    real_set = spark.conf.set
    monkeypatch.setattr(spark.conf, "set", lambda k, v: (writes.append(k), real_set(k, v)))
    ensure_session_confs(spark)
    assert writes == []  # get_spark already pinned both
    real_set("spark.sql.session.timeZone", "America/New_York")
    try:
        ensure_session_confs(spark)
    finally:
        real_set("spark.sql.session.timeZone", "UTC")
    assert writes == ["spark.sql.session.timeZone"]


# -- schema parity and fallbacks ---------------------------------------------


def _fold(spark, sf_dir, table, cols):
    """The Spark fold ``column_bounds`` stands for, in its output shape."""
    row = (
        load_table(spark, sf_dir, table)
        .agg(F.count(F.lit(1)), *(f(c) for c in cols for f in (F.min, F.max)))
        .collect()[0]
    )
    return row[0], tuple((row[1 + 2 * i], row[2 + 2 * i]) for i in range(len(cols)))


@pytest.mark.parametrize("sf_dir", FIXTURE_DIRS)
def test_fixture_schemas_equal_spark_inference_without_a_job(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(io, "_STATES", {})
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        df, jobs = jobs_of(spark, lambda: read_parquet(spark, path))
        assert jobs == 0, t
        assert df.schema == spark.read.parquet(path).schema, t


def test_spark_written_nested_decimal_ntz_schema_equals_inference(spark, tmp_path):
    path = str(tmp_path / "nested")
    spark.sql(
        """
        SELECT CAST(id AS DECIMAL(12, 3)) AS d,
               array(id, id + 1) AS arr,
               named_struct('a', id, 'b', named_struct('c', CAST(id AS STRING))) AS st,
               map(CAST(id AS STRING), id) AS m,
               timestamp_micros(id) AS ts,
               CAST(timestamp_micros(id) AS TIMESTAMP_NTZ) AS ntz
        FROM range(3)
        """
    ).write.parquet(path)
    df, jobs = jobs_of(spark, lambda: read_parquet(spark, path))
    assert jobs == 0
    assert df.schema == spark.read.parquet(path).schema
    assert sorted(df.collect()) == sorted(spark.read.parquet(path).collect())


def _two_schema_dir(spark, tmp_path):
    path = str(tmp_path / "merge")
    spark.createDataFrame([(1,)], "a bigint").write.parquet(path)
    spark.createDataFrame([(2, "x")], "a bigint, b string").write.mode("append").parquet(path)
    return path


def test_merge_schema_on_takes_the_inferring_read(spark, tmp_path):
    path = _two_schema_dir(spark, tmp_path)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        df, jobs = jobs_of(spark, lambda: read_parquet(spark, path))
        want = spark.read.parquet(path).schema
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")
    assert jobs >= 1
    assert df.schema == want
    assert df.columns == ["a", "b"]


def test_summary_file_takes_the_inferring_read(spark, tmp_path):
    path = str(tmp_path / "orders.parquet")
    os.makedirs(path)
    pq.write_table(pa.table({"a": pa.array([1], pa.int64())}), os.path.join(path, "part-0.parquet"))
    # a summary whose schema differs from the data file: Spark infers from it
    pq.write_table(
        pa.table({"a": pa.array([1], pa.int64()), "z": pa.array([1.0])}),
        os.path.join(path, "_common_metadata"),
    )
    df, jobs = jobs_of(spark, lambda: read_parquet(spark, path))
    assert jobs >= 1
    assert df.schema == spark.read.parquet(path).schema
    assert column_bounds(spark, str(tmp_path), "orders", ["a"]) is None


def test_partition_directory_takes_the_inferring_read(spark, tmp_path):
    path = str(tmp_path / "parts")
    spark.createDataFrame([(1, "de"), (2, "en")], "k bigint, lang string").write.partitionBy(
        "lang"
    ).parquet(path)
    df, jobs = jobs_of(spark, lambda: read_parquet(spark, path))
    assert jobs >= 1
    assert df.schema == spark.read.parquet(path).schema
    assert df.columns == ["k", "lang"]


def test_corrupt_footer_raises_sparks_own_error(spark, tmp_path):
    path = tmp_path / "region.parquet"
    path.write_bytes(b"PAR1 not a parquet footer PAR1")
    with pytest.raises(Exception) as want:
        spark.read.parquet(str(path)).schema
    with pytest.raises(Exception) as got:
        load_table(spark, str(tmp_path), "region")
    assert type(got.value) is type(want.value)


# -- footer bounds -------------------------------------------------------------


@pytest.mark.parametrize("sf_dir", FIXTURE_DIRS)
def test_column_bounds_equal_the_spark_fold_at_the_fold_sites(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(io, "_STATES", {})
    for table, cols in FOLD_SITES:
        bounds, jobs = jobs_of(spark, lambda: column_bounds(spark, sf_dir, table, cols))
        assert jobs == 0
        assert bounds is not None
        assert bounds == _fold(spark, sf_dir, table, cols), (table, cols)


def test_column_bounds_zero_minimum_and_nanos_truncation(spark, tmp_path):
    sf_dir = str(tmp_path)
    pq.write_table(
        pa.table(
            {
                # -1500 ns: `ts div 1000` truncates to -1 us, a floor would give -2
                "ts": pa.array([-1500, 1_704_067_200_000_000_999, None], pa.int64()).cast(
                    pa.timestamp("ns")
                ),
                "value": pa.array([0.0, 2.5, None]),
            }
        ),
        os.path.join(sf_dir, "events.parquet"),
    )
    bounds = column_bounds(spark, sf_dir, "events", ["ts", "value"])
    assert bounds == _fold(spark, sf_dir, "events", ["ts", "value"])
    (_, ((ts_lo, _), (v_lo, _))) = bounds
    assert ts_lo == datetime.datetime(1969, 12, 31, 23, 59, 59, 999999)
    assert math.copysign(1.0, v_lo) == 1.0  # the footer's -0.0 comes back as 0.0


def test_column_bounds_none_without_statistics_or_rows(spark, tmp_path):
    no_stats, empty = tmp_path / "no_stats", tmp_path / "empty"
    no_stats.mkdir()
    empty.mkdir()
    pq.write_table(
        pa.table({"doc_id": pa.array([3, 1, 2], pa.int64())}),
        no_stats / "documents.parquet",
        write_statistics=False,
    )
    pq.write_table(pa.table({"doc_id": pa.array([], pa.int64())}), empty / "documents.parquet")
    for sf_dir, want in ((str(no_stats), (3, ((1, 3),))), (str(empty), (0, ((None, None),)))):
        assert column_bounds(spark, sf_dir, "documents", ["doc_id"]) is None
        assert _fold(spark, sf_dir, "documents", ["doc_id"]) == want
        assert table_bounds(spark, sf_dir, "documents", ["doc_id"]) == want


def test_fold_site_queries_build_without_a_job(spark):
    """After a warm-up call, building q_skyline, q_shard_pack, q_power_users
    and q_rfm_segments runs no Spark job: their range-bucket bounds come
    from the parquet footers, not a min/max fold."""
    for q in (q_skyline, q_shard_pack, q_power_users, q_rfm_segments):
        q(spark, SF_DIR)
        _, jobs = jobs_of(spark, lambda: q(spark, SF_DIR))
        assert jobs == 0, q.__name__



def test_spread_narrow_is_job_free_only_over_a_scan(spark):
    """spread_narrow reads the partition count of q_dv_payload_roundtrip's
    input, a filtered projection of the orders scan, without running a
    job, so that query builds in none. The same call over a groupBy that
    exchanges (over ``load_table``'s scan; over the one partition of
    ``load_small`` the groupBy needs no exchange) runs the groupBy's
    shuffle stage: the zero-job contract needs a scan."""
    from iceberg_benchmark_poc_spark.core.fixtures import dv_entries, dv_entries_of
    from iceberg_benchmark_poc_spark.queries.dv_payload import SAMPLE_MOD, q_dv_payload_roundtrip

    def sample(dv):
        return dv.filter((F.col("file_id") % SAMPLE_MOD == 0) & (F.col("deleted_row_count") > 0)).select(
            "file_id", "deleted_row_count"
        )

    dv = sample(dv_entries(spark, SF_DIR))
    assert jobs_of(spark, lambda: spread_narrow(dv, "file_id"))[1] == 0
    assert jobs_of(spark, lambda: q_dv_payload_roundtrip(spark, SF_DIR))[1] == 0
    scanned = sample(dv_entries_of(load_table(spark, SF_DIR, "orders").select("o_orderkey")))
    grouped = scanned.groupBy("file_id").count()
    assert jobs_of(spark, lambda: spread_narrow(grouped, "file_id"))[1] > 0

# -- load_small ------------------------------------------------------------------


def _write_orders(path, row_groups: int) -> None:
    keys = pa.array(range(6), pa.int64())
    pq.write_table(pa.table({"o_orderkey": keys}), path, row_group_size=len(keys) // row_groups)


def _plan(df) -> str:
    """The analyzed logical plan with expression ids masked."""
    return re.sub(r"#\d+", "#", df._jdf.queryExecution().analyzed().toString())


def _coalesced(df) -> bool:
    return "Repartition 1, false" in _plan(df)


def test_load_small_is_one_partition_over_one_row_group_only(spark, tmp_path):
    """One row group in total: ``load_table`` plus ``coalesce(1)``. Two row
    groups, in one file or over two files, a fallback layout, or a path the
    driver cannot stat (a ``file:`` URI): ``load_table``'s plan unchanged."""
    one, two_groups, two_files, parts = (tmp_path / d for d in ("one", "groups", "files", "parts"))
    for d in (one, two_groups, two_files / "orders.parquet"):
        d.mkdir(parents=True)
    _write_orders(one / "orders.parquet", 1)
    _write_orders(two_groups / "orders.parquet", 2)
    for i in range(2):
        _write_orders(two_files / "orders.parquet" / f"part-{i}.parquet", 1)
    spark.createDataFrame([(1, "de"), (2, "en")], "o_orderkey bigint, lang string").write.partitionBy(
        "lang"
    ).parquet(str(parts / "orders.parquet"))

    small = load_small(spark, str(one), "orders")
    assert _coalesced(small)
    assert _plan(small) == _plan(load_table(spark, str(one), "orders").coalesce(1))
    assert sorted(small.collect()) == sorted(load_table(spark, str(one), "orders").collect())
    for sf_dir in (two_groups, two_files, parts, f"file://{one}"):
        got = load_small(spark, str(sf_dir), "orders")
        assert not _coalesced(got), sf_dir
        assert _plan(got) == _plan(load_table(spark, str(sf_dir), "orders")), sf_dir


def test_load_small_reads_each_footer_once_without_a_job(spark, tmp_path, monkeypatch):
    """Two ``load_small`` calls on one file state run no Spark job and read
    each data file's footer once; ``column_bounds`` for two column keys
    reads the same cached footers."""
    monkeypatch.setattr(io, "_STATES", {})
    reads = []
    real = pq.read_metadata

    def read_metadata(path, *args, **kwargs):
        reads.append(path)
        return real(path, *args, **kwargs)

    monkeypatch.setattr(io.pq, "read_metadata", read_metadata)
    one, two = tmp_path / "one", tmp_path / "two" / "orders.parquet"
    one.mkdir()
    two.mkdir(parents=True)
    _write_orders(one / "orders.parquet", 1)
    for i in range(2):
        _write_orders(two / f"part-{i}.parquet", 1)
    for sf_dir in (one, two.parent):
        for _ in range(2):
            _, jobs = jobs_of(spark, lambda: load_small(spark, str(sf_dir), "orders"))
            assert jobs == 0
        column_bounds(spark, str(sf_dir), "orders", ["o_orderkey"])
        column_bounds(spark, str(sf_dir), "orders", ["o_orderkey", "o_orderkey"])
    assert sorted(reads) == sorted(
        [str(one / "orders.parquet"), str(two / "part-0.parquet"), str(two / "part-1.parquet")]
    )


# -- join_small ------------------------------------------------------------------


def _physical(df) -> str:
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    return df._jdf.queryExecution().explainString(mode)


@pytest.mark.parametrize("how", ["inner", "left_semi", "left_anti", "left_outer"])
def test_join_small_joins_in_the_scan_task_over_one_row_group_only(spark, tmp_path, how):
    """The DV joins' sides, ``file_meta`` and ``dv_entries``, over a
    one-row-group ``orders``: the join is a ``ShuffledHashJoin`` that plans
    no exchange of any kind and runs as one job. Over two row groups the
    join is the caller's, forced broadcast or planner-chosen, with the same
    analyzed plan as a plain ``join``. The rows are those of a plain
    ``join`` in every case."""
    from iceberg_benchmark_poc_spark.core.fixtures import dv_entries, file_meta

    def sides(row_groups):
        sf_dir = tmp_path / str(row_groups)
        sf_dir.mkdir()
        _write_orders(sf_dir / "orders.parquet", row_groups)
        return file_meta(spark, str(sf_dir)), dv_entries(spark, str(sf_dir)).drop("file_id")

    left, right = sides(1)
    expected = sorted(left.join(right, "file_path", how).collect())
    for broadcast in (False, True):
        got = join_small(left, right, "file_path", how, broadcast)
        plan = _physical(got)
        assert "ShuffledHashJoin" in plan and "Exchange" not in plan, plan
        rows, jobs = jobs_of(spark, got.collect)
        assert sorted(rows) == expected and jobs == 1

    left, right = sides(2)
    assert sorted(join_small(left, right, "file_path", how).collect()) == expected
    for broadcast, plain in ((False, right), (True, F.broadcast(right))):
        got = join_small(left, right, "file_path", how, broadcast)
        assert _plan(got) == _plan(left.join(plain, "file_path", how))
    assert "BroadcastHashJoin" in _physical(join_small(left, right, "file_path", how, broadcast=True))


def test_join_small_keeps_the_callers_join_when_the_optimizer_moves_it(spark, tmp_path):
    """A semi join whose left side is a bare one-partition scan is pushed
    below that side's ``coalesce(1)``, so the join no longer reads one
    partition on both sides: ``join_small`` returns the caller's join, not
    a hash join over two hash exchanges."""
    _write_orders(tmp_path / "orders.parquet", 1)
    left = load_small(spark, str(tmp_path), "orders")
    right = left.filter(F.col("o_orderkey") % 2 == 0)
    got = join_small(left, right, "o_orderkey", "left_semi", broadcast=True)
    assert _plan(got) == _plan(left.join(F.broadcast(right), "o_orderkey", "left_semi"))
    assert "ShuffledHashJoin" not in _physical(got)
    assert sorted(got.collect()) == [(k,) for k in range(0, 6, 2)]

def test_cut_keeps_one_copy_under_a_local_master(spark, monkeypatch):
    """A ``local[n]`` master has one block manager, so a cut asks for no
    second replica there (it could not be written, and each cut would log
    two replication warnings); the executor-loss test below covers the
    replicated level on a ``local-cluster`` master."""
    df, levels = spark.range(3), []
    monkeypatch.setattr(type(df), "localCheckpoint", lambda df, eager, storageLevel: levels.append(storageLevel))
    assert spark.sparkContext.master.startswith("local[")
    io.cut(df)
    assert [(lv.useDisk, lv.useMemory, lv.replication) for lv in levels] == [(True, True, 1)]

#: a cut read by two actions with one of its two executors killed in between
_KILL_PROBE = textwrap.dedent(
    """
    import time
    from pyspark.sql import functions as F
    from iceberg_benchmark_poc_spark.core import cut, get_spark

    spark = get_spark(
        app_name="cut-executor-loss",
        shuffle_partitions=8,
        extra_conf={"spark.sql.adaptive.coalescePartitions.enabled": "false"},
    )
    sc = spark.sparkContext._jsc.sc()
    deadline = time.time() + 120
    while sc.getExecutorIds().size() < 2:
        assert time.time() < deadline, "executors did not register"
        time.sleep(0.2)
    # 8 uncoalesced partitions over two one-core executors: blocks on both
    groups = cut(
        spark.range(0, 40000)
        .groupBy((F.col("id") % 997).alias("k"))
        .agg(F.sum("id").alias("s"), F.count("*").alias("n"))
    )

    def consume():
        a, b = groups.alias("a"), groups.alias("b")
        return tuple(
            a.join(b, F.col("a.k") == (F.col("b.k") + 1) % 997)
            .agg(F.sum(F.col("a.s") * F.col("b.n")), F.count("*"))
            .collect()[0]
        )

    first = consume()
    victim = sc.getExecutorIds().apply(0)
    assert sc.killExecutor(victim)
    while victim in sc.getExecutorIds().mkString(",").split(","):
        assert time.time() < deadline, "executor was not removed"
        time.sleep(0.2)
    second = consume()
    assert first == second, (first, second)
    spark.stop()
    """
)


def test_cut_survives_the_loss_of_an_executor():
    """A cut outlives the executor that computed its blocks: on a
    two-executor cluster, one action reads the cut, one executor is killed,
    and a self-join plus aggregate over the same cut returns the same row.
    A plain local checkpoint fails the second read with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND; the second replica is what survives.
    Runs in its own process, since the master of the suite's session is
    local."""
    import pyspark

    spark_home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    if not os.path.isdir(spark_home):
        pytest.skip(f"no Spark distribution at SPARK_HOME={spark_home}")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        SPARK_GRAFT_MASTER="local-cluster[2,1,1024]",
        SPARK_HOME=spark_home,
        # Spark's test mode gives each local-cluster worker a temporary work
        # directory, deleted on exit, instead of $SPARK_HOME/work
        SPARK_TESTING="1",
        PYTHONPATH=os.pathsep.join(filter(None, (root, os.environ.get("PYTHONPATH")))),
    )
    proc = subprocess.run(
        [sys.executable, "-c", _KILL_PROBE],
        cwd=root,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    # the probe's stderr without the JVM stack frames, which bury the error class
    log = [line for line in proc.stderr.splitlines() if not line.lstrip().startswith("at ")]
    assert proc.returncode == 0, "\n".join(log)[-4000:]
