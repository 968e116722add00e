"""core.io: job-free schema resolution per file state, its fallbacks, and
the footer bounds that stand in for Spark's min/max folds.

Every table here is written with pyarrow (or with Spark) under ``tmp_path``,
so each test owns its paths and the module-level footer cache cannot carry
state from one test to the next; the fixture checks start from an empty
cache.
"""

from __future__ import annotations

import datetime
import math
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from iceberg_benchmark_poc_spark.core import io
from iceberg_benchmark_poc_spark.core.io import (
    TABLES,
    column_bounds,
    ensure_session_confs,
    load_table,
    read_parquet,
    table_bounds,
)
from iceberg_benchmark_poc_spark.queries.behavior import q_power_users, q_rfm_segments
from iceberg_benchmark_poc_spark.queries.relational import q_skyline
from iceberg_benchmark_poc_spark.queries.textpipe import q_shard_pack

from .conftest import SF_DIR, jobs_of

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
    # events.ts as the fixtures' physical type: TIMESTAMP(NANOS), not UTC-adjusted
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
