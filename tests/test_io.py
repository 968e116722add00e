"""core.io.load_table: schema inference once per file state.

Every table here is written with pyarrow (or, for the directory rewrite,
with Spark) under ``tmp_path``, so each test owns its paths and the
module-level schema cache cannot carry state from one test to the next.
"""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from iceberg_benchmark_poc_spark.core.io import ensure_session_confs, load_table

from .conftest import jobs_of


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
    assert miss_jobs >= 1  # schema inference
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
    assert jobs >= 1


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
    assert jobs >= 1  # the new part file changed the signature
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
