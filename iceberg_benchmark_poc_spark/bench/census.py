"""Spark jobs per registry query: how many building the plan launches and
how many executing it through the noop sink launches.

Under AQE every exchange runs as its own job and the result stage is one
more, so the exec count is the query's stage budget; a build count above 0
means the builder runs Spark work eagerly (a collect, or a cut over a
shuffle). The tests pin these counts, and ROADMAP's census numbers are this
module's output::

    python -m iceberg_benchmark_poc_spark.bench.census --sf /path/to/sf0.01 q_skip_rate q_dv_apply

prints one ``name build exec`` line per query, counted on the second of two
build + noop runs in one session, so the first run's one-off work (footer
reads, code generation) is not counted.
"""

from __future__ import annotations

import argparse
import itertools

from pyspark.sql import SparkSession

from ..core.registry import all_queries
from ..core.session import get_spark

_job_groups = itertools.count()


def jobs_of(spark: SparkSession, fn):
    """(result of ``fn()``, number of Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"census-{next(_job_groups)}"
    outer = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", outer)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def build_and_exec_jobs(spark: SparkSession, fn, sf_dir: str) -> tuple[int, int]:
    """(build, exec) Spark jobs of one ``fn(spark, sf_dir)`` build and one
    noop run of its result."""
    df, build_jobs = jobs_of(spark, lambda: fn(spark, sf_dir))
    _, exec_jobs = jobs_of(spark, lambda: df.write.format("noop").mode("overwrite").save())
    return build_jobs, exec_jobs


def census(spark: SparkSession, sf_dir: str, names) -> dict[str, tuple[int, int]]:
    """{name: (build, exec)} of registry queries, each on the second of two
    build + noop runs."""
    queries = all_queries()
    out = {}
    for name in names:
        fn = queries[name].fn
        build_and_exec_jobs(spark, fn, sf_dir)
        out[name] = build_and_exec_jobs(spark, fn, sf_dir)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", required=True, help="directory holding the ten <table>.parquet fixtures")
    ap.add_argument("names", nargs="+", help="registry query names")
    args = ap.parse_args(argv)
    spark = get_spark(app_name="census")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        counts = census(spark, args.sf, args.names)
    finally:
        spark.stop()
    for name, (build, exec_) in counts.items():
        print(name, build, exec_)
    print("total", sum(b for b, _ in counts.values()), sum(e for _, e in counts.values()))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
