"""SparkSession factory tuned for the engine's workloads.

Defaults are chosen for correctness-at-any-scale first, then local speed:

- AQE on (coalesce post-shuffle partitions, runtime skew-join splitting,
  runtime broadcast demotion/promotion). At 100 TB the static
  ``spark.sql.shuffle.partitions`` is only an upper bound — AQE coalesces.
- UTC session timezone so timestamp semantics match the DuckDB oracle and are
  cluster-location independent.
- ``spark.sql.legacy.parquet.nanosAsLong=true``: the events fixtures store
  ``ts`` as TIMESTAMP(MICROS), but a TIMESTAMP(NANOS) events file, which
  Spark's reader otherwise rejects, then reads as BIGINT nanos that the IO
  layer converts to microsecond timestamps (see core.io).
- Arrow enabled for any pandas interchange (Pandas UDFs, toPandas).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ENGINE_NAME = "iceberg-benchmark-poc-spark"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)


def iceberg_runtime_jar() -> str | None:
    """Path to an iceberg-spark-runtime jar, if one is available.

    ``SPARK_GRAFT_ICEBERG_JAR`` points at the jar explicitly; otherwise the
    pyspark jars directory is scanned. Returns None when no runtime is
    present (this container: no jar, no network), in which case table
    lifecycle ops (time travel, MERGE, snapshot expiry, compaction) run
    against DataFrame-modeled manifests — same plans, no catalog. See the
    README "Iceberg note" and tests/test_iceberg_runtime.py.
    """
    explicit = os.environ.get("SPARK_GRAFT_ICEBERG_JAR")
    if explicit:
        return explicit if os.path.exists(explicit) else None
    try:
        import pyspark

        jars_dir = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        for name in sorted(os.listdir(jars_dir)):
            if name.startswith("iceberg-spark-runtime") and name.endswith(".jar"):
                return os.path.join(jars_dir, name)
    except OSError:
        pass
    return None


def get_spark(
    app_name: str = ENGINE_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster callers pass ``master=None`` with an externally-managed session or
    their own master URL — every query in this package is master-agnostic.
    """
    cpus = default_parallelism()
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(cpus, 32))))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- correctness / portability ---
        .config("spark.sql.session.timeZone", "UTC")
        # local-mode heap: Spark's 1g driver default is undersized for a
        # local[32] run where the driver hosts every executor thread —
        # word/shingle explodes at sf0.1 run at the OOM edge there. No-op
        # when attaching to an already-running JVM or a real cluster master.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- adaptive execution: the scale story ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # The default 1 MB coalesce floor collapses small-but-compute-heavy
        # shuffles (a deduped class table whose packed shingle arrays expand
        # ~10x in the next stage) to 1-2 partitions, serializing the heavy
        # stage. 256k keeps those spread across the cluster; at production
        # shuffle sizes partitions are >= advisory (64 MB) regardless, so
        # the floor is inert there (parallelismFirst targets cluster
        # parallelism first — Spark default, unchanged). Interleaved A/B at
        # sf0.1: 12-query text/graph mix 1.20x total, q_embed_neardup 1.98x,
        # cheap-query controls flat (commit e9022f9).
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "256k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- scan efficiency ---
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # --- python interchange ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
    )
    # --- optional real-Iceberg path (feature-flagged; absent offline) ---
    jar = iceberg_runtime_jar()
    if jar is not None:
        warehouse = os.environ.get(
            "SPARK_GRAFT_ICEBERG_WAREHOUSE", os.path.join(os.getcwd(), "iceberg-warehouse")
        )
        builder = (
            builder.config("spark.jars", jar)
            .config(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
            )
            .config("spark.sql.catalog.local", "org.apache.iceberg.spark.SparkCatalog")
            .config("spark.sql.catalog.local.type", "hadoop")
            .config("spark.sql.catalog.local.warehouse", warehouse)
        )
    for k, v in (extra_conf or {}).items():
        if k == "spark.jars" and jar is not None and jar not in v:
            # compose, don't replace: dropping the Iceberg runtime jar while
            # its extensions/catalog confs remain would break the session
            v = f"{v},{jar}"
        builder = builder.config(k, v)
    return builder.getOrCreate()
