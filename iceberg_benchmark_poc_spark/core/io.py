"""Table IO: load the driver-provided parquet fixtures with normalized schemas.

All queries take an ``sf_dir`` (e.g. /root/testdata/sf0.01) and read the ten
tables from it. Loading goes through here so schema quirks are fixed exactly
once:

- ``events.ts`` is physically TIMESTAMP(NANOS); the session reads it as a
  BIGINT of nanoseconds (``spark.sql.legacy.parquet.nanosAsLong``) and this
  loader converts it to a microsecond TimestampType, matching what DuckDB
  produces for ``CAST(ts AS TIMESTAMP)``.

At 100 TB these reads stay embarrassingly parallel: ``spark.read.parquet`` on
a directory fans out one task per ~128 MB split (``files.maxPartitionBytes``),
and every downstream query in this package filters/projects *before* any
shuffle so Parquet pushdown and column pruning do their job (verify with
``df.explain()`` — PushedFilters / ReadSchema).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def ensure_session_confs(spark: SparkSession) -> None:
    """Pin the session confs the engine's semantics depend on.

    - ``nanosAsLong``: events.ts is physically TIMESTAMP(NANOS); without
      this a plain SparkSession (e.g. the correctness driver's) fails schema
      conversion with PARQUET_TYPE_ILLEGAL before projection even applies.
    - ``timeZone=UTC``: makes every NTZ<->LTZ cast (``epoch_micros``) exact.

    ``get_spark`` sets both at session-build time; this runtime hook covers
    host sessions the package didn't build. It is called from EVERY
    ``load_table`` and from ``epoch_micros`` — not just the events read — so
    no query's behavior depends on which table happened to load first.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    ensure_session_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        # Depending on session confs, ts arrives as bigint (legacy nanosAsLong),
        # timestamp_ntz (native nanos read, Spark 4.1+), or timestamp (NTZ
        # inference off). Normalize all three to naive-UTC TimestampNTZ — the
        # exact type DuckDB's TIMESTAMP_NS -> TIMESTAMP cast produces — so
        # query results are identical in any host session.
        t = dict(df.dtypes).get("ts")
        if t == "bigint":
            # nanos -> micros truncation; identical to DuckDB TIMESTAMP_NS ->
            # TIMESTAMP. MUST be integer division: float `/ 1000` rounds
            # epoch-nanos (≈1.7e18, beyond double's 2^53 exact-integer range)
            # and lands ±1 µs off.
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
            )
        elif t == "timestamp":
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return df


def spread_narrow(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition a narrow scan across the cluster before CPU-heavy
    per-row work (payload decoders, per-word hashing) — only when the scan
    yields materially fewer partitions than the cluster has task slots.

    Parquet splits are row-group granular: a table written as one row group
    scans as ONE task no matter how many cores exist, serializing every
    downstream map-side operator (``files.minPartitionNum`` cannot split a
    row group, measured in r11). At production file counts the scan already
    has >= parallelism splits and this returns the input unchanged, so no
    extra exchange ever ships corpus-scale bytes. The exchange is keyed
    (hash of deterministic columns) — never round-robin ``repartition(n)``,
    which pays a local sort of the full rows (SPARK-23207) and was measured
    1.7x WORSE in r11 for exactly this purpose.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() * 2 <= target:
        return df.repartition(target, *keys)
    return df


def epoch_micros(col) -> "F.Column":
    """Microseconds since epoch for a naive-UTC timestamp column.

    ``F.unix_micros`` only accepts TimestampType (LTZ); events.ts is
    normalized to TimestampNTZ by ``load_table``. The NTZ->LTZ cast is exact
    because the session timezone is pinned to UTC — enforced here directly
    (not merely as a load_table side effect) so correctness doesn't depend
    on table-load order in the host session.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        ensure_session_confs(active)
    return F.unix_micros(F.col(col).cast("timestamp") if isinstance(col, str) else col.cast("timestamp"))


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}

