"""Table IO: load the driver-provided parquet fixtures with normalized schemas.

All queries take an ``sf_dir`` (e.g. /root/testdata/sf0.01) and read the ten
tables from it. Loading goes through here so schema quirks are fixed exactly
once:

- ``events.ts`` is physically TIMESTAMP(NANOS); the session reads it as a
  BIGINT of nanoseconds (``spark.sql.legacy.parquet.nanosAsLong``) and this
  loader converts it to a microsecond TimestampType, matching what DuckDB
  produces for ``CAST(ts AS TIMESTAMP)``.

Schema inference runs once per file state. A plain ``spark.read.parquet``
infers the schema from a footer in a Spark job
(``SchemaMergeUtils.mergeSchemasInParallel``, even for one file), which
would cost every query one job per table. ``_SCHEMAS`` maps a table path to
the signature and schema of its last inference; the signature is
``(relative path, size, mtime_ns)`` of every file under the path, or the
file's own ``(size, mtime_ns)``. A changed signature re-infers and replaces
the entry, so the cache holds one entry per distinct path. A hit reads with
``spark.read.schema(cached)``, which runs no job; the file listing and the
relation are still built on every call, so plans and attribute ids match an
inferring read. For the fixture tables' types, inference depends only on
the files and on ``nanosAsLong``, which ``ensure_session_confs`` pins before
every read. A path the driver cannot ``os.stat`` (an object-store URI, a
missing path) is inferred on every load, so a missing path still raises
Spark's PATH_NOT_FOUND.

At 100 TB these reads stay embarrassingly parallel: ``spark.read.parquet`` on
a directory fans out one task per ~128 MB split (``files.maxPartitionBytes``),
and every downstream query in this package filters/projects *before* any
shuffle so Parquet pushdown and column pruning do their job (verify with
``df.explain()`` — PushedFilters / ReadSchema).
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

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

_PINNED_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
}

#: table path -> (file signature, schema) of the path's last inference
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


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

    A conf is written only when the session holds a different value, so a
    session built by ``get_spark`` sees no session-conf write at query time.
    """
    for key, value in _PINNED_CONFS.items():
        if spark.conf.get(key) != value:
            spark.conf.set(key, value)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    ensure_session_confs(spark)
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
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


def _file_signature(path: str) -> tuple:
    """``(relative path, size, mtime_ns)`` of every file under ``path``, or
    the file's own ``(size, mtime_ns)``; OSError when the driver can't see it."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_size, st.st_mtime_ns)
    sig = []
    for root, _, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            fst = os.stat(full)
            sig.append((os.path.relpath(full, path), fst.st_size, fst.st_mtime_ns))
    return tuple(sorted(sig))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only when the
    files under ``path`` changed since its last inference (module docstring)."""
    try:
        sig = _file_signature(path)
    except OSError:
        return spark.read.parquet(path)
    cached = _SCHEMAS.get(path)
    if cached is not None and cached[0] == sig:
        return spark.read.schema(cached[1]).parquet(path)
    df = spark.read.parquet(path)
    # two threads missing on one path both infer and store; either entry
    # matches its own signature, so the lost one costs one more inference
    _SCHEMAS[path] = (sig, df.schema)
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

