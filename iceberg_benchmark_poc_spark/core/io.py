"""Table IO: load the driver-provided parquet fixtures with normalized schemas.

All queries take an ``sf_dir`` (e.g. /root/testdata/sf0.01) and read the ten
tables from it. Loading goes through here so schema quirks are fixed exactly
once:

- ``events.ts`` is TIMESTAMP(MICROS, not UTC-adjusted) in the fixtures,
  which Spark reads as TimestampNTZ. A TIMESTAMP(NANOS) column, as other
  writers produce, reads as a BIGINT of nanoseconds under the pinned
  ``spark.sql.legacy.parquet.nanosAsLong``, and this loader truncates it to
  a microsecond TimestampNTZ, matching DuckDB's ``CAST(ts AS TIMESTAMP)``.

Every parquet read in the package goes through ``read_parquet``, which
resolves a path's schema without a Spark job. A plain ``spark.read.parquet``
infers the schema in a job (``SchemaMergeUtils.mergeSchemasInParallel``,
even for one file), which would cost every query one job per table.
``_STATES`` maps a path to the footer state of its files: a signature
(``(relative path, size, mtime_ns)`` of every file under the path, or the
file's own ``(size, mtime_ns)``), the data files Spark lists there, the
resolved schema and the column bounds read so far. A changed signature
replaces the entry, so the cache holds one entry per distinct path.

- **Miss.** The schema is read on the driver from one footer, with Spark's
  own converter: ``ParquetFileReader.readFooter`` then
  ``ParquetFileFormat.readSchemaFromFooter`` under a
  ``ParquetToSparkSchemaConverter`` of the session conf. That is the function
  the inference job runs on each footer, so the type mapping is Spark's
  (``nanosAsLong``, NTZ inference, the Spark row metadata of Spark-written
  files), and the footer is that of the first data file in path order, the
  one Spark's inference reads. The read is ``spark.read.schema(s)``, which
  applies ``asNullable`` as an inferring read does, so plans and attribute
  ids match.
- **Fallback.** The inferring ``spark.read.parquet(path)`` runs, so Spark
  raises its own errors, when ``spark.sql.parquet.mergeSchema`` is on; when
  the path holds a ``_metadata`` / ``_common_metadata`` summary file or a
  ``_spark_metadata`` sink log; when it holds a visible subdirectory (a
  ``k=v`` partition directory); when it holds no visible data file; and when
  the footer read raises. Its schema is cached like a footer schema.
- **Hit.** ``spark.read.schema(cached)``; the file listing and the relation
  are still built on every call.

A path the driver cannot ``os.stat`` (an object-store URI, a missing path)
takes the fallback on every load, so a missing path still raises Spark's
PATH_NOT_FOUND.

The state also caches the pyarrow ``FileMetaData`` of every data file, read
once per signature on first use; ``column_bounds`` and ``load_small`` both
read that cache.

``column_bounds`` is the second consumer of the footer state: a table's row
count and per-column (min, max) from the row-group statistics of every data
file, cached under the same signature. It returns
exactly what Spark's ``count(1)`` / ``min`` / ``max`` fold over
``load_table`` returns, or None when the footers cannot say (no statistics,
an unsupported type, a 0-row table, a fallback layout); ``table_bounds``
then runs that fold. Two facts the footers hide: writers store a float zero
minimum as ``-0.0`` (returned as ``0.0``, what the fold returns for zeros),
and they leave NaN out of min/max, so a float column holding NaN, which
Spark folds to NaN, yields its largest non-NaN value. Every caller uses the
bounds to place range buckets (operators/prefix.py keeps ids monotone for
keys outside [lo, hi] and gives NaN keys their own range), so results never
depend on their values; q_equidepth_hist also reads a None bound as the
exact fact that the column holds no non-NULL value.

``load_small`` is the third: ``load_table`` plus ``.coalesce(1)`` when the
table's data files hold at most one row group in total. Parquet splits are
row-group granular, so such a scan already runs its rows in one task and
the coalesce takes away no scan parallelism; above it ``SinglePartition``
satisfies every clustering and ordering requirement, so the group-bys,
windows and sorts of the relation plan no exchange, and under AQE each
exchange saved is one job saved. A multi-row-group source, which is every
table at production scale, gets ``load_table``'s plan unchanged. Only the
``core.fixtures`` base loads call it: their relations are metadata by
construction. A corpus table at a small scale is one row group too (sf0.1
``documents``), but there the text pipeline's ``groupBy(text)`` exchange
is what spreads the shingle and MinHash stage across cores: the session's
256 KiB AQE coalesce floor was tuned for that spread (1.20x on the sf0.1
text/graph mix, core/session.py), so the corpus and TPC-H queries keep
``load_table``.

At 100 TB these reads stay embarrassingly parallel: ``spark.read.parquet`` on
a directory fans out one task per ~128 MB split (``files.maxPartitionBytes``),
and every downstream query in this package filters/projects *before* any
shuffle so Parquet pushdown and column pruning do their job (verify with
``df.explain()`` — PushedFilters / ReadSchema).
"""

from __future__ import annotations

import functools
import json
import os
import stat
from dataclasses import dataclass, field
from types import SimpleNamespace

import pyarrow.parquet as pq
from py4j.protocol import Py4JError
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ByteType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StructType,
    TimestampNTZType,
    TimestampType,
    _parse_datatype_json_string,
)

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

#: summary files and sink logs that make Spark read other files than its listing
_SPARK_READ_NAMES = ("_metadata", "_common_metadata", "_spark_metadata")


@dataclass
class _FileState:
    sig: tuple
    #: data files in Spark's path order; None when the layout takes the fallback
    files: tuple[str, ...] | None
    schema: StructType | None = None
    bounds: dict = field(default_factory=dict)
    #: pyarrow FileMetaData of every data file, read on first use
    footers: tuple | None = None


#: path -> footer state of the path's files at their last signature
_STATES: dict[str, _FileState] = {}


def ensure_session_confs(spark: SparkSession) -> None:
    """Pin the session confs the engine's semantics depend on.

    - ``nanosAsLong``: the fixtures store events.ts as TIMESTAMP(MICROS),
      but an events file with TIMESTAMP(NANOS) fails schema conversion with
      PARQUET_TYPE_ILLEGAL in a plain SparkSession (e.g. the correctness
      driver's) before projection even applies; with the pin it reads as a
      BIGINT of nanoseconds that ``load_table`` truncates.
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


def _table_path(sf_dir: str, name: str) -> str:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = _table_path(sf_dir, name)
    ensure_session_confs(spark)
    df = read_parquet(spark, path)
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


def load_small(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``load_table``, as one partition when the table's data files hold at
    most one row group in total (module docstring).

    Parquet splits are row-group granular, so such a scan runs in one task
    already and the coalesce costs no scan parallelism; it only removes the
    exchanges above the relation. The row groups are counted on the driver,
    in the footers the file state caches: no Spark job, no ``.rdd``, no
    planning. A fallback layout or a path the driver cannot stat returns
    ``load_table`` unchanged. Callers are the metadata relations of
    ``core.fixtures``; corpus tables keep ``load_table``, whose
    ``groupBy(text)`` exchange spreads the text pipeline across cores even
    over one row group (the 256 KiB AQE floor of ``core/session.py``).
    ``order_small`` is the same idea for a final ORDER BY over a small
    group-by.
    """
    df = load_table(spark, sf_dir, name)
    try:
        state = _file_state(_table_path(sf_dir, name))
    except OSError:
        return df
    if state.files is None or sum(md.num_row_groups for md in _footers(state)) > 1:
        return df
    return df.coalesce(1)


def _hidden(name: str) -> bool:
    """Spark's listing skips these names (``HadoopFSUtils.shouldFilterOutPathName``)."""
    hidden = (name.startswith("_") and "=" not in name) or name.startswith(".")
    return hidden or name.endswith("._COPYING_")


def _data_files(path: str) -> tuple[str, ...] | None:
    """The data files Spark lists in a directory, in its path order, or None
    when the layout takes the fallback (module docstring)."""
    _, dirs, names = next(os.walk(path))
    if any(n.startswith(_SPARK_READ_NAMES) for n in dirs + names) or not all(map(_hidden, dirs)):
        return None
    return tuple(os.path.join(path, n) for n in sorted(names) if not _hidden(n)) or None


def _file_state(path: str) -> _FileState:
    """The cached state of ``path`` if its files are unchanged, else a fresh
    one; OSError when the driver can't see the path."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        sig, files = (st.st_size, st.st_mtime_ns), (path,)
    else:
        sig = []
        for root, _, names in os.walk(path):
            for f in names:
                full = os.path.join(root, f)
                fst = os.stat(full)
                sig.append((os.path.relpath(full, path), fst.st_size, fst.st_mtime_ns))
        sig, files = tuple(sorted(sig)), _data_files(path)
    state = _STATES.get(path)
    if state is None or state.sig != sig:
        # two threads missing on one path both resolve and store; either
        # entry matches its own signature, so the lost one costs one more read
        state = _STATES[path] = _FileState(sig, files)
    return state


@functools.lru_cache(maxsize=1)
def _footer_classes(jvm) -> SimpleNamespace:
    """py4j handles of the classes a footer read calls, looked up once per JVM."""
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    return SimpleNamespace(
        Path=jvm.org.apache.hadoop.fs.Path,
        Footer=jvm.org.apache.parquet.hadoop.Footer,
        ParquetFileReader=jvm.org.apache.parquet.hadoop.ParquetFileReader,
        SKIP_ROW_GROUPS=(
            jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
        ),
        ParquetFileFormat=parquet.ParquetFileFormat,
        Converter=parquet.ParquetToSparkSchemaConverter,
    )


def _footer_schema(spark: SparkSession, state: _FileState) -> StructType | None:
    """Spark's schema of the state's first data file, read from its footer on
    the driver; None when the path takes the fallback (module docstring)."""
    if state.files is None or spark.conf.get("spark.sql.parquet.mergeSchema") == "true":
        return None
    c = _footer_classes(spark._jvm)
    try:
        session = spark._jsparkSession.sessionState()
        conf = session.newHadoopConf()
        path = c.Path(state.files[0])
        status = path.getFileSystem(conf).getFileStatus(path)
        footer = c.Footer(path, c.ParquetFileReader.readFooter(conf, status, c.SKIP_ROW_GROUPS))
        schema = c.ParquetFileFormat.readSchemaFromFooter(footer, c.Converter(session.conf()))
        return _parse_datatype_json_string(schema.json())
    except Py4JError:
        return None


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without its schema-inference job: the
    schema comes from a footer once per file state (module docstring)."""
    try:
        state = _file_state(path)
    except OSError:
        return spark.read.parquet(path)
    if state.schema is None:
        state.schema = _footer_schema(spark, state)
        if state.schema is None:
            df = spark.read.parquet(path)
            state.schema = df.schema
            return df
    return spark.read.schema(state.schema).parquet(path)


_INTEGRAL = (ByteType, ShortType, IntegerType, LongType)


def column_bounds(
    spark: SparkSession, sf_dir: str, table: str, cols: list[str]
) -> tuple[int, tuple[tuple, ...]] | None:
    """``(row count, ((min, max) per column))`` of a table from its parquet
    footers, equal to the Spark fold ``table_bounds`` runs, or None when the
    footers cannot say (module docstring). Cached under the file state."""
    try:
        state = _file_state(_table_path(sf_dir, table))
    except OSError:
        return None
    key = tuple(cols)
    if key not in state.bounds:
        state.bounds[key] = _footer_bounds(spark, sf_dir, table, state, key)
    return state.bounds[key]


def _footers(state: _FileState) -> tuple:
    """The pyarrow ``FileMetaData`` of every data file of ``state`` (files not
    None), read once per file state."""
    if state.footers is None:
        state.footers = tuple(pq.read_metadata(f) for f in state.files)
    return state.footers


def _footer_bounds(spark, sf_dir, table, state, cols):
    """``column_bounds`` of one file state, read from every data file's footer."""
    if state.files is None:
        return None
    loaded = {f.name: f.dataType for f in load_table(spark, sf_dir, table).schema.fields}
    mds = _footers(state)
    n_rows = sum(md.num_rows for md in mds)
    if n_rows == 0:
        return None
    out = []
    for col in cols:
        values = []
        for md in mds:
            fv = _row_group_bounds(md, col, loaded.get(col))
            if fv is None:
                return None
            values += fv
        if not values:  # all NULL: the fold's min and max are NULL too
            out.append((None, None))
            continue
        lo, hi = min(v for v, _ in values), max(w for _, w in values)
        if isinstance(lo, float) and lo == 0:
            lo = 0.0  # writers store a zero minimum as -0.0; the fold returns 0.0
        out.append((lo, hi))
    return n_rows, tuple(out)


def _row_group_bounds(md, col: str, loaded) -> list[tuple] | None:
    """(min, max) of ``col`` in every row group of one file that holds a
    non-NULL value, as the fold over ``load_table`` returns them; None when
    a statistic is missing or the type is one the footers can't stand for."""
    i = next((i for i in range(md.num_columns) if md.schema.column(i).path == col), None)
    if i is None:
        return None
    value = _stat_value(md.schema.column(i), loaded)
    if value is None:
        return None
    out = []
    for r in range(md.num_row_groups):
        rg = md.row_group(r)
        s = rg.column(i).statistics
        if s is None:
            return None
        if s.has_min_max:
            lo, hi = value(s.min_raw), value(s.max_raw)
            if lo != lo or hi != hi:  # a NaN statistic; the fold may return NaN
                return None
            out.append((lo, hi))
        elif not (s.has_null_count and s.null_count == rg.num_rows):
            return None
    return out


def _stat_value(column, loaded):
    """The map from a raw statistic of a parquet column to the value of the
    ``loaded`` Spark type it is read as, or None. Every map is monotone, so
    the min and max of mapped values are the mapped min and max."""
    phys, lt = column.physical_type, json.loads(column.logical_type.to_json())
    kind, unit = lt["Type"], lt.get("timeUnit")
    if isinstance(loaded, _INTEGRAL) and phys in ("INT32", "INT64"):
        if kind == "None" or (kind == "Int" and lt["isSigned"]) or unit == "nanoseconds":
            return int  # nanos read as a BIGINT under nanosAsLong
    elif isinstance(loaded, (FloatType, DoubleType)) and phys in ("FLOAT", "DOUBLE"):
        return float
    elif isinstance(loaded, (TimestampType, TimestampNTZType)) and phys == "INT64":
        if kind == "None" or unit == "nanoseconds":
            # load_table's `ts div 1000` of the BIGINT nanos: truncates toward zero
            return lambda v: loaded.fromInternal(v // 1000 if v >= 0 else -(-v // 1000))
        if unit == "microseconds":
            return loaded.fromInternal
    return None


def table_bounds(spark: SparkSession, sf_dir: str, table: str, cols: list[str]) -> tuple:
    """``column_bounds``, or, when the footers cannot say, the Spark fold it
    stands for: ``count(1)`` and ``min`` / ``max`` of each column over
    ``load_table`` (two jobs)."""
    bounds = column_bounds(spark, sf_dir, table, cols)
    if bounds is not None:
        return bounds
    row = (
        load_table(spark, sf_dir, table)
        .agg(F.count(F.lit(1)), *(f(c) for c in cols for f in (F.min, F.max)))
        .collect()[0]
    )
    return row[0], tuple((row[1 + 2 * i], row[2 + 2 * i]) for i in range(len(cols)))


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

    Precondition: ``df`` is narrow over a file scan (filters,
    projections, ``load_small``'s coalesce). Then ``df.rdd.getNumPartitions()``
    only plans the scan's splits and runs no Spark job; every caller passes
    such a frame, which is why q_dv_payload_roundtrip, for one, builds in
    zero jobs. Over an exchange or a sort the same call executes the stages
    below it at build time: one job over a groupBy's exchange, two over an
    orderBy, measured at sf0.001 (tests/test_io.py pins the scan and
    groupBy cases).
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() * 2 <= target:
        return df.repartition(target, *keys)
    return df


def cut(df: DataFrame) -> DataFrame:
    """The engine's one materialization point: a lazy local checkpoint,
    replicated on two executors, of a frame read by more than one consumer
    (an iteration's state, a self-join's sides, a histogram folded and then
    joined back). No module under ``queries/`` or ``operators/`` persists,
    caches or checkpoints by itself (tests/test_plans.py enforces this).

    - **Replicated.** A plain local checkpoint lives only in the block
      manager of the executor that computed each partition; losing that
      executor fails every later read with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``,
      because the checkpoint has no lineage to recompute from. The second
      replica (``MEMORY_AND_DISK_2``) survives the loss of one executor
      (tests/test_io.py kills one on a two-executor cluster).
    - **No cleanup.** Spark's ContextCleaner drops checkpoint blocks once
      the DataFrame is garbage-collected, so no query unpersists and none
      leaves cached state behind for the next one. A persist that was never
      unpersisted did: q_dup_clusters built in 17 jobs after a warm-up run
      but in 19 in a clean session.
    - **A checkpoint, not a persist.** The consumers read a ``LogicalRDD``,
      so AQE plans their exchanges as over any scan and can reuse one
      between two of them; a cached relation gets one
      ``TableCacheQueryStage`` per occurrence and no exchange reuse above
      them. On sf0.01 with the cache cleared between runs, persisting
      instead of cutting raised the summed jobs of the eleven queries that
      cut from 141 to 192 and their build+exec wall from 11.5 to 20.3 s;
      cutting instead of persisting lowered the ten that persisted from 180
      to 147 jobs and from 20.6 to 14.0 s (q_minhash_dedup 14 to 6 jobs,
      q_containment 16 to 8, q_incremental_dedup 19 to 9).
    - **Lazy, but not free under AQE.** Nothing is computed until the first
      action on the result, except that under AQE the call itself runs the
      shuffle stages upstream of ``df`` (AQE hands out the RDD of a final
      plan only, so it runs the query stages below it first): a cut over a
      shuffle runs one or more jobs when it is called.
    """
    return df.localCheckpoint(eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK_2)


def order_small(df: DataFrame, *cols) -> DataFrame:
    """The final ORDER BY of a metadata-scale result (a group-by over
    months, specs, priorities, row groups): ``df.coalesce(1).orderBy(*cols)``.

    A plain ``orderBy`` plans a ``rangepartitioning`` exchange, which under
    AQE runs as two jobs (the range-bounds sampling job and the map stage)
    to sort a few dozen rows. Over the one partition of ``coalesce(1)`` the
    sort needs no exchange: the ``Coalesce 1`` is narrow, so the result's
    last stage reads its input in one task and sorts it there. That task
    also runs whatever narrow work sits between the last exchange and the
    sort, so the caller's result must be small by construction, not merely
    filtered (tests/test_plans.py lists every caller in its global-sort
    allowlist). ``load_small`` applies the same one-partition idea at the
    scan, for a relation whose source is one row group.
    """
    return df.coalesce(1).orderBy(*cols)


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

