"""Deterministic derived fixtures, defined twice and kept in lock-step:

1. as Spark DataFrame builders (used by the engine's queries), and
2. as DuckDB CTE SQL strings (used by the oracle twins).

The manifest fixtures' formulas live in ``file_meta_of`` / ``dv_entries_of``
/ ``dv_multi_of``, which take any one-column id frame: the ``(spark,
sf_dir)`` fixtures feed them ``orders.o_orderkey``, and the benchmark suites
(bench/suites.py) feed them ``spark.range`` ids at the reference's scale
points.

Everything derives from the driver's read-only parquet tables via *modular
arithmetic only* — no RNG — mirroring the reference's deterministic scenario
generators (reference: poc/test_density_adaptive_policy.py:154 uses
``(i*13 + j*17) % total_rows``; FIXTURES.md specifies the multipliers used
here). Because both sides compute the same integer expressions, the driver's
order-insensitive value-hash comparison is exact.

Parity rules used across the engine (validated empirically, see tests):
- integer modular arithmetic on BIGINT columns matches exactly;
- ``date '2020-01-01' + k days``: Spark ``date_add``, DuckDB ``DATE + k``;
- float aggregation is NEVER done with plain SUM/AVG over doubles (summation
  order differs between engines and between Spark runs); instead each term is
  cast to DECIMAL and summed exactly, then the final value is cast to DOUBLE;
- portable 60-bit string hash: ``conv(substr(md5(s),1,15),16,10)`` in Spark ==
  ``('0x' || substr(md5(s),1,15))::BIGINT`` in DuckDB;
- every computed column is aliased identically on both sides.

Fixture map (reference provenance):
- file_meta      — Iceberg V4 DataFile manifest entries
                   (poc/utils/manifest_generator.py:79-126)
- dv_entries     — delete-vector manifest, ~30% file coverage
                   (poc/test_dv_resolution_strategies.py:43-98)
- dv_multi       — k=5 overlapping DV manifests for the coalesce strategy
                   (poc/test_dv_resolution_strategies.py:230-291)
- mdv_stats      — MDV density scenarios for the inline/spill policy
                   (poc/test_density_adaptive_policy.py:136-280)
- commit_log     — single-file-commit metrics (poc/test_single_file_commits.py:39-66)
- read_log       — S3 read simulator observations (poc/utils/s3_simulator.py:31-121)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from .io import load_table

# ---------------------------------------------------------------------------
# shared constants (single source of truth for both dialects)
# ---------------------------------------------------------------------------

EPOCH_DATE = "2020-01-01"  # start of the 5-year partition-date domain
DATE_DOMAIN_DAYS = 1826  # 5 years (tab0_content.txt:105-117)
RECORD_BASE, RECORD_MOD = 500_000, 1_000_001  # 0.5M-1.5M rows/file
SIZE_BASE, SIZE_MOD = 67_108_864, 134_217_728  # 64-192 MiB files
DV_COVERAGE_MOD, DV_COVERAGE_LT = 10, 3  # ~30% of files carry a DV
N_DV_MANIFESTS = 5  # coalesce scenario manifest count
BYTE_FLOOR = 4096  # density policy Rule 1 (poc/test_density_adaptive_policy.py:305)
GLOBAL_CAP = 16 * 1024 * 1024  # density policy Rule 3 (16 MiB)
ENTRY_BYTES = 200  # manifest entry wire size (poc/test_delete_storm.py:141)
ROW_GROUP_ENTRIES = 100  # entries per row group in the writer-org experiment
TTFB_BASE_MS, TTFB_MOD = 20, 130  # S3 TTFB 20-150ms (poc/utils/s3_simulator.py:39-47)
S3_BYTES_PER_MS = 104_857.6  # 100 MB/s transfer model (poc/utils/s3_simulator.py:55)

# portable 60-bit hash ------------------------------------------------------


def hash60(col: Column) -> Column:
    """60-bit deterministic hash of a string column (Spark side)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def hash60_sql(expr: str) -> str:
    """60-bit deterministic hash of a string expression (DuckDB side)."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


#: zero-padded width of the file-id segment in synthetic file paths. lpad
#: TRUNCATES overflow in BOTH engines (verified: lpad('123456789', 8, '0')
#: -> '12345678'), so the old width of 8 made 9+-digit file_ids (o_orderkey
#: reaches 100M around SF 17) collide into duplicate file_paths — breaking
#: the uniqueness every DV join assumes. 12 digits covers o_orderkey to
#: SF ~160,000. Defined ONCE per dialect; the six consuming fixtures all
#: reference these two definitions.
FILE_ID_PAD = 12


def file_path_col(fid: "F.Column") -> "F.Column":
    return F.concat(
        F.lit("s3://bucket/table/data/file_"),
        F.lpad(fid.cast("string"), FILE_ID_PAD, "0"),
        F.lit(".parquet"),
    )


FILE_PATH_SQL = (
    f"'s3://bucket/table/data/file_' || lpad(CAST(o_orderkey AS VARCHAR), {FILE_ID_PAD}, '0') || '.parquet'"
)


# ---------------------------------------------------------------------------
# file_meta — V4 DataFile manifest entries, one per orders row
# ---------------------------------------------------------------------------


def _order_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select("o_orderkey")


def file_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-entry table derived from ``orders`` (file_id = o_orderkey)."""
    return file_meta_of(_order_keys(spark, sf_dir))


def file_meta_of(ids: DataFrame) -> DataFrame:
    """Manifest entries over a one-column id frame (file_id = that column).

    Mirrors the binary V4 DataFile schema at
    reference poc/utils/manifest_generator.py:79-126. Partition values are
    pseudo-random over a 5-year x 24-hour domain via fixed multipliers, so the
    natural (file_id) ordering is an *unsorted streaming arrival* layout —
    exactly the writer-organization experiment's premise (tab0_content.txt:120-140).
    """
    fid = F.col(ids.columns[0])
    return ids.select(
        fid.alias("file_id"),
        F.lit(0).alias("content_type"),
        file_path_col(fid).alias("file_path"),
        F.lit("parquet").alias("file_format"),
        F.date_add(F.to_date(F.lit(EPOCH_DATE)), ((fid * 7919) % DATE_DOMAIN_DAYS).cast("int")).alias(
            "partition_date"
        ),
        ((fid * 104729) % 24).cast("int").alias("partition_hour"),
        (F.lit(RECORD_BASE) + (fid * 7919) % RECORD_MOD).alias("record_count"),
        (F.lit(SIZE_BASE) + (fid * 104729) % SIZE_MOD).alias("file_size_bytes"),
        (fid + 1000).alias("snapshot_id"),
        fid.alias("sequence_number"),
        F.lit(0).alias("status"),
    )


FILE_META_SQL = f"""
SELECT
  o_orderkey                                            AS file_id,
  0                                                     AS content_type,
  {FILE_PATH_SQL}
                                                        AS file_path,
  'parquet'                                             AS file_format,
  DATE '{EPOCH_DATE}' + CAST((o_orderkey * 7919) % {DATE_DOMAIN_DAYS} AS INTEGER)
                                                        AS partition_date,
  CAST((o_orderkey * 104729) % 24 AS INTEGER)           AS partition_hour,
  {RECORD_BASE} + (o_orderkey * 7919) % {RECORD_MOD}    AS record_count,
  {SIZE_BASE} + (o_orderkey * 104729) % {SIZE_MOD}      AS file_size_bytes,
  o_orderkey + 1000                                     AS snapshot_id,
  o_orderkey                                            AS sequence_number,
  0                                                     AS status
FROM orders
"""

# ---------------------------------------------------------------------------
# dv_entries — single delete-vector manifest (~30% coverage)
# ---------------------------------------------------------------------------


def dv_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DV manifest over ``orders`` (file_id = o_orderkey)."""
    return dv_entries_of(_order_keys(spark, sf_dir))


def has_dv(fid: Column) -> Column:
    """file_id % 10 < 3: ~30% of files carry a delete vector."""
    return fid % DV_COVERAGE_MOD < DV_COVERAGE_LT


def dv_size_bytes(fid: Column) -> Column:
    """Deterministic 100 B - 10 KB delete-vector size of a file."""
    return F.lit(100) + (fid * 31) % 9901


def dv_entries_of(ids: DataFrame) -> DataFrame:
    """DV manifest over a one-column id frame: the ``has_dv`` files.

    Mirrors reference poc/test_dv_resolution_strategies.py:65-98 (30% DV ratio,
    100B-10KB DVs, 1-1000 deleted rows) with deterministic sizes.
    """
    fid = F.col(ids.columns[0])
    return (
        ids.filter(has_dv(fid))
        .select(
            fid.alias("file_id"),
            file_path_col(fid).alias("file_path"),
            dv_size_bytes(fid).alias("dv_size_bytes"),
            (F.lit(1) + (fid * 17) % 1000).alias("deleted_row_count"),
        )
    )


DV_ENTRIES_SQL = f"""
SELECT
  o_orderkey                                            AS file_id,
  {FILE_PATH_SQL}
                                                        AS file_path,
  100 + (o_orderkey * 31) % 9901                        AS dv_size_bytes,
  1 + (o_orderkey * 17) % 1000                          AS deleted_row_count
FROM orders
WHERE o_orderkey % {DV_COVERAGE_MOD} < {DV_COVERAGE_LT}
"""

# ---------------------------------------------------------------------------
# dv_multi — k overlapping DV manifests (coalesce resolution scenario)
# ---------------------------------------------------------------------------


def dv_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=5 DV manifests over ``orders`` (file_id = o_orderkey)."""
    return dv_multi_of(_order_keys(spark, sf_dir))


def dv_multi_of(ids: DataFrame) -> DataFrame:
    """k=5 DV manifests over a one-column id frame, each covering ~30% of
    files with shifted membership.

    Mirrors reference poc/test_dv_resolution_strategies.py:230-291 (multiple
    DV manifests written by successive MERGE jobs; a file's live DV is the one
    from the *latest* manifest = lowest manifest_idx here).
    """
    manifests = ids.sparkSession.range(N_DV_MANIFESTS).select(F.col("id").cast("int").alias("manifest_idx"))
    fid = F.col(ids.columns[0])
    m = F.col("manifest_idx")
    return (
        ids.crossJoin(manifests)
        .filter((fid + m * 7) % DV_COVERAGE_MOD < DV_COVERAGE_LT)
        .select(
            fid.alias("file_id"),
            m,
            file_path_col(fid).alias("file_path"),
            (F.lit(100) + (fid * 31 + m * 97) % 9901).alias("dv_size_bytes"),
            (F.lit(1) + (fid * 17 + m * 13) % 1000).alias("deleted_row_count"),
        )
    )


DV_MULTI_SQL = f"""
SELECT
  o_orderkey                                            AS file_id,
  CAST(m.range AS INTEGER)                              AS manifest_idx,
  {FILE_PATH_SQL}
                                                        AS file_path,
  100 + (o_orderkey * 31 + m.range * 97) % 9901         AS dv_size_bytes,
  1 + (o_orderkey * 17 + m.range * 13) % 1000           AS deleted_row_count
FROM orders, range({N_DV_MANIFESTS}) m
WHERE (o_orderkey + m.range * 7) % {DV_COVERAGE_MOD} < {DV_COVERAGE_LT}
"""

# ---------------------------------------------------------------------------
# mdv_stats — metadata-delete-vector density scenarios (spill policy input)
# ---------------------------------------------------------------------------


def mdv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-manifest MDV statistics for the density-adaptive inline/spill policy.

    container_type mirrors roaring container semantics
    (reference poc/test_density_adaptive_policy.py:82-123): 'run' for
    contiguous partition-drop deletes, 'array' below 4096 cardinality,
    'bitmap' above. Sizes follow the reference's serialized-size proxies.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    fid = F.col("o_orderkey")
    deleted = (F.lit(1) + (fid * 37) % 9999).alias("deleted_rows")
    df = o.select(fid.alias("manifest_id"), F.lit(10_000).alias("total_rows"), deleted)
    container = (
        F.when(F.col("manifest_id") % 7 == 0, F.lit("run"))
        .when(F.col("deleted_rows") < 4096, F.lit("array"))
        .otherwise(F.lit("bitmap"))
    )
    df = df.withColumn("container_type", container)
    size = (
        F.when(F.col("container_type") == "run", F.lit(32))
        .when(F.col("container_type") == "array", F.col("deleted_rows") * 2)
        .otherwise(F.lit(8192))
    )
    return df.withColumn("mdv_size", size.cast("bigint"))


MDV_STATS_SQL = """
SELECT
  manifest_id,
  total_rows,
  deleted_rows,
  container_type,
  CAST(CASE container_type
         WHEN 'run'   THEN 32
         WHEN 'array' THEN deleted_rows * 2
         ELSE 8192
       END AS BIGINT)                                   AS mdv_size
FROM (
  SELECT
    manifest_id,
    total_rows,
    deleted_rows,
    CASE
      WHEN manifest_id % 7 = 0 THEN 'run'
      WHEN deleted_rows < 4096 THEN 'array'
      ELSE 'bitmap'
    END AS container_type
  FROM (
    SELECT
      o_orderkey                    AS manifest_id,
      10000                         AS total_rows,
      1 + (o_orderkey * 37) % 9999  AS deleted_rows
    FROM orders
  )
)
"""

# ---------------------------------------------------------------------------
# commit_log — single-file-commit metrics stream
# ---------------------------------------------------------------------------

BATCH_SIZES = (1, 10, 50, 100, 500, 1000)


def commit_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit metrics, one commit per events row.

    Mirrors reference poc/test_single_file_commits.py:39-66: batch sizes
    {1,10,50,100,500,1000}, ~0.25 KB metadata per file, commit time modeled as
    a deterministic affine function of batch size (the reference *measures*
    these; the correctness fixture must be reproducible, see FIXTURES.md §6).
    """
    e = load_table(spark, sf_dir, "events").select("event_id")
    eid = F.col("event_id")
    batch = F.element_at(F.array(*[F.lit(b) for b in BATCH_SIZES]), (eid % 6 + 1).cast("int"))
    return e.select(
        eid.alias("commit_id"),
        batch.cast("int").alias("batch_size"),
        (F.lit(4.0) + batch * 0.045 + (eid % 7).cast("double") * 0.11).alias("commit_time_ms"),
        (batch * 256).cast("bigint").alias("metadata_size_bytes"),
    )


COMMIT_LOG_SQL = """
SELECT
  event_id                                              AS commit_id,
  CAST(batch AS INTEGER)                                AS batch_size,
  4.0 + batch * 0.045 + CAST(event_id % 7 AS DOUBLE) * 0.11
                                                        AS commit_time_ms,
  CAST(batch * 256 AS BIGINT)                           AS metadata_size_bytes
FROM (
  SELECT event_id, ([1,10,50,100,500,1000])[CAST(event_id % 6 + 1 AS INTEGER)] AS batch
  FROM events
)
"""

# ---------------------------------------------------------------------------
# read_log — S3 metadata-read observations (latency model)
# ---------------------------------------------------------------------------


def read_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One simulated S3 metadata read per events row.

    Mirrors reference poc/utils/s3_simulator.py:31-90: TTFB 20-150 ms plus
    size / 100 MBps transfer. Deterministic (event_id-derived) instead of the
    reference's unseeded gaussian (SURVEY.md §5.3 flags that bug).
    """
    e = load_table(spark, sf_dir, "events").select("event_id")
    eid = F.col("event_id")
    ttfb = (F.lit(TTFB_BASE_MS) + eid % TTFB_MOD).alias("ttfb_ms")
    size = (F.lit(200) + (eid % 1000) * 37).alias("size_bytes")
    return e.select(eid.alias("read_id"), ttfb, size).withColumn(
        "wall_ms", F.col("ttfb_ms").cast("double") + F.col("size_bytes") / F.lit(S3_BYTES_PER_MS)
    )


READ_LOG_SQL = f"""
SELECT
  read_id,
  ttfb_ms,
  size_bytes,
  -- CAST literal to DOUBLE: a bare 104857.6 is DECIMAL in DuckDB and the
  -- decimal division would diverge from Spark's double arithmetic
  CAST(ttfb_ms AS DOUBLE) + size_bytes / CAST({S3_BYTES_PER_MS} AS DOUBLE) AS wall_ms
FROM (
  SELECT
    event_id                          AS read_id,
    {TTFB_BASE_MS} + event_id % {TTFB_MOD} AS ttfb_ms,
    200 + (event_id % 1000) * 37      AS size_bytes
  FROM events
)
"""

# ---------------------------------------------------------------------------
# oracle CTE composition
# ---------------------------------------------------------------------------

CTE_SQL: dict[str, str] = {
    "file_meta": FILE_META_SQL,
    "dv_entries": DV_ENTRIES_SQL,
    "dv_multi": DV_MULTI_SQL,
    "mdv_stats": MDV_STATS_SQL,
    "commit_log": COMMIT_LOG_SQL,
    "read_log": READ_LOG_SQL,
}


def with_fixtures(body: str, *names: str) -> str:
    """Compose a DuckDB oracle query from fixture CTEs + a SELECT body.

    Bodies that open with their own WITH clause are merged into one CTE list
    (SQL allows a single WITH per query level).
    """
    for n in names:
        if n not in CTE_SQL:
            raise KeyError(f"unknown fixture CTE {n!r}")
    if not names:
        return body
    ctes = ",\n".join(f"{n} AS ({CTE_SQL[n]})" for n in names)
    stripped = body.lstrip()
    if stripped.upper().startswith("WITH "):
        return f"WITH {ctes},\n{stripped[5:]}"
    return f"WITH {ctes}\n{body}"
