"""Oracle-gated exercise of the DV payload codec.

The encode half is byte-level Python (zlib is not SQL-expressible), so the
oracle instead checks the DECODED result: positions survive the
encode->compress->decompress->decode roundtrip exactly. Statistics of the
roundtripped set (count/min/max/sum) are computed from the same generator
formula on the DuckDB side — any codec corruption breaks the hash match.

Positions take the floor modulus, ``pmod(x, m)``, written
``((x % m) + m) % m`` in the oracles (DuckDB has no ``pmod``) and ``np.mod``
in the UDFs' generators: both engines' ``%`` truncates, which would give a
negative file_id negative positions that no uint32 codec can hold. Fixture
file ids are non-negative, where the two agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..core.fixtures import dv_entries, with_fixtures
from ..core.io import spread_narrow
from ..core.registry import register
from ..operators.dv_payload import (
    mdv1_roundtrip_stats_udf,
    roaring_roundtrip_stats_udf,
    roaring_runs_roundtrip_stats_udf,
)


def _pmod_sql(x: str, m: int) -> str:
    """DuckDB's floor modulus of ``x`` by a positive ``m``: in [0, m)."""
    return f"((({x}) % {m}) + {m}) % {m}"


SAMPLE_MOD = 100  # files with file_id % 100 == 0 get a modeled payload
ROWS_PER_FILE = 1000


@register(
    "q_dv_payload_roundtrip",
    oracle=with_fixtures(
        f"""
        WITH deleted AS (
          SELECT DISTINCT d.file_id,
                 {_pmod_sql("d.file_id * 17 + j.range * 13", ROWS_PER_FILE)} AS pos
          FROM dv_entries d, range(1000) j
          WHERE d.file_id % {SAMPLE_MOD} = 0 AND j.range < d.deleted_row_count
        )
        SELECT file_id,
               count(*)              AS n_deleted,
               CAST(min(pos) AS BIGINT) AS min_pos,
               CAST(max(pos) AS BIGINT) AS max_pos,
               CAST(sum(pos) AS BIGINT) AS pos_sum
        FROM deleted
        GROUP BY file_id
        """,
        "dv_entries",
    ),
    tags=("dv", "binary", "python-udf"),
)
def q_dv_payload_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode delete positions to compressed blobs, decode, and aggregate.

    Pipeline: one fused plain Python UDF call per file row (one
    BatchEvalPython node) — numpy position generation (the oracle's exact
    formula), delta+varint+zlib encode, the shared any-format decode, and
    the four stats, all inside the Python worker. Only TWO int64 scalars
    cross into Python and FOUR come back; the staged form shipped the full
    position array across the boundary twice and paid an interpreted JVM
    `aggregate` fold per row — only the columns the function needs should
    cross, and bulk work belongs in vectorized code inside the worker. A
    pickled UDF, not a pandas one: the per-row work is one numpy call per
    file either way, and the worker then loads neither pandas nor pyarrow
    (operators/dv_payload.py). The
    oracle recomputes the stats from the generator formula, so a single
    corrupted bit anywhere in the byte path fails the value hash. The
    whole plan is narrow — zero shuffles: the codec is per-file, so it
    parallelizes embarrassingly. The encoder dedups and sorts internally;
    dedup is asserted by matching the oracle's DISTINCT counts.
    """
    # the codec UDF is pure per-file work off a possibly single-split scan:
    # spread the sampled rows before it (no-op at production split counts)
    # the oracle's `j < deleted_row_count` range join yields no position,
    # and so no row, for a count <= 0 (a negative file_id's): drop those
    # files before the codec, which needs a non-empty set
    dv = spread_narrow(
        dv_entries(spark, sf_dir)
        .filter((F.col("file_id") % SAMPLE_MOD == 0) & (F.col("deleted_row_count") > 0))
        .select("file_id", "deleted_row_count"),
        "file_id",
    )
    return dv.select(
        "file_id", mdv1_roundtrip_stats_udf("file_id", "deleted_row_count").alias("s")
    ).select("file_id", "s.*")


ROARING_SAMPLE_MOD = 150  # files with file_id % 150 == 0 get a roaring payload
ROARING_SPAN = 60000  # positions land in one 65536 chunk -> exercises both
#: container kinds: cardinality > 4096 becomes a bitmap container, <= array


@register(
    "q_roaring_roundtrip",
    oracle=with_fixtures(
        f"""
        WITH deleted AS (
          SELECT DISTINCT d.file_id,
                 {_pmod_sql("d.file_id * 31 + j.range * 7", ROARING_SPAN)} AS pos
          FROM dv_entries d, range(8000) j
          WHERE d.file_id % {ROARING_SAMPLE_MOD} = 0
            AND j.range < d.deleted_row_count * 8
        )
        SELECT file_id,
               count(*)              AS n_deleted,
               CAST(min(pos) AS BIGINT) AS min_pos,
               CAST(max(pos) AS BIGINT) AS max_pos,
               CAST(sum(pos) AS BIGINT) AS pos_sum
        FROM deleted
        GROUP BY file_id
        """,
        "dv_entries",
    ),
    tags=("dv", "binary", "roaring", "python-udf"),
)
def q_roaring_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roundtrip delete positions through the portable Roaring wire format.

    Same shape as q_dv_payload_roundtrip but through the reference's actual
    serialization (poc/utils/mdv_generator.py:56-72 wraps BitMap.serialize in
    zlib; operators/roaring.py emits that portable layout): positions ->
    roaring containers -> zlib blob -> decode -> per-file stats in one plain
    Python UDF call per file, all narrow, zero shuffles. deleted_row_count*8
    positions over a 60000 span drive cardinalities across the 4096
    array/bitmap container threshold, so both container codecs are
    exercised and any single-bit corruption in either breaks the oracle's
    value hash.
    """
    # empty position sets dropped as in q_dv_payload_roundtrip
    dv = spread_narrow(
        dv_entries(spark, sf_dir)
        .filter((F.col("file_id") % ROARING_SAMPLE_MOD == 0) & (F.col("deleted_row_count") > 0))
        .select("file_id", "deleted_row_count"),
        "file_id",
    )
    # fused scalars-in/scalars-out roundtrip (see q_dv_payload_roundtrip):
    # same roaring_serialize -> zlib -> decode byte path, no array transport
    return dv.select(
        "file_id", roaring_roundtrip_stats_udf("file_id", "deleted_row_count").alias("s")
    ).select("file_id", "s.*")


RUNS_SAMPLE_MOD = 150  # same sampled file set as q_roaring_roundtrip
RUNS_CHUNK = 65536  # second delete block lands in the next 65536-key chunk


@register(
    "q_roaring_runs",
    oracle=with_fixtures(
        f"""
        WITH deleted AS (
          SELECT d.file_id, {_pmod_sql("d.file_id * 13", 5000)} + j.range AS pos
          FROM dv_entries d, range(8000) j
          WHERE d.file_id % {RUNS_SAMPLE_MOD} = 0
            AND j.range < d.deleted_row_count * 8
          UNION ALL
          SELECT d.file_id, {RUNS_CHUNK} + {_pmod_sql("d.file_id", 100)} + j.range AS pos
          FROM dv_entries d, range(64) j
          WHERE d.file_id % {RUNS_SAMPLE_MOD} = 0
            AND j.range < 1 + d.deleted_row_count % 64
        )
        SELECT file_id,
               CAST(count(*) AS BIGINT)  AS n_deleted,
               CAST(min(pos) AS BIGINT)  AS min_pos,
               CAST(max(pos) AS BIGINT)  AS max_pos,
               CAST(sum(pos) AS BIGINT)  AS pos_sum
        FROM deleted
        GROUP BY file_id
        """,
        "dv_entries",
    ),
    tags=("dv", "binary", "roaring", "python-udf"),
)
def q_roaring_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roundtrip contiguous delete ranges through run-optimized Roaring.

    The reference run_optimize()s every bitmap before serializing
    (poc/utils/mdv_generator.py:134,164) — its headline ~9-bytes-for-500-
    contiguous-deletes compression is a run-container result. This query
    exercises that exact write path: each sampled file deletes one large
    contiguous block (deleted_row_count*8, up to 8000 rows — crossing the
    4096 array/bitset threshold so runs must beat BOTH flat containers) plus
    a second small block in the next 65536-key chunk (multi-container run
    stream, run-flag bitset with two containers). Encode uses
    run_optimize=True (SERIAL_COOKIE 12347 wire layout, operators/roaring.py)
    and decode goes through the shared any-format decoder, so the oracle's
    value hash certifies the run codec end-to-end. The plan stays narrow —
    arrays are built, encoded, decoded, and aggregated in one plain Python
    UDF call per file inside the scan partition, zero shuffles, same as
    q_roaring_roundtrip.
    """
    # a file whose two blocks are both empty has no row in the oracle
    drc = F.col("deleted_row_count")
    dv = spread_narrow(
        dv_entries(spark, sf_dir)
        .filter((F.col("file_id") % RUNS_SAMPLE_MOD == 0) & ((drc * 8 > 0) | (1 + drc % 64 > 0)))
        .select("file_id", "deleted_row_count"),
        "file_id",
    )
    # fused scalars-in/scalars-out roundtrip (see q_dv_payload_roundtrip):
    # encode uses run_optimize=True — the same SERIAL_COOKIE 12347 write
    # path — and decode goes through the shared any-format decoder
    return dv.select(
        "file_id", roaring_runs_roundtrip_stats_udf("file_id", "deleted_row_count").alias("s")
    ).select("file_id", "s.*")
