"""Delete-vector resolution joins (SURVEY.md §2.3 — the reference's richest
surface, poc/test_dv_resolution_strategies.py).

The reference hand-implements three strategies for matching DV manifests to
data manifests (hash / positional / coalesced) plus order-preserving left
joins and row-level DV application. In Spark each is one declarative join;
Catalyst + AQE pick broadcast-hash vs sort-merge from runtime stats, which IS
the strategy selection the reference benchmarks (its verdict — positional for
<=25K entries, hash at 100K+ — is the static version of what AQE does
dynamically).

Scale notes: the DV manifest side is typically 100-1000x smaller than the
data-file manifest, so these joins broadcast at real scale; we add an explicit
``broadcast()`` hint where the semantics guarantee the small side. Every join
goes through ``core.io.join_small``: over one-row-group fixtures both sides
are one partition, and the DV side is hashed in the scan's task with no
broadcast job; over any larger source the hint or the planner decides. Row-level
DV application (q_dv_apply) is the only op touching row positions; at 100 TB
that path is Iceberg merge-on-read's job, and the join keys (file, pos) are
perfectly partition-prunable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..core.fixtures import dv_entries, dv_multi, file_meta, with_fixtures
from ..core.io import join_small, load_small, load_table, order_small
from ..core.registry import register
from ..operators.lifecycle import apply_equality_deletes, merge_latest_wins

# ---------------------------------------------------------------------------
# hash / semi / anti joins on file_path
# ---------------------------------------------------------------------------


@register(
    "q_dv_hash_join",
    oracle=with_fixtures(
        """
        SELECT f.file_id, f.file_path, f.record_count,
               d.dv_size_bytes, d.deleted_row_count,
               f.record_count - d.deleted_row_count AS live_rows
        FROM file_meta f
        JOIN dv_entries d ON f.file_path = d.file_path
        """,
        "file_meta",
        "dv_entries",
    ),
    tags=("join",),
)
def q_dv_hash_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi hash join: data manifest x DV manifest on file_path.

    Reference builds a dict on dv.file_path and probes (
    poc/test_dv_resolution_strategies.py:100-137); Spark's broadcast-hash join
    is the distributed equivalent — the DV side ships to every executor, no
    shuffle of the big side. Over one-partition sides ``join_small`` builds
    the same hash in the scan's task.
    """
    fm = file_meta(spark, sf_dir)
    dv = dv_entries(spark, sf_dir)
    return join_small(fm, dv.drop("file_id"), "file_path", broadcast=True).select(
        "file_id",
        "file_path",
        "record_count",
        "dv_size_bytes",
        "deleted_row_count",
        (F.col("record_count") - F.col("deleted_row_count")).alias("live_rows"),
    )


@register(
    "q_dv_semi_join",
    oracle=with_fixtures(
        """
        SELECT f.file_id, f.file_path, f.record_count
        FROM file_meta f
        WHERE EXISTS (SELECT 1 FROM dv_entries d WHERE d.file_path = f.file_path)
        """,
        "file_meta",
        "dv_entries",
    ),
    tags=("join",),
)
def q_dv_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: data files that have a delete vector.

    The reference's ``matched_files`` set
    (poc/test_dv_resolution_strategies.py:117-121) — semi join never
    duplicates and never materializes DV columns.
    """
    fm = file_meta(spark, sf_dir)
    dv = dv_entries(spark, sf_dir).select("file_path")
    return join_small(fm, dv, "file_path", "left_semi", broadcast=True).select(
        "file_id", "file_path", "record_count"
    )


@register(
    "q_dv_anti_join",
    oracle=with_fixtures(
        """
        SELECT f.file_id, f.file_path, f.record_count
        FROM file_meta f
        WHERE NOT EXISTS (SELECT 1 FROM dv_entries d WHERE d.file_path = f.file_path)
        """,
        "file_meta",
        "dv_entries",
    ),
    tags=("join",),
)
def q_dv_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: data files with NO delete vector (clean files).

    Complement of q_dv_semi_join; scan planning reads these without DV
    resolution at all.
    """
    fm = file_meta(spark, sf_dir)
    dv = dv_entries(spark, sf_dir).select("file_path")
    return join_small(fm, dv, "file_path", "left_anti", broadcast=True).select(
        "file_id", "file_path", "record_count"
    )


# ---------------------------------------------------------------------------
# row-level DV application
# ---------------------------------------------------------------------------

APPLY_SAMPLE_MOD = 100  # apply row-level DVs for file_id % 100 == 0
ROWS_PER_FILE = 1000


@register(
    "q_dv_apply",
    oracle=with_fixtures(
        f"""
        WITH sample_files AS (
          SELECT file_id FROM dv_entries WHERE file_id % {APPLY_SAMPLE_MOD} = 0
        ),
        data_rows AS (
          SELECT f.file_id, r.range AS pos
          FROM sample_files f, range({ROWS_PER_FILE}) r
        ),
        deleted AS (
          SELECT DISTINCT d.file_id,
                 (d.file_id * 17 + j.range * 13) % {ROWS_PER_FILE} AS pos
          FROM dv_entries d, range(1000) j
          WHERE d.file_id % {APPLY_SAMPLE_MOD} = 0 AND j.range < d.deleted_row_count
        )
        SELECT dr.file_id,
               count(*) AS live_rows
        FROM data_rows dr
        WHERE NOT EXISTS (
          SELECT 1 FROM deleted x WHERE x.file_id = dr.file_id AND x.pos = dr.pos
        )
        GROUP BY dr.file_id
        """,
        "dv_entries",
    ),
    tags=("join", "anti"),
)
def q_dv_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DV application: rows ANTI JOIN deleted positions.

    The MDV marks positions deleted (reference poc/utils/mdv_generator.py:37-72,
    applied in poc/test_delete_storm.py:70-84); a merge-on-read scan is exactly
    ``rows LEFT ANTI JOIN deletes ON (file, pos)``. Sampled to file_id % 100 = 0
    files x 1000 positions so the oracle stays tractable; the plan is
    scale-free (co-partitioned by file).
    """
    dv = dv_entries(spark, sf_dir).filter(F.col("file_id") % APPLY_SAMPLE_MOD == 0)
    data_rows = dv.select("file_id").select(
        "file_id", F.explode(F.sequence(F.lit(0), F.lit(ROWS_PER_FILE - 1))).alias("pos")
    )
    # no .distinct() on the delete side: LEFT ANTI is unaffected by duplicate
    # build rows, and deduplication would cost a full extra shuffle
    deleted = (
        dv.select("file_id", F.explode(F.sequence(F.lit(0), F.col("deleted_row_count") - 1)).alias("j"))
        .select("file_id", ((F.col("file_id") * 17 + F.col("j") * 13) % ROWS_PER_FILE).alias("pos"))
    )
    live = join_small(data_rows, deleted, ["file_id", "pos"], "left_anti")
    return live.groupBy("file_id").agg(F.count("*").alias("live_rows"))


# ---------------------------------------------------------------------------
# positional join
# ---------------------------------------------------------------------------


@register(
    "q_dv_positional_join",
    oracle=with_fixtures(
        """
        WITH data_side AS (
          SELECT file_path, record_count,
                 row_number() OVER (ORDER BY file_path) AS pos
          FROM file_meta
          WHERE file_id % 10 < 3
        ),
        dv_side AS (
          SELECT file_path AS dv_file_path, deleted_row_count,
                 row_number() OVER (ORDER BY file_path) AS pos
          FROM dv_entries
        )
        SELECT d.pos, d.file_path, v.dv_file_path, v.deleted_row_count,
               d.file_path = v.dv_file_path AS aligned
        FROM data_side d JOIN dv_side v ON d.pos = v.pos
        """,
        "file_meta",
        "dv_entries",
    ),
    tags=("join", "window"),
)
def q_dv_positional_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional join: align DV entries to data entries by manifest position.

    The reference's positional strategy zips order-preserving lists
    (poc/test_dv_resolution_strategies.py:139-176). The honest distributed
    equivalent is row_number() over the manifest ordering on both sides and an
    equi-join on position; the ``aligned`` column proves positions resolve to
    the same file (always true when the DV manifest is order-preserving).
    """
    fm = file_meta(spark, sf_dir)
    dv = dv_entries(spark, sf_dir)
    data_side = (
        fm.filter(F.col("file_id") % 10 < 3)
        .select("file_path", "record_count")
        .withColumn("pos", F.row_number().over(Window.orderBy("file_path")).cast("bigint"))
    )
    dv_side = dv.select(
        F.col("file_path").alias("dv_file_path"), "deleted_row_count"
    ).withColumn("pos", F.row_number().over(Window.orderBy("dv_file_path")).cast("bigint"))
    return join_small(data_side, dv_side, "pos").select(
        "pos",
        "file_path",
        "dv_file_path",
        "deleted_row_count",
        (F.col("file_path") == F.col("dv_file_path")).alias("aligned"),
    )


# ---------------------------------------------------------------------------
# coalesced (k-manifest, first-non-null) resolution
# ---------------------------------------------------------------------------


@register(
    "q_dv_coalesce",
    oracle=with_fixtures(
        """
        SELECT file_id, file_path, manifest_idx AS chosen_manifest,
               dv_size_bytes, deleted_row_count
        FROM (
          SELECT *, row_number() OVER (PARTITION BY file_path ORDER BY manifest_idx) AS rk
          FROM dv_multi
        )
        WHERE rk = 1
        """,
        "dv_multi",
    ),
    tags=("join", "window"),
)
def q_dv_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coalesced DV resolution: first non-null DV across k=5 manifests.

    Reference scans k manifests per file and keeps the first hit
    (poc/test_dv_resolution_strategies.py:230-291). Instead of k chained
    left joins + COALESCE(dv_1..dv_k) — k passes over the big side — we union
    the manifests and take row_number()=1 per file ordered by manifest
    recency: one shuffle, linear in total DV entries, and the plan does not
    grow with k. Equivalent result, strictly better at scale.
    """
    dvm = dv_multi(spark, sf_dir)
    w = Window.partitionBy("file_path").orderBy("manifest_idx")
    return (
        dvm.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "file_id",
            "file_path",
            F.col("manifest_idx").alias("chosen_manifest"),
            "dv_size_bytes",
            "deleted_row_count",
        )
    )


@register(
    "q_ordered_manifest",
    oracle=with_fixtures(
        """
        SELECT row_number() OVER (ORDER BY f.file_path) AS pos,
               f.file_id, f.file_path,
               d.dv_size_bytes, d.deleted_row_count,
               d.dv_size_bytes IS NOT NULL AS has_dv
        FROM file_meta f
        LEFT JOIN dv_entries d ON f.file_path = d.file_path
        """,
        "file_meta",
        "dv_entries",
    ),
    tags=("join", "sort"),
)
def q_ordered_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-preserving DV manifest: left join with NULL padding at gaps.

    The reference pays a measured 22,000% write overhead maintaining this
    alignment by hand (index.html:1947); as a Spark left-outer join ordered by
    position the property is free — which is the engine-design lesson.
    """
    fm = file_meta(spark, sf_dir)
    dv = dv_entries(spark, sf_dir).select("file_path", "dv_size_bytes", "deleted_row_count")
    joined = join_small(fm, dv, "file_path", "left_outer", broadcast=True)
    return joined.select(
        F.row_number().over(Window.orderBy("file_path")).cast("bigint").alias("pos"),
        "file_id",
        "file_path",
        "dv_size_bytes",
        "deleted_row_count",
        F.col("dv_size_bytes").isNotNull().alias("has_dv"),
    )


# ---------------------------------------------------------------------------
# MERGE / upsert: the row-level mutation the DV machinery exists to serve
# ---------------------------------------------------------------------------


@register(
    "q_merge_upsert",
    oracle="""
        WITH updates AS (
          SELECT o_orderkey,
                 o_totalprice + CAST(10 AS DOUBLE) AS o_totalprice,
                 'REVISED' AS o_orderpriority,
                 1 AS src
          FROM orders WHERE o_orderkey % 7 = 0
          UNION ALL
          SELECT o_orderkey + 10000000,
                 CAST(1000 AS DOUBLE) + o_orderkey % 500,
                 'NEW',
                 2
          FROM orders WHERE o_orderkey % 97 = 0
        ),
        base AS (
          SELECT o_orderkey, o_totalprice, o_orderpriority, 0 AS src FROM orders
        ),
        merged AS (
          SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY src DESC) AS rn
          FROM (SELECT * FROM base UNION ALL SELECT * FROM updates)
        )
        SELECT o_orderpriority,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total_price,
               CAST(sum(CASE WHEN src > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_from_updates
        FROM merged WHERE rn = 1
        GROUP BY 1
        """,
    tags=("join", "merge", "upsert", "dv"),
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics as a declarative plan: latest-wins upsert.

    The reference's whole DV apparatus exists to make row-level mutation
    cheap (poc/test_dv_resolution_strategies.py:18-34); q_dv_apply covers
    the delete half, this covers update+insert. An update batch (matched
    rows get new values; unmatched keys append) merges with the base by
    union + row_number partitioned on the key, source-priority ordered —
    exactly Iceberg merge-on-read's read path, expressed in two operators.

    Scale: one shuffle on the merge key, which MERGE INTO cannot avoid
    either; no join at all (union replaces the matched/unmatched probe). The
    update batch is usually << base, so AQE coalesces its partitions; the
    row_number window runs per-key with no global ordering anywhere.

    src is a three-level priority (0 base, 1 update, 2 insert), not a
    boolean: each branch contributes at most one row per key, so the
    row_number order is TOTAL within every partition. With a shared src=1,
    an insert key colliding with an updated key (possible at SF >= 2, where
    o_orderkey reaches the +10M insert offset) would tie and each engine —
    indeed each run — could keep a different row.
    """
    o = load_table(spark, sf_dir, "orders")
    base = o.select("o_orderkey", "o_totalprice", "o_orderpriority", F.lit(0).alias("src"))
    updates = (
        o.filter(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey",
            (F.col("o_totalprice") + F.lit(10.0)).alias("o_totalprice"),
            F.lit("REVISED").alias("o_orderpriority"),
            F.lit(1).alias("src"),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 97 == 0).select(
                (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
                (F.lit(1000.0) + (F.col("o_orderkey") % 500).cast("double")).alias("o_totalprice"),
                F.lit("NEW").alias("o_orderpriority"),
                F.lit(2).alias("src"),
            )
        )
    )
    merged = merge_latest_wins(base, updates, "o_orderkey")
    return merged.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).cast("double").alias("total_price"),
        F.sum(F.when(F.col("src") > 0, 1).otherwise(0)).cast("bigint").alias("n_from_updates"),
    )


# ---------------------------------------------------------------------------
# equality deletes (Iceberg v2's second delete kind)
# ---------------------------------------------------------------------------

EQ_DELETE_KEY_MOD = 13  # custkeys with an equality delete
EQ_DATA_SEQ_MOD = 1000  # data sequence number domain
EQ_DELETE_SEQ_BASE, EQ_DELETE_SEQ_MOD = 500, 400  # delete seq 500-899


@register(
    "q_equality_delete",
    oracle=f"""
        WITH eq_deletes AS (
          SELECT c_custkey AS custkey,
                 {EQ_DELETE_SEQ_BASE} + (c_custkey % {EQ_DELETE_SEQ_MOD}) AS delete_seq
          FROM customer WHERE c_custkey % {EQ_DELETE_KEY_MOD} = 0
        )
        SELECT o_orderstatus,
               count(*) AS n_live,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        FROM orders d
        WHERE NOT EXISTS (
          SELECT 1 FROM eq_deletes e
          WHERE e.custkey = d.o_custkey
            AND d.o_orderkey % {EQ_DATA_SEQ_MOD} < e.delete_seq
        )
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
        """,
    tags=("dv", "join", "anti", "iceberg"),
)
def q_equality_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality-delete application with sequence-number semantics.

    The reference models only positional delete vectors (its MDVs,
    poc/utils/mdv_generator.py:37-72); Iceberg v2's *other* delete kind is
    the equality delete — "delete every row whose key equals K" — which a
    scan must apply only to rows whose data sequence number is OLDER than
    the delete's (newer re-inserts of the same key survive). That order
    predicate is what distinguishes this from q_dv_anti_join's plain
    complement: the anti join carries the equality key AND the
    data_seq < delete_seq condition.

    Scale: the delete manifest is small by nature (one row per deleted key),
    so it broadcasts and the fact side never shuffles — a merge-on-read scan
    at 100 TB pays one broadcast hash anti-join inside the scan stage, which
    is exactly how Spark's Iceberg reader applies equality deletes. Both
    sides load through ``load_small``: over one-row-group sources the
    anti-join, the group-by and the final sort all run in the scan's task.
    """
    eq = (
        load_small(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % EQ_DELETE_KEY_MOD == 0)
        .select(
            F.col("c_custkey").alias("custkey"),
            (F.lit(EQ_DELETE_SEQ_BASE) + F.col("c_custkey") % EQ_DELETE_SEQ_MOD).alias("delete_seq"),
        )
    )
    d = load_small(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", (F.col("o_orderkey") % EQ_DATA_SEQ_MOD).alias("data_seq")
    )
    live = apply_equality_deletes(d, eq, "o_custkey", "custkey")
    return order_small(
        live.groupBy("o_orderstatus").agg(F.count("*").alias("n_live"), F.sum("o_orderkey").alias("key_sum")),
        "o_orderstatus",
    )
