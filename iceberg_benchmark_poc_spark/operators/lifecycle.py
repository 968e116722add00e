"""Iceberg table-lifecycle semantics over manifest/lineage DataFrames.

The container has no iceberg-spark-runtime jar and no network (README
"Iceberg note"), so the lifecycle band — time travel, incremental diff,
MERGE, snapshot expiry, equality deletes — is modeled over DataFrames, the
same approach the reference takes with its pure-Python manifest simulator
(poc/utils/manifest_generator.py:31-127). This module is the single home of
those semantics: the registered queries (queries/manifests.py, queries/dv.py)
call these functions on fixture lineage, and the second-engine equivalence
suite (tests/test_lifecycle_model.py) drives the SAME functions with
hypothesis-generated operation logs against an independent pure-Python
interpreter of the Iceberg snapshot model — so the modeled semantics are
certified by two unrelated implementations, not by the fixture alone.

Lineage model: one row per data file with half-open snapshot interval
[added_snap, removed_snap) — a file is visible in snapshot ``s`` iff
``added_snap <= s < removed_snap`` (never-removed files carry a sentinel
removed_snap greater than every snapshot id). This is exactly the view
Iceberg's manifest lists encode: each snapshot's manifest set is the files
added-and-not-yet-removed as of that commit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..core.io import join_small


def visible_at(lineage: DataFrame, snap) -> DataFrame:
    """Table state AS OF ``snap``: the half-open interval visibility filter.

    Iceberg answers ``VERSION AS OF`` by reading one snapshot's manifest
    list; over interval lineage the same answer is this pure metadata
    filter — O(|files|), no data file touched.
    """
    return lineage.filter(
        (F.col("added_snap") <= F.lit(snap)) & (F.col("removed_snap") > F.lit(snap))
    )


def change_events(lineage: DataFrame, lo, hi) -> DataFrame:
    """Incremental-read event stream for the ``(lo, hi]`` commit window.

    Every file contributes an add event at its commit and a remove event if
    it was dropped inside the window — the CDC feed of Iceberg's incremental
    scan. Two filtered projections of one manifest scan, no shuffle until
    the caller aggregates.

    A file with an EMPTY visibility interval (added and removed in the same
    commit, ``added_snap == removed_snap``) changes no snapshot's state, so
    it emits neither event — the stream stays equal to the replay's
    consecutive set differences (tests/test_lifecycle_model.py).

    Emits (snap, is_add, record_count, file_size_bytes).
    """
    lineage = lineage.filter(F.col("added_snap") < F.col("removed_snap"))
    adds = lineage.filter(
        (F.col("added_snap") > F.lit(lo)) & (F.col("added_snap") <= F.lit(hi))
    ).select(
        F.col("added_snap").alias("snap"),
        F.lit(1).alias("is_add"),
        "record_count",
        "file_size_bytes",
    )
    removes = lineage.filter(
        (F.col("removed_snap") > F.lit(lo)) & (F.col("removed_snap") <= F.lit(hi))
    ).select(
        F.col("removed_snap").alias("snap"),
        F.lit(0).alias("is_add"),
        "record_count",
        "file_size_bytes",
    )
    return adds.unionByName(removes)


def expiry_cut(pct: int) -> Column:
    """Retention cutoff snapshot id: expire the oldest ``pct``% of the
    snapshot-id range, by integer arithmetic so every engine lands on the
    same id (float ``* pct / 100`` drifts once ids outgrow the mantissa).

    An empty-frame min/max window — metadata-scale input only (one row per
    file), the documented exception to the no-global-window rule.
    """
    delta = F.max("snapshot_id").over(Window.partitionBy()) - F.min("snapshot_id").over(
        Window.partitionBy()
    )
    cut = (delta * pct).cast("bigint")
    # (cut - cut % 100) is an exact multiple of 100; divide it in the DECIMAL
    # domain, not double (`/` on bigints is IEEE double division — exact only
    # below 2^53; verified drifting by 1 at 2^60-scale ids). The decimal
    # quotient is an exact integer, so the scale-6 result round-trips to
    # bigint losslessly for any id range that fits 32 digits.
    floored = cut - cut % 100
    return F.min("snapshot_id").over(Window.partitionBy()) + (
        floored.cast("decimal(38,0)") / F.lit(100)
    ).cast("bigint")


def reclaimable_after_expiry(lineage: DataFrame, cut) -> DataFrame:
    """Files physically deletable once snapshots ``<= cut`` are expired.

    A file is needed iff it is visible in at least one RETAINED snapshot
    (any ``s > cut``). Visibility is the half-open interval
    ``added_snap <= s < removed_snap``, so needed ⇔ there is a retained
    ``s`` in ``[max(cut + 1, added_snap), removed_snap)`` ⇔
    ``removed_snap > cut + 1 AND removed_snap > added_snap``. Reclaimable is
    the complement: ``removed_snap <= cut + 1 OR removed_snap <=
    added_snap`` — the second disjunct covers a file added and removed in
    the SAME commit (empty visibility interval: never live anywhere, so
    reclaimable no matter how recent the commit). The brute-force
    ∀-retained check is what the second-engine interpreter verifies this
    against, including same-commit add+remove logs.
    """
    return lineage.withColumn(
        "reclaimable",
        (F.col("removed_snap") <= F.lit(cut) + 1)
        | (F.col("removed_snap") <= F.col("added_snap")),
    )


def merge_latest_wins(base: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """MERGE INTO read path: union + per-key row_number, source-priority wins.

    ``base`` rows carry src=0; ``updates`` carry src>=1 (higher = newer).
    Each input must contribute at most one row per (key, src) — the window
    order is then TOTAL within every key partition, so every engine keeps
    the same survivor. One shuffle on the merge key, which MERGE INTO cannot
    avoid either; no join (union replaces the matched/unmatched probe).
    """
    w = Window.partitionBy(key).orderBy(F.col("src").desc())
    return (
        base.unionByName(updates)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def apply_equality_deletes(
    data: DataFrame, deletes: DataFrame, key: str, delete_key: str = "custkey"
) -> DataFrame:
    """Equality-delete application with data-sequence semantics.

    Iceberg v2 equality deletes remove every row whose key equals K — but
    only rows whose data sequence number is OLDER than the delete's (newer
    re-inserts of the same key survive). ``data`` must carry ``data_seq``;
    ``deletes`` must carry ``delete_seq``. The delete manifest is small by
    nature, so it broadcasts and the fact side never shuffles — exactly how
    Spark's Iceberg reader applies equality deletes inside the scan stage.
    When both sides are one partition (``core.io.join_small``) the delete
    hash is built in the scan's own task instead, with no broadcast job.
    """
    return join_small(
        data,
        deletes,
        (data[key] == deletes[delete_key]) & (data["data_seq"] < deletes["delete_seq"]),
        "left_anti",
        broadcast=True,
    )
