"""Skew-mitigation primitives: salted aggregation and salted joins.

AQE's skew-join splitting handles most shuffle skew at runtime, but two
shapes still need explicit salting at 100 TB:

- high-cardinality aggregation where ONE key dominates (a viral document
  hash, the empty-string bucket): two-phase salted aggregation spreads the
  hot key across `salt` partial groups, then merges;
- broadcast-ineligible joins against a skewed build side.

These helpers keep the pattern declarative — deterministic salt from a
uniform column (never rand(): results must be reproducible re-run to re-run).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F


def salted_count(
    df: DataFrame,
    keys: Sequence[str],
    salt_col: Column,
    n_salts: int = 16,
    agg_alias: str = "n",
) -> DataFrame:
    """Two-phase COUNT(*) per key, skew-proof.

    Phase 1 groups by (key, salt(row)) so a hot key's rows land in n_salts
    different reducers; phase 2 merges the partial counts. The salt derives
    from a uniform existing column (row id, hash) — deterministic, unlike
    rand()-based salting.
    """
    salted = df.withColumn("_salt", (salt_col % n_salts).cast("int"))
    partial = salted.groupBy(*keys, "_salt").agg(F.count("*").alias("_partial"))
    return partial.groupBy(*keys).agg(F.sum("_partial").alias(agg_alias))


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_col: Column,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof equi-join: replicate the small side, salt the big side.

    A hot join key sends all its rows to one reducer in a plain shuffle
    join. Salting joins on (key, salt) instead: the big side gets a
    deterministic salt from one of its uniform columns, and the small side
    is replicated once per salt value (an n_salts-row explode — the
    replication cost is |small| x n_salts, the classic trade). Every hot
    key now spreads across n_salts reducers. Row-identical to
    ``big.join(small, key, how)``; AQE's skew-join split does this
    adaptively for sort-merge joins, but explicit salting also covers
    shuffle-hash joins and engines/plans AQE can't rewrite.

    Supported ``how``: the big-side-preserving joins (inner/left/semi/anti)
    — each big row carries exactly one salt, and the small side holds every
    salt for every key, so these are salt-invariant. Right/full would keep
    all n_salts copies of an unmatched small row; they raise instead of
    silently multiplying rows. The salt uses pmod + null-coalesce so
    negative or NULL salt-source values still land in [0, n_salts) — with
    plain ``%`` they would fall outside the replicated range and silently
    drop (inner) or null-pad (left) rows whose keys match.
    """
    normalized = how.replace("_", "").lower()
    if normalized not in {"inner", "left", "leftouter", "leftsemi", "semi", "leftanti", "anti"}:
        raise ValueError(
            f"salted_join supports big-side-preserving joins only, not {how!r}: "
            "right/full would keep every salt copy of unmatched small rows"
        )
    # int literals so the exploded salt is already IntegerType (a generator
    # can't be nested inside a cast expression)
    salts = F.array(*[F.lit(i) for i in range(n_salts)])
    salted_big = big.withColumn(
        "_salt", F.coalesce(F.pmod(salt_col, F.lit(n_salts)), F.lit(0)).cast("int")
    )
    rep_small = small.withColumn("_salt", F.explode(salts))
    return salted_big.join(rep_small, [key, "_salt"], how).drop("_salt")

