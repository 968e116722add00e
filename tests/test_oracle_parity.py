"""Every registered query must match its DuckDB oracle twin exactly
(row count + columns + order-insensitive values) — the same gate the
driver applies at sf0.01."""

from __future__ import annotations

import re

import pytest

from iceberg_benchmark_poc_spark.core.registry import all_queries

from .conftest import SF_DIR, compare_query_to_oracle, small_source_queries
from .test_plans import _detail_blocks, _into_one_partition

QUERIES = all_queries()
SMALL_SOURCE_QUERIES = small_source_queries()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    q = QUERIES[name]
    if q.oracle is None:
        assert q.fn(spark, SF_DIR).count() >= 0  # rows-only check, mirroring the driver
        return
    compare_query_to_oracle(spark, duck, name, q.fn, q.oracle)


@pytest.mark.parametrize(
    "kind,name",
    [
        ("null_user_values", "q_power_users"),
        ("null_user_values", "q_rfm_segments"),
        ("empty_part_documents", "q_skyline"),
        ("empty_part_documents", "q_shard_pack"),
        ("empty_part_documents", "q_corpus_select"),
        ("empty_part_documents", "q_minhash_dedup"),
        ("empty_part_documents", "q_containment"),
        ("empty_part_documents", "q_dup_clusters"),
        ("empty_part_documents", "q_incremental_dedup"),
        ("empty_part_documents", "q_ngram_jaccard"),
        ("empty_part_documents", "q_source_overlap"),
        ("empty_part_documents", "q_bpe_train"),
        ("empty_part_documents", "q_bpe_encode"),
        ("nbsp_copy", "q_minhash_dedup"),
        ("nbsp_copy", "q_containment"),
        ("nbsp_copy", "q_dup_clusters"),
        ("nbsp_copy", "q_incremental_dedup"),
        ("nbsp_copy", "q_source_overlap"),
        *(
            ("nbsp_copy", name)
            for name in (
                "q_boilerplate_strip",
                "q_bpe_encode",
                "q_countmin_topk",
                "q_fingerprint",
                "q_inverted_index",
                "q_keyness_terms",
                "q_lm_score",
                "q_pii_scrub",
                "q_simhash",
                "q_simhash_pairs",
                "q_text_quality",
                "q_tfidf_terms",
                "q_zipf_slope",
            )
        ),
        ("null_prices", "q_equidepth_hist"),
        ("null_prices", "q_approx_stats"),
        ("no_lineitem_stats", "q_equidepth_hist"),
        ("no_lineitem_stats", "q_approx_stats"),
        *(("empty_orders_events", name) for name in SMALL_SOURCE_QUERIES),
        *(("two_row_groups", name) for name in SMALL_SOURCE_QUERIES),
    ],
)
def test_degenerate_input_parity(spark, degenerate_sf, kind, name, monkeypatch):
    """Queries keep oracle parity on degenerate inputs. The prefix-scan
    callers: NULL per-user totals sort last, as the oracles' NULLS LAST
    order does, and an empty table's None domain scans as one range instead
    of raising. The MinHash-LSH family (shingles, signatures, band pairs,
    Jaccard verify), q_ngram_jaccard and q_source_overlap: a 0-row
    documents table gives the oracles' empty results, not an error. The BPE
    pair: with no word types there is no pair to merge, so training stops
    before its first round — an empty merge table (not BPE_MERGES rows of
    NULLs) and an empty token histogram, as the oracles' empty ``LIMIT 1``
    argmaxes give. The text queries on a copy that differs only by a
    trailing U+00A0: both sides trim U+0020 alone, so the copy's last word
    keeps the U+00A0 on both. The quantile queries: a NULL price takes no
    rank, as builtin ``percentile`` ignores it, and a lineitem whose
    footers hold no statistics ranks over folded bounds. Every query over a
    ``core.fixtures`` relation, and q_equality_delete: on empty orders and
    events its aggregates are those of no rows (q_scan_tree counts no leaf
    hits as 0), and on two-row-group sources ``load_small`` adds no
    ``Coalesce 1`` and ``join_small`` keeps the caller's join, so the plan
    holds exactly the one-partition nodes and join strategies it holds over
    ``load_table``."""
    sf_dir, duck = degenerate_sf(kind)
    if kind == "no_lineitem_stats":
        from iceberg_benchmark_poc_spark.core.io import column_bounds

        assert column_bounds(spark, sf_dir, "lineitem", ["l_extendedprice"]) is None
    q = QUERIES[name]
    compare_query_to_oracle(spark, duck, name, q.fn, q.oracle, sf_dir=sf_dir)
    if kind == "two_row_groups":
        from iceberg_benchmark_poc_spark.core import fixtures, io
        from iceberg_benchmark_poc_spark.queries import dv, manifests

        with_small = _partition_shape(spark, q.fn(spark, sf_dir))
        for module in (fixtures, dv, manifests):
            monkeypatch.setattr(module, "load_small", io.load_table)
        assert with_small == _partition_shape(spark, q.fn(spark, sf_dir))


def _partition_shape(spark, df) -> tuple[int, list[str]]:
    """``Coalesce 1`` nodes and the sorted join nodes of the formatted
    physical plan of ``df``."""
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = df._jdf.queryExecution().explainString(mode)
    coalesces = sum(t == "Coalesce" and _into_one_partition(t, body) for t, body in _detail_blocks(plan).values())
    return coalesces, sorted(re.findall(r"^\(\d+\) (\w+Join)\b", plan, re.M))
