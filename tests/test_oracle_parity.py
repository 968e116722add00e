"""Every registered query must match its DuckDB oracle twin exactly
(row count + columns + order-insensitive values) — the same gate the
driver applies at sf0.01."""

from __future__ import annotations

import pytest

from iceberg_benchmark_poc_spark.core.registry import all_queries

from .conftest import SF_DIR, compare_query_to_oracle

QUERIES = all_queries()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    q = QUERIES[name]
    if q.oracle is None:
        assert q.fn(spark, SF_DIR).count() >= 0  # rows-only check, mirroring the driver
        return
    compare_query_to_oracle(spark, duck, name, q.fn, q.oracle)


def _write_degenerate_fixture(out, kind: str) -> str:
    """A copy of the SF_DIR tables with one degenerate edit:

    - ``null_user_values``: every events.value of one user is NULL, so that
      user's totals are NULL (prefix-scan keys that must sort NULLS LAST);
    - ``empty_part_documents``: part and documents have 0 rows, so domain
      folds over them return None;
    - ``nbsp_copy``: the first incoming-source document becomes a copy of
      the first corpus document plus a trailing U+00A0, which Spark's trim
      keeps and DuckDB's bare ``trim`` strips;
    - ``null_prices``: every 7th lineitem.l_extendedprice is NULL;
    - ``no_lineitem_stats``: lineitem is written without column statistics,
      so its footers cannot give bounds and ``core.io.table_bounds`` folds.
    """
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from iceberg_benchmark_poc_spark.queries.textpipe import INCOMING_SOURCE

    from .conftest import TABLES

    for t in TABLES:
        src, dst = f"{SF_DIR}/{t}.parquet", out / f"{t}.parquet"
        if kind == "null_user_values" and t == "events":
            table = pq.read_table(src)
            user = pc.min(table["user_id"])
            value = pc.if_else(
                pc.equal(table["user_id"], user), pa.scalar(None, pa.float64()), table["value"]
            )
            table = table.set_column(table.schema.get_field_index("value"), "value", value)
            pq.write_table(table, dst)
        elif kind == "empty_part_documents" and t in ("part", "documents"):
            pq.write_table(pq.read_table(src).slice(0, 0), dst)
        elif kind == "null_prices" and t == "lineitem":
            table = pq.read_table(src)
            i = table.schema.get_field_index("l_extendedprice")
            prices = [None if r % 7 == 0 else v for r, v in enumerate(table[i].to_pylist())]
            table = table.set_column(i, table.schema.field(i), pa.array(prices, pa.float64()))
            pq.write_table(table, dst)
        elif kind == "no_lineitem_stats" and t == "lineitem":
            pq.write_table(pq.read_table(src), dst, write_statistics=False)
        elif kind == "nbsp_copy" and t == "documents":
            table = pq.read_table(src)
            texts, sources = table["text"].to_pylist(), table["source"].to_pylist()
            orig = sources.index(next(s for s in sources if s != INCOMING_SOURCE))
            texts[sources.index(INCOMING_SOURCE)] = texts[orig] + "\u00a0"
            i = table.schema.get_field_index("text")
            table = table.set_column(i, table.schema.field(i), pa.array(texts, table.schema.field(i).type))
            pq.write_table(table, dst)
        else:
            shutil.copy(src, dst)
    return str(out)


@pytest.fixture(scope="module")
def degenerate_sf(tmp_path_factory):
    from .conftest import duck_views

    made = {}

    def get(kind: str):
        if kind not in made:
            sf_dir = _write_degenerate_fixture(tmp_path_factory.mktemp(kind), kind)
            made[kind] = (sf_dir, duck_views(sf_dir))
        return made[kind]

    yield get
    for _, con in made.values():
        con.close()


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
    ],
)
def test_degenerate_input_parity(spark, degenerate_sf, kind, name):
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
    footers hold no statistics ranks over folded bounds."""
    sf_dir, duck = degenerate_sf(kind)
    if kind == "no_lineitem_stats":
        from iceberg_benchmark_poc_spark.core.io import column_bounds

        assert column_bounds(spark, sf_dir, "lineitem", ["l_extendedprice"]) is None
    q = QUERIES[name]
    compare_query_to_oracle(spark, duck, name, q.fn, q.oracle, sf_dir=sf_dir)
