"""Shared fixtures: one SparkSession + one DuckDB connection per test run.

Tests run at sf0.001 (500-6000 rows per table) so the whole oracle-parity
suite stays fast; the driver repeats the identical comparison at sf0.01.

The full suite exceeds a 600 s tool/CI budget, so it splits into two
documented commands (r10 verdict #6), each green and under 10 minutes:

    SPARK_GRAFT_TEST_SHARD=1 python -m pytest tests/ -q
    SPARK_GRAFT_TEST_SHARD=2 python -m pytest tests/ -q

Sharding is per-file via TEST_SHARDS below; a guard test fails collection
of any file not assigned to exactly one shard, so new test files must be
placed deliberately. Unset SPARK_GRAFT_TEST_SHARD to run everything in one
command (the two shards partition the suite — together they run exactly
the full set).
"""

from __future__ import annotations

import datetime
import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

#: two-command split of the suite (r10 verdict #6). Balanced by measured
#: wall: shard 1 carries the two structural heavyweights (plan audits +
#: full oracle parity), shard 2 the executing suites (benchmark suites,
#: streaming, multimodal) plus everything light.
TEST_SHARDS: dict[int, set[str]] = {
    1: {
        "test_plans.py",
        "test_oracle_parity.py",
        "test_avro.py",
        "test_bpe.py",
        "test_dv_payload.py",
        "test_layout.py",
        "test_lifecycle_model.py",
        "test_vectors_fast.py",
        "test_iceberg_runtime.py",
    },
    2: {
        "test_suites.py",
        "test_streaming.py",
        "test_stateful.py",
        "test_entry.py",
        "test_multimodal.py",
        "test_corpus_ops.py",
        "test_graph.py",
        "test_chi2_staging.py",
        "test_tpch_derived.py",
        "test_properties.py",
        "test_io.py",
    },
}


def pytest_collection_modifyitems(config, items):
    shard = os.environ.get("SPARK_GRAFT_TEST_SHARD")
    if not shard:
        return
    keep_files = TEST_SHARDS[int(shard)]
    all_assigned = set().union(*TEST_SHARDS.values())
    kept, deselected = [], []
    for item in items:
        fname = os.path.basename(str(item.fspath))
        if fname not in all_assigned:
            raise pytest.UsageError(
                f"{fname} is not assigned to any shard in tests/conftest.py "
                "TEST_SHARDS — place new test files deliberately"
            )
        (kept if fname in keep_files else deselected).append(item)
    items[:] = kept
    config.hook.pytest_deselected(items=deselected)

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


@pytest.fixture(scope="session")
def spark():
    from iceberg_benchmark_poc_spark.core.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark(
        app_name="engine-tests",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "4g", "spark.sql.autoBroadcastJoinThreshold": "10485760"},
    )
    yield spark
    spark.stop()


def fixture_queries() -> list[str]:
    """Registry queries that read a ``core.fixtures`` relation: the fixtures
    are defined in lock-step with their oracle CTEs, so these are the
    queries whose oracle composes one."""
    from iceberg_benchmark_poc_spark.core.fixtures import CTE_SQL
    from iceberg_benchmark_poc_spark.core.registry import all_queries

    return sorted(
        name
        for name, q in all_queries().items()
        if q.oracle is not None and any(sql in q.oracle for sql in CTE_SQL.values())
    )


def small_source_queries() -> list[str]:
    """Queries over ``core.io.load_small`` sources: every ``core.fixtures``
    relation, and q_equality_delete's ``orders`` and ``customer``."""
    return [*fixture_queries(), "q_equality_delete"]


def duck_views(sf_dir: str):
    """DuckDB connection with one view per fixture table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


@pytest.fixture(scope="session")
def duck():
    con = duck_views(SF_DIR)
    yield con
    con.close()


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
      so its footers cannot give bounds and ``core.io.table_bounds`` folds;
    - ``empty_orders_events``: orders and events have 0 rows, so every
      ``core.fixtures`` relation is empty (its source one empty row group);
    - ``two_row_groups``: orders, events and customer are rewritten as two
      row groups each, the multi-row-group path of ``core.io.load_small``
      and so of ``core.io.join_small``.
    """
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from iceberg_benchmark_poc_spark.queries.textpipe import INCOMING_SOURCE

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
        elif kind == "empty_orders_events" and t in ("orders", "events"):
            pq.write_table(pq.read_table(src).slice(0, 0), dst)
        elif kind == "two_row_groups" and t in ("orders", "events", "customer"):
            table = pq.read_table(src)
            pq.write_table(table, dst, row_group_size=-(-table.num_rows // 2))
            assert pq.read_metadata(dst).num_row_groups == 2
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


@pytest.fixture(scope="session")
def degenerate_sf(tmp_path_factory):
    made = {}

    def get(kind: str):
        if kind not in made:
            sf_dir = _write_degenerate_fixture(tmp_path_factory.mktemp(kind), kind)
            made[kind] = (sf_dir, duck_views(sf_dir))
        return made[kind]

    yield get
    for _, con in made.values():
        con.close()


def _norm(v):
    """Normalize a scalar for cross-engine comparison."""
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None)
    return v


def rows_to_key(rows, columns):
    """Order-insensitive canonical form: sort columns by name, then rows.

    Rows sort by a string key so NULLs and mixed types never raise; equality
    of the sorted lists still compares the actual values.
    """
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    normed = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(normed, key=lambda row: tuple((v is None, str(v)) for v in row))


def _spark_type_class(dtype: str) -> str:
    d = dtype.lower()
    if d.startswith(("array", "map", "struct")):
        return d.split("<")[0]
    if d.startswith("decimal"):
        return "decimal"
    if d in ("tinyint", "smallint", "int", "bigint", "long", "integer", "short", "byte"):
        return "int"
    if d in ("float", "double"):
        return "float"
    if d.startswith("timestamp"):
        return "timestamp"
    return d


def _arrow_type_class(t) -> str:
    import pyarrow as pa

    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_boolean(t):
        return "boolean"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return "array"
    if pa.types.is_map(t):
        return "map"
    if pa.types.is_struct(t):
        return "struct"
    return str(t)


def assert_oracle_types_match(name, sdf, rel):
    """The driver compares *typed* values (arrow), so an oracle emitting
    HUGEINT/DECIMAL where Spark emits BIGINT/DOUBLE hash-mismatches even when
    every value is numerically equal. Fail locally with a pointer to the CAST.
    """
    arrow_schema = rel.arrow().schema
    d_types = {f.name: _arrow_type_class(f.type) for f in arrow_schema}
    s_types = {c: _spark_type_class(t) for c, t in sdf.dtypes}
    bad = {
        c: (s_types[c], d_types[c])
        for c in s_types
        if c in d_types and s_types[c] != d_types[c]
    }
    assert not bad, (
        f"{name}: oracle result type mismatch (spark, duckdb) = {bad} — "
        f"add a CAST in the oracle SQL (e.g. CAST(sum(x) AS BIGINT)) so the "
        f"driver's typed hash comparison sees identical types"
    )


def compare_query_to_oracle(spark, duck, name, fn, oracle, sf_dir=SF_DIR):
    sdf = fn(spark, sf_dir)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    rel = duck.sql(oracle)
    d_cols = [c for c in rel.columns]
    d_rows = rel.fetchall()
    assert sorted(s_cols) == sorted(d_cols), (
        f"{name}: column mismatch spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
    )
    assert_oracle_types_match(name, sdf, rel)
    assert len(s_rows) == len(d_rows), f"{name}: row count spark={len(s_rows)} duckdb={len(d_rows)}"
    sk = rows_to_key(s_rows, s_cols)
    dk = rows_to_key(d_rows, d_cols)
    if sk != dk:
        diff = [(a, b) for a, b in zip(sk, dk) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs {diff}")
