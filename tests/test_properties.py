"""Property-based tests rebuilding the reference's five claimed categories
(SURVEY.md §5.4: data generation, writer correctness, stats extraction,
pruning logic, benchmark properties — the reference's own property-test code
is not in its repo; tab0_content.txt:244-290 lists the categories).

Hypothesis generates small entry/DV/event sets; each property drives the real
Spark operators (not reimplementations). deadline=None because Spark job
latency dominates; examples are capped to keep the suite fast.
"""

from __future__ import annotations

import datetime

import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.sql import Window, functions as F

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

EPOCH = datetime.date(2020, 1, 1)

entries_strategy = st.lists(
    st.tuples(st.integers(0, 1825), st.integers(0, 23)),  # (day_offset, hour)
    min_size=1,
    max_size=60,
)


# ---------------------------------------------------------------------------
# pruning logic: skipping never loses a matching entry (no false skips)
# ---------------------------------------------------------------------------


@given(entries=entries_strategy, probe_off=st.integers(0, 1825), rg_size=st.integers(1, 10))
@settings(**SETTINGS)
def test_rowgroup_skipping_is_safe(spark, entries, probe_off, rg_size):
    df = spark.createDataFrame(
        [(i, EPOCH + datetime.timedelta(days=d), h) for i, (d, h) in enumerate(entries)],
        "file_id long, partition_date date, partition_hour int",
    )
    probe = EPOCH + datetime.timedelta(days=probe_off)
    w = Window.orderBy("partition_date", "partition_hour", "file_id")
    rg = (
        df.withColumn("rg_id", F.floor((F.row_number().over(w) - 1) / rg_size))
        .groupBy("rg_id")
        .agg(F.min("partition_date").alias("mn"), F.max("partition_date").alias("mx"))
    )
    surviving = rg.filter((F.lit(probe) >= F.col("mn")) & (F.lit(probe) <= F.col("mx")))
    # every entry matching the probe lives in a surviving row group
    matches_all = df.filter(F.col("partition_date") == F.lit(probe)).count()
    matches_after_skip = (
        df.withColumn("rg_id", F.floor((F.row_number().over(w) - 1) / rg_size))
        .join(surviving.select("rg_id"), "rg_id")
        .filter(F.col("partition_date") == F.lit(probe))
        .count()
    )
    assert matches_after_skip == matches_all


# ---------------------------------------------------------------------------
# benchmark property: sorted layout never reads more bytes than unsorted
# ---------------------------------------------------------------------------


@given(entries=entries_strategy)
@settings(**SETTINGS)
def test_sorted_layout_never_reads_more_in_aggregate(spark, entries):
    """Summed over ALL probe dates, the sorted layout never reads more bytes.

    NOTE the aggregate quantifier: for a single adversarial probe a lucky
    unsorted arrival order can beat sorted (hypothesis found days [0,2,5] in
    groups of 2 with probe 1: sorted group [0,2] spans the probe while
    arrival [2,5],[0] skips everything). The theorem — and what the
    reference's 100-probe experiment measures — is total cost: sorted
    consecutive grouping minimizes sum-of-group-ranges over equal-size
    partitions (exchange argument), so total bytes over the probe domain is
    minimal. Group sizes are kept equal (entries trimmed to a multiple of 5).
    """
    entries = entries[: len(entries) - len(entries) % 5] or entries[:1]
    df = spark.createDataFrame(
        [(i, EPOCH + datetime.timedelta(days=d), h) for i, (d, h) in enumerate(entries)],
        "file_id long, partition_date date, partition_hour int",
    )

    def total_bytes_over_all_probes(order_cols):
        w = Window.orderBy(*order_cols)
        rg = (
            df.withColumn("rg_id", F.floor((F.row_number().over(w) - 1) / 5))
            .groupBy("rg_id")
            .agg(F.min("partition_date").alias("mn"), F.max("partition_date").alias("mx"), F.count("*").alias("n"))
        )
        # an integer-day probe hits a row group iff it falls in [mn, mx]:
        # total bytes over every probe day = sum(n * (span_days + 1))
        return rg.agg(
            F.sum(F.col("n") * (F.datediff("mx", "mn") + 1)).alias("b")
        ).collect()[0]["b"]

    sorted_total = total_bytes_over_all_probes(["partition_date", "partition_hour", "file_id"])
    unsorted_total = total_bytes_over_all_probes(["file_id"])
    assert sorted_total <= unsorted_total


# ---------------------------------------------------------------------------
# writer correctness: bin-pack respects floor/run/cap rules
# ---------------------------------------------------------------------------


@given(
    sizes=st.lists(st.integers(1, 50_000), min_size=1, max_size=50),
    cap=st.integers(10_000, 200_000),
)
@settings(**SETTINGS)
def test_binpack_respects_rules(spark, sizes, cap):
    rows = [(i, s, "run" if i % 7 == 0 else "array") for i, s in enumerate(sizes)]
    df = spark.createDataFrame(rows, "manifest_id long, mdv_size long, container_type string")
    classified = df.withColumn(
        "must_inline", (F.col("mdv_size") < 4096) | (F.col("container_type") == "run")
    )
    budget = classified.agg(
        (F.lit(cap) - F.coalesce(F.sum(F.when(F.col("must_inline"), F.col("mdv_size"))), F.lit(0))).alias("rem")
    ).collect()[0]["rem"]
    w = Window.orderBy("mdv_size", "manifest_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    admitted = (
        classified.filter(~F.col("must_inline"))
        .select("mdv_size", F.sum("mdv_size").over(w).alias("cum"))
        .filter(F.col("cum") <= F.lit(budget))
        .collect()
    )
    # rule 1+2: every floor/run manifest is inlined (they're never candidates)
    # rule 3: admitted candidate bytes never exceed the remaining budget
    assert sum(r["mdv_size"] for r in admitted) <= max(budget, 0)


# ---------------------------------------------------------------------------
# stats extraction / join family: semi + anti partition the file set
# ---------------------------------------------------------------------------


@given(
    n_files=st.integers(1, 40),
    dv_mask=st.lists(st.booleans(), min_size=1, max_size=40),
)
@settings(**SETTINGS)
def test_semi_anti_partition(spark, n_files, dv_mask):
    files = spark.range(n_files).select(F.col("id").alias("file_id"))
    dv_ids = [i for i, b in enumerate(dv_mask[:n_files]) if b]
    dv = spark.createDataFrame([(i,) for i in dv_ids] or [(-1,)], "file_id long")
    semi = files.join(dv, "file_id", "left_semi").count()
    anti = files.join(dv, "file_id", "left_anti").count()
    assert semi + anti == n_files
    assert semi == len([i for i in dv_ids if i < n_files])


# ---------------------------------------------------------------------------
# coalesced DV resolution picks the most recent (lowest idx) manifest
# ---------------------------------------------------------------------------


@given(
    cover=st.lists(st.tuples(st.integers(0, 10), st.integers(0, 4)), min_size=1, max_size=40),
)
@settings(**SETTINGS)
def test_coalesce_picks_first_manifest(spark, cover):
    df = spark.createDataFrame(sorted(set(cover)), "file_id long, manifest_idx int")
    w = Window.partitionBy("file_id").orderBy("manifest_idx")
    chosen = df.withColumn("rk", F.row_number().over(w)).filter("rk = 1").collect()
    expected = {}
    for fid, m in cover:
        expected[fid] = min(expected.get(fid, m), m)
    assert {(r["file_id"], r["manifest_idx"]) for r in chosen} == set(expected.items())


# ---------------------------------------------------------------------------
# data generation / dedup: exact duplicates always collide in minhash-LSH
# ---------------------------------------------------------------------------


@given(
    words=st.lists(st.sampled_from("alpha beta gamma delta epsilon zeta".split()), min_size=3, max_size=12),
)
@settings(**SETTINGS)
def test_exact_dups_always_lsh_candidates(spark, words):
    from iceberg_benchmark_poc_spark.operators.text import lsh_pairs_from_wide, minhash_from_arrays, shingle_arrays

    text = " ".join(words)
    docs = spark.createDataFrame([(0, text), (1, text), (2, "completely different content here")], "doc_id long, text string")
    pairs = lsh_pairs_from_wide(minhash_from_arrays(shingle_arrays(docs))).collect()
    assert (0, 1) in {(r["doc_a"], r["doc_b"]) for r in pairs}


# ---------------------------------------------------------------------------
# fingerprint: deterministic and order-sensitive
# ---------------------------------------------------------------------------


def test_fingerprint_order_sensitive(spark, duck):
    from iceberg_benchmark_poc_spark.core.registry import all_queries

    q = all_queries()["q_fingerprint"]
    a = {r["doc_id"]: r["fingerprint"] for r in q.fn(spark, "/root/testdata/sf0.001").collect()}
    b = {r["doc_id"]: r["fingerprint"] for r in q.fn(spark, "/root/testdata/sf0.001").collect()}
    assert a == b  # deterministic across runs
    # order sensitivity: reversing a doc's words changes its fingerprint
    row = spark.sql(
        """
        select aggregate(ws, cast(0 as bigint),
                 (acc, w) -> (acc * 31 + cast(conv(substr(md5(w),1,15),16,10) as bigint) % 1000000007) % 1000000007) fp_fwd,
               aggregate(reverse(ws), cast(0 as bigint),
                 (acc, w) -> (acc * 31 + cast(conv(substr(md5(w),1,15),16,10) as bigint) % 1000000007) % 1000000007) fp_rev
        from (select split('the quick brown fox', ' ') ws)
        """
    ).collect()[0]
    assert row["fp_fwd"] != row["fp_rev"]


# ---------------------------------------------------------------------------
# sessionization: events in one session are gap-bounded; sessions don't overlap
# ---------------------------------------------------------------------------


@given(
    gaps_min=st.lists(st.integers(0, 120), min_size=1, max_size=30),
)
@settings(**SETTINGS)
def test_session_gap_property(spark, gaps_min):
    from iceberg_benchmark_poc_spark.streaming.windows import session_totals

    base = datetime.datetime(2024, 1, 1)
    ts, rows = base, []
    for i, g in enumerate(gaps_min):
        ts = ts + datetime.timedelta(minutes=g)
        rows.append((1, ts, float(i)))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    sessions = sorted(
        session_totals(df).collect(), key=lambda r: r["session_start"]
    )
    assert sum(r["n_events"] for r in sessions) == len(rows)
    for a, b in zip(sessions, sessions[1:]):
        # consecutive sessions are separated by more than the 30-minute gap
        assert (b["session_start"] - a["session_end"]).total_seconds() > 30 * 60


# ---------------------------------------------------------------------------
# corpus selection: greedy budget admission matches the Python model
# ---------------------------------------------------------------------------


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("the quick brown fox jumps over a lazy dog and cat".split()),
            min_size=1,
            max_size=30,
        ),
        min_size=1,
        max_size=25,
    ),
)
@settings(**SETTINGS)
def test_corpus_select_is_greedy_prefix(spark, docs, tmp_path_factory):
    """q_corpus_select == dedup + threshold filter + greedy best-quality
    prefix under the token budget, recomputed row-by-row in Python."""
    import re as _re

    from iceberg_benchmark_poc_spark.queries.textpipe import (
        BPE_TOKEN_PATTERN,
        LANG_MARKER_THRESHOLD,
        QUALITY_MIN,
        STOPWORDS,
        TOKEN_BUDGET,
        q_corpus_select,
    )

    rows = [(i, " ".join(ws), "en", "web", len(" ".join(ws))) for i, ws in enumerate(docs)]
    d = str(tmp_path_factory.mktemp("docs"))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(d + "/documents.parquet")

    # python model, replicating the engine's expressions operation-for-operation
    seen_text, cand = set(), []
    for doc_id, text, *_ in rows:
        if text in seen_text:
            continue
        seen_text.add(text)
        ws = _re.split(r"\s+", text.strip())
        n_stop = sum(1 for w in ws if w in STOPWORDS)
        n_alpha = len(_re.sub(r"\s+", "", text.strip()))
        stop_ratio = n_stop / len(ws)
        score = (
            min(len(ws) / 128.0, 1.0) * 0.5
            + stop_ratio * 0.3
            + min(n_alpha / len(ws) / 8.0, 1.0) * 0.2
        )
        n_bpe = len(_re.findall(BPE_TOKEN_PATTERN, text.strip()))
        if score >= QUALITY_MIN and stop_ratio >= LANG_MARKER_THRESHOLD:
            cand.append((doc_id, n_bpe, score))
    cand.sort(key=lambda t: (-t[2], t[0]))
    expected, cum = [], 0
    for doc_id, n_bpe, _score in cand:
        cum += n_bpe
        if cum > TOKEN_BUDGET:
            break
        expected.append(doc_id)

    got = [r["doc_id"] for r in q_corpus_select(spark, d).orderBy("cum_tokens").collect()]
    assert got == expected


# ---------------------------------------------------------------------------
# attribution join: exactly the pairs inside the horizon
# ---------------------------------------------------------------------------


@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 2),  # user_id
            st.integers(0, 300),  # minutes offset
            st.sampled_from(["click", "purchase", "view"]),
        ),
        min_size=1,
        max_size=30,
    ),
)
@settings(**SETTINGS)
def test_attribution_join_matches_bruteforce(spark, events):
    from iceberg_benchmark_poc_spark.streaming.dedup_join import (
        ATTRIBUTION_HORIZON_MIN,
        attribution_join,
    )

    base = datetime.datetime(2026, 1, 1)
    rows = [
        (i, base + datetime.timedelta(minutes=m), u, t, float(i), "")
        for i, (u, m, t) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    got = {(r["click_id"], r["buy_id"]) for r in attribution_join(df).collect()}
    want = {
        (c[0], p[0])
        for c in rows
        for p in rows
        if c[3] == "click"
        and p[3] == "purchase"
        and c[2] == p[2]
        and c[1] <= p[1] <= c[1] + datetime.timedelta(minutes=ATTRIBUTION_HORIZON_MIN)
    }
    assert got == want


def test_binpack_plan_partitions_all_files(spark):
    """q_binpack_plan is a true partition of the candidate set: every file in
    exactly one group, group ids contiguous from 0 per partition, and no
    group overshoots target by more than one file (next-fit invariant)."""
    from iceberg_benchmark_poc_spark.core.fixtures import file_meta
    from iceberg_benchmark_poc_spark.queries.manifests import BINPACK_TARGET_BYTES, q_binpack_plan

    from .conftest import SF_DIR

    fm = file_meta(spark, SF_DIR)
    n_files, max_size = fm.agg(F.count("*"), F.max("file_size_bytes")).first()
    plan = q_binpack_plan(spark, SF_DIR).collect()

    assert sum(r["n_files"] for r in plan) == n_files
    by_part: dict = {}
    for r in plan:
        by_part.setdefault(r["partition_date"], []).append(r)
    for rows in by_part.values():
        rows.sort(key=lambda r: r["group_id"])
        assert [r["group_id"] for r in rows] == list(range(len(rows)))
        for r in rows:
            assert r["group_bytes"] < BINPACK_TARGET_BYTES + max_size
            assert r["first_file_id"] <= r["last_file_id"]
        # groups cover disjoint, increasing file-id ranges
        for a, b in zip(rows, rows[1:]):
            assert a["last_file_id"] < b["first_file_id"]


def test_partition_evolution_invariants(spark):
    """Every candidate spec partitions the same row set: totals agree, skew
    is >= 1 by construction, bucket() respects its bucket count, and the
    month rollup can only merge day partitions."""
    from iceberg_benchmark_poc_spark.core.io import load_table
    from iceberg_benchmark_poc_spark.queries.zorder import BUCKETS, q_partition_evolution

    from .conftest import SF_DIR

    n_lineitem = load_table(spark, SF_DIR, "lineitem").count()
    rows = {r["spec"]: r for r in q_partition_evolution(spark, SF_DIR).collect()}
    assert len(rows) == 4
    for r in rows.values():
        assert r["total_rows"] == n_lineitem
        assert r["min_rows"] >= 1
        assert r["skew"] >= 1.0
        assert r["min_rows"] <= r["max_rows"]
    assert rows[f"bucket({BUCKETS}, l_partkey)"]["n_partitions"] <= BUCKETS
    assert rows["month(l_shipdate)"]["n_partitions"] <= rows["day(l_shipdate)"]["n_partitions"]


@given(
    sizes=st.lists(st.integers(min_value=1, max_value=5000), min_size=1, max_size=120),
    cuts=st.sets(st.integers(min_value=1, max_value=119), max_size=6),
    flush_bytes=st.integers(min_value=500, max_value=20_000),
    flush_entries=st.integers(min_value=2, max_value=40),
)
@settings(max_examples=200, deadline=None)
def test_flush_scan_chunking_invariant(sizes, cuts, flush_bytes, flush_entries):
    """_flush_scan is chunking-invariant: replaying one writer's entry log in
    arbitrary micro-batch splits (state carried between chunks) emits exactly
    the flushes of a row-at-a-time replay of the whole log."""
    import numpy as np

    from iceberg_benchmark_poc_spark.streaming.stateful import _flush_scan

    ids = list(range(1, len(sizes) + 1))

    # reference: the RootManifest add_entry/flush loop
    want, pend_e, pend_b, seq = [], 0, 0, 0
    for eid, nbytes in zip(ids, sizes):
        pend_e, pend_b = pend_e + 1, pend_b + nbytes
        if pend_b >= flush_bytes or pend_e >= flush_entries:
            want.append((7, seq, pend_e, pend_b, eid))
            pend_e, pend_b, seq = 0, 0, seq + 1

    # chunked vectorized replay
    bounds = [0, *sorted(c for c in cuts if c < len(sizes)), len(sizes)]
    got, pe, pb, nf = [], 0, 0, 0
    for lo, hi in zip(bounds, bounds[1:]):
        if lo == hi:
            continue
        rows, pe, pb, nf = _flush_scan(
            7,
            np.array(ids[lo:hi]),
            np.array(sizes[lo:hi]).cumsum(),
            pe,
            pb,
            nf,
            flush_bytes,
            flush_entries,
        )
        got.extend(rows)

    assert got == want
    assert pe == pend_e and pb == pend_b and nf == seq


# ---------------------------------------------------------------------------
# benchmark properties: exactness-baseline sample sets are bounded constants,
# independent of corpus size — the all-pairs audit cost may NOT grow with SF
# ---------------------------------------------------------------------------


def test_quadratic_baseline_samples_are_scale_bounded(spark):
    import os

    from iceberg_benchmark_poc_spark.core.io import load_table
    from iceberg_benchmark_poc_spark.queries.embeddings import QUERY_CAP, QUERY_K, QUERY_MOD
    from iceberg_benchmark_poc_spark.queries.textpipe import (
        NGRAM_SAMPLE_CAP,
        NGRAM_SAMPLE_K,
        NGRAM_SAMPLE_MOD,
    )

    sf_dirs = [d for d in ("/root/testdata/sf0.001", "/root/testdata/sf0.1") if os.path.isdir(d)]
    for sf_dir in sf_dirs:
        n_docs = (
            load_table(spark, sf_dir, "documents")
            .filter(
                (F.col("doc_id") % NGRAM_SAMPLE_MOD == 0) & (F.col("doc_id") < NGRAM_SAMPLE_CAP)
            )
            .count()
        )
        assert n_docs <= NGRAM_SAMPLE_K, f"{sf_dir}: ngram sample {n_docs} > {NGRAM_SAMPLE_K}"
        n_queries = (
            load_table(spark, sf_dir, "embeddings")
            .filter((F.col("vec_id") % QUERY_MOD == 0) & (F.col("vec_id") < QUERY_CAP))
            .count()
        )
        assert n_queries <= QUERY_K, f"{sf_dir}: topk query set {n_queries} > {QUERY_K}"
    # the cap binds at the largest local SF: the all-pairs audit is exactly
    # C(K,2) pairs there and at every larger corpus
    if "/root/testdata/sf0.1" in sf_dirs:
        assert n_docs == NGRAM_SAMPLE_K


def test_global_prefix_sum_matches_global_window(spark):
    """The two-phase bucketed prefix sum must be bit-identical to the
    single-partition window it replaces — including negative values,
    duplicates of the VALUE column, forced multi-range splits, and a
    descending order key."""
    from pyspark.sql import Window

    from iceberg_benchmark_poc_spark.operators.prefix import global_prefix_sum

    rows = [(i, ((i * 37) % 19) - 9) for i in range(1, 501)]  # values in [-9, 9]
    df = spark.createDataFrame(rows, "k bigint, v bigint").repartition(8)

    for order, (key, lo, hi) in (
        ([F.col("k")], (F.col("k"), 1, 500)),
        ([F.col("v").desc(), F.col("k")], (-F.col("v"), -9, 9)),
    ):
        w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        expected = {
            r["k"]: r["cum"] for r in df.withColumn("cum", F.sum("v").over(w)).collect()
        }
        for n_ranges in (1, 7, 64):  # fewer, comparable, and more ranges than rows/partitions
            bucket = (key, lo, hi, n_ranges)
            got = {
                r["k"]: r["cum"]
                for r in global_prefix_sum(df, order, F.col("v"), "cum", bucket=bucket).collect()
            }
            assert got == expected, f"order={order} n_ranges={n_ranges}"


def test_global_prefix_sum_bucket_path_matches_global_window(spark):
    """The deterministic-bucket path (width_bucket range ids, no lineage
    cut) must be bit-identical to the single-partition window — including
    negative values, a descending order key with a negated bucket key,
    approximate domains that leave keys OUTSIDE [lo, hi] (ids 0 / n+1 must
    still order correctly), a degenerate lo == hi domain, a None domain
    (the fold of an empty or all-NULL input: one range), and a persisted
    input (the r11 reuse-failure trigger — harmless here because the ids
    are pure expressions). A NULL range key fails loudly."""
    from pyspark import StorageLevel
    from pyspark.sql import Window

    from iceberg_benchmark_poc_spark.operators.prefix import (
        global_prefix_max,
        global_prefix_sum,
    )

    rows = [(i, ((i * 37) % 19) - 9) for i in range(1, 501)]  # values in [-9, 9]
    df = spark.createDataFrame(rows, "k bigint, v bigint").repartition(8)
    cases = [
        ([F.col("k")], (F.col("k"), 1, 500, 64)),
        ([F.col("k")], (F.col("k"), 100, 400, 7)),  # keys outside the domain
        ([F.col("k")], (F.col("k"), 3, 3, 16)),  # degenerate lo == hi
        ([F.col("k")], (F.col("k"), None, None, 16)),  # None domain: one range
        ([F.col("v").desc(), F.col("k")], (-F.col("v"), -9, 9, 5)),  # negated desc key
    ]
    for order, bucket in cases:
        w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        expected = {
            r["k"]: r["cum"] for r in df.withColumn("cum", F.sum("v").over(w)).collect()
        }
        got = {
            r["k"]: r["cum"]
            for r in global_prefix_sum(df, order, F.col("v"), "cum", bucket=bucket).collect()
        }
        assert got == expected, f"order={order} bucket={bucket[1:]}"
    # exclusive prefix max through the same bucket path
    wx = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
    expected = {r["k"]: r["m"] for r in df.withColumn("m", F.max("v").over(wx)).collect()}
    got = {
        r["k"]: r["m"]
        for r in global_prefix_max(
            df, [F.col("k")], F.col("v"), "m", bucket=(F.col("k"), 1, 500, 32)
        ).collect()
    }
    assert got == expected
    # persisted input: pure-expression ids cannot diverge across consumers
    dfp = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        dfp.count()
        w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
        expected = {r["k"]: r["cum"] for r in dfp.withColumn("cum", F.sum("v").over(w)).collect()}
        for _ in range(2):
            got = {
                r["k"]: r["cum"]
                for r in global_prefix_sum(
                    dfp, [F.col("k")], F.col("v"), "cum", bucket=(F.col("k"), 1, 500, 16)
                ).collect()
            }
            assert got == expected
    finally:
        dfp.unpersist()
    # a NULL key has no defined range: the scan must fail, not guess a place.
    # The error class depends on how many stages fail: a SparkRuntimeException
    # for one, a Py4JJavaError (STAGE_MATERIALIZATION_MULTIPLE_FAILURES) for more.
    nulled = df.withColumn("k", F.when(F.col("k") != 250, F.col("k")))
    with pytest.raises(Exception, match="NULL range key"):
        global_prefix_sum(
            nulled, [F.col("k")], F.col("v"), "cum", bucket=(F.col("k"), 1, 500, 16)
        ).collect()


#: every registered caller of the prefix scan (operators/prefix.py)
PREFIX_SCAN_QUERIES = (
    "q_corpus_select",
    "q_skyline",
    "q_shard_pack",
    "q_equidepth_hist",
    "q_power_users",
    "q_approx_stats",
    "q_rfm_segments",
)


@pytest.mark.parametrize("name", PREFIX_SCAN_QUERIES)
def test_prefix_scan_materializes_one_range_exchange(spark, name):
    """Both phases of each query's one prefix scan read ONE materialized
    range exchange: the offsets side plans a ReusedExchange, so everything
    upstream (q_corpus_select's keeper aggregation, q_skyline's per-price
    collapse) runs once. Checked on the final AQE plan after execution,
    because AQE decides stage reuse at run time."""
    from iceberg_benchmark_poc_spark.core.registry import all_queries

    from .conftest import SF_DIR

    df = all_queries()[name].fn(spark, SF_DIR)
    df.collect()  # executes df's own QueryExecution so the AQE plan finalizes
    lines = df._jdf.queryExecution().executedPlan().executedPlan().toString().splitlines()
    materialized = [
        i for i, line in enumerate(lines) if "+- Exchange hashpartitioning(__range_pid" in line
    ]
    reused = [line for line in lines if "ReusedExchange" in line and "__range_pid" in line]
    assert len(materialized) == 1 and reused, "\n".join(lines)


def test_ann_query_sets_constant_across_sf(spark):
    """q_embed_ann / q_ivf_topk broadcast their query sets — an uncapped
    modulus fraction grows with the corpus (r02 VERDICT scale flaw). Through
    the registered query path, the distinct query count must stay <= QUERY_K
    at every sf, and must not grow from sf0.001 to sf0.01."""
    import os

    from pyspark.sql import functions as F  # noqa: F811

    from iceberg_benchmark_poc_spark.core.registry import all_queries
    from iceberg_benchmark_poc_spark.queries.embeddings import QUERY_K

    qs = all_queries()
    sf_dirs = [d for d in ("/root/testdata/sf0.001", "/root/testdata/sf0.01") if os.path.isdir(d)]
    for name in ("q_embed_ann", "q_ivf_topk"):
        counts = []
        for sf_dir in sf_dirs:
            n = (
                qs[name]
                .fn(spark, sf_dir)
                .agg(F.countDistinct("query_id").alias("nq"))
                .collect()[0]["nq"]
            )
            assert n <= QUERY_K, f"{name}@{sf_dir}: {n} query ids > cap {QUERY_K}"
            counts.append(n)
        assert counts == sorted(counts, reverse=True) or counts[0] <= counts[-1] <= QUERY_K


# ---------------------------------------------------------------------------
# exact_quantiles is bit-equal to builtin percentile on arbitrary inputs
# ---------------------------------------------------------------------------


@given(
    values=st.lists(st.none() | st.integers(-(10**6), 10**6), min_size=0, max_size=80),
    pcts=st.lists(
        st.floats(0.0, 1.0, allow_nan=False, allow_infinity=False), min_size=1, max_size=6
    ),
)
@settings(**SETTINGS)
def test_exact_quantiles_matches_builtin_percentile(spark, values, pcts):
    """The distributed order-statistic quantile (operators/quantiles.py) must
    reproduce builtin exact percentile() bit-for-bit on any value multiset and
    any percentage list — duplicates, negatives, single rows, p=0/1,
    fractional positions whose interpolation exercises the IEEE weight
    arithmetic, NULL values (ignored) and empty or all-NULL input (a NULL
    result)."""
    from iceberg_benchmark_poc_spark.operators.quantiles import exact_quantiles

    df = spark.createDataFrame([(v,) for v in values], "v bigint")
    ours = exact_quantiles(df, F.col("v"), pcts).collect()[0]["bs"]
    pct_sql = ", ".join(repr(p) for p in pcts)
    builtin = df.agg(F.expr(f"percentile(v, array({pct_sql}))").alias("bs")).collect()[0]["bs"]
    assert ours == builtin, f"{values=} {pcts=} -> {ours} != {builtin}"


def test_countmin_never_underestimates(spark):
    """CMS one-sided error bound through the registered query path: the
    sketch estimate of every probed token must be >= its exact count (the
    fixture-scale width forces real collisions, so this isn't vacuous)."""
    from iceberg_benchmark_poc_spark.queries.approx import q_countmin_topk

    from .conftest import SF_DIR

    rows = q_countmin_topk(spark, SF_DIR).collect()
    assert rows, "probe set empty"
    assert all(r["cms_estimate"] >= r["exact_n"] for r in rows)
    assert all(r["overestimate"] == r["cms_estimate"] - r["exact_n"] for r in rows)


def test_funnel_is_monotone(spark):
    """Each funnel stage can only lose users (ordered, windowed stages)."""
    from iceberg_benchmark_poc_spark.queries.behavior import q_funnel

    from .conftest import SF_DIR

    r = q_funnel(spark, SF_DIR).collect()[0]
    assert r["n_viewed"] >= r["n_clicked"] >= r["n_purchased"] >= 0


def test_time_weighted_avg_within_value_range(spark):
    """The TWA is a convex combination of observed values: for every event
    type it must lie within [min, max] of that type's (cent-quantized)
    values, and the observed span must be positive."""
    from pyspark.sql import functions as F

    from iceberg_benchmark_poc_spark.core.io import load_table
    from iceberg_benchmark_poc_spark.queries.temporal import q_time_weighted_avg

    from .conftest import SF_DIR

    bounds = {
        r["event_type"]: r
        for r in load_table(spark, SF_DIR, "events")
        .select("event_type", (F.floor(F.col("value") * 100) / 100).alias("v"))
        .groupBy("event_type")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
        .collect()
    }
    for r in q_time_weighted_avg(spark, SF_DIR).collect():
        b = bounds[r["event_type"]]
        assert b["lo"] <= r["twa_value"] <= b["hi"], r
        assert r["observed_us"] > 0


def test_pmi_bigrams_survive_single_token_docs(spark, tmp_path):
    """Regression: a document that trims/splits to ONE token must contribute
    zero bigrams — not an ANSI INVALID_ARRAY_INDEX abort (sequence(1, 0)
    descends) nor null bigrams inflating n_bigrams."""
    import os

    from pyspark.sql import functions as F

    from iceberg_benchmark_poc_spark.queries.textpipe import q_pmi_bigrams

    from .conftest import SF_DIR

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    patched = docs.withColumn(
        "text", F.when(F.col("doc_id") % 7 == 0, F.lit("  solo  ")).otherwise(F.col("text"))
    )
    sf = str(tmp_path / "sf_single")
    os.makedirs(sf)
    patched.write.parquet(os.path.join(sf, "documents.parquet"))
    rows = q_pmi_bigrams(spark, sf).collect()  # must not raise
    assert all(" " in r["bigram"] for r in rows)  # every bigram is a real pair


# ---------------------------------------------------------------------------
# funnel + OHLC vs brute-force python, through the registered parquet path
# ---------------------------------------------------------------------------

_EVENT_STRAT = st.lists(
    st.tuples(
        st.integers(0, 2),  # user_id
        st.integers(0, 6000),  # minutes offset (spans > the 48h window)
        st.sampled_from(["view", "click", "purchase"]),
        st.integers(-500, 500),  # value in half-units
    ),
    min_size=1,
    max_size=40,
)


def _events_parquet(spark, tmp_path_factory, events):
    base = datetime.datetime(2026, 1, 1)
    rows = [
        (i, base + datetime.timedelta(minutes=m), u, t, v / 2.0, "")
        for i, (u, m, t, v) in enumerate(events)
    ]
    d = str(tmp_path_factory.mktemp("ev"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(d + "/events.parquet")
    return d, rows


@given(events=_EVENT_STRAT)
@settings(**SETTINGS)
def test_funnel_matches_bruteforce(spark, tmp_path_factory, events):
    """q_funnel == the per-user staged scan recomputed in plain Python."""
    from iceberg_benchmark_poc_spark.queries.behavior import FUNNEL_WINDOW_US, q_funnel

    d, rows = _events_parquet(spark, tmp_path_factory, events)
    win = datetime.timedelta(microseconds=FUNNEL_WINDOW_US)

    by_user = {}
    for _i, ts, u, t, _v, _p in rows:
        by_user.setdefault(u, []).append((ts, t))
    viewed = clicked = purchased = 0
    for _u, evs in by_user.items():
        t1 = min((ts for ts, t in evs if t == "view"), default=None)
        if t1 is None:
            continue
        viewed += 1
        t2 = min((ts for ts, t in evs if t == "click" and t1 < ts <= t1 + win), default=None)
        if t2 is None:
            continue
        clicked += 1
        t3 = min((ts for ts, t in evs if t == "purchase" and t2 < ts <= t2 + win), default=None)
        if t3 is not None:
            purchased += 1

    r = q_funnel(spark, d).collect()[0]
    assert (r["n_viewed"], r["n_clicked"], r["n_purchased"]) == (viewed, clicked, purchased)


@given(events=_EVENT_STRAT)
@settings(**SETTINGS)
def test_ohlc_matches_bruteforce(spark, tmp_path_factory, events):
    """q_ohlc == per-(type, hour) first/last/min/max recomputed in Python,
    including the (ts, event_id) tie-break on open/close."""
    from iceberg_benchmark_poc_spark.queries.temporal import HOUR_US, q_ohlc

    d, rows = _events_parquet(spark, tmp_path_factory, events)
    cells = {}
    for i, ts, _u, t, v, _p in rows:
        em = int(ts.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000)
        cells.setdefault((t, em // HOUR_US), []).append((em, i, v))
    want = {}
    for k, vs in cells.items():
        vs.sort()
        vals = [v for _, _, v in vs]
        want[k] = (vs[0][2], max(vals), min(vals), vs[-1][2], len(vs))

    got = {
        (r["event_type"], r["hour_idx"]): (r["open"], r["high"], r["low"], r["close"], r["n_events"])
        for r in q_ohlc(spark, d).collect()
    }
    assert got == want


@given(events=_EVENT_STRAT)
@settings(**SETTINGS)
def test_retention_matches_bruteforce(spark, tmp_path_factory, events):
    """q_retention == daily cohort triangle recomputed with python sets."""
    from iceberg_benchmark_poc_spark.queries.behavior import DAY_US, q_retention

    d, rows = _events_parquet(spark, tmp_path_factory, events)
    days = {}
    for _i, ts, u, _t, _v, _p in rows:
        days.setdefault(u, set()).add(int(ts.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000) // DAY_US)
    want = {}
    for _u, ds in days.items():
        c = min(ds)
        for day in ds:
            k = (c, day - c)
            want[k] = want.get(k, 0) + 1
    got = {
        (r["cohort_day"], r["day_offset"]): r["n_users"]
        for r in q_retention(spark, d).collect()
    }
    assert got == want


@given(events=_EVENT_STRAT)
@settings(**SETTINGS)
def test_anomaly_matches_bruteforce(spark, tmp_path_factory, events):
    """q_anomaly == the exact-integer 3-sigma cut recomputed with python
    bigints: (n*c - S)^2 > 9 * (n*S2 - S^2) per event type."""
    import math

    from iceberg_benchmark_poc_spark.queries.behavior import ANOMALY_Z, q_anomaly

    d, rows = _events_parquet(spark, tmp_path_factory, events)
    groups = {}
    for _i, _ts, _u, t, v, _p in rows:
        groups.setdefault(t, []).append(math.floor(v * 100))
    want = {}
    for t, cs in groups.items():
        n, s1, s2 = len(cs), sum(cs), sum(c * c for c in cs)
        bad = sum(1 for c in cs if (n * c - s1) ** 2 > ANOMALY_Z * ANOMALY_Z * (n * s2 - s1 * s1))
        want[t] = (n, bad)
    got = {
        r["event_type"]: (r["n_events"], r["n_anomalies"])
        for r in q_anomaly(spark, d).collect()
    }
    assert got == want


@given(events=_EVENT_STRAT)
# regression: a type whose only held interval is zero-length (two events on
# one timestamp) must vanish from the output, not divide by zero under ANSI
@example(events=[(0, 0, "view", 0), (0, 0, "view", 0)])
@settings(**SETTINGS)
def test_time_weighted_avg_matches_bruteforce(spark, tmp_path_factory, events):
    """q_time_weighted_avg == per-(type, user) step-hold integration
    recomputed with python bigints; final doubles compared exactly."""
    import math

    from iceberg_benchmark_poc_spark.queries.temporal import q_time_weighted_avg

    d, rows = _events_parquet(spark, tmp_path_factory, events)
    streams = {}
    for i, ts, u, t, v, _p in rows:
        em = int(ts.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000)
        streams.setdefault((t, u), []).append((em, i, math.floor(v * 100)))
    acc = {}
    for (t, _u), evs in streams.items():
        evs.sort()
        for (em, _i, c), (em2, _i2, _c2) in zip(evs, evs[1:]):
            dt = em2 - em
            w, s = acc.get(t, (0, 0))
            acc[t] = (w + c * dt, s + dt)
    want = {
        t: (float(w) / float(s) / 100.0, s)
        for t, (w, s) in acc.items()
        if s > 0 or (w, s) != (0, 0)
    }
    # types whose streams all have a single event produce no held intervals
    want = {t: v for t, v in want.items() if v[1] > 0}
    got = {
        r["event_type"]: (r["twa_value"], r["observed_us"])
        for r in q_time_weighted_avg(spark, d).collect()
    }
    assert set(got) == set(want)
    for t in want:
        assert got[t][1] == want[t][1], (t, got[t], want[t])
        assert got[t][0] == want[t][0], (t, got[t], want[t])


# ---------------------------------------------------------------------------
# boilerplate strip + PMI vs brute-force python over synthetic corpora
# ---------------------------------------------------------------------------

_DOC_STRAT = st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc", "dd", "ee"]), min_size=1, max_size=25),
    min_size=1,
    max_size=12,
)


def _docs_parquet(spark, tmp_path_factory, docs):
    rows = [
        (i, " ".join(words), "en", "src0", len(" ".join(words)))
        for i, words in enumerate(docs)
    ]
    d = str(tmp_path_factory.mktemp("bdocs"))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(d + "/documents.parquet")
    return d, rows


@given(docs=_DOC_STRAT)
@settings(**SETTINGS)
def test_boilerplate_strip_matches_bruteforce(spark, tmp_path_factory, docs):
    """q_boilerplate_strip == python segmentation + cross-doc frequency cut,
    compared on (n_segs, n_kept) and the kept-positions set per doc."""
    from iceberg_benchmark_poc_spark.queries.textprep import (
        BOILER_DOCS,
        SEG_WORDS,
        q_boilerplate_strip,
    )

    d, rows = _docs_parquet(spark, tmp_path_factory, docs)
    segs = {}  # (doc_id, idx) -> seg
    seg_docs = {}  # seg -> set(doc_id)
    for doc_id, text, _l, _s, _n in rows:
        ws = text.split()
        for idx in range((len(ws) + SEG_WORDS - 1) // SEG_WORDS):
            seg = " ".join(ws[idx * SEG_WORDS : (idx + 1) * SEG_WORDS])
            segs[(doc_id, idx)] = seg
            seg_docs.setdefault(seg, set()).add(doc_id)
    want = {}
    for (doc_id, idx), seg in segs.items():
        n_segs, kept = want.get(doc_id, (0, set()))
        n_segs += 1
        if len(seg_docs[seg]) < BOILER_DOCS:
            kept = kept | {idx}
        want[doc_id] = (n_segs, kept)

    got = {r["doc_id"]: r for r in q_boilerplate_strip(spark, d).collect()}
    assert set(got) == set(want)
    for doc_id, (n_segs, kept) in want.items():
        assert got[doc_id]["n_segs"] == n_segs, doc_id
        assert got[doc_id]["n_kept"] == len(kept), doc_id


@given(docs=_DOC_STRAT)
@settings(**SETTINGS)
def test_pmi_bigrams_matches_bruteforce(spark, tmp_path_factory, docs):
    """q_pmi_bigrams == python bigram/unigram counting + the identical ratio
    expression, on the same (ratio desc, bigram asc) top-k cut."""
    from iceberg_benchmark_poc_spark.queries.textpipe import (
        PMI_MIN_COUNT,
        PMI_TOP_K,
        q_pmi_bigrams,
    )

    d, rows = _docs_parquet(spark, tmp_path_factory, docs)
    uni, bg = {}, {}
    n_tokens = n_bigrams = 0
    for _i, text, _l, _s, _n in rows:
        ws = text.split()
        n_tokens += len(ws)
        for w in ws:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(ws, ws[1:]):
            bg[(a, b)] = bg.get((a, b), 0) + 1
            n_bigrams += 1
    cand = []
    for (a, b), n_xy in bg.items():
        if n_xy < PMI_MIN_COUNT:
            continue
        ratio = float(n_xy) * n_tokens * n_tokens / (float(n_bigrams) * uni[a] * uni[b])
        cand.append((f"{a} {b}", n_xy, uni[a], uni[b], ratio))
    cand.sort(key=lambda t: (-t[4], t[0]))
    want = cand[:PMI_TOP_K]

    got = [
        (r["bigram"], r["n_xy"], r["n_x"], r["n_y"], r["pmi_ratio"])
        for r in q_pmi_bigrams(spark, d)
        .orderBy(F.col("pmi_ratio").desc(), F.col("bigram").asc())
        .collect()
    ]
    assert got == want


@given(docs=_DOC_STRAT)
@settings(**SETTINGS)
def test_countmin_matches_bruteforce(spark, tmp_path_factory, docs):
    """q_countmin_topk == a python CMS built with the identical md5 base
    hash and affine lane family — estimates must match cell-for-cell, and
    the one-sided bound must hold on every probe."""
    import hashlib

    from iceberg_benchmark_poc_spark.queries.approx import (
        CMS_DEPTH,
        CMS_PRIME,
        CMS_TOP_K,
        CMS_WIDTH,
        q_countmin_topk,
    )

    d, rows = _docs_parquet(spark, tmp_path_factory, docs)

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % CMS_PRIME

    sketch = {}
    counts = {}
    for _i, text, _l, _s, _n in rows:
        for t in text.split():
            counts[t] = counts.get(t, 0) + 1
            h = h60(t)
            for lane in range(CMS_DEPTH):
                b = ((lane * 2 + 3) * h + (lane * 5 + 7)) % CMS_PRIME % CMS_WIDTH
                sketch[(lane, b)] = sketch.get((lane, b), 0) + 1
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:CMS_TOP_K]
    want = {}
    for t, n in top:
        h = h60(t)
        est = min(
            sketch[(lane, ((lane * 2 + 3) * h + (lane * 5 + 7)) % CMS_PRIME % CMS_WIDTH)]
            for lane in range(CMS_DEPTH)
        )
        want[t] = (n, est)

    got = {
        r["token"]: (r["exact_n"], r["cms_estimate"])
        for r in q_countmin_topk(spark, d).collect()
    }
    assert got == want
    assert all(est >= n for n, est in got.values())


# ---------------------------------------------------------------------------
# temporal bucketed-join boundary exactness
# ---------------------------------------------------------------------------


def _write_boundary_events(tmp_path_factory):
    """events.parquet whose timestamps sit EXACTLY on every interval edge the
    bucketed temporal joins care about: window starts, end-exclusive window
    ends, rate snapshots, 30/90-minute bucket boundaries — each with +-1us
    neighbors — plus one far-future NON-sampled event so the rate dimension
    extends past the as-of probe's max ts (exercising q_asof_join's
    greatest() clamp: without it, sequence() would descend)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # 2024-03-01 08:00:00 UTC: hour-aligned AND epoch/60 % 1000 == 0, so the
    # derived maintenance windows (rate_value % 3 == 0 filter) actually fire
    base_us = 1_709_280_000_000_000
    half_hour = 30 * 60 * 1_000_000
    stamps = []
    for k in range(13):  # every 30-min edge over 6 hours
        edge = base_us + k * half_hour
        stamps += [edge, edge + 1, edge - 1] if k else [edge, edge + 1]
    rows = []
    for i, ts in enumerate(sorted(set(stamps))):
        rows.append((i * 10, ts, i % 7, "click", round(i * 1.25, 2), "{}"))
    # far-future max with event_id NOT divisible by 10: rates extend ~2
    # snapshots past the as-of sample's max ts
    rows.append((1, base_us + 20 * half_hour, 3, "click", 9.5, "{}"))
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    d = str(tmp_path_factory.mktemp("temporal_edges"))
    pq.write_table(table, f"{d}/events.parquet")
    return d


@pytest.mark.parametrize("name", ["q_asof_join", "q_range_join"])
def test_temporal_joins_exact_on_interval_edges(spark, tmp_path_factory, name):
    import duckdb

    from iceberg_benchmark_poc_spark.core.registry import all_queries
    from tests.conftest import assert_oracle_types_match, rows_to_key

    d = _write_boundary_events(tmp_path_factory)
    q = all_queries()[name]
    sdf = q.fn(spark, d)
    s_rows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet')")
    rel = con.sql(q.oracle)
    d_rows = rel.fetchall()
    assert sorted(sdf.columns) == sorted(rel.columns)
    assert_oracle_types_match(name, sdf, rel)
    assert len(s_rows) > 0, "boundary fixture produced no rows"
    assert len(s_rows) == len(d_rows)
    assert rows_to_key(s_rows, sdf.columns) == rows_to_key(d_rows, list(rel.columns))
    if name == "q_asof_join":
        # exactly one rate per sampled event: the interval decomposition must
        # neither drop boundary events nor double-match bucket-straddlers
        n_sampled = sum(1 for r in con.sql(
            "SELECT event_id FROM events WHERE event_id % 10 = 0"
        ).fetchall())
        assert len(s_rows) == n_sampled


# ---------------------------------------------------------------------------
# q_cep_match's regex reduction: encode-then-search equals brute force
# ---------------------------------------------------------------------------

from iceberg_benchmark_poc_spark.queries.behavior import CEP_PATTERN


def brute_force_cep(path: str) -> bool:
    """Exists i<j<k: path[i]='v', path[j]='c', path[k]='p' and no 'e' in
    path[i..k] — the sequence semantics q_cep_match claims."""
    n = len(path)
    for i in range(n):
        if path[i] != "v":
            continue
        for j in range(i + 1, n):
            if path[j] != "c":
                continue
            for k in range(j + 1, n):
                if path[k] == "p" and "e" not in path[i : k + 1]:
                    return True
    return False


@given(paths=st.lists(st.text(alphabet="vcpes", max_size=24), min_size=1, max_size=24))
@settings(**SETTINGS)
def test_cep_regex_equals_brute_force(spark, paths):
    """Spark's rlike on the CEP pattern accepts exactly the strings the
    O(n^3) positional definition accepts — on arbitrary event strings,
    including empties and poison-only streams."""
    df = spark.createDataFrame([(p,) for p in paths], "path string")
    got = {
        r["path"]: r["m"]
        for r in df.select("path", F.col("path").rlike(CEP_PATTERN).alias("m"))
        .distinct()
        .collect()
    }
    for p in set(paths):
        assert got[p] == brute_force_cep(p), p


@given(paths=st.lists(st.text(alphabet="vcpes", max_size=16), min_size=1, max_size=12))
@settings(**SETTINGS)
def test_cep_regex_dialects_agree(spark, paths):
    """The Java (Spark) and RE2-family (DuckDB) regex engines accept the
    same strings for the CEP fragment — the cross-engine assumption the
    oracle rests on."""
    import duckdb

    df = spark.createDataFrame([(p,) for p in paths], "path string")
    s_got = {
        r["path"]: r["m"]
        for r in df.select("path", F.col("path").rlike(CEP_PATTERN).alias("m"))
        .distinct()
        .collect()
    }
    con = duckdb.connect()
    for p in set(paths):
        (d_m,) = con.execute(
            "SELECT regexp_matches(?, ?)", [p, CEP_PATTERN]
        ).fetchone()
        assert s_got[p] == d_m, p


# ---------------------------------------------------------------------------
# global_prefix_max (q_skyline's scan): exclusive two-phase running max
# ---------------------------------------------------------------------------

from iceberg_benchmark_poc_spark.operators.prefix import global_prefix_max


@given(
    vals=st.lists(st.integers(-100, 100), min_size=1, max_size=60, unique=True),
    num_ranges=st.integers(1, 8),
)
@settings(**SETTINGS)
def test_global_prefix_max_matches_single_window(spark, vals, num_ranges):
    """The two-phase exclusive prefix max is bit-identical to the
    single-task global window on arbitrary unique keys and any range
    count — including ranges holding zero or one rows."""
    rows = [(k, (k * 7919) % 31 - 15) for k in vals]
    df = spark.createDataFrame(rows, "k bigint, v bigint")
    bucket = (F.col("k"), min(vals), max(vals), num_ranges)
    got = {
        r["k"]: r["m"]
        for r in global_prefix_max(df, [F.col("k")], F.col("v"), "m", bucket=bucket).collect()
    }
    expect = {}
    running = None
    for k, v in sorted(rows):
        expect[k] = running
        running = v if running is None or v > running else running
    assert got == expect


def skyline_brute(points: list[tuple[int, int]]) -> set[tuple[int, int]]:
    return {
        (pr, sz)
        for pr, sz in points
        if not any(
            qr <= pr and qs >= sz and (qr < pr or qs > sz) for qr, qs in points
        )
    }


@given(
    points=st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 20)), min_size=1, max_size=40
    )
)
@settings(**SETTINGS)
def test_skyline_reduction_matches_brute_force(spark, points):
    """The collapse + exclusive-prefix-max + eq-group filter q_skyline runs
    keeps exactly the non-dominated points — duplicates (which never
    dominate each other) all survive together."""
    df = spark.createDataFrame(points, "price_cents bigint, p_size bigint")
    g = df.groupBy("price_cents").agg(F.max("p_size").alias("eqmax"))
    g2 = global_prefix_max(
        g, [F.col("price_cents")], F.col("eqmax"), "m1", bucket=(F.col("price_cents"), 0, 20, 4)
    )
    out = (
        df.join(g2, "price_cents")
        .filter(
            (F.col("m1").isNull() | (F.col("m1") < F.col("p_size")))
            & (F.col("eqmax") == F.col("p_size"))
        )
        .collect()
    )
    got = {(r["price_cents"], r["p_size"]) for r in out}
    assert got == skyline_brute(points)
    # multiplicity: every surviving coordinate keeps ALL its duplicates
    from collections import Counter
    cnt = Counter(points)
    assert len(out) == sum(cnt[p] for p in got)
