"""Exact brute-force checks for the corpus-analysis operators added on top of
the dedup family: duplicate clustering, stratified sampling, heavy hitters,
and eval-set decontamination. Each test recomputes the expected answer in
plain Python over the collected fixture and compares exactly — these are the
semantics checks; cross-engine value parity is covered by the oracle gate."""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import functions as F

from iceberg_benchmark_poc_spark.bench.census import build_and_exec_jobs
from iceberg_benchmark_poc_spark.core.io import load_table
from iceberg_benchmark_poc_spark.operators.text import (
    jaccard_from_arrays,
    lsh_pairs_from_wide,
    minhash_from_arrays,
    shingle_arrays,
)
from iceberg_benchmark_poc_spark.queries.textpipe import (
    CONTAINMENT_MIN,
    DECON_FLAG,
    DECON_GRAM_N,
    EVAL_MOD,
    EVAL_REM,
    MIX_BUDGET_DIV,
    MIX_GATE_M,
    NEAR_JACCARD,
    SAMPLE_RATES,
    TOP_TOKENS,
    WEIGHT_SCALE,
    q_containment,
    q_decontaminate,
    q_dup_clusters,
    q_heavy_hitters,
    q_minhash_dedup,
    q_mixture_sample,
    q_stratified_sample,
)

from .conftest import SF_DIR


def _tokens(text: str) -> list[str]:
    return [w for w in re.split(r"\s+", text.strip()) if w]


def test_dup_clusters_match_union_find(spark):
    """q_dup_clusters must equal union-find over the verified near-dup edges:
    same components, cluster_id = min member, sizes and keeper flags exact."""
    docs = load_table(spark, SF_DIR, "documents")
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]

    arr = shingle_arrays(docs)
    jac = jaccard_from_arrays(lsh_pairs_from_wide(minhash_from_arrays(arr)), arr)
    edges = [
        (r["doc_a"], r["doc_b"])
        for r in jac.filter(F.col("jaccard") >= NEAR_JACCARD).collect()
    ]

    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    comp: dict[int, list[int]] = {}
    for i in ids:
        comp.setdefault(find(i), []).append(i)
    expected = {i: min(members) for root, members in comp.items() for i in members}
    sizes = {root: len(members) for root, members in comp.items()}

    rows = q_dup_clusters(spark, SF_DIR).collect()
    assert len(rows) == len(ids)
    assert edges, "fixture has no near-dup edges; clustering untested"
    for r in rows:
        assert r["cluster_id"] == expected[r["doc_id"]]
        assert r["cluster_size"] == sizes[r["cluster_id"]]
        assert r["is_keeper"] == (r["doc_id"] == r["cluster_id"])


def test_dup_clusters_star_fallback_matches_fast_path(spark, monkeypatch):
    """When label propagation exhausts its round cap without converging —
    the high-diameter chain-graph case at scale — connected_components must
    switch to the O(log n) star algorithm instead of returning under-merged
    clusters. Force the switch through the REGISTERED query path with a
    round cap of zero, check the star algorithm really ran, and require
    bit-identical output to the converged fast path (which the union-find
    test above certifies)."""
    from iceberg_benchmark_poc_spark.operators import graph

    baseline = sorted(map(tuple, q_dup_clusters(spark, SF_DIR).collect()))
    star_calls = []
    real_star = graph.connected_components_star

    def star(edges):
        star_calls.append(edges)
        return real_star(edges)

    monkeypatch.setattr(graph, "MAX_LP_ROUNDS", 0)
    monkeypatch.setattr(graph, "connected_components_star", star)
    forced = sorted(map(tuple, q_dup_clusters(spark, SF_DIR).collect()))
    assert len(star_calls) == 1
    assert forced == baseline


def _stable_job_counts(spark, query) -> tuple[int, int]:
    """(build, exec) Spark jobs of ``query`` at SF_DIR, asserted to be the
    same after a warm-up run and after clearing the cache: no step leaves
    cached state behind (every materialization is a core.io.cut)."""
    build_and_exec_jobs(spark, query, SF_DIR)  # warm-up
    after_warm_up = build_and_exec_jobs(spark, query, SF_DIR)
    spark.catalog.clearCache()
    assert build_and_exec_jobs(spark, query, SF_DIR) == after_warm_up
    return after_warm_up


def test_dup_clusters_job_counts(spark):
    """Building q_dup_clusters runs at most 7 Spark jobs and executing it
    at most 5 (sf0.001), stable across a warm-up and a cache clear. The
    components are labelled and sized at class scale and the member lists
    explode last, so no anti-join, union, documents join or
    document-scale window adds a stage."""
    build_jobs, exec_jobs = _stable_job_counts(spark, q_dup_clusters)
    assert build_jobs <= 7
    assert exec_jobs <= 5


def test_minhash_dedup_job_counts(spark):
    """q_minhash_dedup builds in at most 1 job and executes in at most 3
    (sf0.001), stable across a warm-up and a cache clear: candidate pairs
    need no dedupe exchange and the class sizes ride through the verify."""
    build_jobs, exec_jobs = _stable_job_counts(spark, q_minhash_dedup)
    assert build_jobs <= 1
    assert exec_jobs <= 3


def test_containment_job_counts(spark):
    """q_containment builds in at most 1 job and executes in at most 3
    (sf0.001), stable across a warm-up and a cache clear."""
    build_jobs, exec_jobs = _stable_job_counts(spark, q_containment)
    assert build_jobs <= 1
    assert exec_jobs <= 3


def test_stratified_sample_deterministic_and_rated(spark):
    """The sample is a deterministic subset honoring per-stratum rates:
    re-running flips no decision, unlisted strata keep everything, and
    downsampled strata land near their configured rate."""
    docs = {r["doc_id"]: r["lang"] for r in load_table(spark, SF_DIR, "documents").collect()}
    first = {r["doc_id"]: r for r in q_stratified_sample(spark, SF_DIR).collect()}
    second = {r["doc_id"]: r for r in q_stratified_sample(spark, SF_DIR).collect()}
    assert first == second  # hash-gate, not rand(): reruns are identical

    by_lang_total = Counter(docs.values())
    by_lang_kept = Counter(r["lang"] for r in first.values())
    for lang, total in by_lang_total.items():
        rate = SAMPLE_RATES.get(lang, 100)
        kept = by_lang_kept[lang]
        if rate == 100:
            assert kept == total
        else:
            assert 0 < kept < total
            assert abs(kept / total - rate / 100) < 0.15  # uniform hash, n~100+
    for doc_id, r in first.items():
        assert r["keep_pct"] == SAMPLE_RATES.get(docs[doc_id], 100)
        assert 0 <= r["sample_bucket"] < 100


def test_mixture_sample_matches_bruteforce(spark):
    """The temperature-mixture plan and its realized sample equal a plain
    Python recomputation: integer sqrt-weights, BIGINT threshold arithmetic,
    md5 hash gate — and the keep rate is monotone-decreasing in source size
    (rare sources upweighted), which is the point of T=0.5."""
    import hashlib
    import math

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "source").collect()
    counts = Counter(r["source"] for r in docs)
    weights = {s: math.floor(math.sqrt(n) * WEIGHT_SCALE) for s, n in counts.items()}
    sum_w = sum(weights.values())
    total = sum(counts.values())
    thr = {
        s: min(
            MIX_GATE_M,
            ((total // MIX_BUDGET_DIV) * weights[s] * MIX_GATE_M) // (sum_w * counts[s]),
        )
        for s in counts
    }
    sampled: Counter = Counter({s: 0 for s in counts})
    for r in docs:
        h = int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:15], 16) % MIX_GATE_M
        if h < thr[r["source"]]:
            sampled[r["source"]] += 1

    rows = {r["source"]: r for r in q_mixture_sample(spark, SF_DIR).collect()}
    assert set(rows) == set(counts)
    for s in counts:
        r = rows[s]
        assert (r["n_docs"], r["weight"], r["keep_per_10k"], r["n_sampled"]) == (
            counts[s],
            weights[s],
            thr[s],
            sampled[s],
        )
    by_size = sorted(counts, key=lambda s: counts[s])
    for a, b in zip(by_size, by_size[1:]):
        if counts[a] < counts[b]:
            assert thr[a] >= thr[b]


def test_heavy_hitters_match_counter(spark):
    """Top-N tokens equal a plain Counter over the same tokenization, with
    tf >= df and the (tf desc, token asc) rank order."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    tf = Counter()
    df = Counter()
    for r in docs:
        toks = _tokens(r["text"])
        tf.update(toks)
        df.update(set(toks))
    expected = sorted(tf.items(), key=lambda kv: (-kv[1], kv[0]))[:TOP_TOKENS]

    rows = sorted(q_heavy_hitters(spark, SF_DIR).collect(), key=lambda r: r["rank"])
    assert [(r["token"], r["tf"]) for r in rows] == expected
    for r in rows:
        assert r["df"] == df[r["token"]]
        assert r["tf"] >= r["df"] > 0


def test_decontaminate_matches_set_containment(spark):
    """Containment equals Python set math: distinct eval 8-grams intersected
    with the corpus gram set, flag at the threshold."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text").collect()

    def grams(text: str) -> set[str]:
        toks = _tokens(text)
        if len(toks) < DECON_GRAM_N:
            return {text.strip()}
        return {
            " ".join(toks[i : i + DECON_GRAM_N])
            for i in range(len(toks) - DECON_GRAM_N + 1)
        }

    eval_docs = {r["doc_id"]: grams(r["text"]) for r in docs if r["doc_id"] % EVAL_MOD == EVAL_REM}
    corpus: set[str] = set()
    for r in docs:
        if r["doc_id"] % EVAL_MOD != EVAL_REM:
            corpus |= grams(r["text"])

    rows = {r["doc_id"]: r for r in q_decontaminate(spark, SF_DIR).collect()}
    assert rows.keys() == eval_docs.keys()
    for doc_id, g in eval_docs.items():
        r = rows[doc_id]
        assert r["n_grams"] == len(g)
        assert r["n_matched"] == len(g & corpus)
        assert abs(r["contamination"] - len(g & corpus) / len(g)) < 1e-12
        assert r["flagged"] == (r["contamination"] >= DECON_FLAG)


def test_simhash_pairs_exact_all_pairs(spark):
    """15-bit banding is lossless at hamming <= 3 (pigeonhole: 3 flipped
    bits leave one of the 4 bands intact) — the banded join must equal the
    full all-pairs scan exactly, not approximately."""
    from iceberg_benchmark_poc_spark.queries.textpipe import (
        SIMHASH_HAM_MAX,
        q_simhash,
        q_simhash_pairs,
    )

    sigs = {r["doc_id"]: r["simhash"] for r in q_simhash(spark, SF_DIR).collect()}
    ids = sorted(sigs)
    # brute-force all doc pairs, then aggregate to the class-representative
    # form the query emits: (rep_a, rep_b, hamming) -> number of doc pairs
    rep = {}
    for d, s in sigs.items():
        rep[s] = min(rep.get(s, d), d)
    expected: Counter = Counter()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ham = bin(sigs[a] ^ sigs[b]).count("1")
            if ham <= SIMHASH_HAM_MAX:
                ra, rb = sorted((rep[sigs[a]], rep[sigs[b]]))
                expected[(ra, rb, ham)] += 1
    got: Counter = Counter()
    for r in q_simhash_pairs(spark, SF_DIR).collect():
        got[(r["rep_a"], r["rep_b"], r["hamming"])] += r["n_pairs"]
    assert got == expected
    assert expected, "fixture yields no simhash pairs; banding untested"


def test_bloom_filter_has_no_false_negatives(spark):
    """The Bloom contract: a present document is ALWAYS flagged maybe (no
    false negative, ever); only absent documents may false-positive."""
    from iceberg_benchmark_poc_spark.core.registry import get_query

    rows = get_query("q_bloom_filter").fn(spark, SF_DIR).collect()
    assert rows, "batch must be non-empty"
    for r in rows:
        if r["is_present"]:
            assert r["bloom_maybe"], f"false negative for doc {r['doc_id']}"
        if r["is_false_positive"]:
            assert r["bloom_maybe"] and not r["is_present"]


def test_containment_exact_on_candidates_and_recall(spark):
    """q_containment's reported values must equal brute-force shingle
    containment for every reported pair (precision 1.0 on the measure), and
    within the exact-audit sample its banded candidates must recover every
    high-JACCARD containment pair (the documented recall bound: band
    collisions are driven by symmetric Jaccard)."""
    docs = load_table(spark, SF_DIR, "documents")
    sets = {
        r["doc_id"]: set(r["sh_arr"]) for r in shingle_arrays(docs).collect()
    }
    reported = q_containment(spark, SF_DIR).collect()
    assert reported, "fixture produced no containment pairs; threshold too high"
    for r in reported:
        a, b = sets[r["doc_id"]], sets[r["within_id"]]
        exact = len(a & b) / len(a)
        assert abs(r["containment"] - exact) < 1e-12
        assert r["containment"] >= CONTAINMENT_MIN
        assert r["n_shingles"] == len(a)

    # recall over pairs whose symmetric Jaccard reaches the banding regime:
    # every such pair with containment >= threshold must be reported
    got = {(r["doc_id"], r["within_id"]) for r in reported}
    ids = sorted(sets)
    missed = []
    for i, da in enumerate(ids):
        for db in ids[i + 1 :]:
            a, b = sets[da], sets[db]
            inter = len(a & b)
            if not inter:
                continue
            jac = inter / (len(a) + len(b) - inter)
            if jac < NEAR_JACCARD:
                continue  # below the band-collision regime: recall not claimed
            if inter / len(a) >= CONTAINMENT_MIN and (da, db) not in got:
                missed.append((da, db))
            if inter / len(b) >= CONTAINMENT_MIN and (db, da) not in got:
                missed.append((db, da))
    assert not missed, f"high-jaccard containment pairs missed: {missed[:5]}"


def test_fuzzy_pairs_class_form_equals_all_pairs_brute_force(spark):
    """q_fuzzy_pairs' class-level rows must reproduce the doc-level all-pairs
    answer exactly: sum(n_pairs) per (class pair) == brute-force count of doc
    pairs at that edit distance, including the edit_dist=0 within-class pairs
    the collapsed form carries in closed form (n*(n-1)/2)."""
    from iceberg_benchmark_poc_spark.queries.textpipe import q_fuzzy_pairs

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "lang", "text").collect()

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    norm = [
        (r["doc_id"], r["lang"], re.sub(r"\s+", " ", r["text"].strip().lower())[:32])
        for r in docs
    ]
    # brute force over EVERY doc pair in the same (lang, 8-char block)
    expect_total = 0
    expect_by_dist: Counter = Counter()
    for i in range(len(norm)):
        for j in range(i + 1, len(norm)):
            (ia, la, pa), (ib, lb, pb) = norm[i], norm[j]
            if la != lb or pa[:8] != pb[:8]:
                continue
            d = lev(pa, pb)
            if d <= 4:
                expect_total += 1
                expect_by_dist[d] += 1

    rows = q_fuzzy_pairs(spark, SF_DIR).collect()
    got_total = sum(r["n_pairs"] for r in rows)
    got_by_dist: Counter = Counter()
    for r in rows:
        got_by_dist[r["edit_dist"]] += r["n_pairs"]
    assert got_total == expect_total
    assert got_by_dist == expect_by_dist
    # class invariants: self-pair rows are rep_a == rep_b with >=1 pair,
    # cross rows carry distinct representatives
    for r in rows:
        if r["edit_dist"] == 0 and r["rep_a"] == r["rep_b"]:
            assert r["n_pairs"] >= 1
        else:
            assert r["rep_a"] < r["rep_b"]
