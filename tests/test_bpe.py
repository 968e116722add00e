"""Algorithm-level certification of the BPE band: the queries' one-task
trainer must reproduce a textbook pure-Python BPE trainer (Sennrich et al.
2016), on the fixture corpus and on fuzzed dictionaries — so the engine and
the DuckDB oracle are both checked against the ALGORITHM, not merely against
each other (the q_skyline brute-force pattern). Plus the structural
invariants a learned merge table must satisfy regardless of corpus, and the
queries' job budget.
"""

from __future__ import annotations

import re

import pyarrow as pa
import pyarrow.parquet as pq

from iceberg_benchmark_poc_spark.bench.census import build_and_exec_jobs
from iceberg_benchmark_poc_spark.core.registry import all_queries
from iceberg_benchmark_poc_spark.queries.bpe import BPE_EOW, BPE_MERGES, _word_types

from .conftest import SF_DIR


def _word_counts(texts) -> dict[str, int]:
    """Whitespace word counts matching the engine's split(trim(text), '\\s+')
    tokenization: Spark's ``trim`` strips U+0020 only, and Java's ``\\s`` is
    the ASCII whitespace class, so U+00A0 stays inside a word (Python's
    ``strip()`` and ``\\s`` are Unicode-aware and would split there)."""
    counts: dict[str, int] = {}
    for text in texts:
        for w in re.split(r"[ \t\n\x0b\f\r]+", text.strip(" ")):
            counts[w] = counts.get(w, 0) + 1
    return counts


def _corpus_word_counts() -> dict[str, int]:
    """Word counts of the test corpus."""
    return _word_counts(pq.read_table(f"{SF_DIR}/documents.parquet", columns=["text"]).column(0).to_pylist())


def test_word_types_keep_no_break_space_inside_words(spark, tmp_path):
    texts = ["caf\u00a0e au\tlait", " x\u00a0y  x\u00a0y\u00a0 ", "au\u00a0\u00a0revoir"]
    pq.write_table(pa.table({"doc_id": [1, 2, 3], "text": texts}), tmp_path / "documents.parquet")
    got = {r["seq"]: r["weight"] for r in _word_types(spark, str(tmp_path)).collect()}
    expected = {" ".join(w) + " " + BPE_EOW: c for w, c in _word_counts(texts).items()}
    assert set(_word_counts(texts)) == {"caf\u00a0e", "au", "lait", "x\u00a0y", "x\u00a0y\u00a0", "au\u00a0\u00a0revoir"}
    assert got == expected


def _python_bpe(word_counts: dict[str, int], merges: int):
    """Textbook BPE: greedy most-frequent adjacent pair, ties on pair text
    ascending, left-to-right non-overlapping rewrite (the semantics of a
    padded string replace). Returns (merge table rows, final symbol vocab)."""
    vocab: dict[tuple[str, ...], int] = {}
    for w, c in word_counts.items():
        syms = tuple(list(w) + [BPE_EOW])
        vocab[syms] = vocab.get(syms, 0) + c
    table = []
    for r in range(merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pairs[p] = pairs.get(p, 0) + c
        if not pairs:
            break
        (x, y), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0][0] + " " + kv[0][1]))
        table.append((r, f"{x} {y}", x + y, cnt))
        new: dict[tuple[str, ...], int] = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == x and syms[i + 1] == y:
                    out.append(x + y)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new[key] = new.get(key, 0) + c
        vocab = new
    return table, vocab


def _greedy_rewrite(syms: list[str], pair: tuple[str, str]) -> list[str]:
    """Textbook single-round merge: left-to-right, non-overlapping, skip past
    each match — the semantics _MERGE_SQL must reproduce."""
    x, y = pair
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == x and syms[i + 1] == y:
            out.append(x + y)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


# (seq, pair) cases the single-space-padded replace got WRONG (r9 advice):
# disjoint adjacent occurrences share a boundary space, so the first match
# starved the second. Pinned here against the greedy scan in BOTH engines.
_ADVERSARIAL_CASES = [
    ("b a n a n a", "a n"),       # the under-merge case: must give 'b an an a'
    ("a n a n a n", "a n"),       # all three merge: 'an an an'
    ("a a a", "a a"),             # overlap: greedy takes the first, 'aa a'
    ("a a a a", "a a"),           # two disjoint: 'aa aa'
    ("x a n a n y", "a n"),       # interior disjoint pair
    ("a n", "a n"),               # whole word is the pair
    ("n a n", "a n"),             # match at end
    ("a n a", "a n"),             # match at start, trailing symbol
    ("c </w>", "c </w>"),         # EOW absorbed into a merge
    ("< / w > </w>", "/ w"),      # near-marker chars as real symbols
    ("</w </w>", "</w </w>"),     # adversarial symbol that PREFIXES the marker
    ("an a n an", "a n"),         # merged-lookalike neighbors must not match
]


def test_merge_sql_matches_greedy_scan_in_both_engines():
    """_MERGE_SQL evaluated by DuckDB (the oracles' rewrite) and _merge (the
    trainer's rewrite) on adversarial words both equal the textbook greedy
    rewrite — the fixture corpus never exercises the 'banana' shape in 10
    rounds, so the semantics is pinned directly."""
    import duckdb

    from iceberg_benchmark_poc_spark.queries.bpe import _MERGE_SQL, _merge

    con = duckdb.connect()
    for seq, pair in _ADVERSARIAL_CASES:
        expected = " ".join(_greedy_rewrite(seq.split(" "), tuple(pair.split(" ", 1))))
        got_duck = con.sql(
            f"SELECT {_MERGE_SQL} AS out FROM (SELECT ? AS seq, ? AS pair)",
            params=[seq, pair],
        ).fetchone()[0]
        assert got_duck == expected, f"duckdb: {seq!r} + {pair!r} -> {got_duck!r} != {expected!r}"
        got_py = _merge(seq, pair)
        assert got_py == expected, f"_merge: {seq!r} + {pair!r} -> {got_py!r} != {expected!r}"


def test_merge_sql_properties_fuzzed():
    """Hypothesis fuzz of the merge rewrite in both its forms — the shared
    ANSI text as DuckDB evaluates it, and _merge: for ANY symbol sequence
    and ANY adjacent pair drawn from it, each rewrite equals the greedy
    scan, conserves the concatenated character stream, and shortens the
    sequence by exactly the match count."""
    import duckdb
    from hypothesis import given, settings, strategies as st

    from iceberg_benchmark_poc_spark.queries.bpe import _MERGE_SQL, _merge

    con = duckdb.connect()
    # tiny alphabet forces repeats/overlaps; include EOW-marker fragments so
    # near-marker adjacency is fuzzed, multi-char symbols so boundary
    # alignment (no mid-symbol matches) is exercised, and U+00A0, which the
    # \s+ word split keeps inside words but a whitespace strip would eat
    symbol = st.sampled_from(
        ["a", "n", "b", "an", "na", "<", "/", "w", ">", "</w>", "</w", "\u00a0"]
    )
    seqs = st.lists(symbol, min_size=2, max_size=12)

    @settings(max_examples=300, deadline=None)
    @given(seqs=seqs, data=st.data())
    def check(seqs, data):
        i = data.draw(st.integers(0, len(seqs) - 2))
        pair = (seqs[i], seqs[i + 1])
        seq_s, pair_s = " ".join(seqs), " ".join(pair)
        outs = [
            _merge(seq_s, pair_s),
            con.sql(
                f"SELECT {_MERGE_SQL} AS out FROM (SELECT ? AS seq, ? AS pair)",
                params=[seq_s, pair_s],
            ).fetchone()[0],
        ]
        expected = _greedy_rewrite(seqs, pair)
        for got in outs:
            assert got == " ".join(expected)
            # conservation: merges never create or destroy characters
            assert got.replace(" ", "") == seq_s.replace(" ", "")
            # each match shortens the sequence by exactly one symbol
            assert len(got.split(" ")) == len(expected)

    check()


def test_train_matches_textbook_trainer_fuzzed():
    """Hypothesis property: _train on any small word-count dictionary gives
    the textbook trainer's merge table and final vocabulary. Non-ASCII
    letters (including U+00A0, U+FF5A and an astral-plane letter) pin the
    codepoint tie-break and the space-only trim; counts drawn from 1..3 force count
    ties, so the pair-text tie-break decides most rounds; one-letter words
    run out of pairs, exercising the early stop."""
    from hypothesis import given, settings, strategies as st

    from iceberg_benchmark_poc_spark.queries.bpe import _train

    # U+FF5A sorts below U+1D538 by codepoint but above it by UTF-16 unit
    letters = ["a", "b", "é", "ß", "ü", "中", "\u00a0", "\uff5a", "\U0001d538"]
    words = st.dictionaries(
        st.text(st.sampled_from(letters), min_size=1, max_size=5),
        st.integers(1, 3),
        max_size=8,
    )

    @settings(max_examples=300, deadline=None)
    @given(word_counts=words)
    def check(word_counts):
        seqs = [" ".join(w) + " " + BPE_EOW for w in word_counts]
        weights = list(word_counts.values())
        merges, final = _train(seqs, weights)
        expected_table, expected_vocab = _python_bpe(word_counts, BPE_MERGES)
        assert merges == expected_table
        vocab: dict[tuple[str, ...], int] = {}
        for seq, w in zip(final, weights):
            vocab[tuple(seq.split(" "))] = vocab.get(tuple(seq.split(" ")), 0) + w
        assert vocab == expected_vocab

    check()


def test_train_refuses_a_dictionary_over_its_bound(monkeypatch):
    """The one training task holds the whole type dictionary, so a
    dictionary over MAX_WORD_TYPES is an explicit error naming its size."""
    import pytest

    from iceberg_benchmark_poc_spark.queries import bpe

    monkeypatch.setattr(bpe, "MAX_WORD_TYPES", 2)
    with pytest.raises(ValueError, match="3 word types"):
        bpe._train(["a </w>", "b </w>", "c </w>"], [1, 1, 1])


def test_bpe_job_counts(spark):
    """Both BPE queries build in 0 Spark jobs (the plans are lazy: no
    collect, no cut, no driver loop) and execute in at most 2 (sf0.001),
    the same after a warm-up run and after clearing the cache."""
    for name in ("q_bpe_train", "q_bpe_encode"):
        fn = all_queries()[name].fn
        build_and_exec_jobs(spark, fn, SF_DIR)  # warm-up
        after_warm_up = build_and_exec_jobs(spark, fn, SF_DIR)
        spark.catalog.clearCache()
        assert build_and_exec_jobs(spark, fn, SF_DIR) == after_warm_up, name
        build_jobs, exec_jobs = after_warm_up
        assert build_jobs == 0, name
        assert exec_jobs <= 2, name


def test_bpe_train_matches_textbook_trainer(spark):
    rows = all_queries()["q_bpe_train"].fn(spark, SF_DIR).collect()
    got = sorted((r["merge_rank"], r["pair"], r["merged"], r["pair_count"]) for r in rows)
    expected, _ = _python_bpe(_corpus_word_counts(), BPE_MERGES)
    assert got == sorted(expected)


def test_bpe_encode_matches_textbook_histogram(spark):
    rows = all_queries()["q_bpe_encode"].fn(spark, SF_DIR).collect()
    got = {r["token"]: r["n_occurrences"] for r in rows}
    _, vocab = _python_bpe(_corpus_word_counts(), BPE_MERGES)
    expected: dict[str, int] = {}
    for syms, c in vocab.items():
        for s in syms:
            expected[s] = expected.get(s, 0) + c
    assert got == expected


def test_bpe_encode_conserves_words_and_ranks_are_dense(spark):
    """Corpus-independent invariants: every word occurrence ends in exactly
    one EOW-bearing token, so the EOW-token mass equals the corpus word
    count; and the merge table is dense ranks 0..M-1 with merged = pair
    minus its space and strictly positive support."""
    word_total = sum(_corpus_word_counts().values())
    enc = all_queries()["q_bpe_encode"].fn(spark, SF_DIR).collect()
    eow_mass = sum(r["n_occurrences"] for r in enc if BPE_EOW in r["token"])
    assert eow_mass == word_total

    tr = all_queries()["q_bpe_train"].fn(spark, SF_DIR).collect()
    assert sorted(r["merge_rank"] for r in tr) == list(range(BPE_MERGES))
    for r in tr:
        assert r["merged"] == r["pair"].replace(" ", "")
        assert r["pair_count"] > 0
