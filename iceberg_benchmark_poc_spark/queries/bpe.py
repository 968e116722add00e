"""Byte-pair-encoding tokenizer over the documents corpus — vocab training
and corpus encoding as pure DataFrame plans.

The LLM-pipeline band's token accounting (q_token_stats) estimates with a
chars/4 heuristic; a real training-data pipeline costs its corpus with a
LEARNED vocabulary. This module trains one the way production BPE trainers
do (Sennrich et al. 2016, "Neural Machine Translation of Rare Words with
Subword Units" — the algorithm is public; no reference-repo counterpart,
this band is capability beyond the reference by design):

1. fold the corpus to WORD TYPES with counts — the only corpus-scale step,
   one map-side-combinable shuffle of the exploded whitespace tokens;
2. run ``BPE_MERGES`` merge rounds on the type dictionary: count adjacent
   symbol pairs weighted by word count, pick the most frequent (ties break
   on pair text so both engines agree), rewrite every type's symbol string.
   Everything after step 1 operates on data bounded by VOCABULARY size
   (Heaps' law — sublinear in corpus size), never by corpus size: that is
   what keeps the plan viable at 100 TB, where the dictionary still fits in
   a handful of partitions while the corpus does not.

Iteration collects the per-round 1-row argmax to the driver (the same
per-iteration-scalar class as the ``max(changed)`` convergence fold of
operators.graph.connected_components) and
chains the merge rewrite as literal replace expressions over ONE cut
type dictionary — one scheduler barrier per merge round, which is the
recurrence's inherent minimum (see _bpe_rounds).

Cross-engine parity: every string op in the hot path — char split via
``split(w, '')``, adjacent pairs via index ``transform``, merge via padded
non-overlapping left-to-right ``replace`` — was probe-verified to behave
identically in Spark and DuckDB; the merge expression itself is written
ONCE as ANSI text both engines evaluate (the module's _MERGE_SQL). Counts
are BIGINT end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..core.io import cut, load_table
from ..core.registry import register

#: bounded merge budget — enough to merge the synthetic corpus's frequent
#: stems while keeping the unrolled loop at one scheduler barrier per round
BPE_MERGES = 10

#: end-of-word marker appended as its own symbol (classic BPE): merges may
#: absorb it (``n </w>`` -> ``n</w>``) so learned tokens distinguish suffixes
#: from prefixes; '<', '/', '>' never occur in the corpus's words, so the
#: marker cannot collide with real text
BPE_EOW = "</w>"

#: the merge rewrite as ANSI SQL — the oracle runs this text verbatim, and
#: the Spark side applies the IDENTICAL algorithm as literal ``F.replace``
#: expressions with the collected pair (see _bpe_rounds).
#: DOUBLE every separator first, so each symbol boundary carries two spaces
#: and the single-space-padded pattern consumes only ONE of them per side:
#: disjoint adjacent occurrences ('b a n a n a' + pair 'a n') then both
#: match — single-space padding under-merged there because the first match
#: swallowed the shared boundary space ('b an a n a' instead of the greedy
#: 'b an an a'). replace() is left-to-right non-overlapping in both engines
#: (probe-verified, including the 'a a a' -> 'aa a' overlap case), which
#: with intact boundaries IS the textbook greedy scan. Collapse the
#: doubled separators and trim afterwards; NULL pair (no pairs left)
#: passes the sequence through.
_MERGE_SQL = (
    "CASE WHEN pair IS NULL THEN seq ELSE"
    " replace(trim(replace(' ' || replace(seq, ' ', '  ') || ' ',"
    " ' ' || replace(pair, ' ', '  ') || ' ',"
    " ' ' || replace(pair, ' ', '') || ' ')), '  ', ' ') END"
)

#: adjacent-pair extraction (Spark side; sequence(1,0) is DESCENDING, not
#: empty, so single-symbol rows are filtered before the transform)
_PAIRS_EXPR = (
    "transform(sequence(1, size(split(seq, ' ')) - 1),"
    " i -> concat(element_at(split(seq, ' '), i), ' ',"
    " element_at(split(seq, ' '), i + 1)))"
)


def _word_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(seq, weight): each distinct whitespace word as a space-joined symbol
    string with the EOW marker, weighted by corpus occurrences. The single
    corpus-scale shuffle in the module."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("weight"))
        .select(
            F.concat(F.concat_ws(" ", F.split("w", "")), F.lit(" " + BPE_EOW)).alias("seq"),
            "weight",
        )
    )


def _best_pair(words: DataFrame) -> DataFrame:
    """1-row (pair, cnt): the most frequent adjacent symbol pair, ties broken
    on pair text ascending — min over the (-cnt, pair) struct, so no sort and
    no limit; both engines order ASCII strings by codepoint."""
    pairs = (
        words.filter(F.expr("size(split(seq, ' ')) >= 2"))
        .select("weight", F.explode(F.expr(_PAIRS_EXPR)).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("weight").cast("bigint").alias("cnt"))
    )
    return (
        pairs.select(F.struct((-F.col("cnt")).alias("nc"), F.col("pair").alias("pair")).alias("s"))
        .agg(F.min("s").alias("s"))
        .select(F.col("s.pair").alias("pair"), (-F.col("s.nc")).cast("bigint").alias("cnt"))
    )


def _bpe_rounds(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, list[tuple]]:
    """Run BPE_MERGES rounds; returns (final word types, per-round
    (pair, cnt) scalars).

    The per-round 1-row argmax is COLLECTED to the driver (the same
    per-iteration-scalar class as q_dup_clusters' convergence fold: one row
    of constant size at any corpus scale) and the merge rewrite is applied
    as a literal expression — the BPE recurrence is inherently one
    synchronization barrier per merge, so the collect IS the barrier and
    everything else rides on it.

    Round i's words relation is the cut type dictionary with i literal
    replace expressions chained on top — no per-round cut, which would make
    every argmax read a fresh RDD (an extra scheduler job per round); the
    chained form re-applies i string replaces over the cut base inside the
    argmax's own scan stage. The rewrite chain is vocabulary-scale narrow
    work (BPE_MERGES * |types| replaces in total across the loop — at 10M
    types and 10 merges that is bounded map work fused into stages that
    already scan those rows), and the expression tree grows by a constant
    per round, so plan size stays trivial."""
    # narrow the cut dictionary: it is vocabulary-bounded (tens of rows
    # here, ~10M types at web scale — kilobytes per partition either way),
    # and every round job re-launches one task per partition, so width is
    # pure scheduler overhead
    words = cut(_word_types(spark, sf_dir).coalesce(8))
    bests: list[tuple] = []
    # AQE stays ON for the argmax collects. r11 turned it off on a job-count
    # argument (AQE materializes each exchange as its own scheduler job),
    # but the r12 A/B (commit 90b7d3f, interleaved medians on one host)
    # measured the OPPOSITE on wall: persist+AQE-on 2.31 s vs the committed
    # persist+AQE-off 2.55-2.60 s at sf0.1 — AQE's coalescing of the tiny
    # pair-aggregation shuffle outweighs its extra per-exchange jobs, and
    # the driver's PERF showed the off-form as the round's one regression
    # (0.88x). Dropping the toggle also removes the session-global conf
    # mutation (ADVICE r11: racy if queries ever run concurrently).
    for _ in range(BPE_MERGES):
        row = _best_pair(words).collect()[0]  # 1-row scalar argmax
        pair, cnt = row["pair"], row["cnt"]
        bests.append((pair, cnt))
        if pair is None:
            # no adjacent pair left anywhere: every later round is a no-op
            # (_MERGE_SQL's NULL case passed seq through unchanged)
            bests.extend([(None, None)] * (BPE_MERGES - len(bests)))
            break
        # literal form of _MERGE_SQL: double every separator, replace the
        # single-space-padded doubled pair with the merged symbol, collapse
        doubled_pair = " " + pair.replace(" ", "  ") + " "
        merged_pad = " " + pair.replace(" ", "") + " "
        padded = F.concat(
            F.lit(" "), F.replace(F.col("seq"), F.lit(" "), F.lit("  ")), F.lit(" ")
        )
        rewritten = F.replace(
            F.trim(F.replace(padded, F.lit(doubled_pair), F.lit(merged_pad))),
            F.lit("  "),
            F.lit(" "),
        )
        words = words.select(rewritten.alias("seq"), "weight")
    return words, bests


def _oracle_rounds_cte() -> str:
    """WITH-clause body shared by both oracles: w0 (word types) and, per
    round i, p{i} (pair counts) / b{i} (argmax) / w{i+1} (rewrite). The
    rewrite CASE is the same _MERGE_SQL text Spark runs. Every w{i}/b{i}
    is AS MATERIALIZED: each is referenced twice (pair count + rewrite /
    rewrite + final union), and DuckDB's default inlining re-expands the
    whole chain per reference — 2^BPE_MERGES re-scans of the corpus word
    count, which hung the sf10 sweep until the CTEs were pinned."""
    parts = [
        f"""w0 AS MATERIALIZED (
          SELECT array_to_string(string_split(w, ''), ' ') || ' {BPE_EOW}' AS seq,
                 CAST(count(*) AS BIGINT) AS weight
          FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents)
          GROUP BY w
        )"""
    ]
    for i in range(BPE_MERGES):
        parts.append(f"""p{i} AS (
          SELECT u.pair AS pair, CAST(sum(t.weight) AS BIGINT) AS cnt
          FROM (SELECT seq, weight, string_split(seq, ' ') AS arr
                FROM w{i} WHERE len(string_split(seq, ' ')) >= 2) t,
               UNNEST(list_transform(range(1, len(t.arr)),
                      j -> t.arr[j] || ' ' || t.arr[j + 1])) AS u(pair)
          GROUP BY u.pair
        )""")
        parts.append(
            f"b{i} AS MATERIALIZED (SELECT pair, cnt FROM p{i} ORDER BY cnt DESC, pair LIMIT 1)"
        )
        parts.append(f"""w{i + 1} AS MATERIALIZED (
          SELECT {_MERGE_SQL} AS seq, weight
          FROM w{i} LEFT JOIN b{i} ON TRUE
        )""")
    return ",\n".join(parts)


_TRAIN_ORACLE = "WITH " + _oracle_rounds_cte() + "\nSELECT * FROM (\n" + "\nUNION ALL\n".join(
    f"SELECT CAST({i} AS BIGINT) AS merge_rank, pair, replace(pair, ' ', '') AS merged,"
    f" cnt AS pair_count FROM b{i}"
    for i in range(BPE_MERGES)
) + "\n)"

_ENCODE_ORACLE = (
    "WITH "
    + _oracle_rounds_cte()
    + f"""
    SELECT u.token AS token, CAST(sum(t.weight) AS BIGINT) AS n_occurrences
    FROM (SELECT weight, string_split(seq, ' ') AS arr FROM w{BPE_MERGES}) t,
         UNNEST(t.arr) AS u(token)
    GROUP BY u.token
    """
)


@register(
    "q_bpe_train",
    oracle=_TRAIN_ORACLE,
    tags=("text", "tokenizer", "iterative", "llm-pipeline"),
)
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned BPE vocabulary: the ordered merge table (rank, pair, merged
    symbol, weighted pair frequency) after BPE_MERGES rounds over the
    corpus's word types. The merge table IS the tokenizer — rank order is
    how an encoder replays it."""
    _, bests = _bpe_rounds(spark, sf_dir)
    rows = [
        (i, pair, pair.replace(" ", "") if pair is not None else None, cnt)
        for i, (pair, cnt) in enumerate(bests)
    ]
    return spark.createDataFrame(
        rows, "merge_rank bigint, pair string, merged string, pair_count bigint"
    )


@register(
    "q_bpe_encode",
    oracle=_ENCODE_ORACLE,
    tags=("text", "tokenizer", "iterative", "llm-pipeline"),
)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token histogram under the learned BPE vocabulary: every word
    occurrence decomposes into the merged subword symbols, aggregated to
    (token, n_occurrences). Encoding rides the trained type dictionary —
    each word TYPE is rewritten once and its corpus count re-attached, so
    the encode cost is vocabulary-scale, not corpus-scale (the real
    accounting behind 'how many tokens is this 100 TB corpus')."""
    words, _ = _bpe_rounds(spark, sf_dir)
    return (
        words.select("weight", F.explode(F.split("seq", " ")).alias("token"))
        .groupBy("token")
        .agg(F.sum("weight").cast("bigint").alias("n_occurrences"))
    )
