"""Byte-pair-encoding tokenizer over the documents corpus — vocab training
and corpus encoding as one word-count shuffle plus one Python task.

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
   (Heaps' law — sublinear in corpus size), never by corpus size.

Step 2 is a recurrence over a dictionary of tens of rows at the fixture
scales, so it runs as ONE Python task (``mapInPandas`` over the dictionary
coalesced to one partition — see _train), the way sentencepiece and HF
tokenizers train on type counts in one process. Both plans are lazy: no
job runs while they are built, and executing one is the word-count shuffle
plus the task. The task holds the whole dictionary, so the vocabulary
bound is checked in code: the trainer refuses a dictionary of more than
MAX_WORD_TYPES types with an error naming its size.

Cross-engine parity: the oracles unroll the same rounds in DuckDB SQL, and
the merge rewrite is written ONCE as ANSI text (_MERGE_SQL) that the
oracles run verbatim and _merge mirrors call for call in Python — padded
non-overlapping left-to-right ``replace`` behaves identically in both
(probe-verified). Ties order pair text by codepoint in Python and DuckDB
alike. Counts are BIGINT end-to-end.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..core.io import load_table
from ..core.registry import register

#: bounded merge budget — enough to merge the synthetic corpus's frequent
#: stems; rounds stop early once no adjacent pair is left
BPE_MERGES = 10

#: most word types the one training task holds in memory (a few hundred
#: bytes per type as Python strings and pair counts, so about a GB at
#: most); a corpus whose dictionary exceeds it needs a sharded trainer
MAX_WORD_TYPES = 2_000_000

#: end-of-word marker appended as its own symbol (classic BPE): merges may
#: absorb it (``n </w>`` -> ``n</w>``) so learned tokens distinguish suffixes
#: from prefixes; '<', '/', '>' never occur in the corpus's words, so the
#: marker cannot collide with real text
BPE_EOW = "</w>"

#: the merge rewrite as ANSI SQL — the oracles run this text verbatim and
#: _merge is the same chain in Python.
#: DOUBLE every separator first, so each symbol boundary carries two spaces
#: and the single-space-padded pattern consumes only ONE of them per side:
#: disjoint adjacent occurrences ('b a n a n a' + pair 'a n') then both
#: match — single-space padding under-merged there because the first match
#: swallowed the shared boundary space ('b an a n a' instead of the greedy
#: 'b an an a'). replace() is left-to-right non-overlapping in both engines
#: (probe-verified, including the 'a a a' -> 'aa a' overlap case), which
#: with intact boundaries IS the textbook greedy scan. Collapse the
#: doubled separators and trim U+0020 afterwards (DuckDB's bare trim would
#: also strip a U+00A0 symbol); NULL pair (no pairs left) passes the
#: sequence through.
_MERGE_SQL = (
    "CASE WHEN pair IS NULL THEN seq ELSE"
    " replace(trim(replace(' ' || replace(seq, ' ', '  ') || ' ',"
    " ' ' || replace(pair, ' ', '  ') || ' ',"
    " ' ' || replace(pair, ' ', '') || ' '), ' '), '  ', ' ') END"
)


def _merge(seq: str, pair: str) -> str:
    """_MERGE_SQL for a non-NULL pair. It strips ``" "`` only, as Spark SQL's
    ``trim`` and the SQL text's ``trim(..., ' ')`` do: the ``\\s+`` word
    split leaves characters such as U+00A0 inside words, and a bare
    ``strip()`` would eat them."""
    padded = " " + seq.replace(" ", "  ") + " "
    merged = padded.replace(" " + pair.replace(" ", "  ") + " ", " " + pair.replace(" ", "") + " ")
    return merged.strip(" ").replace("  ", " ")


def _train(seqs: list[str], weights: list[int]) -> tuple[list[tuple], list[str]]:
    """All BPE_MERGES rounds over the type dictionary: (merge table rows
    ``(rank, pair, merged, count)``, final symbol strings aligned with
    ``seqs``). Each round counts adjacent pairs weighted by word count,
    takes the arg-max by ``(-count, pair)`` and rewrites every type; the
    first round with no pair left ends training, as the oracles' empty
    ``LIMIT 1`` does."""
    if len(seqs) > MAX_WORD_TYPES:
        raise ValueError(
            f"BPE dictionary has {len(seqs)} word types, over MAX_WORD_TYPES={MAX_WORD_TYPES}"
        )
    merges: list[tuple] = []
    for rank in range(BPE_MERGES):
        counts: dict[str, int] = {}
        for seq, w in zip(seqs, weights):
            syms = seq.split(" ")
            for a, b in zip(syms, syms[1:]):
                p = a + " " + b
                counts[p] = counts.get(p, 0) + w
        if not counts:
            break
        pair, cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, pair, pair.replace(" ", ""), cnt))
        seqs = [_merge(s, pair) for s in seqs]
    return merges, seqs


def _dictionary(batches: Iterable[pd.DataFrame]) -> tuple[list[str], list[int]]:
    """The task's whole (seq, weight) input as two aligned lists."""
    seqs: list[str] = []
    weights: list[int] = []
    for b in batches:
        seqs += b["seq"].tolist()
        weights += b["weight"].tolist()
    return seqs, weights


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


def _oracle_rounds_cte() -> str:
    """WITH-clause body shared by both oracles: w0 (word types) and, per
    round i, p{i} (pair counts) / b{i} (argmax) / w{i+1} (rewrite). The
    rewrite CASE is the _MERGE_SQL text _merge mirrors. Every w{i}/b{i}
    is AS MATERIALIZED: each is referenced twice (pair count + rewrite /
    rewrite + final union), and DuckDB's default inlining re-expands the
    whole chain per reference — 2^BPE_MERGES re-scans of the corpus word
    count, which hung the sf10 sweep until the CTEs were pinned."""
    parts = [
        f"""w0 AS MATERIALIZED (
          SELECT array_to_string(string_split(w, ''), ' ') || ' {BPE_EOW}' AS seq,
                 CAST(count(*) AS BIGINT) AS weight
          FROM (SELECT unnest(string_split_regex(trim(text, ' '), '\\s+')) AS w FROM documents)
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
    symbol, weighted pair frequency) of up to BPE_MERGES rounds over the
    corpus's word types, trained in one task. The merge table IS the
    tokenizer — rank order is how an encoder replays it."""

    def train(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        merges, _ = _train(*_dictionary(batches))
        yield pd.DataFrame(merges, columns=["merge_rank", "pair", "merged", "pair_count"])

    return (
        _word_types(spark, sf_dir)
        .coalesce(1)
        .mapInPandas(train, "merge_rank bigint, pair string, merged string, pair_count bigint")
    )


@register(
    "q_bpe_encode",
    oracle=_ENCODE_ORACLE,
    tags=("text", "tokenizer", "iterative", "llm-pipeline"),
)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token histogram under the learned BPE vocabulary: every word
    occurrence decomposes into the merged subword symbols, aggregated to
    (token, n_occurrences). The training task returns each word TYPE's
    final symbol string with its corpus count re-attached, so the encode
    cost is vocabulary-scale, not corpus-scale (the real accounting behind
    'how many tokens is this 100 TB corpus')."""

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        seqs, weights = _dictionary(batches)
        _, final = _train(seqs, weights)
        yield pd.DataFrame({"seq": final, "weight": weights})

    words = _word_types(spark, sf_dir).coalesce(1).mapInPandas(encode, "seq string, weight bigint")
    return (
        words.select("weight", F.explode(F.split("seq", " ")).alias("token"))
        .groupBy("token")
        .agg(F.sum("weight").cast("bigint").alias("n_occurrences"))
    )
