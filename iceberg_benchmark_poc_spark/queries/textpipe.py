"""Training-data text-pipeline queries over the ``documents`` table.

The reference has no text surface at all — these operators exist because the
engine's north star is a 100 TB LLM-corpus pipeline (dedup, quality filtering,
language ID, fingerprinting). Everything is expression-level Spark SQL (no
Python UDFs): md5 is the only hash primitive, folded to a portable 60-bit
integer so the DuckDB oracle computes bit-identical values.

Scale design notes per query are in the docstrings; the common themes:
- shingle/word explosions feed map-side-combinable aggregations, so shuffles
  carry per-document rows, not per-token rows;
- pairwise similarity is only ever computed on LSH candidates or an explicit
  sample — never a blind corpus x corpus cross join;
- band-bucket self-joins are the skew hot spot (viral boilerplate text lands
  thousands of docs in one bucket) — AQE skew-join splitting handles that at
  scale, and the bucket key includes the full band signature so bucket
  cardinality stays bounded by true collisions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..core.fixtures import hash60, hash60_sql
from ..core.io import cut, load_table, spread_narrow, table_bounds
from ..core.registry import register
from ..operators.graph import connected_components
from ..operators.text import (
    LSH_ROWS_PER_BAND,
    MINHASH_K,
    PORTABLE_HASH_PRIME,
    jaccard_from_arrays,
    lsh_pairs_between,
    lsh_pairs_from_wide,
    minhash_from_arrays,
    shingle_arrays,
    simhash_sig,
)

STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "on", "for", "with", "as", "at", "by")
LANG_MARKER_THRESHOLD = 0.05  # stopword-ratio cut for the lang-id heuristic
NGRAM_SAMPLE_MOD = 25  # q_ngram_jaccard samples doc_id % 25 == 0 ...
NGRAM_SAMPLE_K = 32  # ... capped at 32 docs (doc_id < MOD*K) so the exact
#: all-pairs audit stays O(K^2) = 496 pairs no matter how large the corpus is
NGRAM_SAMPLE_CAP = NGRAM_SAMPLE_MOD * NGRAM_SAMPLE_K
BPE_TOKEN_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"  # letters / digits / single punct

_STOPLIST_SQL = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"

# words CTE over documents for the per-document oracles (identical
# tokenization on both sides: split on runs of whitespace after trim)
_WORDS_CTE = r"""
words AS (
  SELECT doc_id, lang, source, trim(text) AS txt,
         string_split_regex(trim(text), '\s+') AS ws
  FROM documents
)
"""


def _shingles_cte(src: str) -> str:
    """The words/widx/shingles/hashed CTEs over a (doc_id, text) relation:
    distinct word-trigram shingles (docs with < 3 words contribute the whole
    text as one shingle), hashed to the portable 60-bit space mod P — the
    DuckDB twin of operators.text.shingle_arrays."""
    return f"""
words AS (
  SELECT doc_id, trim(text) AS txt,
         string_split_regex(trim(text), '\\s+') AS ws
  FROM {src}
),
widx AS (
  SELECT doc_id, ws, generate_subscripts(ws, 1) AS i FROM words
),
shingles AS (
  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
  FROM widx WHERE i <= len(ws) - 2
  UNION
  SELECT DISTINCT doc_id, txt AS shingle FROM words WHERE len(ws) < 3
),
hashed AS (
  SELECT doc_id, shingle,
         (('0x' || substr(md5(shingle), 1, 15))::BIGINT) % {PORTABLE_HASH_PRIME} AS h
  FROM shingles
)"""


#: LSH candidates within one set: band collisions between distinct reps
_SELF_PAIRS = """
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
)"""


def _lsh_ctes(reps: str, pairs: str = _SELF_PAIRS) -> str:
    """The MinHash-LSH oracle chain over a (doc_id, text) relation ``reps``:
    _shingles_cte, then sigs (MINHASH_K minhashes per doc), bands, the
    candidate ``pairs`` CTE (band collisions; default within one set),
    sizes (shingles per doc) and inter (shared shingles per candidate pair)
    — the DuckDB twin of shingle_arrays -> minhash_from_arrays -> LSH pairs
    -> jaccard_from_arrays."""
    return f"""{_shingles_cte(reps)},
sigs AS (
  SELECT doc_id, CAST(k.range AS INTEGER) AS k,
         MIN(((k.range * 2 + 3) * h + (k.range * 5 + 7)) % {PORTABLE_HASH_PRIME}) AS minhash
  FROM hashed, range({MINHASH_K}) k
  GROUP BY 1, 2
),
bands AS (
  SELECT doc_id, CAST(floor(k / {LSH_ROWS_PER_BAND}) AS BIGINT) AS band,
         string_agg(CAST(k AS VARCHAR) || '=' || CAST(minhash AS VARCHAR), ':' ORDER BY k) AS band_sig
  FROM sigs GROUP BY 1, 2
),{pairs},
sizes AS (SELECT doc_id, count(*) AS n FROM hashed GROUP BY 1),
inter AS (
  SELECT p.doc_a, p.doc_b, count(sb.shingle) AS inter
  FROM pairs p
  JOIN hashed sa ON sa.doc_id = p.doc_a
  LEFT JOIN hashed sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2
)"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _text_classes(d: DataFrame, *aggs: F.Column) -> tuple[DataFrame, DataFrame]:
    """Exact-dup classes of ``d`` and their representatives' shingle sets.

    ``classes`` has one row per distinct text: (text, doc_id = the class's
    min doc_id, *aggs). ``docs_arr`` is shingle_arrays over the reps. The
    MinHash-LSH queries run over one rep per class (the duplication-depth
    guard; see q_fuzzy_pairs for the measured sf1 blow-up the all-pairs form
    suffers), so the shingle+hash construction runs once per distinct text.
    Both are cut: the class table feeds the self rows, the reps and the
    size joins, and the shingle sets feed both the signatures and the
    Jaccard verify.
    """
    classes = cut(d.groupBy("text").agg(F.min("doc_id").alias("doc_id"), *aggs))
    docs_arr = cut(shingle_arrays(classes.select("doc_id", "text")))
    return classes, docs_arr


def _quality_score(txt: F.Column, ws: F.Column) -> tuple[F.Column, F.Column]:
    """(stop_ratio, quality_score) columns — shared by q_text_quality and
    q_corpus_select so the two stay expression-identical (parity-verified
    against the matching SQL fragments below)."""
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(ws, lambda w: F.array_contains(stop_arr, w)))
    n_alpha = F.length(F.regexp_replace(txt, r"\s+", ""))
    stop_ratio = n_stop / F.size(ws)
    score = (
        F.least(F.size(ws) / F.lit(128.0), F.lit(1.0)) * 0.5
        + stop_ratio * 0.3
        + F.least(n_alpha / F.size(ws) / F.lit(8.0), F.lit(1.0)) * 0.2
    )
    return stop_ratio, score


#: DuckDB twins of _quality_score over (txt, ws) columns
_STOP_RATIO_SQL = f"len(list_filter(ws, w -> list_contains({_STOPLIST_SQL}, w))) / len(ws)"
_SCORE_SQL = (
    f"least(len(ws) / 128.0, 1.0) * 0.5 + {_STOP_RATIO_SQL} * 0.3"
    " + least(length(regexp_replace(txt, '\\s+', '', 'g')) / len(ws) / 8.0, 1.0) * 0.2"
)


# ---------------------------------------------------------------------------
# corpus statistics + exact dedup
# ---------------------------------------------------------------------------


@register(
    "q_doc_stats",
    oracle="""
        SELECT lang, source,
               count(*)                      AS n_docs,
               CAST(sum(n_chars) AS BIGINT)  AS total_chars,
               sum(n_chars) / count(*)       AS avg_chars
        FROM documents
        GROUP BY lang, source
        """,
    tags=("text", "agg"),
)
def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile: document counts and sizes per (lang, source).

    The first query of any corpus intake job. Grouped aggregation with
    map-side partials — shuffle carries |lang| x |source| rows only.
    """
    d = _docs(spark, sf_dir)
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        (F.sum("n_chars") / F.count("*")).alias("avg_chars"),
    )


@register(
    "q_dedup_exact",
    oracle="""
        SELECT md5(text)     AS text_hash,
               count(*)      AS n_copies,
               min(doc_id)   AS keeper_id
        FROM documents
        GROUP BY md5(text)
        """,
    tags=("text", "dedup"),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact deduplication: hash-groupBy on full text, keep lowest doc_id.

    The canonical first dedup pass: group on md5(text) (never on the text
    itself — the shuffle key must be fixed-width at 100 TB), count copies,
    elect min(doc_id) as the keeper. Downstream: semi-join documents against
    keeper ids.
    """
    d = _docs(spark, sf_dir)
    return d.groupBy(F.md5("text").alias("text_hash")).agg(
        F.count("*").alias("n_copies"),
        F.min("doc_id").alias("keeper_id"),
    )


# ---------------------------------------------------------------------------
# per-document text analysis
# ---------------------------------------------------------------------------


@register(
    "q_text_quality",
    oracle=f"""
        SELECT doc_id,
               length(txt)                                  AS n_chars,
               len(ws)                                      AS n_ws_tokens,
               len(regexp_extract_all(txt, '{BPE_TOKEN_PATTERN}'))
                                                            AS n_bpe_tokens,
               length(regexp_replace(txt, '\\s+', '', 'g')) AS n_alpha_chars,
               len(list_filter(ws, w -> list_contains({_STOPLIST_SQL}, w))) / len(ws)
                                                            AS stop_ratio,
               least(len(ws) / 128.0, 1.0) * 0.5
                 + len(list_filter(ws, w -> list_contains({_STOPLIST_SQL}, w))) / len(ws) * 0.3
                 + least(length(regexp_replace(txt, '\\s+', '', 'g')) / len(ws) / 8.0, 1.0) * 0.2
                                                            AS quality_score
        FROM (SELECT doc_id, trim(text) AS txt, string_split_regex(trim(text), '\\s+') AS ws
              FROM documents) w
        """,
    tags=("text", "quality"),
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality scoring: length / token / stopword signals.

    The quality-filter features an LLM-corpus pipeline computes per document:
    whitespace token count, BPE-ish regex token count, non-space chars,
    stopword ratio, and a weighted score. Pure narrow projection — whole-stage
    codegen, zero shuffle, linear scan at any scale.
    """
    d = _docs(spark, sf_dir)
    txt = F.trim(F.col("text"))
    ws = F.split(txt, r"\s+")
    n_alpha = F.length(F.regexp_replace(txt, r"\s+", ""))
    stop_ratio, score = _quality_score(txt, ws)
    return d.select(
        "doc_id",
        F.length(txt).alias("n_chars"),
        F.size(ws).alias("n_ws_tokens"),
        F.regexp_count(txt, F.lit(BPE_TOKEN_PATTERN)).alias("n_bpe_tokens"),
        n_alpha.alias("n_alpha_chars"),
        stop_ratio.alias("stop_ratio"),
        score.alias("quality_score"),
    )


@register(
    "q_lang_id",
    oracle=f"""
        WITH scored AS (
          SELECT lang,
                 len(list_filter(string_split_regex(trim(text), '\\s+'),
                                 w -> list_contains({_STOPLIST_SQL}, w)))
                   / len(string_split_regex(trim(text), '\\s+')) AS marker_ratio
          FROM documents
        )
        SELECT lang,
               CASE WHEN marker_ratio >= {LANG_MARKER_THRESHOLD} THEN 'en' ELSE 'und' END
                                                            AS predicted_lang,
               count(*)                                     AS n_docs,
               CAST(sum(CAST(marker_ratio AS DECIMAL(38,12))) AS DOUBLE) / count(*)
                                                            AS avg_marker_ratio
        FROM scored
        GROUP BY 1, 2
        """,
    tags=("text", "lang-id"),
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic confusion matrix (marker-word voting).

    A minimal n-gram-style language detector: the ratio of tokens that are
    English marker words decides 'en' vs 'und'; grouped against the labeled
    lang column this yields the detector's confusion matrix. In production the
    marker list generalizes to per-language character-n-gram profiles — the
    plan shape (narrow scan -> tiny grouped agg) is unchanged.
    """
    d = _docs(spark, sf_dir)
    ws = F.split(F.trim(F.col("text")), r"\s+")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    ratio = F.size(F.filter(ws, lambda w: F.array_contains(stop_arr, w))) / F.size(ws)
    scored = d.select("lang", ratio.alias("marker_ratio"))
    return scored.groupBy(
        "lang",
        F.when(F.col("marker_ratio") >= LANG_MARKER_THRESHOLD, F.lit("en")).otherwise(F.lit("und")).alias(
            "predicted_lang"
        ),
    ).agg(
        F.count("*").alias("n_docs"),
        (F.sum(F.col("marker_ratio").cast("decimal(38,12)")).cast("double") / F.count("*")).alias(
            "avg_marker_ratio"
        ),
    )


@register(
    "q_fingerprint",
    oracle=f"""
        SELECT doc_id,
               len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
               list_reduce(
                 list_prepend(
                   CAST(0 AS BIGINT),
                   list_transform(string_split_regex(trim(text), '\\s+'),
                                  w -> (('0x' || substr(md5(w), 1, 15))::BIGINT) % {PORTABLE_HASH_PRIME})),
                 (acc, x) -> (acc * 31 + x) % {PORTABLE_HASH_PRIME}) AS fingerprint
        FROM documents
        """,
    tags=("text", "fingerprint"),
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive document fingerprint: polynomial rolling hash.

    fp = fold(words, acc -> (acc*31 + h60(word) mod P) mod P) — unlike a
    bag-of-words hash this distinguishes word order, so it detects exact
    near-prefix duplication. One expression per row, no shuffle; fingerprints
    are then dedup keys exactly like q_dedup_exact's md5.
    """
    d = _docs(spark, sf_dir)
    ws = F.split(F.trim(F.col("text")), r"\s+")
    fp = F.aggregate(
        ws,
        F.lit(0).cast("bigint"),
        lambda acc, w: (acc * 31 + hash60(w) % PORTABLE_HASH_PRIME) % PORTABLE_HASH_PRIME,
    )
    return d.select("doc_id", F.size(ws).alias("n_tokens"), fp.alias("fingerprint"))


# ---------------------------------------------------------------------------
# near-duplicate detection: minhash-LSH, n-gram jaccard, simhash
# ---------------------------------------------------------------------------


@register(
    "q_minhash_dedup",
    oracle=f"""
        WITH classes AS (
          SELECT min(doc_id) AS doc_id, count(*) AS n, text
          FROM documents GROUP BY text
        ),
        {_lsh_ctes("classes")}
        SELECT doc_id AS rep_a, doc_id AS rep_b,
               CAST(1.0 AS DOUBLE) AS jaccard,
               (n * (n - 1)) // 2  AS n_pairs
        FROM classes WHERE n >= 2
        UNION ALL
        SELECT i.doc_a                             AS rep_a,
               i.doc_b                             AS rep_b,
               i.inter / (za.n + zb.n - i.inter)   AS jaccard,
               ca.n * cb.n                         AS n_pairs
        FROM inter i
        JOIN sizes za ON za.doc_id = i.doc_a
        JOIN sizes zb ON zb.doc_id = i.doc_b
        JOIN classes ca ON ca.doc_id = i.doc_a
        JOIN classes cb ON cb.doc_id = i.doc_b
        """,
    tags=("text", "dedup", "lsh"),
)
def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-duplicate candidates with exact Jaccard
    verification, over exact-dup equivalence classes.

    Documents collapse to identical-text classes FIRST (size + min-doc_id
    representative); the whole pipeline then runs over one representative
    per class: shingle (word trigrams, packed arrays) -> 8 minhashes per
    rep (array_min over transformed hash arrays — zero shuffles) -> 4 LSH
    bands -> band-bucket self-join for candidates -> exact shingle Jaccard
    (array_intersect) only on candidates. Within-class duplicates
    contribute one jaccard=1.0 row per class with the n*(n-1)/2 pair count
    in closed form; cross rows carry size products, so the doc-level pair
    list stays recoverable by membership join.

    Scale: collapsing first is doubly load-bearing here — besides making
    candidates/output a function of DISTINCT content (invariant to
    duplication depth; see q_fuzzy_pairs for the measured sf1 blow-up the
    all-pairs form suffers), it also runs the expensive shingle+hash
    construction once per distinct text instead of once per copy. Corpus x
    corpus comparison cost collapses from O(n^2) to O(collisions), and
    per-shingle rows never hit a shuffle: the only shuffled shapes are
    n_classes x 4 band strings and the candidate reps' shingle arrays.

    The class table and the shingled reps come from _text_classes.
    """
    classes, docs_arr = _text_classes(_docs(spark, sf_dir), F.count("*").alias("n"))
    self_pairs = classes.filter(F.col("n") >= 2).select(
        F.col("doc_id").alias("rep_a"),
        F.col("doc_id").alias("rep_b"),
        F.lit(1.0).alias("jaccard"),
        F.expr("n * (n - 1) DIV 2").alias("n_pairs"),
    )
    sigs = minhash_from_arrays(docs_arr)
    pairs = lsh_pairs_from_wide(sigs)
    jac = jaccard_from_arrays(pairs, docs_arr)
    cross = (
        jac.join(classes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(classes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .select(
            F.col("doc_a").alias("rep_a"),
            F.col("doc_b").alias("rep_b"),
            "jaccard",
            (F.col("na") * F.col("nb")).alias("n_pairs"),
        )
    )
    return self_pairs.unionByName(cross)


#: containment floor for calling one document a near-subset of another
CONTAINMENT_MIN = 0.8


@register(
    "q_containment",
    oracle=f"""
        WITH classes AS (
          SELECT min(doc_id) AS doc_id, count(*) AS n_copies, text
          FROM documents GROUP BY text
        ),
        {_lsh_ctes("classes")},
        dirs AS (
          SELECT i.doc_a AS doc_id, i.doc_b AS within_id, i.inter, za.n
          FROM inter i JOIN sizes za ON za.doc_id = i.doc_a
          UNION ALL
          SELECT i.doc_b, i.doc_a, i.inter, zb.n
          FROM inter i JOIN sizes zb ON zb.doc_id = i.doc_b
        )
        SELECT c.doc_id, c.doc_id AS within_id,
               CAST(1.0 AS DOUBLE)  AS containment,
               CAST(s.n AS BIGINT)  AS n_shingles,
               c.n_copies * (c.n_copies - 1) AS n_pairs
        FROM classes c JOIN sizes s ON s.doc_id = c.doc_id
        WHERE c.n_copies >= 2
        UNION ALL
        SELECT d.doc_id, d.within_id,
               d.inter / d.n        AS containment,
               CAST(d.n AS BIGINT)  AS n_shingles,
               ca.n_copies * cb.n_copies AS n_pairs
        FROM dirs d
        JOIN classes ca ON ca.doc_id = d.doc_id
        JOIN classes cb ON cb.doc_id = d.within_id
        WHERE d.inter / d.n >= CAST({CONTAINMENT_MIN} AS DOUBLE)
        """,
    tags=("text", "dedup", "lsh", "containment"),
)
def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle containment: documents that are near-SUBSETS of another doc.

    Symmetric Jaccard misses the quote/excerpt case — a short document fully
    contained in a long one scores low Jaccard (union is large) but
    containment C(A,B) = |S(A) n S(B)| / |S(A)| ~= 1. This is the measure a
    training pipeline needs for boilerplate excerpts and doc-in-doc
    duplication; the drop action is `doc_id` (the contained side), keeping
    `within_id` (the container).

    Documents collapse to identical-text classes first (the family-wide
    duplication-depth guard — see q_fuzzy_pairs for the measured sf1
    blow-up); both directions of every LSH band-collision candidate pair
    OF REPRESENTATIVES are then scored, so a class pair contributes up to
    two rows carrying the n_copies product, and classes with n >= 2 emit
    one containment=1.0 self row with the n*(n-1) ordered-pair count in
    closed form. Scale shape is otherwise identical to q_minhash_dedup
    (same classes, banded candidate generation and jaccard_from_arrays
    verify on candidates only — containment reads its inter and set
    sizes); recall is bounded by the Jaccard-band collision
    probability, the standard limitation of reusing a symmetric index for
    asymmetric search — at production scale the band index is rebuilt over
    suffix-anchored shingle samples to recover low-Jaccard containment
    pairs.
    """
    classes, docs_arr = _text_classes(_docs(spark, sf_dir), F.count("*").alias("n_copies"))
    self_rows = (
        classes.filter(F.col("n_copies") >= 2)
        .join(docs_arr.select("doc_id", F.size("sh_arr").alias("n_sh")), "doc_id")
        .select(
            "doc_id",
            F.col("doc_id").alias("within_id"),
            F.lit(1.0).alias("containment"),
            F.col("n_sh").cast("bigint").alias("n_shingles"),
            (F.col("n_copies") * (F.col("n_copies") - 1)).alias("n_pairs"),
        )
    )
    j = jaccard_from_arrays(lsh_pairs_from_wide(minhash_from_arrays(docs_arr)), docs_arr)
    # both directions explode from ONE row: a union of two selects over j
    # would plan the candidate-join + array_intersect subtree twice (only
    # exchanges are reused), doubling the verify work per candidate pair
    both = j.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("doc_id"),
                    F.col("doc_b").alias("within_id"),
                    (F.col("inter") / F.col("size_a")).alias("containment"),
                    F.col("size_a").cast("bigint").alias("n_shingles"),
                ),
                F.struct(
                    F.col("doc_b").alias("doc_id"),
                    F.col("doc_a").alias("within_id"),
                    (F.col("inter") / F.col("size_b")).alias("containment"),
                    F.col("size_b").cast("bigint").alias("n_shingles"),
                ),
            )
        ).alias("d")
    ).select("d.doc_id", "d.within_id", "d.containment", "d.n_shingles")
    cross = (
        both.filter(F.col("containment") >= CONTAINMENT_MIN)
        .join(
            classes.select(F.col("doc_id"), F.col("n_copies").alias("nc_a")), "doc_id"
        )
        .join(
            classes.select(
                F.col("doc_id").alias("within_id"), F.col("n_copies").alias("nc_b")
            ),
            "within_id",
        )
        .select(
            "doc_id",
            "within_id",
            "containment",
            "n_shingles",
            (F.col("nc_a") * F.col("nc_b")).alias("n_pairs"),
        )
    )
    return self_rows.unionByName(cross)


@register(
    "q_ngram_jaccard",
    oracle=f"""
        WITH {_WORDS_CTE.strip()},
        sample AS (SELECT doc_id, txt, ws FROM words
                   WHERE doc_id % {NGRAM_SAMPLE_MOD} = 0 AND doc_id < {NGRAM_SAMPLE_CAP}),
        sidx AS (SELECT doc_id, ws, generate_subscripts(ws, 1) AS i FROM sample),
        grams AS (
          SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] AS gram
          FROM sidx WHERE i <= len(ws) - 1
          UNION
          SELECT DISTINCT doc_id, txt AS gram FROM sample WHERE len(ws) < 2
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM sample a JOIN sample b ON a.doc_id < b.doc_id
        ),
        inter AS (
          SELECT p.doc_a, p.doc_b, count(gb.gram) AS inter
          FROM pairs p
          JOIN grams ga ON ga.doc_id = p.doc_a
          LEFT JOIN grams gb ON gb.doc_id = p.doc_b AND gb.gram = ga.gram
          GROUP BY 1, 2
        )
        SELECT i.doc_a, i.doc_b,
               i.inter / (za.n + zb.n - i.inter) AS jaccard
        FROM inter i
        JOIN sizes za ON za.doc_id = i.doc_a
        JOIN sizes zb ON zb.doc_id = i.doc_b
        """,
    tags=("text", "dedup"),
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-bigram Jaccard over a deterministic document sample.

    The exact similarity measure LSH approximates, computed on a fixed-size
    deterministic sample (doc_id % 25 == 0, capped at 32 docs) so the
    all-pairs cost is a constant 496 pairs at ANY corpus size — the pair
    count does not grow with scale factor. Each sampled doc's distinct
    bigrams stay packed in one array and the pairs are verified by
    jaccard_from_arrays, the operator the MinHash-LSH queries verify their
    candidates with; at full scale this measure only ever runs on candidates
    or audit samples, never the whole corpus.
    """
    d = _docs(spark, sf_dir)
    # bind the word array as a column before the lambda (see word_shingles)
    sample = d.filter(
        (F.col("doc_id") % NGRAM_SAMPLE_MOD == 0) & (F.col("doc_id") < NGRAM_SAMPLE_CAP)
    ).select(
        "doc_id",
        F.trim(F.col("text")).alias("txt"),
        F.split(F.trim(F.col("text")), r"\s+").alias("ws"),
    )
    ws = F.col("ws")
    n = F.size(ws)
    bigrams_arr = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(" ", F.element_at(ws, i), F.element_at(ws, i + 1)),
        ),
    ).otherwise(F.array(F.col("txt")))
    grams = sample.select("doc_id", F.array_distinct(bigrams_arr).alias("sh_arr"))
    ids = sample.select("doc_id")
    pairs = (
        ids.select(F.col("doc_id").alias("doc_a"))
        .crossJoin(ids.select(F.col("doc_id").alias("doc_b")))
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    # bigram sets play the shingle sets
    return jaccard_from_arrays(pairs, grams).select("doc_a", "doc_b", "jaccard")


#: the 60-bit SimHash signature build, shared by q_simhash and q_simhash_pairs
_SIMHASH_CTE = """
        dwords AS (
          SELECT DISTINCT doc_id, w
          FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
                FROM documents)
          WHERE w <> ''
        ),
        hw AS (
          SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM dwords
        ),
        votes AS (
          SELECT doc_id, CAST(b.range AS INTEGER) AS b,
                 SUM(((h >> CAST(b.range AS INTEGER)) & 1) * 2 - 1) AS v
          FROM hw, range(60) b
          GROUP BY 1, 2
        ),
        sigs60 AS (
          SELECT doc_id,
                 CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT)
                   AS simhash
          FROM votes
          GROUP BY doc_id
        )
"""


@register(
    "q_simhash",
    oracle=f"""
        WITH {_SIMHASH_CTE.strip()}
        SELECT doc_id, simhash FROM sigs60
        """,
    tags=("text", "dedup", "simhash"),
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash signature per document.

    Distinct words vote ±1 on each signature bit of their 60-bit hash; the
    majority sign packs into a 60-bit integer (the full portable-hash width:
    16 bits proved too narrow — template-heavy corpora pushed most pairs
    within hamming 3, see q_simhash_pairs). Near-duplicates then reduce to
    hamming-distance <= d over an integer column — a cheap self-join on
    signature bands, no text comparison at all. The signature is built in
    one groupBy pass with 60 per-bit aggregate expressions; shuffle volume
    is one partial row per doc, independent of document length.
    """
    # spread a narrow scan before the per-word hashing: the signature build
    # is pure map work until its one per-doc shuffle, so a single-row-group
    # local scan would run it in ONE task (r12 A/B 2.56x, commit
    # e9022f9); no-op at production split counts
    d = spread_narrow(_docs(spark, sf_dir), "doc_id")
    return simhash_sig(d)


# ---------------------------------------------------------------------------
# end-to-end training-set selection
# ---------------------------------------------------------------------------

QUALITY_MIN = 0.35  # ~median of the synthetic corpus: keeps about half
TOKEN_BUDGET = 8000  # absolute BPE-token budget for the selected set

#: selection stage shared by q_corpus_select and q_shard_pack, defined ONCE
#: per dialect (like _quality_score) so budget admission and shard layout
#: cannot drift: exact-dedup keeper election, then quality + lang gates.
_CAND_CTE = f"""
        feat AS (
          SELECT doc_id, md5(text) AS text_hash,
                 len(regexp_extract_all(txt, '{BPE_TOKEN_PATTERN}')) AS n_bpe_tokens,
                 {_STOP_RATIO_SQL} AS marker_ratio,
                 {_SCORE_SQL} AS quality_score
          FROM (SELECT doc_id, text, trim(text) AS txt,
                       string_split_regex(trim(text), '\\s+') AS ws
                FROM documents)
        ),
        keep AS (SELECT min(doc_id) AS doc_id FROM feat GROUP BY text_hash),
        cand AS (
          SELECT f.doc_id, f.n_bpe_tokens, f.quality_score
          FROM feat f JOIN keep k ON k.doc_id = f.doc_id
          WHERE f.quality_score >= CAST({QUALITY_MIN} AS DOUBLE)
            AND f.marker_ratio >= CAST({LANG_MARKER_THRESHOLD} AS DOUBLE)
        )"""


def _quality_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_bpe_tokens, quality_score) survivors of the selection
    stage — the Spark twin of _CAND_CTE."""
    d = _docs(spark, sf_dir)
    txt = F.trim(F.col("text"))
    ws = F.split(txt, r"\s+")
    stop_ratio, score = _quality_score(txt, ws)
    feat = d.select(
        "doc_id",
        F.md5("text").alias("text_hash"),
        F.regexp_count(txt, F.lit(BPE_TOKEN_PATTERN)).alias("n_bpe_tokens"),
        stop_ratio.alias("marker_ratio"),
        score.alias("quality_score"),
    )
    # keeper election in ONE pass: min_by pulls the min-doc_id row per
    # identical-text class directly out of the hash aggregation. The old
    # min-per-class + semi-join-back form planned the scoring subtree twice
    # (two scans of documents, two md5 passes, plus a doc_id join exchange);
    # this is one scan, one text_hash shuffle of narrow feature rows, no
    # join. Equivalent because doc_id is unique: the min_by winner IS the
    # row whose doc_id equals the class minimum.
    keeper = F.min_by(
        F.struct("doc_id", "n_bpe_tokens", "marker_ratio", "quality_score"), F.col("doc_id")
    ).alias("k")
    return (
        feat.groupBy("text_hash")
        .agg(keeper)
        .filter(
            (F.col("k.quality_score") >= F.lit(QUALITY_MIN))
            & (F.col("k.marker_ratio") >= F.lit(LANG_MARKER_THRESHOLD))
        )
        .select("k.doc_id", "k.n_bpe_tokens", "k.quality_score")
    )



@register(
    "q_corpus_select",
    oracle=f"""
        WITH {_CAND_CTE.strip()}
        SELECT doc_id, n_bpe_tokens, quality_score, cum_tokens
        FROM (
          SELECT *, CAST(SUM(n_bpe_tokens) OVER (
                   ORDER BY quality_score DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS cum_tokens
          FROM cand
        )
        WHERE cum_tokens <= {TOKEN_BUDGET}
        """,
    tags=("text", "pipeline", "dedup", "quality"),
)
def q_corpus_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-set selection: dedup -> quality gate -> token budget.

    The pipeline composition the individual text operators exist for: keep
    one copy per exact-duplicate class (q_dedup_exact's keeper election),
    drop documents below the quality and language-marker floors
    (q_text_quality / q_lang_id's signals), then admit the best-quality
    documents greedily until an absolute BPE-token budget is hit — the same
    prefix-sum admission as the reference's bin-packing spill policy
    (poc/test_density_adaptive_policy.py:313-327), applied to corpus
    curation.

    Scale: dedup + scoring shuffle by fixed-width hash only. The running
    token total is the two-phase distributed prefix sum
    (operators.prefix.global_prefix_sum): range-partition on (quality desc,
    doc_id), per-range local cumsum, broadcast base offsets — no task ever
    sorts more than its own key range, and the only single-partition step
    is the |ranges|-row totals table. Candidate volume is already
    quality-filtered metadata (doc_id + two numbers), not text.
    """
    cand = _quality_candidates(spark, sf_dir)
    from ..operators.prefix import global_prefix_sum

    # range buckets (operators/prefix.py): the candidate score domain is
    # FIXED by construction — the quality gate floors it at QUALITY_MIN and
    # the score formula caps at 1.0 — so the descending order maps to
    # ascending buckets of the NEGATED score with literal bounds. cand holds
    # exactly the order and value columns, so both phases share one exchange.
    summed = global_prefix_sum(
        cand,
        [F.col("quality_score").desc(), F.col("doc_id")],
        F.col("n_bpe_tokens"),
        "cum_tokens",
        bucket=(-F.col("quality_score"), -1.0, -float(QUALITY_MIN), 64),
    )
    return (
        summed.withColumn("cum_tokens", F.col("cum_tokens").cast("bigint"))
        .filter(F.col("cum_tokens") <= TOKEN_BUDGET)
        .select("doc_id", "n_bpe_tokens", "quality_score", "cum_tokens")
    )


# ---------------------------------------------------------------------------
# incremental dedup: incoming batch vs the standing corpus
# ---------------------------------------------------------------------------

INCOMING_SOURCE = "src19"  # the fixture's last source plays the new batch
NEAR_JACCARD = 0.5  # band candidates at/above this are near-duplicates

#: q_incremental_dedup's LSH candidates: (incoming rep, corpus rep) band
#: collisions, the oracle twin of lsh_pairs_between
_INC_PAIRS = """
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN inc_classes ia ON ia.doc_id = a.doc_id
  JOIN bands b ON b.band = a.band AND b.band_sig = a.band_sig
  JOIN corp_classes cb ON cb.doc_id = b.doc_id
)"""


@register(
    "q_incremental_dedup",
    oracle=f"""
        WITH corp_classes AS (
          SELECT min(doc_id) AS doc_id, count(*) AS nc, text
          FROM documents WHERE source <> '{INCOMING_SOURCE}' GROUP BY text
        ),
        inc_classes AS (
          SELECT min(doc_id) AS doc_id, text
          FROM documents WHERE source = '{INCOMING_SOURCE}' GROUP BY text
        ),
        reps AS (
          SELECT doc_id, text FROM corp_classes
          UNION ALL
          SELECT doc_id, text FROM inc_classes
        ),
        {_lsh_ctes("reps", _INC_PAIRS)},
        jac AS (
          SELECT i.doc_a, i.doc_b, i.inter / (za.n + zb.n - i.inter) AS j
          FROM inter i
          JOIN sizes za ON za.doc_id = i.doc_a
          JOIN sizes zb ON zb.doc_id = i.doc_b
        ),
        cand AS (
          SELECT j.doc_a AS doc_id,
                 CAST(SUM(cb.nc) AS BIGINT) AS n_band_candidates,
                 max(j.j) AS max_jaccard
          FROM jac j JOIN corp_classes cb ON cb.doc_id = j.doc_b
          GROUP BY 1
        ),
        exact AS (
          SELECT ic.doc_id
          FROM inc_classes ic JOIN corp_classes cc ON cc.text = ic.text
        )
        SELECT i.doc_id,
               (e.doc_id IS NOT NULL)                          AS exact_dup,
               COALESCE(c.n_band_candidates, 0)                AS n_band_candidates,
               COALESCE(c.max_jaccard, CAST(0 AS DOUBLE))      AS max_jaccard,
               CASE WHEN e.doc_id IS NOT NULL THEN 'drop_exact'
                    WHEN COALESCE(c.max_jaccard, CAST(0 AS DOUBLE)) >= CAST({NEAR_JACCARD} AS DOUBLE)
                      THEN 'drop_near'
                    ELSE 'keep' END                            AS verdict
        FROM documents i
        JOIN inc_classes m ON m.text = i.text
        LEFT JOIN exact e ON e.doc_id = m.doc_id
        LEFT JOIN cand c ON c.doc_id = m.doc_id
        WHERE i.source = '{INCOMING_SOURCE}'
        """,
    tags=("text", "dedup", "lsh", "incremental"),
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: screen an incoming batch against the standing corpus.

    The steady-state form of dedup in a continuously-ingesting pipeline —
    q_minhash_dedup's self-join is the backfill, this is the increment: each
    new document is checked for (a) exact text collision with the corpus and
    (b) minhash band collision, with candidates verified by exact Jaccard.
    Verdict: drop_exact / drop_near (max candidate Jaccard >= 0.5) / keep.

    Scale: the corpus never rescans — its md5 hashes and band rows are a
    standing index (bucketed by hash/band at rest), and the incoming batch
    joins into it, shuffling only the batch's own hashes and band strings.
    Jaccard verification touches only colliding pairs' shingle arrays.
    Both sides collapse to identical-text classes before shingling (the
    family-wide duplication-depth guard): band collisions and Jaccard run
    once per distinct text, and the per-document output is recovered by
    membership join — bit-identical to the uncollapsed form, because
    identical corpus copies all collide exactly when their representative
    does (n_band_candidates is the sum of candidate class sizes) and
    identical incoming docs score identically.
    """
    d = _docs(spark, sf_dir)
    incoming = d.filter(F.col("source") == INCOMING_SOURCE)

    # BOTH class tables from ONE groupBy(text) over the whole table with
    # conditional aggregates (r12): the old form filtered documents twice,
    # shuffled each side's classes separately, and semi-joined incoming
    # classes against corpus texts for the exact-collision flag — two scans,
    # two text shuffles, one join. Here one scan and one text shuffle
    # produce corpus classes, incoming classes, AND the exact flag (a class
    # with doc ids on both sides IS an exact collision) as column filters
    # over one cut relation.
    classes = cut(
        d.groupBy("text").agg(
            F.min(F.when(F.col("source") == INCOMING_SOURCE, F.col("doc_id"))).alias("inc_id"),
            F.min(F.when(F.col("source") != INCOMING_SOURCE, F.col("doc_id"))).alias("corp_id"),
            F.count(F.when(F.col("source") != INCOMING_SOURCE, F.lit(1))).alias("nc"),
        )
    )
    corp_classes = classes.filter(F.col("corp_id").isNotNull()).select(
        "text", F.col("corp_id").alias("doc_id"), "nc"
    )
    inc_classes = classes.filter(F.col("inc_id").isNotNull()).select(
        "text", F.col("inc_id").alias("doc_id")
    )
    exact = classes.filter(
        F.col("inc_id").isNotNull() & F.col("corp_id").isNotNull()
    ).select(F.col("inc_id").alias("rep"), F.lit(True).alias("exact_flag"))

    # cut: each side feeds two consumers (minhash signatures and the
    # Jaccard verify) — without this the dominant-cost tokenize+trigram+md5
    # pass runs twice per side (same pattern as _text_classes)
    inc_arr = cut(shingle_arrays(inc_classes.select("doc_id", "text")))
    corp_arr = cut(shingle_arrays(corp_classes.select("doc_id", "text")))
    pairs = lsh_pairs_between(minhash_from_arrays(inc_arr), minhash_from_arrays(corp_arr))
    jac = jaccard_from_arrays(pairs, inc_arr.unionByName(corp_arr))
    cand = (
        jac.join(corp_classes.select(F.col("doc_id").alias("doc_b"), "nc"), "doc_b")
        .groupBy(F.col("doc_a").alias("rep"))
        .agg(
            F.sum("nc").alias("n_band_candidates"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )

    membership = incoming.select("doc_id", "text").join(
        inc_classes.select("text", F.col("doc_id").alias("rep")), "text"
    )
    base = membership.join(exact, "rep", "left").join(cand, "rep", "left")
    max_jac = F.coalesce(F.col("max_jaccard"), F.lit(0.0))
    return base.select(
        "doc_id",
        F.coalesce(F.col("exact_flag"), F.lit(False)).alias("exact_dup"),
        F.coalesce(F.col("n_band_candidates"), F.lit(0).cast("bigint")).alias("n_band_candidates"),
        max_jac.alias("max_jaccard"),
        F.when(F.coalesce(F.col("exact_flag"), F.lit(False)), F.lit("drop_exact"))
        .when(max_jac >= NEAR_JACCARD, F.lit("drop_near"))
        .otherwise(F.lit("keep"))
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# corpus analysis + sampling + cluster assignment
# ---------------------------------------------------------------------------

TOP_TOKENS = 20  # heavy-hitter report size


@register(
    "q_heavy_hitters",
    oracle=f"""
        WITH toks AS (
          SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
          FROM documents
        ),
        agg AS (
          SELECT w AS token, count(*) AS tf, count(DISTINCT doc_id) AS df
          FROM toks WHERE w <> '' GROUP BY 1
        )
        SELECT token, tf, df, rank FROM (
          SELECT *, CAST(row_number() OVER (ORDER BY tf DESC, token) AS INTEGER) AS rank
          FROM agg
        )
        WHERE rank <= {TOP_TOKENS}
        """,
    tags=("text", "agg", "topk"),
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide heavy hitters: the most frequent tokens with doc frequency.

    The contamination/boilerplate report every corpus intake runs: term
    frequency and document frequency per token, ranked, top N. The exploded
    token stream never reaches the shuffle as raw rows — the groupBy combines
    map-side, so the shuffle carries one partial row per (partition, distinct
    token), and hot tokens ('the') are exactly the case partial aggregation
    flattens. The final top-N rank runs on the aggregated |vocab| rows, and at
    100 TB the exact pass is preceded by the sketch variant (q_approx_stats'
    CountMinSketch idea) to cap vocab cardinality.
    """
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    agg = toks.groupBy(F.col("w").alias("token")).agg(
        F.count("*").alias("tf"), F.countDistinct("doc_id").alias("df")
    )
    w = Window.orderBy(F.col("tf").desc(), F.col("token"))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_TOKENS)
        .select("token", "tf", "df", "rank")
    )


#: per-language keep percentages for the training-mix rebalance; absent = 100.
SAMPLE_RATES = {"en": 40, "es": 80, "fr": 80}

_RATE_SQL = (
    "CASE lang "
    + " ".join(f"WHEN '{lang}' THEN {pct}" for lang, pct in sorted(SAMPLE_RATES.items()))
    + " ELSE 100 END"
)


@register(
    "q_stratified_sample",
    oracle=f"""
        SELECT doc_id, lang, source,
               {hash60_sql("CAST(doc_id AS VARCHAR)")} % 100 AS sample_bucket,
               {_RATE_SQL} AS keep_pct
        FROM documents
        WHERE {hash60_sql("CAST(doc_id AS VARCHAR)")} % 100 < {_RATE_SQL}
        """,
    tags=("text", "sampling"),
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: rebalance the language mix.

    Training-mix construction downsamples over-represented strata (here: the
    majority language to 40%, mid languages to 80%) with a HASH-gate, not
    rand(): keep iff h60(doc_id) % 100 < rate(lang). Deterministic sampling is
    what makes pipeline runs reproducible and incremental — re-running over
    new data never flips decisions on old rows, so downstream shards are
    append-only. Pure narrow filter: no shuffle, fully pushed into the scan,
    and the rate table generalizes to a broadcast-joined (stratum -> rate)
    dimension when strata outgrow a CASE expression.
    """
    d = _docs(spark, sf_dir)
    bucket = hash60(F.col("doc_id").cast("string")) % 100
    rate = F.lit(100)
    for lang, pct in sorted(SAMPLE_RATES.items(), reverse=True):
        rate = F.when(F.col("lang") == lang, F.lit(pct)).otherwise(rate)
    return (
        d.select(
            "doc_id",
            "lang",
            "source",
            bucket.alias("sample_bucket"),
            rate.cast("int").alias("keep_pct"),
        )
        .filter(F.col("sample_bucket") < F.col("keep_pct"))
    )


#: mixture-sampling knobs: temperature 0.5 (sqrt weights — upweights rare
#: sources, the GPT-3/LLaMA data-mixture shape), a 50% corpus budget, and a
#: 1/10,000 gate granularity. WEIGHT_SCALE folds sqrt(n) to an integer so
#: the cross-source weight sum is order-independent (a float sum over
#: sources would round differently under different aggregation orders).
MIX_BUDGET_DIV = 2
MIX_GATE_M = 10_000
WEIGHT_SCALE = 1_000


@register(
    "q_mixture_sample",
    oracle=f"""
        WITH counts AS (
          SELECT source, count(*) AS n_docs FROM documents GROUP BY source
        ),
        w AS (
          SELECT source, n_docs,
                 CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * {WEIGHT_SCALE}) AS BIGINT) AS weight
          FROM counts
        ),
        tot AS (
          SELECT CAST(SUM(weight) AS BIGINT) AS sum_w,
                 CAST(SUM(n_docs) AS BIGINT) AS total_docs
          FROM w
        ),
        thr AS (
          SELECT source, n_docs, weight,
                 CAST(LEAST({MIX_GATE_M},
                   ((total_docs // {MIX_BUDGET_DIV}) * weight * {MIX_GATE_M})
                     // (sum_w * n_docs)) AS BIGINT) AS keep_per_10k
          FROM w, tot
        )
        SELECT t.source, t.n_docs, t.weight, t.keep_per_10k,
               count(*) FILTER (
                 WHERE {hash60_sql("CAST(d.doc_id AS VARCHAR)")} % {MIX_GATE_M} < t.keep_per_10k
               ) AS n_sampled
        FROM documents d JOIN thr t ON d.source = t.source
        GROUP BY t.source, t.n_docs, t.weight, t.keep_per_10k
        ORDER BY t.source
        """,
    tags=("text", "sampling", "mixture"),
)
def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted mixture sampling across corpus sources.

    The training-mix rebalance every large-scale pipeline runs before
    tokenization: per-source keep rates proportional to n_s^T (T=0.5 —
    sqrt weights upweight rare sources) under a global document budget,
    then a deterministic hash gate applies the rates so re-runs never flip
    a decision on an old row. Reports, per source, the plan (weight, keep
    rate) and the realized sample count.

    Exactness: sqrt is IEEE-correctly-rounded in both engines and is folded
    to an integer weight immediately (floor(sqrt(n)*1000)), so the
    cross-source weight SUM is integer — order-independent — and the
    threshold arithmetic is pure BIGINT (LEAST/div). The widest product,
    (total/2) * weight * 10^4, stays under 2^63 through ~SF 100k; past that
    the fold moves to DECIMAL(38,0) unchanged.

    Scale: two aggregations over the corpus (per-source count, per-source
    gated count) and one broadcast of the per-source threshold table —
    sources are a bounded dimension (thousands at most), so the broadcast
    holds at 100 TB while the corpus itself never shuffles: both counts are
    map-side-combined aggs on the same grouping key.
    """
    d = _docs(spark, sf_dir)
    counts = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    weight = F.floor(F.sqrt(F.col("n_docs").cast("double")) * WEIGHT_SCALE).cast("bigint")
    w = counts.withColumn("weight", weight)
    # totals over the per-source table: metadata-scale (one row per source),
    # the documented empty-frame-window exception
    win = Window.partitionBy()
    w = w.withColumn("sum_w", F.sum("weight").over(win)).withColumn(
        "total_docs", F.sum("n_docs").over(win)
    )
    thr = w.select(
        "source",
        "n_docs",
        "weight",
        F.least(
            F.lit(MIX_GATE_M).cast("bigint"),
            F.expr(
                f"((total_docs div {MIX_BUDGET_DIV}) * weight * {MIX_GATE_M})"
                f" div (sum_w * n_docs)"
            ),
        ).alias("keep_per_10k"),
    )
    gate = hash60(F.col("doc_id").cast("string")) % MIX_GATE_M
    return (
        d.select("doc_id", "source")
        .join(F.broadcast(thr), "source")
        .groupBy("source", "n_docs", "weight", "keep_per_10k")
        .agg(F.count(F.when(gate < F.col("keep_per_10k"), 1)).alias("n_sampled"))
        .orderBy("source")
    )


#: q_dup_clusters' oracle. The engine's connected_components runs label
#: propagation (O(diameter), the near-clique fast path) and switches to the
#: large-star/small-star algorithm (O(log n), any graph shape) when its round
#: cap is hit — output is identical either way, which is exactly what this
#: recursive-CTE twin checks.
_DUP_CLUSTERS_ORACLE = f"""
        WITH RECURSIVE classes AS (
          SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text
        ),
        {_lsh_ctes("classes")},
        edges AS (
          SELECT doc_a AS a, doc_b AS b FROM (
            SELECT i.doc_a, i.doc_b,
                   i.inter / (za.n + zb.n - i.inter) AS j
            FROM inter i
            JOIN sizes za ON za.doc_id = i.doc_a
            JOIN sizes zb ON zb.doc_id = i.doc_b
          ) WHERE j >= CAST({NEAR_JACCARD} AS DOUBLE)
        ),
        sym AS (
          SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges
        ),
        reach(src, dst) AS (
          SELECT doc_id, doc_id FROM classes
          UNION
          SELECT r.src, e.b FROM reach r JOIN sym e ON e.a = r.dst
        ),
        comp AS (SELECT src AS rep, MIN(dst) AS cluster_id FROM reach GROUP BY 1),
        membership AS (
          SELECT d.doc_id, c.doc_id AS rep
          FROM documents d JOIN classes c ON c.text = d.text
        )
        SELECT m.doc_id, cm.cluster_id,
               count(*) OVER (PARTITION BY cm.cluster_id) AS cluster_size,
               m.doc_id = cm.cluster_id AS is_keeper
        FROM membership m JOIN comp cm ON cm.rep = m.rep
        """


@register(
    "q_dup_clusters",
    oracle=_DUP_CLUSTERS_ORACLE,
    tags=("text", "dedup", "lsh", "graph"),
)
def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over near-dup pairs.

    Pairwise dedup (q_minhash_dedup) under-deletes: if A~B and B~C but A!~C,
    pair logic keeps A and C even though all three are one duplicated
    lineage. The fix is graph connectivity — nodes are exact-dup CLASS
    representatives (one per distinct text; identical texts are fully
    connected at jaccard 1.0 by definition, so collapsing them first
    provably preserves the components while making the edge set and every
    CC round invariant to duplication depth), verified near-dup pairs
    (band collision + exact Jaccard >= 0.5) are edges, and every document
    inherits its rep's component min as cluster_id — which is the true
    min doc_id of the full component, since each rep is its class's min
    member; keep one keeper per cluster.

    Components come from operators.graph.connected_components: label
    propagation, O(diameter) rounds, which suits near-clique duplicate
    clusters; past its round cap (chained near-duplicates can form a long
    path) it switches to the O(log n) large-star/small-star algorithm, so
    worst-case topology is a latency cost, not under-merged clusters.

    The DuckDB twin computes the same components with a recursive CTE —
    transitive closure is only tractable on verified-duplicate edges, which
    is exactly why the engine side iterates labels instead.
    """
    d = _docs(spark, sf_dir)
    classes, docs_arr = _text_classes(d)
    jac = jaccard_from_arrays(lsh_pairs_from_wide(minhash_from_arrays(docs_arr)), docs_arr)
    edges = jac.filter(F.col("jaccard") >= NEAR_JACCARD).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    # only edge nodes enter the CC rounds: singletons (the overwhelming
    # majority of a deduped corpus) are added back as their own cluster below
    comp = connected_components(edges)

    # expand rep components to documents: every doc inherits its class
    # rep's cluster (min rep in a component IS the min doc_id of the full
    # component, since each rep is its class's min member)
    rep_labels = comp.select(F.col("node").alias("rep"), F.col("component").alias("cluster_id"))
    singleton_reps = (
        classes.select(F.col("doc_id").alias("rep"))
        .join(rep_labels.select("rep"), "rep", "left_anti")
        .select("rep", F.col("rep").alias("cluster_id"))
    )
    all_reps = rep_labels.unionByName(singleton_reps)
    membership = d.select("doc_id", "text").join(
        classes.select("text", F.col("doc_id").alias("rep")), "text"
    )
    full = membership.join(all_reps, "rep").select("doc_id", "cluster_id")
    w = Window.partitionBy("cluster_id")
    return full.select(
        "doc_id",
        "cluster_id",
        F.count("*").over(w).alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).alias("is_keeper"),
    )


# ---------------------------------------------------------------------------
# normalized dedup + eval-set decontamination
# ---------------------------------------------------------------------------

#: q_dedup_norm normalization: casefold, strip non-alphanumerics, collapse
#: whitespace — the cheap canonicalization that catches trivially-edited
#: copies (case flips, punctuation churn, reflowed whitespace).
_NORM_SPARK = lambda c: F.trim(  # noqa: E731
    F.regexp_replace(F.regexp_replace(F.lower(c), r"[^a-z0-9\s]", ""), r"\s+", " ")
)
_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),"
    " '\\s+', ' ', 'g'))"
)


@register(
    "q_dedup_norm",
    oracle=f"""
        SELECT md5({_NORM_SQL})              AS norm_hash,
               count(*)                      AS n_copies,
               count(DISTINCT md5(text))     AS n_raw_variants,
               min(doc_id)                   AS keeper_id
        FROM documents
        GROUP BY 1
        """,
    tags=("text", "dedup"),
)
def q_dedup_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized exact dedup: canonicalize text, then hash-group.

    Sits between q_dedup_exact (byte-identical only) and q_minhash_dedup
    (fuzzy): casefold + punctuation strip + whitespace collapse, then the
    same md5 group-by. n_raw_variants > 1 marks groups only normalization
    unifies — the cheap win before any LSH pass runs. Identical plan shape
    and scale behavior to q_dedup_exact: the normalization is a narrow
    codegen expression, the shuffle key is a fixed-width hash.
    """
    d = _docs(spark, sf_dir)
    return d.groupBy(F.md5(_NORM_SPARK(F.col("text"))).alias("norm_hash")).agg(
        F.count("*").alias("n_copies"),
        F.countDistinct(F.md5("text")).alias("n_raw_variants"),
        F.min("doc_id").alias("keeper_id"),
    )


DECON_GRAM_N = 8  # word n-gram width for contamination matching
EVAL_MOD, EVAL_REM = 50, 7  # doc_id % 50 == 7 plays the held-out eval set
DECON_FLAG = 0.2  # flag eval docs with >= 20% of their grams in the corpus

_DECON_GRAM_SQL = " || ' ' || ".join(f"ws[i+{j}]" for j in range(DECON_GRAM_N))


@register(
    "q_decontaminate",
    oracle=f"""
        WITH {_WORDS_CTE.strip()},
        widx AS (
          SELECT doc_id, txt, ws, generate_subscripts(ws, 1) AS i FROM words
        ),
        grams AS (
          SELECT DISTINCT doc_id, {_DECON_GRAM_SQL} AS gram
          FROM widx WHERE i <= len(ws) - {DECON_GRAM_N - 1}
          UNION
          SELECT DISTINCT doc_id, txt AS gram
          FROM words WHERE len(ws) < {DECON_GRAM_N}
        ),
        eval_grams AS (
          SELECT doc_id, gram FROM grams WHERE doc_id % {EVAL_MOD} = {EVAL_REM}
        ),
        corpus_grams AS (
          SELECT DISTINCT gram FROM grams WHERE doc_id % {EVAL_MOD} <> {EVAL_REM}
        )
        SELECT e.doc_id,
               count(*)                                   AS n_grams,
               count(c.gram)                              AS n_matched,
               count(c.gram) * 1.0 / count(*)             AS contamination,
               count(c.gram) * 1.0 / count(*) >= CAST({DECON_FLAG} AS DOUBLE)
                                                          AS flagged
        FROM eval_grams e LEFT JOIN corpus_grams c ON c.gram = e.gram
        GROUP BY 1
        """,
    tags=("text", "decontamination"),
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: n-gram containment of held-out docs in the corpus.

    The benchmark-leakage check: for each eval document (doc_id % 50 == 7
    plays the held-out set), the fraction of its distinct word 8-grams that
    appear anywhere in the training corpus; >= 20% containment flags the doc.
    Unlike the dedup family this is asymmetric containment, not Jaccard — a
    100-page training doc that embeds a whole eval question must flag even
    though its overall similarity is tiny.

    Scale: grams are hashed to fixed width before the join in production (the
    join here keeps raw grams so the oracle is expression-identical). The
    corpus gram stream never shuffles and is never broadcast: the tiny eval
    gram set broadcasts INTO the corpus scan (left-semi) to produce the
    matched-gram set — bounded by the eval set's size — which then broadcasts
    back onto the eval grams. Both exchanges move kilobytes while the corpus
    side stays a map-only scan.
    """
    d = _docs(spark, sf_dir)
    words = d.select(
        "doc_id",
        F.trim(F.col("text")).alias("txt"),
        F.split(F.trim(F.col("text")), r"\s+").alias("ws"),
    )
    ws, n = F.col("ws"), F.size(F.col("ws"))
    gram_arr = F.when(
        n >= DECON_GRAM_N,
        F.transform(
            F.sequence(F.lit(1), n - (DECON_GRAM_N - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(ws, i + j) for j in range(DECON_GRAM_N)]
            ),
        ),
    ).otherwise(F.array(F.col("txt")))
    grams = words.select("doc_id", F.explode(gram_arr).alias("gram")).distinct()
    is_eval = F.col("doc_id") % EVAL_MOD == EVAL_REM
    eval_grams = grams.filter(is_eval)
    matched = (
        grams.filter(~is_eval)
        .select("gram")
        .join(F.broadcast(eval_grams.select("gram").distinct()), "gram", "left_semi")
        .distinct()
        .withColumn("matched", F.lit(1))
    )
    joined = eval_grams.join(F.broadcast(matched), "gram", "left")
    contamination = F.count("matched") * 1.0 / F.count("*")
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.count("matched").alias("n_matched"),
        contamination.alias("contamination"),
        (contamination >= DECON_FLAG).alias("flagged"),
    )


SHARD_TOKENS = 2000  # BPE tokens per training shard


@register(
    "q_shard_pack",
    oracle=f"""
        WITH {_CAND_CTE.strip()},
        packed AS (
          SELECT doc_id, n_bpe_tokens,
                 CAST(floor((SUM(n_bpe_tokens) OVER (
                        ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      - n_bpe_tokens) / {SHARD_TOKENS}) AS BIGINT) AS shard_id
          FROM cand
        )
        SELECT shard_id,
               count(*)                           AS n_docs,
               CAST(SUM(n_bpe_tokens) AS BIGINT)  AS shard_tokens,
               min(doc_id)                        AS first_doc,
               max(doc_id)                        AS last_doc
        FROM packed
        GROUP BY shard_id
        """,
    tags=("text", "pipeline", "sharding"),
)
def q_shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard packing: split the selected corpus into fixed-token training shards.

    The writer side of corpus curation (q_corpus_select picks WHAT to train
    on; this decides WHERE each document lands): candidates are laid out in
    doc_id order and cut into ~SHARD_TOKENS-sized contiguous shards by
    prefix sum — shard_id = floor((cum_tokens - own_tokens) / shard_size),
    i.e. a document belongs to the shard its first token falls in. The
    output is the shard manifest (doc count, token count, id range per
    shard) a downstream `partitionBy(shard_id)` write consumes.

    Scale: the packing input is (doc_id, token_count) metadata, never text.
    The running token total uses the two-phase distributed prefix sum
    (operators.prefix.global_prefix_sum, same as q_corpus_select): each
    doc_id range computes its local cumsum and adds a broadcast base
    offset, so shard assignment never funnels the corpus through one task —
    and because the order key is doc_id (not a computed score), range
    partitioning is free on an id-sorted corpus.
    """
    cand = _quality_candidates(spark, sf_dir).select("doc_id", "n_bpe_tokens")
    from ..operators.prefix import global_prefix_sum

    # range buckets over the doc_id domain, read from the parquet footers
    # (core.io.column_bounds, no job) and passed straight through: an empty
    # table folds to None, which the operator scans as one range
    _, ((id_lo, id_hi),) = table_bounds(spark, sf_dir, "documents", ["doc_id"])
    packed = global_prefix_sum(
        cand,
        [F.col("doc_id")],
        F.col("n_bpe_tokens"),
        "__cum",
        bucket=(F.col("doc_id"), id_lo, id_hi, 256),
    ).withColumn(
        "shard_id",
        F.floor((F.col("__cum") - F.col("n_bpe_tokens")) / SHARD_TOKENS).cast("bigint"),
    )
    return packed.groupBy("shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_bpe_tokens").cast("bigint").alias("shard_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


SIMHASH_HAM_MAX = 3  # pair docs whose signatures differ in <= 3 of 60 bits
N_SIMHASH_BANDS = 4  # 15-bit bands; pigeonhole: hamming<=3 => some band equal
SIMHASH_BAND_BITS = 15
SIMHASH_BAND_MASK = (1 << SIMHASH_BAND_BITS) - 1


@register(
    "q_simhash_pairs",
    oracle=f"""
        WITH {_SIMHASH_CTE.strip()},
        classes AS (
          SELECT simhash, count(*) AS n, min(doc_id) AS rep
          FROM sigs60 GROUP BY simhash
        ),
        nib AS (
          SELECT simhash, n, rep, CAST(b.range AS INTEGER) AS band,
                 (simhash >> CAST(b.range * {SIMHASH_BAND_BITS} AS INTEGER)) & {SIMHASH_BAND_MASK}
                   AS chunk
          FROM classes, range({N_SIMHASH_BANDS}) b
        ),
        cand AS (
          SELECT DISTINCT a.simhash AS sig_a, a.n AS na, a.rep AS ra,
                          b.simhash AS sig_b, b.n AS nb, b.rep AS rb
          FROM nib a JOIN nib b
            ON a.band = b.band AND a.chunk = b.chunk AND a.simhash < b.simhash
        )
        SELECT rep AS rep_a, rep AS rep_b,
               CAST(0 AS INTEGER) AS hamming,
               (n * (n - 1)) // 2 AS n_pairs
        FROM classes WHERE n >= 2
        UNION ALL
        SELECT least(ra, rb)    AS rep_a,
               greatest(ra, rb) AS rep_b,
               CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming,
               na * nb          AS n_pairs
        FROM cand
        WHERE bit_count(xor(sig_a, sig_b)) <= {SIMHASH_HAM_MAX}
        """,
    tags=("text", "dedup", "simhash"),
)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairing: banded hamming self-join over DISTINCT
    signatures.

    Completes the SimHash leg (q_simhash builds signatures; this finds the
    pairs): signatures pair when their hamming distance is <= 3 of 60 bits.
    Documents collapse to signature equivalence classes FIRST — each class
    carries its size and a representative doc_id (min) — then candidates
    come from an equi-join on 15-bit bands over the classes: by pigeonhole,
    <= 3 differing bits leave at least one of the 4 bands identical, so
    banding has EXACTLY recall 1.0 here (verified in tests against the
    all-pairs baseline), unlike the probabilistic minhash/sign-LSH bands.
    Identical-signature duplicates contribute one hamming=0 row per class
    with the n*(n-1)/2 pair count in closed form; cross-class rows carry
    the size product, so the doc-level pair list stays recoverable by
    membership join.

    Scale: collapsing before banding is what survives duplication depth —
    before it, the sf1 scale-up's 10-deep dup classes made this query emit
    27.4M doc pairs (quadratic in depth) and shuffle them through the
    candidate-dedup; over classes, candidates and output are a function of
    DISTINCT signatures only. The verify is one bit_count(xor) per
    candidate, integer-only inside codegen. This is the cheapest member of
    the dedup family: no shingles, no arrays, signatures are one BIGINT of
    payload per row at rest.
    """
    # same pre-signature spread as q_simhash: the vote stage is map work
    # off a possibly single-split scan
    d = spread_narrow(_docs(spark, sf_dir), "doc_id")
    # the signature build (tokenize -> 60 per-bit votes) feeds 4 band
    # branches x 2 join sides + the self-pair branch — without
    # materialization Spark recomputes the word-explode pass 9x; cut, it
    # runs once and everything downstream works on one BIGINT per CLASS
    classes = cut(
        simhash_sig(d).groupBy("simhash").agg(F.count("*").alias("n"), F.min("doc_id").alias("rep"))
    )
    self_pairs = classes.filter(F.col("n") >= 2).select(
        F.col("rep").alias("rep_a"),
        F.col("rep").alias("rep_b"),
        F.lit(0).cast("int").alias("hamming"),
        F.expr("n * (n - 1) DIV 2").alias("n_pairs"),
    )
    # band unpivot via explode: ONE pass over the cut classes per join side
    # (the unionByName form re-projected the classes once per band per side)
    nib = classes.select(
        "simhash",
        "n",
        "rep",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), SIMHASH_BAND_BITS * b)
                        .bitwiseAND(F.lit(SIMHASH_BAND_MASK))
                        .alias("chunk"),
                    )
                    for b in range(N_SIMHASH_BANDS)
                ]
            )
        ).alias("bc"),
    ).select("simhash", "n", "rep", F.col("bc.band").alias("band"), F.col("bc.chunk").alias("chunk"))
    cand = (
        nib.select(
            F.col("simhash").alias("sig_a"), F.col("n").alias("na"), F.col("rep").alias("ra"),
            "band", "chunk",
        )
        .join(
            nib.select(
                F.col("simhash").alias("sig_b"), F.col("n").alias("nb"), F.col("rep").alias("rb"),
                "band", "chunk",
            ),
            ["band", "chunk"],
        )
        .filter(F.col("sig_a") < F.col("sig_b"))
        .select("sig_a", "na", "ra", "sig_b", "nb", "rb")
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    cross = cand.filter(hamming <= SIMHASH_HAM_MAX).select(
        F.least("ra", "rb").alias("rep_a"),
        F.greatest("ra", "rb").alias("rep_b"),
        hamming.cast("int").alias("hamming"),
        (F.col("na") * F.col("nb")).alias("n_pairs"),
    )
    return self_pairs.unionByName(cross)


@register(
    "q_fuzzy_pairs",
    oracle="""
        WITH norm AS (
          SELECT doc_id, lang,
                 substr(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), 1, 32) AS prefix
          FROM documents
        ),
        classes AS (
          SELECT lang, prefix, substr(prefix, 1, 8) AS blk,
                 count(*) AS n, min(doc_id) AS rep
          FROM norm GROUP BY lang, prefix
        )
        SELECT rep AS rep_a, rep AS rep_b,
               CAST(0 AS INTEGER)         AS edit_dist,
               (n * (n - 1)) // 2         AS n_pairs
        FROM classes WHERE n >= 2
        UNION ALL
        SELECT least(a.rep, b.rep)    AS rep_a,
               greatest(a.rep, b.rep) AS rep_b,
               CAST(levenshtein(a.prefix, b.prefix) AS INTEGER) AS edit_dist,
               a.n * b.n              AS n_pairs
        FROM classes a
        JOIN classes b ON a.blk = b.blk AND a.lang = b.lang AND a.prefix < b.prefix
        WHERE levenshtein(a.prefix, b.prefix) <= 4
        """,
    tags=("text", "dedup", "fuzzy"),
)
def q_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairing: blocked levenshtein over DISTINCT
    normalized prefixes — the fuzzy-match leg of the dedup family.

    Documents normalize (casefold, whitespace-collapse) to a fixed 32-char
    prefix fingerprint, then collapse to (lang, prefix) equivalence classes
    BEFORE any pairing: each class carries its size and a representative
    doc_id (min). Candidates come from an equi-join on (lang, 8-char block
    key) over the classes, so the quadratic levenshtein verify only ever
    runs between distinct fingerprints; identical-prefix duplicates
    contribute one edit_dist=0 row per class with the pair count n*(n-1)/2
    in closed form. Unlike the token-set members (minhash/ngram-jaccard),
    edit distance catches character-level mutations — typos, OCR noise —
    that leave most shingles broken.

    Scale: collapsing before pairing is what survives duplication depth —
    the sf0.1->sf1 scale-up (10-deep exact-dup classes, distinct prefixes
    CONSTANT at ~4.9K while docs went 5K->50K) made the earlier all-pairs
    form's candidate set grow 128x (8.1K->1.04M) and its output 2,948x
    (79->232,900 rows) for 10x data: quadratic in dup depth, the shape that
    melts down on web-scale corpora where popular pages repeat millions of
    times. Class-level pairing is invariant to depth — candidates and
    output are a function of DISTINCT content only — and the doc-level pair
    list stays recoverable by joining each side back to class members. The
    8-char block key is the classic record-linkage blocking scheme; the
    fingerprint is fixed-width so the verify is O(32^2) per candidate
    inside codegen (no UDF — levenshtein is a JVM built-in).
    """
    d = _docs(spark, sf_dir)
    classes = (
        d.select(
            "doc_id",
            "lang",
            F.substring(
                F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), 1, 32
            ).alias("prefix"),
        )
        .groupBy("lang", "prefix")
        .agg(F.count("*").alias("n"), F.min("doc_id").alias("rep"))
        .withColumn("blk", F.substring("prefix", 1, 8))
    )
    self_pairs = classes.filter(F.col("n") >= 2).select(
        F.col("rep").alias("rep_a"),
        F.col("rep").alias("rep_b"),
        F.lit(0).cast("int").alias("edit_dist"),
        F.expr("n * (n - 1) DIV 2").alias("n_pairs"),
    )
    a = classes.select(
        "blk", "lang", F.col("prefix").alias("pa"), F.col("n").alias("na"), F.col("rep").alias("ra")
    )
    b = classes.select(
        "blk", "lang", F.col("prefix").alias("pb"), F.col("n").alias("nb"), F.col("rep").alias("rb")
    )
    cross = (
        a.join(b, ["blk", "lang"])
        .filter(F.col("pa") < F.col("pb"))
        .withColumn("edit_dist", F.levenshtein("pa", "pb").cast("int"))
        .filter(F.col("edit_dist") <= 4)
        .select(
            F.least("ra", "rb").alias("rep_a"),
            F.greatest("ra", "rb").alias("rep_b"),
            "edit_dist",
            (F.col("na") * F.col("nb")).alias("n_pairs"),
        )
    )
    return self_pairs.unionByName(cross)


# ---------------------------------------------------------------------------
# collocation mining (PMI)
# ---------------------------------------------------------------------------

PMI_MIN_COUNT = 5  # bigram support floor — PMI is unstable below this
PMI_TOP_K = 50


@register(
    "q_pmi_bigrams",
    oracle=rf"""
        WITH words AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents
        ),
        uni AS (SELECT unnest(ws) AS w FROM words),
        n1 AS (SELECT w, count(*) AS n FROM uni GROUP BY w),
        tot AS (SELECT count(*) AS n_tokens FROM uni),
        bgs AS (
          SELECT ws[i] || ' ' || ws[i+1] AS bg
          FROM (SELECT ws, generate_subscripts(ws, 1) AS i FROM words)
          WHERE i <= len(ws) - 1
        ),
        totb AS (SELECT count(*) AS n_bigrams FROM bgs),
        nb AS (
          SELECT bg, count(*) AS n_xy FROM bgs GROUP BY bg
          HAVING count(*) >= {PMI_MIN_COUNT}
        )
        SELECT nb.bg   AS bigram,
               nb.n_xy AS n_xy,
               nx.n    AS n_x,
               ny.n    AS n_y,
               CAST(nb.n_xy AS DOUBLE) * t.n_tokens * t.n_tokens
                 / (CAST(tb.n_bigrams AS DOUBLE) * nx.n * ny.n) AS pmi_ratio
        FROM nb
        JOIN n1 nx ON nx.w = string_split(nb.bg, ' ')[1]
        JOIN n1 ny ON ny.w = string_split(nb.bg, ' ')[2]
        CROSS JOIN tot t CROSS JOIN totb tb
        ORDER BY pmi_ratio DESC, bigram ASC
        LIMIT {PMI_TOP_K}
        """,
    tags=("text", "collocation", "corpus-analysis"),
)
def q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations: bigrams ranked by pointwise mutual information.

    The corpus-analysis companion to q_heavy_hitters: instead of raw token
    frequency, rank ADJACENT PAIRS by how much more often they co-occur
    than their unigram frequencies predict — the standard collocation /
    multi-word-expression detector run before tokenizer training. The
    score is the PMI *ratio* p(xy)/(p(x)p(y)) rather than its log: the
    ranking is identical (log is monotone) and the ratio needs only IEEE
    multiply/divide, which both engines evaluate bit-identically, where
    libm log implementations may differ in the last ulp.

    Scale: both explodes are narrow (no shuffle until the counts); unigram
    and bigram counts partial-aggregate map-side; the two count-lookup
    joins shuffle on the word key, where token frequency skew ("the") is
    exactly what AQE skew-join splitting handles; the scalar totals
    broadcast; and the final top-k is TakeOrderedAndProject (per-partition
    heaps + driver merge of K rows), never a global sort. The support
    floor prunes the long tail before any join. Ties order by bigram text,
    so the K-row result is deterministic on both engines.
    """
    d = _docs(spark, sf_dir)
    w = d.select(F.split(F.trim(F.col("text")), r"\s+").alias("ws"))
    uni = w.select(F.explode("ws").alias("w"))
    n1 = uni.groupBy("w").agg(F.count("*").alias("n"))
    tot = uni.agg(F.count("*").alias("n_tokens"))
    # docs with < 2 tokens contribute no bigrams; without this guard
    # sequence(1, 0) DESCENDS to [1, 0] and ws[1] on a 1-element array
    # aborts the job under ANSI mode (nulls would skew n_bigrams without it)
    bgs = w.filter(F.size("ws") >= 2).select(
        F.explode(
            F.expr("transform(sequence(1, size(ws) - 1), i -> concat(ws[i-1], ' ', ws[i]))")
        ).alias("bg")
    )
    totb = bgs.agg(F.count("*").alias("n_bigrams"))
    nb = bgs.groupBy("bg").agg(F.count("*").alias("n_xy")).filter(
        F.col("n_xy") >= PMI_MIN_COUNT
    )
    nx = n1.select(F.col("w").alias("wx"), F.col("n").alias("n_x"))
    ny = n1.select(F.col("w").alias("wy"), F.col("n").alias("n_y"))
    ratio = (
        F.col("n_xy").cast("double")
        * F.col("n_tokens")
        * F.col("n_tokens")
        / (F.col("n_bigrams").cast("double") * F.col("n_x") * F.col("n_y"))
    )
    return (
        nb.withColumn("wx", F.split(F.col("bg"), " ")[0])
        .withColumn("wy", F.split(F.col("bg"), " ")[1])
        .join(nx, "wx")
        .join(ny, "wy")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(totb))
        .select(
            F.col("bg").alias("bigram"),
            "n_xy",
            "n_x",
            "n_y",
            ratio.alias("pmi_ratio"),
        )
        .orderBy(F.col("pmi_ratio").desc(), F.col("bigram").asc())
        .limit(PMI_TOP_K)
    )


# ---------------------------------------------------------------------------
# LM-probability quality scoring (the CCNet/perplexity-filter shape)
# ---------------------------------------------------------------------------

LM_SCALE = 1_000_000  # per-bigram conditional probability in integer ppm


@register(
    "q_lm_score",
    oracle=r"""
        WITH words AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents
        ),
        uni AS (SELECT unnest(ws) AS w FROM words),
        n1 AS (SELECT w, count(*) AS n FROM uni GROUP BY w),
        bgs AS (
          SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bg, ws[i] AS w1
          FROM (SELECT doc_id, ws, generate_subscripts(ws, 1) AS i FROM words)
          WHERE i <= len(ws) - 1
        ),
        nb AS (SELECT bg, count(*) AS n_xy FROM bgs GROUP BY bg),
        scored AS (
          SELECT b.doc_id, (1000000 * nb.n_xy) // n1.n AS s
          FROM bgs b
          JOIN nb ON nb.bg = b.bg
          JOIN n1 ON n1.w = b.w1
        ),
        agg AS (
          SELECT doc_id, count(*) AS n_bigrams, SUM(s) AS lm_sum
          FROM scored GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
               CAST(COALESCE(a.lm_sum, 0) AS BIGINT)    AS lm_sum
        FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
        """,
    tags=("text", "quality", "lm"),
)
def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document LM-probability quality score (perplexity-filter shape).

    The CCNet-style pipeline stage: train a bigram LM on the corpus, score
    every document by how probable its own token sequence is, filter the
    low tail before tokenizer/model training. Scored in integer parts-per-
    million — each bigram contributes floor(1e6 * C(w1 w2) / C(w1)), the
    MLE conditional probability as an exact bigint — so no log/exp ever
    runs (libm log differs in the last ulp across engines; monotone
    integer sums rank identically) and the result hashes bit-exact. A
    document's mean ppm is lm_sum / n_bigrams downstream; docs under 2
    tokens emit (0, 0) explicitly rather than dropping.

    Scale: unigram and bigram counts partial-aggregate map-side before one
    shuffle each; the per-doc bigram stream joins those count tables on
    the token keys — natural-language skew ("the") is exactly what AQE
    skew-split handles — and the final per-doc fold shuffles on doc_id.
    Nothing is collected, nothing broadcast grows with the corpus: at
    100 TB the LM tables are themselves distributed, unlike the broadcast
    stopword/vocab approach of the lighter quality signals.
    """
    # spread a narrow scan: unigram/bigram explode stages are map work
    # feeding map-side-combined aggregations, otherwise single-task on a
    # single-row-group local scan (no-op at production split counts)
    d = spread_narrow(_docs(spark, sf_dir), "doc_id")
    w = d.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("ws"))
    uni = w.select(F.explode("ws").alias("w"))
    n1 = uni.groupBy("w").agg(F.count("*").alias("n"))
    # docs with < 2 tokens contribute no bigrams (same sequence() guard as
    # q_pmi_bigrams: sequence(1, 0) descends under ANSI mode)
    bgs = w.filter(F.size("ws") >= 2).select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(1, size(ws) - 1), i -> struct(concat(ws[i-1], ' ', ws[i]) AS bg, ws[i-1] AS w1))")
        ).alias("p"),
    ).select("doc_id", F.col("p.bg").alias("bg"), F.col("p.w1").alias("w1"))
    nb = bgs.groupBy("bg").agg(F.count("*").alias("n_xy"))
    scored = (
        bgs.join(nb, "bg")
        .join(n1.withColumnRenamed("w", "w1"), "w1")
        .select("doc_id", F.expr(f"({LM_SCALE} * n_xy) div n").alias("s"))
    )
    agg = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"), F.sum("s").alias("lm_sum")
    )
    return (
        d.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("bigint").alias("n_bigrams"),
            F.coalesce(F.col("lm_sum"), F.lit(0)).cast("bigint").alias("lm_sum"),
        )
    )


# ---------------------------------------------------------------------------
# inverted index build (posting lists)
# ---------------------------------------------------------------------------

POSTINGS_MIN_DF = 5  # drop hapax-ish terms: bounds output rows AND list width
POSTINGS_CAP = 64  # max doc ids materialized per term; the rest is a count


@register(
    "q_inverted_index",
    oracle=rf"""
        WITH words AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents
        ),
        term_doc AS (
          SELECT DISTINCT w AS term, doc_id
          FROM (SELECT doc_id, unnest(ws) AS w FROM words)
        ),
        idx AS (
          SELECT term,
                 CAST(count(*) AS BIGINT) AS df,
                 array_to_string(
                   list_slice(list(doc_id ORDER BY doc_id), 1, {POSTINGS_CAP}),
                   ','
                 ) AS postings_head
          FROM term_doc
          GROUP BY term
          HAVING count(*) >= {POSTINGS_MIN_DF}
        )
        SELECT term, df, postings_head,
               CAST(greatest(df - {POSTINGS_CAP}, 0) AS BIGINT) AS n_overflow
        FROM idx
        """,
    tags=("text", "index", "search"),
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: term -> df + capped, comma-joined posting head.

    The search-engine/exact-substring-dedup build step: one exploded scan
    of the tokenized corpus, distinct (term, doc) pairs, then per-term
    posting lists. Output shape follows the registry's scalar-only
    convention (driver canonicalization cannot sort array cells): the
    posting list ships as comma-joined text of the first POSTINGS_CAP doc
    ids in doc_id order, plus an ``n_overflow`` count of the suppressed
    tail — deterministic, hashable, and a bounded column width.

    Scale: the explode is narrow (no shuffle); distinct, the rank window,
    and the grouped fold all share one hash partitioning on term. The
    stopword-class hazard — one hot term materializing an ~N-element
    array inside a single aggregation task — is mitigated structurally:
    ``row_number`` over (term, doc_id) is a streaming, spillable
    sort-based window, and ``collect_list`` only ever sees rows with
    rank <= POSTINGS_CAP, so no task buffers more than CAP doc ids per
    term no matter how hot the term. df stays exact via the plain count.
    """
    d = _docs(spark, sf_dir)
    term_doc = (
        d.select("doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term"))
        .distinct()
    )
    ranked = term_doc.withColumn(
        "rn", F.row_number().over(Window.partitionBy("term").orderBy("doc_id"))
    )
    # collect_list skips NULLs, so the when() gate bounds the collected
    # width at POSTINGS_CAP while count(*) still measures the full df.
    return (
        ranked.groupBy("term")
        .agg(
            F.count("*").cast("bigint").alias("df"),
            F.array_join(
                F.sort_array(
                    F.collect_list(
                        F.when(F.col("rn") <= POSTINGS_CAP, F.col("doc_id"))
                    )
                ),
                ",",
            ).alias("postings_head"),
        )
        .filter(F.col("df") >= POSTINGS_MIN_DF)
        .select(
            "term",
            "df",
            "postings_head",
            F.greatest(F.col("df") - POSTINGS_CAP, F.lit(0)).cast("bigint").alias("n_overflow"),
        )
    )


# ---------------------------------------------------------------------------
# BM25 relevance scoring (probe query over the corpus index)
# ---------------------------------------------------------------------------

BM25_PROBE_K = 4  # probe query = the top-K terms by document frequency
#: k1=1.2, b=0.75 folded into the integer-rational tf component:
#:   tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
#: with avgdl = L/N (corpus tokens / docs), multiplied through by 20*L:
#:   num = 44*tf*L,  den = 20*L*tf + 6*L + 18*dl*N
#: tf_ppm = (1e6 * num) div den — exact bigints end to end; the idf factor
#: is the ratio form floor(1e6*(2N-2df+1)/(2df+1)) (log is monotone in it,
#: and libm logs differ in the last ulp across engines)


@register(
    "q_bm25",
    oracle=rf"""
        WITH words AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents
        ),
        uni AS (SELECT doc_id, unnest(ws) AS w FROM words),
        dl AS (SELECT doc_id, count(*) AS dl FROM uni GROUP BY doc_id),
        corpus AS (
          SELECT (SELECT count(*) FROM uni) AS L,
                 (SELECT count(*) FROM documents) AS N
        ),
        df AS (
          SELECT w AS term, count(DISTINCT doc_id) AS df FROM uni GROUP BY w
        ),
        probe AS (
          SELECT term, df FROM df ORDER BY df DESC, term ASC LIMIT {BM25_PROBE_K}
        ),
        tf AS (
          SELECT u.doc_id, u.w AS term, count(*) AS tf
          FROM uni u JOIN probe p ON p.term = u.w
          GROUP BY 1, 2
        ),
        scored AS (
          SELECT t.doc_id,
                 ((1000000 * (2 * c.N - 2 * p.df + 1)) // (2 * p.df + 1))
                   * ((1000000 * (44 * t.tf * c.L))
                      // (20 * c.L * t.tf + 6 * c.L + 18 * d.dl * c.N)) AS s
          FROM tf t
          JOIN probe p ON p.term = t.term
          JOIN dl d ON d.doc_id = t.doc_id
          CROSS JOIN corpus c
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_hit_terms,
               CAST(SUM(s) AS BIGINT)   AS bm25_fp
        FROM scored GROUP BY doc_id
        """,
    tags=("text", "search", "ranking"),
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance of every document against a corpus-derived probe query.

    The retrieval-ranking primitive (and the scoring half of
    quality-by-query corpus curation): the probe query is the K most
    frequent terms (deterministic ORDER BY df, term LIMIT K — a
    TakeOrderedAndProject over the metadata-scale vocabulary, never a
    global data sort), and every document containing a probe term gets the
    standard BM25 sum. Both factors are integer rationals — the idf RATIO
    (monotone in log-idf, no libm) and the k1/b tf saturation multiplied
    through by 20L — so scores are exact bigints and hash cross-engine.

    Scale: one exploded scan feeds doc lengths, corpus totals, and
    document frequencies (all map-side combined); the probe set (K rows)
    and the two corpus scalars broadcast; tf shuffles only probe-term
    postings. Nothing driver-side, no corpus-wide sort anywhere.
    """
    d = _docs(spark, sf_dir)
    uni = d.select("doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w"))
    dl = uni.groupBy("doc_id").agg(F.count("*").alias("dl"))
    corpus = uni.agg(F.count("*").alias("L")).crossJoin(
        F.broadcast(d.agg(F.count("*").alias("N")))
    )
    df = uni.groupBy(F.col("w").alias("term")).agg(
        F.countDistinct("doc_id").alias("df")
    )
    probe = df.orderBy(F.col("df").desc(), F.col("term").asc()).limit(BM25_PROBE_K)
    tf = (
        uni.join(F.broadcast(probe.select(F.col("term").alias("w"), "df")), "w")
        .groupBy("doc_id", F.col("w").alias("term"), "df")
        .agg(F.count("*").alias("tf"))
    )
    scored = tf.join(dl, "doc_id").crossJoin(F.broadcast(corpus)).select(
        "doc_id",
        (
            F.expr("(1000000 * (2 * N - 2 * df + 1)) div (2 * df + 1)")
            * F.expr("(1000000 * (44 * tf * L)) div (20 * L * tf + 6 * L + 18 * dl * N)")
        ).alias("s"),
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_hit_terms"),
        F.sum("s").cast("bigint").alias("bm25_fp"),
    )


@register(
    "q_dup_depth_hist",
    oracle="""
        WITH classes AS (
          SELECT md5(text) AS h, count(*) AS depth,
                 CAST(sum(length(text)) AS BIGINT) AS class_chars,
                 CAST(min(length(text)) AS BIGINT) AS keeper_chars
          FROM documents GROUP BY 1
        )
        SELECT CAST(depth AS BIGINT)                       AS depth,
               count(*)                                    AS n_classes,
               CAST(sum(depth) AS BIGINT)                  AS n_docs,
               CAST(sum(class_chars - keeper_chars) AS BIGINT) AS wasted_chars
        FROM classes GROUP BY 1
        """,
    tags=("text", "dedup", "profiling"),
)
def q_dup_depth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-depth histogram: how deep are the exact-dup classes?

    The corpus-health profile behind every dedup report: per duplication
    depth (copies per content class), how many classes, how many raw
    docs, and how many characters deduplication reclaims (class bytes
    minus one keeper — all copies of an exact class share a length, but
    min() states the keeper convention explicitly). The shape of this
    histogram is what decides whether exact dedup alone is worth a pass
    at 100 TB or near-dup must follow.

    Scale: content-class collapse (one hash shuffle over doc fingerprints,
    map-side combined) then a histogram over the CLASS table — the second
    aggregation is metadata-scale. Duplication-depth-invariant by
    construction: 10x-deeper dup classes grow the first shuffle, never
    the histogram.
    """
    d = _docs(spark, sf_dir)
    classes = d.groupBy(F.md5("text").alias("h")).agg(
        F.count("*").alias("depth"),
        F.sum(F.length("text")).cast("bigint").alias("class_chars"),
        F.min(F.length("text")).cast("bigint").alias("keeper_chars"),
    )
    return classes.groupBy(F.col("depth").cast("bigint").alias("depth")).agg(
        F.count("*").alias("n_classes"),
        F.sum("depth").cast("bigint").alias("n_docs"),
        F.sum(F.col("class_chars") - F.col("keeper_chars"))
        .cast("bigint")
        .alias("wasted_chars"),
    )


@register(
    "q_source_overlap",
    oracle=f"""
        WITH {_shingles_cte("documents")},
        sh AS (
          SELECT DISTINCT d.source, h.h
          FROM hashed h JOIN documents d USING (doc_id)
        ),
        sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
        pairs AS (
          SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
          FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
          GROUP BY 1, 2
        )
        SELECT p.src_a, p.src_b, p.inter,
               CAST((p.inter * 1000000) // (na.n + nb.n - p.inter) AS BIGINT)
                 AS jaccard_ppm
        FROM pairs p
        JOIN sizes na ON na.source = p.src_a
        JOIN sizes nb ON nb.source = p.src_b
        """,
    tags=("text", "overlap", "contamination"),
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source shingle-overlap matrix: which corpora share content.

    The contamination/provenance report a training-data intake runs before
    mixing sources: for every source pair, the exact Jaccard similarity of
    their word-trigram shingle-hash sets, in truncating-integer ppm. Doc-
    level exact dedup misses this entirely (the fixture has zero
    cross-source identical documents); shingle grain exposes the shared
    phrasing that actually leaks between corpora.

    Scale: shingles collapse to DISTINCT (source, h) before anything
    shuffles — the per-source vocabulary, orders of magnitude smaller than
    the exploded shingle stream. The pair intersection is an equi-join on
    the hash whose per-key fan-out is bounded by |sources|^2 regardless of
    corpus size, and the |sources|-row size table broadcasts twice. Output
    is at most |sources| choose 2 rows — metadata-scale.
    """
    docs = _docs(spark, sf_dir)
    # shingle with source as the id column (shingle_arrays is narrow — the
    # per-doc arrays build without any shuffle), so the source label rides
    # the explode and the exploded stream is never joined back on doc_id.
    # The cut is load-bearing: exploding a lambda-built array makes
    # Generate re-evaluate the whole trigram construction per emitted row
    # (measured 9s -> 1.4s at sf0.1); the barrier materializes each doc's
    # array once. Hashing runs AFTER the distinct so md5 touches each
    # distinct (source, shingle) once, not every instance.
    packed = cut(
        shingle_arrays(docs, id_col="source").select(F.col("doc_id").alias("source"), "sh_arr")
    )
    # a second cut on the per-source vocabulary itself: sh's THREE consumers
    # (sizes + both self-join sides) would each re-run the corpus-scale
    # explode and both distinct aggregations — the self-join's isnotnull(h)
    # pushes into the join sides only, breaking canonical equality across
    # consumers, so no exchange is reused
    sh = cut(
        packed.select("source", F.explode("sh_arr").alias("shingle"))
        .distinct()
        .select("source", (hash60(F.col("shingle")) % PORTABLE_HASH_PRIME).alias("h"))
        .distinct()
    )
    sizes = sh.groupBy("source").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b"))
        .agg(F.count("*").alias("inter"))
    )
    na = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    return (
        pairs.join(F.broadcast(na), "src_a")
        .join(F.broadcast(nb), "src_b")
        .select(
            "src_a",
            "src_b",
            "inter",
            F.expr("(inter * 1000000) div (na + nb - inter)").alias("jaccard_ppm"),
        )
    )


@register(
    "q_zipf_slope",
    oracle=r"""
        WITH words AS (
          SELECT string_split_regex(trim(text), '\s+') AS ws FROM documents
        ),
        tf AS (
          SELECT w AS term, count(*) AS tf
          FROM (SELECT unnest(ws) AS w FROM words) GROUP BY 1
        ),
        pts AS (
          SELECT length(bin(row_number() OVER (ORDER BY tf DESC, term ASC))) - 1 AS x,
                 length(bin(tf)) - 1 AS y
          FROM tf
        ),
        s AS (
          SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                 sum(x * y) AS sxy, sum(x * x) AS sxx
          FROM pts
        )
        SELECT CAST(n AS BIGINT)                 AS n_terms,
               CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
               CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
               CAST((1000 * (n * sxy - sx * sy)) // (n * sxx - sx * sx) AS BIGINT)
                 AS slope_milli
        FROM s
        """,
    tags=("text", "statistics", "zipf"),
)
def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law exponent of the corpus term-frequency distribution.

    The corpus-health statistic (natural text follows rank-frequency
    slope ~ -1; boilerplate-heavy or synthetic corpora drift off it):
    OLS slope of log2(tf) against log2(rank) over the full vocabulary,
    in EXACT integer arithmetic — floor(log2(k)) is length(bin(k)) - 1,
    a string-length identity both engines share, so no float log ever
    runs and the slope ships as the exact rational (n*Sxy - Sx*Sy) /
    (n*Sxx - Sx^2) plus its milli-units quotient (q_trend_ols
    convention, truncating div identical on both engines).

    Scale: one exploded scan folds the corpus to the vocabulary (map-side
    combined); the rank window orders the VOCABULARY, which is
    metadata-scale relative to the corpus (the q_tfidf_terms premise) —
    the allowlisted global sort — and the moment fold is one row out.
    """
    d = _docs(spark, sf_dir)
    tf = (
        d.select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("tf"))
    )
    w = Window.orderBy(F.desc("tf"), F.asc("term"))
    pts = tf.select(
        (F.length(F.bin(F.row_number().over(w))) - 1).cast("bigint").alias("x"),
        (F.length(F.bin(F.col("tf"))) - 1).cast("bigint").alias("y"),
    )
    s = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_terms"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("bigint").alias("slope_num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("bigint").alias("slope_den"),
        F.expr("CAST((1000 * (n * sxy - sx * sy)) div (n * sxx - sx * sx) AS BIGINT)").alias(
            "slope_milli"
        ),
    )


#: BPE-ish token estimate: alpha/digit runs count ceil(len/4) tokens each,
#: every other non-space character is its own token — the byte-pair
#: heuristic behind training-cost estimates when no tokenizer ships with
#: the engine (~4 chars/token for English-like text)
TOKEN_PIECE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


@register(
    "q_token_stats",
    oracle=rf"""
        WITH pieces AS (
          SELECT lang, source,
                 regexp_extract_all(text, '{TOKEN_PIECE_RE}') AS ps
          FROM documents
        ),
        per_doc AS (
          SELECT lang, source,
                 len(ps) AS n_pieces,
                 coalesce(list_sum(list_transform(ps, p -> (length(p) + 3) // 4)), 0)
                   AS n_bpe
          FROM pieces
        )
        SELECT lang, source,
               CAST(count(*) AS BIGINT)      AS n_docs,
               CAST(sum(n_pieces) AS BIGINT) AS total_pieces,
               CAST(sum(n_bpe) AS BIGINT)    AS total_bpe_tokens,
               CAST(max(n_bpe) AS BIGINT)    AS max_doc_bpe
        FROM per_doc GROUP BY 1, 2
        """,
    tags=("text", "tokens", "llm"),
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-free training-cost estimate: BPE-ish token counts per corpus slice.

    The budget question every pretraining run starts with — how many
    tokens is this corpus? — answered without shipping a tokenizer:
    word/number runs count ceil(len/4) tokens (the ~4-chars-per-token
    heuristic), every other non-space character one token, via a single
    regexp piece extraction. Aggregated per (lang, source) — the mixture
    axes a data curator budgets over.

    Scale: map-only until the final metadata-scale groupBy — the piece
    array is bound as a column ONCE per document and folded with a
    higher-order aggregate (no explode, no per-piece rows ever
    materialize; the lambda carries only length arithmetic per the
    module's expensive-expression rule).
    """
    d = _docs(spark, sf_dir)
    pieces = d.select(
        "lang",
        "source",
        F.expr(f"regexp_extract_all(text, '{TOKEN_PIECE_RE}', 0)").alias("ps"),
    )
    per_doc = pieces.select(
        "lang",
        "source",
        F.size("ps").cast("bigint").alias("n_pieces"),
        F.coalesce(
            F.expr("aggregate(ps, 0L, (a, p) -> a + (length(p) + 3) div 4)"), F.lit(0)
        )
        .cast("bigint")
        .alias("n_bpe"),
    )
    return per_doc.groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_pieces").cast("bigint").alias("total_pieces"),
        F.sum("n_bpe").cast("bigint").alias("total_bpe_tokens"),
        F.max("n_bpe").cast("bigint").alias("max_doc_bpe"),
    )


@register(
    "q_charclass_profile",
    oracle=r"""
        WITH per_doc AS (
          SELECT lang,
                 length(text) AS total,
                 length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
                 length(regexp_replace(text, '[^0-9]', '', 'g'))    AS digit,
                 length(regexp_replace(text, '[^ ]', '', 'g'))      AS space
          FROM documents
        )
        SELECT lang,
               CAST(count(*) AS BIGINT)    AS n_docs,
               CAST(sum(total) AS BIGINT)  AS total_chars,
               CAST(sum(alpha) AS BIGINT)  AS alpha_chars,
               CAST(sum(digit) AS BIGINT)  AS digit_chars,
               CAST(sum(space) AS BIGINT)  AS space_chars,
               CAST(sum(total - alpha - digit - space) AS BIGINT) AS other_chars
        FROM per_doc GROUP BY lang
        """,
    tags=("text", "profiling", "quality"),
)
def q_charclass_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class composition of the corpus, per language.

    The encoding/quality audit upstream of every text filter: per-lang
    totals of alphabetic, digit, space and other characters. A lang slice
    whose other_chars share spikes is mojibake, markup, or mis-tagged —
    caught before it pollutes lang-conditional filters. Counts come from
    length-of-stripped-string identities (length(regexp_replace(., class,
    ''))) evaluated identically by both engines; `other` is derived by
    subtraction so the four classes always sum to total.

    Scale: map-only regexp work inside codegen, one metadata-scale
    groupBy(lang) — the shuffle carries |langs| rows of longs.
    """
    d = _docs(spark, sf_dir)
    per_doc = d.select(
        "lang",
        F.length("text").cast("bigint").alias("total"),
        F.length(F.regexp_replace(F.col("text"), "[^A-Za-z]", "")).cast("bigint").alias("alpha"),
        F.length(F.regexp_replace(F.col("text"), "[^0-9]", "")).cast("bigint").alias("digit"),
        F.length(F.regexp_replace(F.col("text"), "[^ ]", "")).cast("bigint").alias("space"),
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("total").cast("bigint").alias("total_chars"),
        F.sum("alpha").cast("bigint").alias("alpha_chars"),
        F.sum("digit").cast("bigint").alias("digit_chars"),
        F.sum("space").cast("bigint").alias("space_chars"),
        F.sum(F.col("total") - F.col("alpha") - F.col("digit") - F.col("space"))
        .cast("bigint")
        .alias("other_chars"),
    )


@register(
    "q_doc_length_hist",
    oracle="""
        SELECT source,
               CAST(length(bin(n_chars)) - 1 AS BIGINT) AS len_log2,
               CAST(count(*) AS BIGINT)                 AS n_docs,
               CAST(sum(n_chars) AS BIGINT)             AS total_chars
        FROM documents
        GROUP BY 1, 2
        """,
    tags=("text", "profiling"),
)
def q_doc_length_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length distribution per source, as a power-of-2 histogram.

    The corpus shape report behind every min/max-length filter decision:
    per-source doc counts and char mass by floor(log2(length)) bucket —
    a source whose mass sits in tiny buckets is fragments, one with a fat
    huge-bucket tail is concatenation junk. Buckets via the exact
    length(bin(k))-1 identity (q_zipf_slope); uses the fixture's n_chars
    column so the scan never touches text bytes at all.

    Scale: one map-side-combined groupBy over (source, bucket) — the
    cheapest query in the text band by design (metadata-only profiling
    should cost metadata).
    """
    d = _docs(spark, sf_dir)
    return d.groupBy(
        "source",
        (F.length(F.bin(F.col("n_chars"))) - 1).cast("bigint").alias("len_log2"),
    ).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


#: keyness support floor: a term must appear this often in the slice to rank
KEYNESS_MIN_TF = 5
KEYNESS_TOP_K = 5


@register(
    "q_keyness_terms",
    oracle=rf"""
        WITH words AS (
          SELECT lang, string_split_regex(trim(text), '\s+') AS ws FROM documents
        ),
        uni AS (SELECT lang, unnest(ws) AS w FROM words),
        tfl AS (SELECT lang, w AS term, count(*) AS tf_l FROM uni GROUP BY 1, 2),
        tfc AS (SELECT term, sum(tf_l) AS tf_c FROM tfl GROUP BY 1),
        ll  AS (SELECT lang, sum(tf_l) AS l_tokens FROM tfl GROUP BY 1),
        tot AS (SELECT sum(tf_l) AS t_tokens FROM tfl),
        scored AS (
          SELECT f.lang, f.term,
                 CAST(f.tf_l AS BIGINT) AS tf_l,
                 CAST(c.tf_c AS BIGINT) AS tf_c,
                 CAST((1000000 * CAST(f.tf_l AS HUGEINT) * t.t_tokens)
                      // (CAST(c.tf_c AS HUGEINT) * l.l_tokens) AS BIGINT)
                   AS keyness_ppm
          FROM tfl f
          JOIN tfc c ON f.term = c.term
          JOIN ll l ON f.lang = l.lang
          CROSS JOIN tot t
          WHERE f.tf_l >= {KEYNESS_MIN_TF}
        )
        SELECT lang, term, tf_l, tf_c, keyness_ppm,
               CAST(row_number() OVER (PARTITION BY lang
                                       ORDER BY keyness_ppm DESC, term ASC)
                    AS BIGINT) AS rank
        FROM scored
        QUALIFY row_number() OVER (PARTITION BY lang
                                   ORDER BY keyness_ppm DESC, term ASC)
                <= {KEYNESS_TOP_K}
        """,
    tags=("text", "keyness", "statistics"),
)
def q_keyness_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive vocabulary per language slice: top-K terms by keyness lift.

    The corpus-linguistics keyness measure (and the practical mis-tag
    detector — an English slice whose top keyness terms look French is
    mislabeled): lift = P(term | lang) / P(term | corpus) as the exact
    integer ppm rational (1e6 * tf_l * T) div (tf_c * L), support-floored,
    top-K per lang with pinned tie order. All counts fold in
    DECIMAL(38,0) so the ratio cannot overflow at corpus scale.

    Scale: one exploded scan to the (lang, term) table (map-side
    combined); corpus term totals re-aggregate the vocabulary, lang
    totals broadcast, the corpus total is the allowlisted 1-row fold;
    the rank window partitions BY LANG over the support-floored
    vocabulary — never raw tokens.
    """
    d = _docs(spark, sf_dir)
    uni = d.select("lang", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term"))
    tfl = uni.groupBy("lang", "term").agg(F.count("*").alias("tf_l"))
    tfc = tfl.groupBy("term").agg(F.sum("tf_l").alias("tf_c"))
    ll = tfl.groupBy("lang").agg(F.sum("tf_l").alias("l_tokens"))
    tot = tfl.agg(F.sum("tf_l").cast("decimal(38,0)").alias("t_tokens"))
    scored = (
        tfl.filter(F.col("tf_l") >= KEYNESS_MIN_TF)
        .join(tfc, "term")
        .join(F.broadcast(ll), "lang")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "term",
            F.col("tf_l").cast("bigint").alias("tf_l"),
            F.col("tf_c").cast("bigint").alias("tf_c"),
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * tf_l * t_tokens)"
                " div (CAST(tf_c AS DECIMAL(38,0)) * l_tokens) AS BIGINT)"
            ).alias("keyness_ppm"),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.desc("keyness_ppm"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= KEYNESS_TOP_K)
    )


# ---------------------------------------------------------------------------
# corpus governance: per-source quotas and deterministic holdout splits
# ---------------------------------------------------------------------------

#: per-source document cap — quota selection keeps the K best documents of
#: every source (rank by length then doc_id), the crawl-governance move that
#: stops a single dominant domain from flooding the training mix. Rank-based
#: where q_stratified_sample/q_mixture_sample are RATE-based: a quota keeps
#: exactly K per stratum no matter how skewed the stratum sizes get.
SOURCE_QUOTA_K = 10


@register(
    "q_source_quota",
    oracle=f"""
        SELECT doc_id, source, n_chars, rk
        FROM (
          SELECT doc_id, source, n_chars,
                 CAST(row_number() OVER (
                   PARTITION BY source
                   ORDER BY n_chars DESC, doc_id ASC
                 ) AS BIGINT) AS rk
          FROM documents
        )
        WHERE rk <= {SOURCE_QUOTA_K}
        """,
    tags=("text", "sampling", "quota", "window"),
)
def q_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document quota: keep the K longest documents per source.

    The domain-cap operator of a crawl pipeline (cap docs per host so one
    mirror-heavy domain cannot flood the mix), complementing the rate-based
    samplers: a quota is rank-based and yields exactly min(K, n) rows per
    stratum at any skew. Ordering is total (length desc, doc_id asc) so the
    kept set is deterministic across engines and runs.

    Scale: one shuffle partitioned by source; within a partition the window
    is a top-K — at 100 TB the same plan holds provided sources are
    hostname-grained (millions of small partitions, no single giant one);
    for mega-sources, pre-aggregate with a per-partition top-K before the
    shuffle (the rank filter is algebraic) — at fixture grain Catalyst's
    WindowGroupLimit pushdown already does exactly that below the exchange.
    """
    d = _docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        d.select("doc_id", "source", "n_chars")
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= SOURCE_QUOTA_K)
    )


#: deterministic corpus split gates: hash-bucket 0-89 train, 90-94 valid,
#: 95-99 test. Salted with a split tag so the assignment is independent of
#: every other hash-gated sampler in the registry (same doc_id never shares
#: its fate across operators).
HOLDOUT_TRAIN_LT = 90
HOLDOUT_VALID_LT = 95


@register(
    "q_holdout_split",
    oracle=f"""
        WITH tagged AS (
          SELECT lang, n_chars,
                 CASE WHEN {hash60_sql("'split:' || CAST(doc_id AS VARCHAR)")} % 100
                           < {HOLDOUT_TRAIN_LT} THEN 'train'
                      WHEN {hash60_sql("'split:' || CAST(doc_id AS VARCHAR)")} % 100
                           < {HOLDOUT_VALID_LT} THEN 'valid'
                      ELSE 'test' END AS split
          FROM documents
        )
        SELECT split, lang,
               count(*)                                   AS n_docs,
               CAST(sum(n_chars) AS BIGINT)               AS sum_chars
        FROM tagged
        GROUP BY split, lang
        """,
    tags=("text", "sampling", "holdout"),
)
def q_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test holdout assignment, audited by stratum.

    Eval-set construction the reproducible way: membership is a pure hash of
    the document id (salted 'split:' so it is independent of the sampler
    gates), never rand() — re-runs and incremental ingests can't flip an old
    document between train and test, which is the property that keeps future
    evals uncontaminated. Output is the (split x lang) audit table a pipeline
    asserts its ratios against.

    Scale: narrow map + a tiny grouped fold (<= 3*|langs| rows), map-side
    combined; the assignment itself never shuffles.
    """
    d = _docs(spark, sf_dir)
    bucket = hash60(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    return (
        d.select(
            "lang",
            "n_chars",
            F.when(bucket < HOLDOUT_TRAIN_LT, "train")
            .when(bucket < HOLDOUT_VALID_LT, "valid")
            .otherwise("test")
            .alias("split"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
    )
