"""Training-corpus preparation ops: PII scrubbing, repetition scoring,
chunking, TF-IDF keyword extraction.

These extend the textpipe family (SURVEY.md "training-data pipeline"
extensions) with the prep steps that sit between raw crawl and tokenizer:
redact identifiers, drop degenerate repetition, split long documents into
model-window chunks, surface per-document keywords. Everything is
expression-level (zero Python UDFs); each query has a DuckDB oracle twin.

Scale notes per query are in the docstrings; the common theme is map-only
shapes (scrub, repetition, chunking are shuffle-free narrow plans) and
vocabulary-sized broadcast joins (tf-idf).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..core.io import load_table
from ..core.registry import register

# --- deterministic PII injection + scrub patterns --------------------------
# The synthetic corpus carries no identifiers, so the fixture injects
# deterministic PII-shaped strings first (doc_id-derived, no RNG) and the
# query proves the scrubber finds and redacts every one of them. Patterns
# stay inside the common Java-regex / RE2 subset so Spark and DuckDB agree.

EMAIL_PAT = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PHONE_PAT = r"\b555-[0-9]{4}\b"
IP_PAT = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"

_RAW_SQL = """
raw AS (
  SELECT doc_id, source,
         trim(text, ' ')
         || CASE WHEN doc_id % 3 = 0
                 THEN ' contact u' || doc_id || '@mail.example' ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
         || CASE WHEN doc_id % 7 = 0
                 THEN ' host 10.' || (doc_id % 256) || '.0.' || (doc_id % 100) ELSE '' END
         AS raw_text
  FROM documents
)
"""


def _raw_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    return d.select(
        "doc_id",
        "source",
        F.concat(
            F.trim("text"),
            F.when(
                did % 3 == 0,
                F.concat(F.lit(" contact u"), did.cast("string"), F.lit("@mail.example")),
            ).otherwise(""),
            F.when(
                did % 5 == 0,
                F.concat(F.lit(" call 555-"), F.lpad((did % 10000).cast("string"), 4, "0")),
            ).otherwise(""),
            F.when(
                did % 7 == 0,
                F.concat(
                    F.lit(" host 10."),
                    (did % 256).cast("string"),
                    F.lit(".0."),
                    (did % 100).cast("string"),
                ),
            ).otherwise(""),
        ).alias("raw_text"),
    )


@register(
    "q_pii_scrub",
    oracle=f"""
        WITH {_RAW_SQL.strip()}
        SELECT doc_id,
               CAST(len(regexp_extract_all(raw_text, '{EMAIL_PAT}')) AS INTEGER) AS n_emails,
               CAST(len(regexp_extract_all(raw_text, '{PHONE_PAT}')) AS INTEGER) AS n_phones,
               CAST(len(regexp_extract_all(raw_text, '{IP_PAT}')) AS INTEGER)    AS n_ips,
               md5(regexp_replace(regexp_replace(regexp_replace(raw_text,
                     '{EMAIL_PAT}', '<EMAIL>', 'g'),
                     '{PHONE_PAT}', '<PHONE>', 'g'),
                     '{IP_PAT}', '<IP>', 'g'))                                   AS clean_hash
        FROM raw
        """,
    tags=("text", "pii", "scrub"),
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact emails / phone numbers / IPs and count what was found.

    Map-only: regexp_count + chained regexp_replace per row, no shuffle, so
    at 100 TB it is a pure scan-transform-write pass that scales linearly
    with input splits. The oracle hashes the scrubbed text, so a single
    character of divergence in any redaction fails the gate. Deterministic
    doc_id-derived PII is injected first (the synthetic corpus has none);
    docs hit 0-3 of the patterns depending on doc_id mod 3/5/7.
    """
    raw = _raw_docs(spark, sf_dir)
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("raw_text"), EMAIL_PAT, "<EMAIL>"),
            PHONE_PAT,
            "<PHONE>",
        ),
        IP_PAT,
        "<IP>",
    )
    return raw.select(
        "doc_id",
        F.regexp_count("raw_text", F.lit(EMAIL_PAT)).cast("int").alias("n_emails"),
        F.regexp_count("raw_text", F.lit(PHONE_PAT)).cast("int").alias("n_phones"),
        F.regexp_count("raw_text", F.lit(IP_PAT)).cast("int").alias("n_ips"),
        F.md5(clean).alias("clean_hash"),
    )


# --- intra-document repetition (Gopher-style quality signal) ---------------

REP_N = 3  # word n-gram order
REP_DUP_THRESHOLD = 0.2  # flag docs whose duplicate-trigram share exceeds this


@register(
    "q_repetition_ngrams",
    oracle=f"""
        WITH words AS (
          SELECT doc_id, string_split_regex(trim(text, ' '), '\\s+') AS ws FROM documents
        ),
        grams AS (
          SELECT doc_id,
                 CASE WHEN len(ws) >= {REP_N}
                      THEN [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                            FOR i IN generate_series(1, len(ws) - {REP_N - 1})]
                      ELSE [] END AS gs
          FROM words
        )
        SELECT doc_id,
               CAST(len(gs) AS INTEGER)                AS n_grams,
               CAST(len(list_distinct(gs)) AS INTEGER) AS n_distinct,
               CASE WHEN len(gs) = 0 THEN CAST(0.0 AS DOUBLE)
                    ELSE 1.0 - CAST(len(list_distinct(gs)) AS DOUBLE) / len(gs)
               END                                     AS dup_ratio,
               len(gs) > 0 AND
               1.0 - CAST(len(list_distinct(gs)) AS DOUBLE) / len(gs) > {REP_DUP_THRESHOLD}
                                                       AS is_repetitive
        FROM grams
        """,
    tags=("text", "quality", "repetition"),
)
def q_repetition_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate word-trigram share per document — the repetition filter.

    Generated text loops; natural text rarely repeats a trigram. The
    duplicate share (1 - distinct/total trigrams) is the standard quality
    gate for that. Entirely array expressions inside one projection — no
    explode, no shuffle, no UDF — so the 100 TB cost is one codegen'd scan.
    """
    d = load_table(spark, sf_dir, "documents")
    # bind the word array as a COLUMN before the lambda (the repo-wide
    # higher-order-function rule, see q_ngram_jaccard): an unbound split
    # inlines into every element_at inside the lambda and re-tokenizes the
    # document once per gram element — O(words^2) per doc
    with_ws = d.select("doc_id", F.split(F.trim("text"), r"\s+").alias("ws"))
    ws = F.col("ws")
    n = F.size(ws)
    grams = F.when(
        n >= REP_N,
        F.transform(
            F.sequence(F.lit(1), n - (REP_N - 1)),
            lambda i: F.concat_ws(
                " ", F.element_at(ws, i), F.element_at(ws, i + 1), F.element_at(ws, i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    with_g = with_ws.select("doc_id", grams.alias("gs"))
    n_g = F.size("gs")
    n_d = F.size(F.array_distinct("gs"))
    dup = F.when(n_g == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - n_d.cast("double") / n_g
    )
    return with_g.select(
        "doc_id",
        n_g.cast("int").alias("n_grams"),
        n_d.cast("int").alias("n_distinct"),
        dup.alias("dup_ratio"),
        ((n_g > 0) & (dup > REP_DUP_THRESHOLD)).alias("is_repetitive"),
    )


# --- model-window chunking -------------------------------------------------

CHUNK_TOKENS = 64  # window length in whitespace tokens
CHUNK_STRIDE = 48  # window stride (16-token overlap)


@register(
    "q_chunk_split",
    oracle=f"""
        WITH words AS (
          SELECT doc_id, len(string_split_regex(trim(text, ' '), '\\s+')) AS n_tok
          FROM documents
        ),
        starts AS (
          SELECT doc_id, n_tok, unnest(generate_series(0, n_tok - 1, {CHUNK_STRIDE})) AS s
          FROM words WHERE n_tok >= 1
        )
        SELECT doc_id,
               CAST((s / {CHUNK_STRIDE}) AS INTEGER)             AS chunk_idx,
               CAST(s AS BIGINT)                                 AS start_tok,
               CAST(least({CHUNK_TOKENS}, n_tok - s) AS INTEGER) AS chunk_len
        FROM starts
        WHERE s = 0 OR n_tok - s > {CHUNK_TOKENS - CHUNK_STRIDE}
        """,
    tags=("text", "chunking"),
)
def q_chunk_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split documents into overlapping fixed-token windows (chunk manifest).

    Emits one row per (doc, window start) for 64-token windows at stride 48;
    a tail window fully contained in its predecessor (remainder <= the
    16-token overlap) is dropped on both sides. Narrow plan: sequence +
    explode inside the scan partition, no shuffle — the downstream tokenizer
    consumes the manifest co-partitioned with the text. Row expansion is
    n_tokens/stride, bounded and linear in corpus size.
    """
    d = load_table(spark, sf_dir, "documents")
    n = F.size(F.split(F.trim("text"), r"\s+"))
    toks = d.select("doc_id", n.alias("n_tok")).filter(F.col("n_tok") >= 1)
    starts = toks.select(
        "doc_id",
        "n_tok",
        F.explode(F.sequence(F.lit(0), F.col("n_tok") - 1, F.lit(CHUNK_STRIDE))).alias("s"),
    )
    kept = starts.filter(
        (F.col("s") == 0) | (F.col("n_tok") - F.col("s") > CHUNK_TOKENS - CHUNK_STRIDE)
    )
    return kept.select(
        "doc_id",
        (F.col("s") / CHUNK_STRIDE).cast("int").alias("chunk_idx"),
        F.col("s").cast("bigint").alias("start_tok"),
        F.least(F.lit(CHUNK_TOKENS), F.col("n_tok") - F.col("s")).cast("int").alias("chunk_len"),
    )


# --- per-document TF-IDF keywords ------------------------------------------

TFIDF_TOP = 3  # keep the top-3 scoring terms per document


@register(
    "q_tfidf_terms",
    oracle=f"""
        WITH words AS (
          SELECT doc_id, unnest(string_split_regex(trim(text, ' '), '\\s+')) AS w
          FROM documents
        ),
        tf AS (SELECT doc_id, w, count(*) AS tf FROM words GROUP BY 1, 2),
        df AS (SELECT w, count(DISTINCT doc_id) AS df FROM words GROUP BY 1),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.w AS term, tf.tf, df.df,
                 row_number() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY CAST(tf.tf AS DOUBLE) * n.n_docs / df.df DESC, tf.w
                 ) AS rank
          FROM tf JOIN df ON df.w = tf.w CROSS JOIN n
        )
        SELECT doc_id, term,
               CAST(tf AS BIGINT) AS tf,
               CAST(df AS BIGINT) AS df,
               CAST(rank AS INTEGER) AS rank
        FROM scored WHERE rank <= {TFIDF_TOP}
        """,
    tags=("text", "tfidf", "keywords"),
)
def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF-style keywords per document.

    Score = tf * N / df (the rational idf — monotone in the usual log form
    for fixed tf, and bit-identical across engines since it avoids
    transcendental functions). Shapes at scale: tf is one shuffle on
    (doc_id, term); df is vocabulary-sized and BROADCAST back to the term
    stream (a vocabulary is millions of rows — broadcastable — while the
    corpus is billions); the final rank windows on doc_id, co-partitioned
    with tf. Ties break on the term string, so the top-3 is deterministic.
    """
    d = load_table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("w"))
    tf = words.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    df = words.groupBy("w").agg(F.count_distinct("doc_id").alias("df"))
    # one-row broadcast fold, matching the oracle's CROSS JOIN n: an eager
    # d.count() here would launch a full documents scan at PLAN-BUILD time
    # (every other registered query constructs lazily)
    n = d.agg(F.count("*").cast("double").alias("n_docs"))
    score = F.col("tf").cast("double") * F.col("n_docs") / F.col("df")
    w = Window.partitionBy("doc_id").orderBy(score.desc(), F.col("w").asc())
    ranked = (
        tf.join(F.broadcast(df), "w")
        .join(F.broadcast(n))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP)
    )
    return ranked.select(
        "doc_id",
        F.col("w").alias("term"),
        F.col("tf").cast("bigint").alias("tf"),
        F.col("df").cast("bigint").alias("df"),
        F.col("rank").cast("int").alias("rank"),
    )


# --- Bloom-filter membership ------------------------------------------------

BLOOM_BITS = 1 << 15  # m = 32768 bits (4 KiB) packed into <=512 BIGINT lanes
BLOOM_K = 4  # four 15-bit probe positions sliced from the 60-bit hash
BATCH_MOD = 5  # doc_id % 5 == 1 rows form the incoming batch

#: probe positions of a 60-bit hash h: ((h >> 15i) & 32767) for i in 0..3
_POS_SQL = ", ".join(f"(({{h}} >> {15 * i}) & {BLOOM_BITS - 1})" for i in range(BLOOM_K))


def _probe_positions(h):
    """K probe positions sliced from the hash column ``h`` (any name).

    Shift counts are literals, so F.shiftright applies to the passed Column
    directly — no F.expr with a hardcoded column name (which would resolve
    against whatever happens to be called 'h' in the caller's plan).
    """
    from pyspark.sql import functions as F

    if isinstance(h, str):
        h = F.col(h)
    return F.array(
        *[F.shiftright(h, 15 * i).bitwiseAND(F.lit(BLOOM_BITS - 1)) for i in range(BLOOM_K)]
    )


@register(
    "q_bloom_filter",
    oracle=f"""
        WITH corpus_h AS (
          SELECT ('0x' || substr(md5(trim(text, ' ')), 1, 15))::BIGINT AS h
          FROM documents
        ),
        batch AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 2 = 0 THEN trim(text, ' ')
                      ELSE trim(text, ' ') || ' zz' || doc_id END AS btext
          FROM documents WHERE doc_id % {BATCH_MOD} = 1
        ),
        batch_h AS (
          SELECT doc_id, ('0x' || substr(md5(btext), 1, 15))::BIGINT AS h FROM batch
        ),
        corpus_pos AS (
          SELECT unnest([{_POS_SQL.format(h='h')}]) AS p FROM corpus_h
        ),
        bloom AS (
          -- UBIGINT: DuckDB's signed 1<<63 overflows; spark's shiftleft wraps
          -- to the sign bit instead. Both sides agree bit-for-bit, and these
          -- lanes never reach the output schema.
          SELECT CAST(p // 64 AS BIGINT) AS lane,
                 bit_or(CAST(1 AS UBIGINT) << CAST(p % 64 AS INTEGER)) AS bits
          FROM corpus_pos GROUP BY 1
        ),
        probes AS (
          SELECT b.doc_id, b.h, u.p,
                 CAST(u.p // 64 AS BIGINT) AS lane,
                 CAST(1 AS UBIGINT) << CAST(u.p % 64 AS INTEGER) AS bit
          FROM (SELECT doc_id, h, unnest([{_POS_SQL.format(h='h')}]) AS p FROM batch_h) u
          JOIN batch_h b ON b.doc_id = u.doc_id AND b.h = u.h
        ),
        verdict AS (
          SELECT p.doc_id,
                 (count(*) FILTER (WHERE bl.bits IS NOT NULL AND (bl.bits & p.bit) <> 0))
                   = {BLOOM_K} AS bloom_maybe
          FROM probes p LEFT JOIN bloom bl ON bl.lane = p.lane
          GROUP BY 1
        )
        SELECT v.doc_id, v.bloom_maybe,
               (bh.h IN (SELECT h FROM corpus_h)) AS is_present,
               v.bloom_maybe AND bh.h NOT IN (SELECT h FROM corpus_h) AS is_false_positive
        FROM verdict v JOIN batch_h bh ON bh.doc_id = v.doc_id
        """,
    tags=("text", "dedup", "bloom", "membership"),
)
def q_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership: the scale-correct incremental-dedup pre-gate.

    At 100 TB you cannot broadcast the corpus hash SET to test an incoming
    batch, but you CAN broadcast a Bloom filter of it. Built here as a
    sparse (lane -> 64-bit lanes) table via one groupBy bit_or over the
    corpus's probe positions — at most 512 rows regardless of corpus size —
    then broadcast to the batch: a probe row checks its bit in its lane, a
    doc is 'maybe present' only if all 4 probes hit. No-hit docs are
    DEFINITELY new and skip the expensive exact/LSH dedup path entirely;
    the oracle also computes ground truth so the false-positive behavior of
    the filter itself is value-hashed (everything is integer arithmetic on
    the shared portable 60-bit hash, so both engines build bit-identical
    filters).
    """
    from ..core.fixtures import hash60

    d = load_table(spark, sf_dir, "documents")
    corpus_h = d.select(hash60(F.trim("text")).alias("h"))
    batch = d.filter(F.col("doc_id") % BATCH_MOD == 1).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0, F.trim("text")
        ).otherwise(
            F.concat(F.trim("text"), F.lit(" zz"), F.col("doc_id").cast("string"))
        ).alias("btext"),
    )
    batch_h = batch.select("doc_id", hash60("btext").alias("h"))

    def lanes(df):
        pos = df.select("*", F.explode(_probe_positions(F.col("h"))).alias("p"))
        return pos.select(
            "*",
            F.floor(F.col("p") / 64).cast("bigint").alias("lane"),
            # shiftleft needs a literal count; column shifts go through expr
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").alias("bit"),
        )

    bloom = (
        lanes(corpus_h)
        .groupBy("lane")
        .agg(F.bit_or("bit").alias("bits"))
    )
    probes = lanes(batch_h)
    verdict = (
        probes.join(F.broadcast(bloom), "lane", "left")
        .withColumn(
            "hit",
            F.col("bits").isNotNull() & (F.col("bits").bitwiseAND(F.col("bit")) != 0),
        )
        .groupBy("doc_id")
        .agg((F.sum(F.col("hit").cast("int")) == BLOOM_K).alias("bloom_maybe"))
    )
    present = batch_h.join(
        corpus_h.distinct().withColumn("present", F.lit(True)), "h", "left"
    ).select("doc_id", F.coalesce("present", F.lit(False)).alias("is_present"))
    return (
        verdict.join(present, "doc_id")
        .select(
            "doc_id",
            "bloom_maybe",
            "is_present",
            (F.col("bloom_maybe") & ~F.col("is_present")).alias("is_false_positive"),
        )
    )


# ---------------------------------------------------------------------------
# cross-document boilerplate stripping (segment-level dedup)
# ---------------------------------------------------------------------------

SEG_WORDS = 10  # segment granularity (stand-in for lines; fixture text has none)
BOILER_DOCS = 2  # a segment appearing in >= this many distinct docs is boilerplate


@register(
    "q_boilerplate_strip",
    oracle=rf"""
        WITH segs AS (
          SELECT doc_id, CAST(i AS BIGINT) AS idx,
                 array_to_string(ws[(i * {SEG_WORDS} + 1):((i + 1) * {SEG_WORDS})], ' ') AS seg
          FROM (
            SELECT doc_id, ws,
                   unnest(range(CAST(ceil(len(ws) / {SEG_WORDS}.0) AS BIGINT))) AS i
            FROM (
              SELECT doc_id, string_split_regex(trim(text, ' '), '\s+') AS ws FROM documents
            )
          )
        ),
        freq AS (
          SELECT seg, count(DISTINCT doc_id) AS n_docs FROM segs GROUP BY seg
        ),
        marked AS (
          SELECT g.doc_id, g.idx, g.seg, f.n_docs >= {BOILER_DOCS} AS boiler
          FROM segs g JOIN freq f ON f.seg = g.seg
        )
        SELECT doc_id,
               count(*)                                        AS n_segs,
               CAST(count(*) FILTER (WHERE NOT boiler) AS BIGINT) AS n_kept,
               CAST(coalesce(sum(CASE WHEN NOT boiler THEN
                 (idx + 1) * ((('0x' || substr(md5(seg), 1, 15))::BIGINT) % 1000000007) END), 0)
                 AS BIGINT)                                    AS kept_hash_sum
        FROM marked
        GROUP BY doc_id
        """,
    tags=("text", "dedup", "boilerplate"),
)
def q_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate removal: drop segments shared across docs.

    The CCNet/RefinedWeb-style pass that document-level dedup misses:
    headers, footers, and licence blocks repeat across otherwise-distinct
    pages. Here each document splits into fixed 10-word segments (the
    fixture has no newlines; real corpora use physical lines) and any
    segment appearing in >= 2 DISTINCT documents is stripped everywhere.
    The per-doc output keeps a position-weighted content fingerprint of
    the surviving segments ((idx+1) * hash per survivor), so the oracle
    match proves the same segments survived AT the same positions on both
    engines.

    Scale: segmentation is a narrow explode; the frequency pass is one
    hash-group on the segment text with map-side partial distinct-counts;
    the mark-back join shuffles on the segment key, where the very
    boilerplate being hunted is the hot key — AQE skew splitting's natural
    territory; the per-doc rollup shuffles doc-sized rows once.
    """
    from ..core.fixtures import hash60
    from ..operators.text import PORTABLE_HASH_PRIME

    d = load_table(spark, sf_dir, "documents")
    ws = F.split(F.trim(F.col("text")), r"\s+")
    segs = (
        d.select("doc_id", ws.alias("ws"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, CAST(ceil(size(ws) / {SEG_WORDS}.0) AS INT) - 1),"
                    f" i -> struct(CAST(i AS BIGINT) AS idx,"
                    f" array_join(slice(ws, i * {SEG_WORDS} + 1, {SEG_WORDS}), ' ') AS seg))"
                )
            ).alias("s"),
        )
        .select("doc_id", F.col("s.idx").alias("idx"), F.col("s.seg").alias("seg"))
    )
    freq = segs.groupBy("seg").agg(F.countDistinct("doc_id").alias("n_docs"))
    marked = segs.join(freq, "seg").select(
        "doc_id", "idx", "seg", (F.col("n_docs") >= BOILER_DOCS).alias("boiler")
    )
    # (idx+1)-weighted so the fingerprint is position-sensitive: surviving
    # segments reordered (or attributed to the wrong slot) change the sum
    # even when the multiset of segments is identical
    kept_hash = F.when(
        ~F.col("boiler"), (F.col("idx") + 1) * (hash60(F.col("seg")) % PORTABLE_HASH_PRIME)
    )
    return marked.groupBy("doc_id").agg(
        F.count("*").alias("n_segs"),
        F.sum(F.when(~F.col("boiler"), 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.coalesce(F.sum(kept_hash), F.lit(0)).cast("bigint").alias("kept_hash_sum"),
    )
