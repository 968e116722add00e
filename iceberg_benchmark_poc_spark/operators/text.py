"""Distributed text-dedup primitives: shingles, minhash-LSH, simhash.

Design for 100 TB of documents:
- Everything is expression-level (whole-stage codegen) — no Python UDFs in
  the hot path. The only "hash function" is md5 (JVM intrinsic), folded to a
  60-bit integer, identical on the DuckDB oracle side.
- The shingle explosion is the dominant cost; it is embarrassingly parallel
  and feeds a (doc, k) -> min aggregation that combines map-side, so the
  shuffle carries one row per (doc, hash-function), not per shingle.
- LSH banding turns near-dup search from O(n^2) pairs into a self-join on
  band buckets; bucket skew (a viral boilerplate string) is handled by AQE
  skew-join splitting, and candidate verification (exact Jaccard) only runs
  on bucket-collision pairs.
- A pair colliding on several bands is emitted once, on its first colliding
  band: each band row carries the earlier bands' minhashes, so the join
  drops the later meetings itself and no dedupe exchange follows it.

The engine runs the packed path: ``shingle_arrays`` -> ``minhash_from_arrays``
-> ``lsh_pairs_from_wide`` / ``lsh_pairs_between`` -> ``jaccard_from_arrays``.
``shingle_arrays`` and ``jaccard_from_arrays`` pass the other per-document
columns through, so one relation carries a document's attributes from
shingling to the verified pair.
The exploded ``word_shingles`` and groupBy ``minhash_signatures`` remain for
perfbench's operator probe, which imports them by name.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..core.fixtures import hash60

#: Mersenne-ish prime for the affine minhash family (fits comfortably in i64
#: after the 60-bit hash is reduced mod it — no overflow under ANSI mode).
PORTABLE_HASH_PRIME = 1_000_000_007


MINHASH_K = 8  # hash functions per signature
LSH_ROWS_PER_BAND = 2  # => 4 bands; P(candidate) = 1-(1-j^2)^4 for jaccard j
SHINGLE_WORDS = 3  # word trigram shingles


def word_shingles(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Explode documents into distinct word-trigram shingles.

    Output: (doc_id, shingle STRING, h BIGINT) where h is the portable 60-bit
    hash reduced mod PORTABLE_HASH_PRIME. Documents with < 3 words produce a
    single whole-text shingle so every doc has a non-empty shingle set.

    Derived from ``shingle_arrays`` (the packed form) by exploding, so the
    trigram/short-doc-fallback definition exists exactly once — the two
    pipelines cannot drift.
    """
    packed = shingle_arrays(docs, id_col, text_col)
    return packed.select("doc_id", F.explode("sh_arr").alias("shingle")).withColumn(
        "h", hash60(F.col("shingle")) % PORTABLE_HASH_PRIME
    )


def shingle_arrays(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document distinct shingle sets, kept packed as arrays.

    Output: every input column, ``id_col`` renamed to doc_id, then
    (sh_arr ARRAY<STRING>, h_arr ARRAY<BIGINT>) with the same shingle/hash
    definitions as word_shingles — but never exploded: the whole
    construction is narrow (zero shuffles), and downstream minhash/Jaccard
    stages operate on the arrays, so per-shingle rows never hit a shuffle.
    The other columns ride along so one relation can carry a document's
    attributes and its shingle set; column pruning drops the ones no caller
    reads. h_arr positions don't correspond to sh_arr positions (both are
    independently distinct sets); minhash only needs the set of hashes.
    """
    kept = ["doc_id" if c == id_col else c for c in docs.columns]
    tokenized = docs.select(
        *[F.col(c).alias(k) for c, k in zip(docs.columns, kept)],
        F.trim(F.col(text_col)).alias("txt"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("ws"),
    )
    ws = F.col("ws")
    n = F.size(ws)
    trigrams = F.transform(
        F.sequence(F.lit(1), n - (SHINGLE_WORDS - 1)),
        lambda i: F.concat_ws(" ", F.element_at(ws, i), F.element_at(ws, i + 1), F.element_at(ws, i + 2)),
    )
    shingle_arr = F.when(n >= SHINGLE_WORDS, trigrams).otherwise(F.array(F.col("txt")))
    with_sh = tokenized.select(*kept, F.array_distinct(shingle_arr).alias("sh_arr"))
    return with_sh.select(
        *kept,
        "sh_arr",
        F.transform(F.col("sh_arr"), lambda s: hash60(s) % PORTABLE_HASH_PRIME).alias("h_arr"),
    )


def minhash_from_arrays(docs_arr: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """Wide minhash signatures from packed hash arrays: (doc_id, mh0..mh{k-1}).

    Each signature column is array_min over an affine-transformed copy of
    h_arr — k cheap passes over a bigint array per doc, no aggregation, no
    shuffle (the groupBy formulation shuffles per-doc partials; this never
    leaves the scan stage). Same hash family as minhash_signatures.
    """
    def affine(i):
        # one-arg lambda: a two-arg lambda would make F.transform pass the
        # array index as the second argument, clobbering the closure
        return lambda h: ((2 * i + 3) * h + (5 * i + 7)) % PORTABLE_HASH_PRIME

    return docs_arr.select(
        "doc_id",
        *[
            F.array_min(F.transform(F.col("h_arr"), affine(i))).alias(f"mh{i}")
            for i in range(k)
        ],
    )


def band_rows(
    signatures: DataFrame, k: int = MINHASH_K, rows_per_band: int = LSH_ROWS_PER_BAND
) -> DataFrame:
    """(doc_id, band, band_sig, prev) rows from wide mh0..mh{k-1} signatures.

    ``band_sig`` is the band's ``rows_per_band`` minhashes as one struct, so
    two docs collide on a band iff the structs are equal. ``prev`` is the
    array of the earlier bands' structs (empty on band 0): it is what lets
    the pair generators below emit each pair only on its first colliding
    band. The shuffled shape downstream is n_docs x n_bands short rows.
    """
    n_bands = k // rows_per_band
    sigs = [
        F.struct(
            *[F.col(f"mh{b * rows_per_band + i}").alias(f"m{i}") for i in range(rows_per_band)]
        )
        for b in range(n_bands)
    ]
    # explode a literal array of per-band structs: over a column reference
    # the optimizer would infer ``size(col) > 0`` and push it below the
    # projection, evaluating every minhash twice
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                sigs[b].alias("band_sig"),
                F.slice(F.array(*sigs), 1, b).alias("prev"),
            )
            for b in range(n_bands)
        ]
    )
    return signatures.select("doc_id", F.explode(band_structs).alias("bs")).select(
        "doc_id", "bs.band", "bs.band_sig", "bs.prev"
    )


def _band_pairs(left: DataFrame, right: DataFrame) -> DataFrame:
    """Band collisions of ``left`` (doc_a) x ``right`` (doc_b) band rows,
    each pair kept only on its FIRST colliding band: the pair joined on
    band b survives iff its two signatures collide on no band < b. A doc
    has one row per band, so a pair meets at most once per band and the
    rule emits every colliding pair exactly once — the dedupe a
    ``.distinct()`` would pay an exchange for."""
    a = left.select(
        F.col("doc_id").alias("doc_a"), "band", "band_sig", F.col("prev").alias("prev_a")
    )
    b = right.select(
        F.col("doc_id").alias("doc_b"), "band", "band_sig", F.col("prev").alias("prev_b")
    )
    earlier = F.exists(F.zip_with("prev_a", "prev_b", lambda x, y: x == y), lambda e: e)
    return a.join(b, ["band", "band_sig"]).filter(~earlier).select("doc_a", "doc_b")


def lsh_pairs_from_wide(
    signatures: DataFrame, k: int = MINHASH_K, rows_per_band: int = LSH_ROWS_PER_BAND
) -> DataFrame:
    """Candidate pairs (doc_a < doc_b) from wide signatures via a banded
    self-join; each pair once, on its first colliding band."""
    bands = band_rows(signatures, k, rows_per_band)
    return _band_pairs(bands, bands).filter(F.col("doc_a") < F.col("doc_b"))


def lsh_pairs_between(
    sig_new: DataFrame,
    sig_corpus: DataFrame,
    k: int = MINHASH_K,
    rows_per_band: int = LSH_ROWS_PER_BAND,
) -> DataFrame:
    """Cross-set LSH candidates: (new doc, corpus doc) band collisions, each
    pair once, on its first colliding band.

    The incremental-dedup shape: an incoming batch's bands equi-join the
    standing corpus's bands — never new x corpus text comparison, and at
    scale the corpus band table is a bucketed/sorted standing index the
    incoming batch joins into, so each increment shuffles only its own
    n_new x n_bands rows.
    """
    return _band_pairs(
        band_rows(sig_new, k, rows_per_band), band_rows(sig_corpus, k, rows_per_band)
    )


def jaccard_from_arrays(pairs: DataFrame, docs_arr: DataFrame) -> DataFrame:
    """Exact set Jaccard for candidate pairs, via array_intersect.

    ``pairs`` is (doc_a, doc_b); ``docs_arr`` carries (doc_id, sh_arr) with
    each sh_arr a distinct set. Output: (doc_a, doc_b, inter, size_a,
    size_b, jaccard), then every other column ``c`` of ``docs_arr`` as
    ``c_a`` / ``c_b``. The intersection, both set sizes and the per-doc
    columns ride along so asymmetric measures (containment = inter /
    size_a) and per-doc attributes (a class's copy count) need no second
    verify or join; column pruning drops them where a caller does not read
    them.

    Intersection compares shingle STRINGS (not their mod-P hashes), so a hash
    collision can't inflate the count. Two equi-joins attach each side's
    packed set; only candidate docs' arrays are shuffled.
    """
    others = [c for c in docs_arr.columns if c not in ("doc_id", "sh_arr")]

    def side(s: str) -> DataFrame:
        return docs_arr.select(
            F.col("doc_id").alias(f"doc_{s}"),
            F.col("sh_arr").alias(f"sh_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in others],
        )

    carried = [f"{c}_{s}" for s in ("a", "b") for c in others]
    joined = pairs.join(side("a"), "doc_a").join(side("b"), "doc_b")
    counted = joined.select(
        "doc_a",
        "doc_b",
        F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).alias("inter"),
        F.size(F.col("sh_a")).alias("size_a"),
        F.size(F.col("sh_b")).alias("size_b"),
        *carried,
    )
    return counted.select(
        "doc_a",
        "doc_b",
        "inter",
        "size_a",
        "size_b",
        (F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter"))).alias("jaccard"),
        *carried,
    )


def minhash_signatures(shingles: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """Minhash signature rows: (doc_id, k INT, minhash BIGINT).

    Hash family h_k(x) = ((2k+3)*x + 5k+7) mod P — deterministic, portable,
    overflow-safe. All k minima are computed as k aggregate expressions in ONE
    groupBy pass (not a k-way explode): the map side reduces each partition to
    one row per doc before the single shuffle, and the (doc_id, k, minhash)
    shape is restored by a shuffle-free stack() unpivot.
    """
    min_cols = [
        F.min(((2 * i + 3) * F.col("h") + (5 * i + 7)) % PORTABLE_HASH_PRIME).alias(f"mh{i}")
        for i in range(k)
    ]
    agg = shingles.groupBy("doc_id").agg(*min_cols)
    stack_expr = f"stack({k}, " + ", ".join(f"cast({i} as int), mh{i}" for i in range(k)) + ") as (k, minhash)"
    return agg.select("doc_id", F.expr(stack_expr))


#: simhash signature width — the full 60-bit word-hash space. 16 bits is too
#: narrow for template-heavy corpora (at sf0.1 more than half of ALL pairs
#: landed within hamming 3); at 60 bits random pairs sit near hamming 30.
SIMHASH_BITS = 60


#: lane geometry for the packed-counter aggregation below: each BIGINT sum
#: carries LANES_PER_SUM independent 20-bit counters, so 60 per-bit counts
#: need only 20 aggregate columns. A 20-bit lane overflows only for a doc
#: with > 2^20 distinct words — far beyond any training-corpus document.
LANE_BITS = 20
LANES_PER_SUM = 3
LANE_MASK = (1 << LANE_BITS) - 1


def simhash_sig(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = SIMHASH_BITS
) -> DataFrame:
    """``bits``-wide simhash signature per document: (doc_id, simhash BIGINT).

    Distinct words vote +1/-1 per bit of their 60-bit hash; the signature
    packs the per-bit majority signs. Near-dup docs differ in few bits
    (compare via hamming distance over bitwise XOR downstream).

    Each document's word set is deduplicated IN PLACE (array_distinct over
    the whitespace split, empty tokens dropped — the same set the old
    explode->filter->DISTINCT form produced with a word-scale shuffle),
    then exploded narrowly so the md5 hash and the lane sums run inside
    whole-stage codegen. The per-bit popcounts are aggregated in packed
    20-bit lanes: sum s_j accumulates bits {j, j+20, j+40} of each word
    hash into lanes 0/20/40 of one BIGINT, so the groupBy carries 20
    aggregate columns instead of 60 — and because the aggregation
    partial-combines map-side, the ONLY shuffle moves one short row per
    document, independent of document length (the old form's first shuffle
    carried every distinct (doc, word) string). Majority vote for bit b:
    2 * popcount_b > n_words. Docs with no non-empty word produce no row
    (exploding an empty set produces none).
    """
    n_sums = (bits + LANES_PER_SUM - 1) // LANES_PER_SUM
    words = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.array_distinct(
                    F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda w: w != F.lit(""))
                )
            ).alias("w"),
        )
        .withColumn("h", hash60(F.col("w")))
    )
    packed_sums = []
    for j in range(n_sums):
        lanes = None
        for l in range(LANES_PER_SUM):
            b = j + n_sums * l
            if b >= bits:
                continue
            lane = F.shiftleft(
                F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)), LANE_BITS * l
            )
            lanes = lane if lanes is None else lanes + lane
        packed_sums.append(F.sum(lanes).alias(f"s{j}"))
    counted = words.groupBy("doc_id").agg(F.count("*").alias("n"), *packed_sums)
    sig = None
    for b in range(bits):
        j, l = b % n_sums, b // n_sums
        count = F.shiftright(F.col(f"s{j}"), LANE_BITS * l).bitwiseAND(F.lit(LANE_MASK))
        term = F.when(count * 2 > F.col("n"), F.lit(1 << b)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return counted.select("doc_id", sig.cast("bigint").alias("simhash"))
