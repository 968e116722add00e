"""Vector-similarity queries over the ``embeddings`` table (vec_id,
embedding ARRAY<FLOAT>, label).

Adds the similarity-search surface a training-data pipeline needs on top of
the reference's capabilities: brute-force cosine top-k as the exact baseline,
a deterministic sign-LSH bucketing as the approximate scale path, and
per-label centroids as the IVF coarse-quantizer build step.

All vector math is expression-level (zip_with/aggregate inside codegen) on
2^-20 fixed-point quantized vectors (operators.vectors.quantize/dot_quant):
exact bigint sums are order-independent and bit-identical to the DuckDB
oracle, at integer-arithmetic speed. No UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..core.io import cut, load_table
from ..core.registry import register
from ..operators.vectors import (
    QUANT_SCALE,
    absmax,
    cosine_topk,
    dot_int8,
    dot_quant,
    int8_scale,
    quantize,
    quantize_int8,
)

QUERY_MOD = 100  # vec_id % 100 == 0 rows are the query set
QUERY_K = 32  # q_embed_topk's exact baseline caps its query set at 32 vectors
#: (vec_id < MOD*K) so brute-force work is O(K * corpus), not O(corpus^2/MOD)
QUERY_CAP = QUERY_MOD * QUERY_K
TOP_K = 3
N_HYPERPLANES = 4  # sign-LSH bits -> 16 buckets

# DuckDB twins of the fixed-point vector math -------------------------------

_NORMS_CTE = f"""
norms AS (
  SELECT vec_id, sqrt(CAST(SUM(xq * xq) AS DOUBLE)) AS norm
  FROM (SELECT vec_id, CAST(floor(CAST(x AS DOUBLE) * {float(QUANT_SCALE)}) AS BIGINT) AS xq
        FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings))
  GROUP BY vec_id
)
"""

#: quantized product of one zipped element pair (z = [corpus_x, query_x])
_QPROD = (
    f"SUM(CAST(floor(CAST(z[1] AS DOUBLE) * {float(QUANT_SCALE)}) AS BIGINT)"
    f" * CAST(floor(CAST(z[2] AS DOUBLE) * {float(QUANT_SCALE)}) AS BIGINT))"
)

# band b, bit j compares elements 8b+2j+1 vs 8b+2j+2 (1-based): each band
# reads its own disjoint slice of the vector, so band buckets are independent
def _band_bucket_sql(band: int) -> str:
    base = 2 * N_HYPERPLANES * band
    return " + ".join(
        f"(CASE WHEN embedding[{base + 2 * j + 1}] > embedding[{base + 2 * j + 2}]"
        f" THEN {1 << j} ELSE 0 END)"
        for j in range(N_HYPERPLANES)
    )


#: band 0 — the single-band index used by q_embed_buckets / q_embed_ann
_BUCKET_SQL = _band_bucket_sql(0)


def _bucket_col(band: int = 0) -> F.Column:
    base = 2 * N_HYPERPLANES * band
    b = None
    for j in range(N_HYPERPLANES):
        bit = F.when(
            F.element_at(F.col("embedding"), base + 2 * j + 1)
            > F.element_at(F.col("embedding"), base + 2 * j + 2),
            F.lit(1 << j),
        ).otherwise(F.lit(0))
        b = bit if b is None else b + bit
    return b.cast("int")


@register(
    "q_embed_topk",
    oracle=f"""
        WITH {_NORMS_CTE.strip()},
        dots AS (
          SELECT q_id AS query_id, c_id AS neighbor_id, {_QPROD} AS dot
          FROM (
            SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                   unnest(list_zip(c.embedding, q.embedding)) AS z
            FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
            WHERE q.vec_id % {QUERY_MOD} = 0 AND q.vec_id < {QUERY_CAP}
          )
          GROUP BY 1, 2
        ),
        scored AS (
          SELECT d.query_id, d.neighbor_id,
                 CAST(d.dot AS DOUBLE) / (nc.norm * nq.norm) AS cosine
          FROM dots d
          JOIN norms nq ON nq.vec_id = d.query_id
          JOIN norms nc ON nc.vec_id = d.neighbor_id
        )
        SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank
        FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
          FROM scored
        )
        WHERE rank <= {TOP_K}
        """,
    tags=("embeddings", "similarity", "topk"),
)
def q_embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: exact nearest neighbors for the query set.

    The query set (vec_id % 100 == 0, capped at 32 vectors so the work is
    O(32 x corpus) at ANY scale, never O(corpus^2)) is broadcast, so the
    corpus is scanned exactly once with no shuffle of the big side; per-query
    top-k is a windowed rank over |queries| x corpus candidates. This is the
    exactness baseline that q_embed_ann's bucketed search is measured against.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(
        emb, (F.col("vec_id") % QUERY_MOD == 0) & (F.col("vec_id") < QUERY_CAP), k=TOP_K
    )


@register(
    "q_embed_buckets",
    oracle=f"""
        SELECT {_BUCKET_SQL} AS bucket,
               count(*)                   AS n_vecs,
               count(DISTINCT label)      AS n_labels
        FROM embeddings
        GROUP BY 1
        """,
    tags=("embeddings", "lsh"),
)
def q_embed_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucket histogram: the ANN index build step.

    Four deterministic hyperplanes (sign of emb[2j] - emb[2j+1]) hash every
    vector to one of 16 buckets in a single narrow scan — the partition key
    for bucketed ANN search. At 100 TB this becomes the DataFrame's physical
    partitioning (repartition(bucket) + sorted write), so candidate search is
    partition-pruned I/O, not compute.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.groupBy(_bucket_col().alias("bucket")).agg(
        F.count("*").alias("n_vecs"),
        F.countDistinct("label").alias("n_labels"),
    )


@register(
    "q_embed_ann",
    oracle=f"""
        WITH {_NORMS_CTE.strip()},
        bucketed AS (
          SELECT vec_id, embedding, {_BUCKET_SQL} AS bucket FROM embeddings
        ),
        dots AS (
          SELECT q_id AS query_id, c_id AS neighbor_id, bucket, {_QPROD} AS dot
          FROM (
            SELECT q.vec_id AS q_id, c.vec_id AS c_id, q.bucket AS bucket,
                   unnest(list_zip(c.embedding, q.embedding)) AS z
            FROM bucketed q JOIN bucketed c
              ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
            WHERE q.vec_id % {QUERY_MOD} = 0 AND q.vec_id < {QUERY_CAP}
          )
          GROUP BY 1, 2, 3
        ),
        scored AS (
          SELECT d.query_id, d.neighbor_id, d.bucket,
                 CAST(d.dot AS DOUBLE) / (nc.norm * nq.norm) AS cosine
          FROM dots d
          JOIN norms nq ON nq.vec_id = d.query_id
          JOIN norms nc ON nc.vec_id = d.neighbor_id
        )
        SELECT query_id, neighbor_id, bucket, cosine, CAST(rank AS INTEGER) AS rank
        FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
          FROM scored
        )
        WHERE rank <= {TOP_K}
        """,
    tags=("embeddings", "similarity", "lsh", "topk"),
)
def q_embed_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: cosine search restricted to the query's LSH bucket.

    The scale path: instead of |queries| x |corpus| scoring, each query only
    scores vectors in its own sign-LSH bucket (~1/16 of the corpus here; with
    b bits, 2^-b). The join is an equi-join on bucket — co-partitionable,
    skew handled by AQE — and recall vs q_embed_topk is measured in tests.

    The query set is capped at QUERY_K=32 vectors (same bound as
    q_embed_topk): an uncapped modulus fraction grows with the corpus, so
    the broadcast side and the O(|corpus|*|queries|/2^b) pair count would
    both scale quadratically at 100x data. With the cap, work stays
    O(32 * corpus / 2^b) at any scale.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    bucketed = emb.select(
        "vec_id", quantize(F.col("embedding")).alias("qe"), _bucket_col().alias("bucket")
    )
    with_norm = bucketed.select(
        "vec_id",
        "qe",
        "bucket",
        F.sqrt(dot_quant(F.col("qe"), F.col("qe")).cast("double")).alias("norm"),
    )
    queries = with_norm.filter(
        (F.col("vec_id") % QUERY_MOD == 0) & (F.col("vec_id") < QUERY_CAP)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("qe").alias("q_qe"),
        F.col("norm").alias("q_norm"),
        F.col("bucket").alias("bucket"),
    )
    pairs = with_norm.join(F.broadcast(queries), "bucket").filter(F.col("vec_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "bucket",
        (
            dot_quant(F.col("qe"), F.col("q_qe")).cast("double")
            / (F.col("norm") * F.col("q_norm"))
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "bucket", "cosine", "rank")
    )


#: cosine floor for calling two vectors near-duplicates. The synthetic
#: embeddings are near-orthogonal random vectors (pairwise cosine tops out
#: ~0.5-0.6), so a production-style 0.9 threshold would select nothing; 0.35
#: sits above the p99.9 of the pair distribution and keeps the query
#: non-trivially exercised at every scale factor.
NEARDUP_THRESHOLD = 0.35

#: OR-combined sign-LSH bands for near-dup candidate generation: a pair is a
#: candidate if ANY band's bucket collides — P(candidate) = 1-(1-s^r)^b, the
#: classic banding amplification (s = per-bit agreement probability).
N_NEARDUP_BANDS = 3

#: sign-LSH banding read from the exact-dup `classes` CTE (one rep per
#: distinct vector) — q_embed_neardup collapses before banding
_BANDS_CLASSES_CTE = "\nUNION ALL\n".join(
    f"SELECT vec_id, {b} AS band, {_band_bucket_sql(b)} AS bucket FROM classes"
    for b in range(N_NEARDUP_BANDS)
)


@register(
    "q_embed_neardup",
    oracle=f"""
        WITH classes AS (
          SELECT min(vec_id) AS vec_id, count(*) AS n, embedding
          FROM embeddings GROUP BY embedding
        ),
        norms AS (
          SELECT vec_id, sqrt(CAST(SUM(xq * xq) AS DOUBLE)) AS norm
          FROM (SELECT vec_id, CAST(floor(CAST(x AS DOUBLE) * {float(QUANT_SCALE)}) AS BIGINT) AS xq
                FROM (SELECT vec_id, unnest(embedding) AS x FROM classes))
          GROUP BY vec_id
        ),
        bands AS (
          {_BANDS_CLASSES_CTE}
        ),
        cand AS (
          SELECT DISTINCT a.vec_id AS keep_id, b.vec_id AS dup_id
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
        ),
        dots AS (
          SELECT keep_id, dup_id, {_QPROD} AS dot
          FROM (
            SELECT c.keep_id, c.dup_id,
                   unnest(list_zip(ka.embedding, da.embedding)) AS z
            FROM cand c
            JOIN classes ka ON ka.vec_id = c.keep_id
            JOIN classes da ON da.vec_id = c.dup_id
          )
          GROUP BY 1, 2
        ),
        pairs AS (
          SELECT d.dup_id AS vec_id, d.keep_id,
                 CAST(d.dot AS DOUBLE) / (nk.norm * nd.norm) AS cosine
          FROM dots d
          JOIN norms nk ON nk.vec_id = d.keep_id
          JOIN norms nd ON nd.vec_id = d.dup_id
        )
        SELECT vec_id, vec_id AS dup_of,
               CAST(1.0 AS DOUBLE) AS cosine, n AS n_copies
        FROM classes WHERE n >= 2
        UNION ALL
        SELECT r.vec_id, r.keep_id AS dup_of, r.cosine, c.n AS n_copies
        FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, keep_id) AS rn
          FROM pairs
          WHERE cosine >= {NEARDUP_THRESHOLD}
        ) r
        JOIN classes c ON c.vec_id = r.vec_id
        WHERE r.rn = 1
        """,
    tags=("embeddings", "dedup", "similarity", "lsh"),
)
def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate dedup: banded LSH candidates + exact
    verify, over exact-dup vector classes.

    The embedding leg of the dedup family (exact / minhash / simhash /
    n-gram Jaccard live in textpipe): vectors first collapse to
    identical-content classes (size + min-vec_id representative) — the
    embedding analog of the class collapse in q_fuzzy_pairs/
    q_minhash_dedup — then candidate pairs come from OR-combined sign-LSH
    bands over the DISTINCT vectors — a pair qualifies if ANY of the 3
    bands' 4-bit buckets collide (1-(1-s^4)^3 amplification, the same
    banding as q_minhash_dedup) — then exact cosine verifies each
    candidate, and each duplicate is attributed to its best-matching
    smaller-id keeper. Classes with n >= 2 emit one (rep, rep, 1.0, n) row
    — their n-1 copies fold into the representative in closed form — so
    drop `vec_id IN (SELECT vec_id FROM this WHERE dup_of != vec_id)` plus
    keep-one-per-class remains the dedup action.

    Scale: collapsing first makes candidates a function of DISTINCT
    vectors — before it, the sf1 scale-up's 10-deep identical-vector
    classes collided in every band and grew the exact-verify volume ~100x
    for 10x data. The self-join is an equi-join on (band, bucket),
    shuffling each distinct vector N_BANDS times (the LSH trade: linear
    replication buys quadratic comparison savings; within a band only
    2^-bits of pairs compare). Candidates dedup BEFORE the exact-cosine
    verify so a pair colliding in all 3 bands scores once, not thrice.
    Bucket skew is AQE's skew-join case. Precision stays 1.0 by
    construction (exact verify); recall vs the brute-force pair set is
    measured in tests.

    Tuning (N_HYPERPLANES bits x N_NEARDUP_BANDS bands): candidate noise is
    ~bands * n^2 / 2^bits pairs, recall ~1-(1-s^bits)^bands with s the
    per-bit agreement of a true dup. The fixture plants WEAK dups (cosine
    0.35-0.5 -> s~0.63), where only small bands keep recall — 4 bits is
    deliberate here and the verify volume is the price of a 0.35 threshold.
    A production corpus whose near-dups sit at cosine >= 0.9 (s~0.92)
    should raise to 12-16 bits x 6-10 bands: noise shrinks by ~2^10 while
    recall stays >= 0.9 — same plan, two constants.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    classes = cut(
        emb.groupBy("embedding").agg(F.min("vec_id").alias("vec_id"), F.count("*").alias("n"))
    )
    self_rows = classes.filter(F.col("n") >= 2).select(
        "vec_id",
        F.col("vec_id").alias("dup_of"),
        F.lit(1.0).alias("cosine"),
        F.col("n").alias("n_copies"),
    )
    feats = classes.select(
        "vec_id",
        quantize(F.col("embedding")).alias("qe"),
        *[_bucket_col(b).alias(f"bucket{b}") for b in range(N_NEARDUP_BANDS)],
    )
    # cut: feats feeds the two band-join sides plus the keep/dup verify
    # legs (4 consumers) — without the cut the quantize + norm + 3 bucket
    # projections re-derive from the cut classes per leg
    feats = cut(
        feats.select(
            "vec_id",
            "qe",
            F.sqrt(dot_quant(F.col("qe"), F.col("qe")).cast("double")).alias("norm"),
            *[f"bucket{b}" for b in range(N_NEARDUP_BANDS)],
        )
    )
    # band unpivot via explode: ONE pass over feats (the unionByName form
    # re-ran the feats projection once per band)
    bands = feats.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), F.col(f"bucket{b}").alias("bucket")
                    )
                    for b in range(N_NEARDUP_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("vec_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    cand = (
        bands.select(F.col("vec_id").alias("keep_id"), "band", "bucket")
        .join(bands.select(F.col("vec_id").alias("dup_id"), "band", "bucket"), ["band", "bucket"])
        .filter(F.col("keep_id") < F.col("dup_id"))
        .select("keep_id", "dup_id")
        .distinct()
    )
    keep = feats.select(
        F.col("vec_id").alias("keep_id"), F.col("qe").alias("k_qe"), F.col("norm").alias("k_norm")
    )
    dup = feats.select(
        F.col("vec_id").alias("dup_id"), F.col("qe").alias("d_qe"), F.col("norm").alias("d_norm")
    )
    scored = (
        cand.join(keep, "keep_id")
        .join(dup, "dup_id")
        .select(
            F.col("dup_id").alias("vec_id"),
            "keep_id",
            (
                dot_quant(F.col("k_qe"), F.col("d_qe")).cast("double")
                / (F.col("k_norm") * F.col("d_norm"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= NEARDUP_THRESHOLD)
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cosine").desc(), F.col("keep_id"))
    cross = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .join(classes.select("vec_id", "n"), "vec_id")
        .select(
            "vec_id",
            F.col("keep_id").alias("dup_of"),
            "cosine",
            F.col("n").alias("n_copies"),
        )
    )
    return self_rows.unionByName(cross)


#: fixed-point scale for centroid accumulation: floor(x * 2^24) is computed
#: exactly in binary floating point (float32 mantissas fit), so the integer
#: sums are engine-independent — unlike double->DECIMAL casts, whose
#: round-half behavior differs between Spark (HALF_UP) and DuckDB.
CENTROID_SCALE = 1 << 24

#: cells each query probes: its NPROBE nearest centroids. Corpus vectors are
#: still indexed under exactly one cell — multi-probe widens the search, not
#: the index.
NPROBE = 2


@register(
    "q_ivf_topk",
    oracle=f"""
        WITH cent AS (
          SELECT label AS cell, dim,
                 CAST(SUM(CAST(floor(CAST(x AS DOUBLE) * {CENTROID_SCALE}) AS BIGINT)) AS DOUBLE)
                   / {CENTROID_SCALE} / count(*) AS c
          FROM (SELECT label, generate_subscripts(embedding, 1) AS dim, unnest(embedding) AS x
                FROM embeddings)
          GROUP BY 1, 2
        ),
        centq AS (
          SELECT cell, dim, CAST(floor(c * {QUANT_SCALE}) AS BIGINT) AS cq FROM cent
        ),
        cnorm AS (
          SELECT cell, sqrt(CAST(SUM(cq * cq) AS DOUBLE)) AS c_norm FROM centq GROUP BY 1
        ),
        vq AS (
          SELECT vec_id, dim, CAST(floor(CAST(x AS DOUBLE) * {QUANT_SCALE}) AS BIGINT) AS xq
          FROM (SELECT vec_id, generate_subscripts(embedding, 1) AS dim, unnest(embedding) AS x
                FROM embeddings)
        ),
        vnorm AS (
          SELECT vec_id, sqrt(CAST(SUM(xq * xq) AS DOUBLE)) AS norm FROM vq GROUP BY 1
        ),
        ranked AS (
          SELECT d.vec_id, d.cell,
                 row_number() OVER (
                   PARTITION BY d.vec_id
                   ORDER BY CAST(d.dot AS DOUBLE) / (vn.norm * cn.c_norm) DESC, d.cell
                 ) AS rn
          FROM (SELECT v.vec_id, q.cell, SUM(v.xq * q.cq) AS dot
                FROM vq v JOIN centq q USING (dim) GROUP BY 1, 2) d
          JOIN vnorm vn USING (vec_id)
          JOIN cnorm cn USING (cell)
        ),
        assigned AS (SELECT vec_id, cell FROM ranked WHERE rn = 1),
        probes AS (
          SELECT vec_id, cell FROM ranked
          WHERE rn <= {NPROBE} AND vec_id % {QUERY_MOD} = 0 AND vec_id < {QUERY_CAP}
        ),
        pairs AS (
          SELECT qa.vec_id AS query_id, ca.vec_id AS neighbor_id, qa.cell,
                 SUM(qv.xq * cv.xq) AS dot
          FROM probes qa
          JOIN assigned ca ON ca.cell = qa.cell AND ca.vec_id <> qa.vec_id
          JOIN vq qv ON qv.vec_id = qa.vec_id
          JOIN vq cv ON cv.vec_id = ca.vec_id AND cv.dim = qv.dim
          GROUP BY 1, 2, 3
        ),
        scored AS (
          SELECT p.query_id, p.neighbor_id, p.cell,
                 CAST(p.dot AS DOUBLE) / (nq.norm * nc.norm) AS cosine
          FROM pairs p
          JOIN vnorm nq ON nq.vec_id = p.query_id
          JOIN vnorm nc ON nc.vec_id = p.neighbor_id
        )
        SELECT query_id, neighbor_id, cell, cosine, CAST(rank AS INTEGER) AS rank
        FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
          FROM scored
        )
        WHERE rank <= {TOP_K}
        """,
    tags=("embeddings", "similarity", "ivf", "topk"),
)
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF multi-probe search: one-cell index, NPROBE-cell query fan-out.

    The second approximate scale path next to sign-LSH (q_embed_ann): the
    coarse quantizer is the per-label centroid set (q_embed_centroids is its
    training step), every corpus vector is indexed under its highest-cosine
    centroid, and each query scores vectors in its NPROBE nearest cells —
    the standard IVF recall knob: boundary queries (whose true neighbor sits
    just across a Voronoi edge) recover it from the second cell at the cost
    of probing ~NPROBE/|cells| of the corpus instead of 1/|cells|.

    Scale: the centroid table folds to ONE broadcast row of
    array<struct<cell,cq,c_norm>>, so assignment is a map-only array_max
    expression per vector — no explode, no per-vector window, no shuffle.
    The probe is a broadcast equi-join on cell; the only shuffles are the
    |cells| x |dims| centroid partial-aggregate and the final per-query
    top-k, both tiny. Assignment cost is O(|corpus| x |cells|) inside
    codegen, the IVF trade: cells ~ sqrt(corpus) keeps it linear-ish.

    Mirrors the reference's stats-based pruning idea (coarse summaries route
    queries past most of the data, poc/test_wide_table_pruning.py:193-277)
    applied to vector search.
    """
    emb = load_table(spark, sf_dir, "embeddings")

    exploded = emb.select("label", F.posexplode("embedding").alias("dim", "x"))
    xq24 = F.floor(F.col("x").cast("double") * F.lit(float(CENTROID_SCALE))).cast("bigint")
    cent = exploded.groupBy("label", "dim").agg(
        (F.sum(xq24).cast("double") / F.lit(float(CENTROID_SCALE)) / F.count("*")).alias("c")
    )
    cent_arr = (
        cent.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "c"))).alias("s"))
        .select(
            F.col("label").alias("cell"),
            F.transform(
                "s", lambda t: F.floor(t["c"] * F.lit(float(QUANT_SCALE))).cast("bigint")
            ).alias("cq"),
        )
    )
    cent_arr = cent_arr.select(
        "cell", "cq", F.sqrt(dot_quant(F.col("cq"), F.col("cq")).cast("double")).alias("c_norm")
    )
    # one row: the whole coarse quantizer, sorted by cell for a deterministic fold
    cents_one = cent_arr.agg(
        F.array_sort(F.collect_list(F.struct("cell", "cq", "c_norm"))).alias("cents")
    )

    vecs = emb.select("vec_id", quantize(F.col("embedding")).alias("qe"))
    vecs = vecs.select(
        "vec_id", "qe", F.sqrt(dot_quant(F.col("qe"), F.col("qe")).cast("double")).alias("norm")
    )
    # struct comparison is field-ordered, so max(struct(cos, -cell)) is
    # "highest cosine, then smallest cell" — the oracle's ORDER BY ... DESC, cell
    best = F.array_max(
        F.transform(
            "cents",
            lambda t: F.struct(
                (dot_quant(F.col("qe"), t["cq"]).cast("double") / (F.col("norm") * t["c_norm"])).alias(
                    "cos"
                ),
                (-t["cell"]).alias("negcell"),
            ),
        )
    )
    assigned = (
        vecs.join(F.broadcast(cents_one))
        .withColumn("cell", (-best["negcell"]).alias("cell"))
        .select("vec_id", "qe", "norm", "cell")
    )

    # query probes: top-NPROBE cells by the same (cos desc, cell asc) order —
    # reverse(array_sort) of the (cos, negcell) structs, sliced, exploded.
    # The explode fans out only |queries| x NPROBE rows, never the corpus.
    probe_structs = F.transform(
        "cents",
        lambda t: F.struct(
            (dot_quant(F.col("qe"), t["cq"]).cast("double") / (F.col("norm") * t["c_norm"])).alias(
                "cos"
            ),
            (-t["cell"]).alias("negcell"),
        ),
    )
    # capped query set (same QUERY_CAP bound as q_embed_topk/q_embed_ann):
    # keeps the broadcast side and probe fan-out constant at any corpus size
    queries = (
        vecs.filter((F.col("vec_id") % QUERY_MOD == 0) & (F.col("vec_id") < QUERY_CAP))
        .join(F.broadcast(cents_one))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("qe").alias("q_qe"),
            F.col("norm").alias("q_norm"),
            F.explode(F.slice(F.reverse(F.array_sort(probe_structs)), 1, NPROBE)).alias("p"),
        )
        .select("query_id", "q_qe", "q_norm", (-F.col("p.negcell")).alias("cell"))
    )
    pairs = assigned.join(F.broadcast(queries), "cell").filter(F.col("vec_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "cell",
        (
            dot_quant(F.col("qe"), F.col("q_qe")).cast("double")
            / (F.col("norm") * F.col("q_norm"))
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cell", "cosine", "rank")
    )


@register(
    "q_embed_centroids",
    oracle=f"""
        SELECT label, dim,
               CAST(SUM(CAST(floor(CAST(x AS DOUBLE) * {CENTROID_SCALE}) AS BIGINT)) AS DOUBLE)
                 / {CENTROID_SCALE} / count(*)
                 AS centroid,
               count(*) AS n_vecs
        FROM (
          SELECT label,
                 unnest(range(1, len(embedding) + 1)) AS dim,
                 unnest(embedding) AS x
          FROM embeddings
        )
        GROUP BY label, dim
        """,
    tags=("embeddings", "agg"),
)
def q_embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean vector: the IVF coarse-quantizer training step.

    posexplode fans each vector into (label, dim, value) rows; the grouped
    mean combines map-side, so the shuffle carries |labels| x |dims| partial
    sums regardless of corpus size. Accumulation is 2^-24 fixed-point (exact
    integer sums, order- and engine-independent). The resulting centroids
    seed IVF-style ANN (assign vectors to nearest centroid, search only
    matching cells).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("pos", "x")
    ).select("label", (F.col("pos") + 1).cast("bigint").alias("dim"), "x")
    xq = F.floor(F.col("x").cast("double") * F.lit(float(CENTROID_SCALE))).cast("bigint")
    return exploded.groupBy("label", "dim").agg(
        (F.sum(xq).cast("double") / F.lit(float(CENTROID_SCALE)) / F.count("*")).alias("centroid"),
        F.count("*").alias("n_vecs"),
    )


# --------------------------------------------------------------------------
# int8 embedding quantization: the 100 TB storage/serving path
# --------------------------------------------------------------------------

#: 2^30 fixed-point scale for double outputs (exact: scaling by a power of
#: two only adjusts the exponent, so floor(x * 2^30) is portable IEEE)
_FP30 = float(1 << 30)

#: the int8 quantizer CTE both oracles share: per-vector symmetric absmax
#: scale, floor(x*scale + 0.5) (round() is engine-dependent on .5 ties;
#: floor of a double is not)
_INT8_CTE = """
        base AS (
          SELECT vec_id, embedding,
                 list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
          FROM embeddings
        ),
        scaled AS (
          SELECT vec_id, embedding, amax,
                 CASE WHEN amax > 0 THEN CAST(127 AS DOUBLE) / amax
                      ELSE CAST(0 AS DOUBLE) END AS scale
          FROM base
        ),
        qd AS (
          SELECT vec_id, embedding, amax, scale,
                 list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * scale + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS q8
          FROM scaled
        )
"""


@register(
    "q_embed_quantize",
    oracle=f"""
        WITH {_INT8_CTE.strip()}
        SELECT vec_id,
               CAST(floor(amax * {_FP30}) AS BIGINT)                 AS amax_fp,
               CAST(list_sum(list_transform(q8, v -> abs(v))) AS BIGINT) AS q_l1,
               CAST(list_max(list_transform(q8, v -> abs(v))) AS INTEGER) AS q_absmax,
               CAST(CASE WHEN amax > 0 THEN floor(
                      list_max(list_transform(list_zip(embedding, q8),
                        z -> abs(CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE) / scale)))
                      * {_FP30})
                    ELSE 0 END AS BIGINT)                            AS err_fp
        FROM qd
        """,
    tags=("embeddings", "quantization"),
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column.

    The standard storage scheme for large-scale vector corpora: per-vector
    scale 127/max|x|, elements floor(x*scale + 0.5) in [-127, 127] — 4x
    smaller than float32, integer-dot scoreable (q_ann_int8). Output per
    vector: the scale source (amax), the quantized L1 mass and abs-max
    (+/-127 exactly at the extreme element by construction), and the worst
    per-element reconstruction error — all folded at 2^-30 fixed point so
    the doubles hash identically cross-engine. Map-only: one narrow
    projection, no shuffle at any scale; at 100 TB the quantized column is
    what ships to the serving fleet, so err_fp IS the quality audit that
    gates the rewrite.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    d = (
        emb.select("vec_id", "embedding", absmax(F.col("embedding")).alias("amax"))
        .withColumn("scale", int8_scale(F.col("amax")))
        .withColumn("q8", quantize_int8(F.col("embedding"), F.col("scale")))
    )
    max_err = F.array_max(
        F.zip_with(
            F.col("embedding"),
            F.col("q8"),
            lambda x, q: F.abs(x.cast("double") - q.cast("double") / F.col("scale")),
        )
    )
    return d.select(
        "vec_id",
        F.floor(F.col("amax") * F.lit(_FP30)).cast("bigint").alias("amax_fp"),
        F.aggregate(
            F.transform(F.col("q8"), lambda v: F.abs(v).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        ).alias("q_l1"),
        F.array_max(F.transform(F.col("q8"), F.abs)).cast("int").alias("q_absmax"),
        F.when(F.col("amax") > 0, F.floor(max_err * F.lit(_FP30)))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("err_fp"),
    )


@register(
    "q_ann_int8",
    oracle=f"""
        WITH {_INT8_CTE.strip()},
        qv AS (
          SELECT vec_id, q8 FROM qd WHERE amax > 0
        ),
        norms AS (
          SELECT vec_id, sqrt(CAST(list_sum(list_transform(q8, v -> v * v)) AS DOUBLE)) AS norm
          FROM qv
        ),
        dots AS (
          SELECT q_id AS query_id, c_id AS neighbor_id, SUM(z[1] * z[2]) AS dot
          FROM (
            SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                   unnest(list_zip(c.q8, q.q8)) AS z
            FROM qv q JOIN qv c ON c.vec_id <> q.vec_id
            WHERE q.vec_id % {QUERY_MOD} = 0 AND q.vec_id < {QUERY_CAP}
          )
          GROUP BY 1, 2
        ),
        scored AS (
          SELECT d.query_id, d.neighbor_id,
                 CAST(d.dot AS DOUBLE) / (nc.norm * nq.norm) AS cosine_q8
          FROM dots d
          JOIN norms nq ON nq.vec_id = d.query_id
          JOIN norms nc ON nc.vec_id = d.neighbor_id
        )
        SELECT query_id, neighbor_id, cosine_q8, CAST(rank AS INTEGER) AS rank
        FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine_q8 DESC, neighbor_id) AS rank
          FROM scored
        )
        WHERE rank <= {TOP_K}
        """,
    tags=("embeddings", "similarity", "quantization", "topk"),
)
def q_ann_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over int8-quantized vectors.

    The compressed serving path q_embed_quantize stores: scoring runs on
    8-bit integers (dot <= dims * 127^2 — bigint-exact, SIMD-friendly, 4x
    less memory bandwidth than float32), and only the final cosine divides
    by the quantized norms. Same capped broadcast query set as q_embed_topk
    (O(32 x corpus) at any scale, corpus scanned once, no shuffle); recall
    vs the exact float baseline is asserted in tests. Zero vectors are
    excluded on both sides explicitly (un-normalizable; the fixture has
    none, but both engines encode the rule).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", "embedding", absmax(F.col("embedding")).alias("amax")
    ).filter(F.col("amax") > 0)
    qv = base.select(
        "vec_id", quantize_int8(F.col("embedding"), int8_scale(F.col("amax"))).alias("q8")
    )
    with_norm = qv.withColumn(
        "norm", F.sqrt(dot_int8(F.col("q8"), F.col("q8")).cast("double"))
    )
    queries = with_norm.filter(
        (F.col("vec_id") % QUERY_MOD == 0) & (F.col("vec_id") < QUERY_CAP)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("q8").alias("q_q8"),
        F.col("norm").alias("q_norm"),
    )
    pairs = with_norm.crossJoin(F.broadcast(queries)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            dot_int8(F.col("q8"), F.col("q_q8")).cast("double")
            / (F.col("norm") * F.col("q_norm"))
        ).alias("cosine_q8"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_q8").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine_q8", "rank")
    )


# --------------------------------------------------------------------------
# iterative Lloyd's k-means, hash-gated cross-engine
# --------------------------------------------------------------------------

KMEANS_K = 8  # clusters; initial centroids are vectors vec_id < K
KMEANS_ITERS = 3  # unrolled assign/recompute rounds
_KM_Q = 1 << 10  # element quantization 2^-10 (vectors AND centroids exact ints)
_KM_INERTIA_DIV = KMEANS_K << 20  # decode min-encoding and drop 2^20 scale


def _km_iter_sql(i: int) -> str:
    """One assign + recompute round of the oracle (centroids cte c{i-1} -> c{i})."""
    return f"""
        a{i} AS (
          SELECT vec_id, CAST(m % {KMEANS_K} AS INTEGER) AS assign, m // {KMEANS_K} AS d
          FROM (
            SELECT vec_id,
                   min(CAST(list_sum(list_transform(list_zip(v.x2, c.c),
                         z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT)
                       * {KMEANS_K} + c.k) AS m
            FROM x2 v CROSS JOIN c{i - 1} c
            GROUP BY vec_id
          )
        ),
        s{i} AS (
          SELECT a.assign AS k, e.dim, CAST(SUM(e.val) AS BIGINT) AS s, COUNT(*) AS n
          FROM (SELECT vec_id, generate_subscripts(xq, 1) AS dim, unnest(xq) AS val
                FROM xq) e
          JOIN a{i} a USING (vec_id)
          GROUP BY 1, 2
        ),
        c{i} AS (
          SELECT k, list((s * {_KM_Q}) // n ORDER BY dim) AS c
          FROM s{i} GROUP BY k
        )"""


_KMEANS_SQL = (
    f"""
        WITH xq AS (
          SELECT vec_id,
                 list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * {_KM_Q}) AS BIGINT)) AS xq
          FROM embeddings
        ),
        x2 AS (
          SELECT vec_id, list_transform(xq, v -> v * {_KM_Q}) AS x2 FROM xq
        ),
        c0 AS (SELECT CAST(vec_id AS BIGINT) AS k, x2 AS c FROM x2 WHERE vec_id < {KMEANS_K}),"""
    + ",".join(_km_iter_sql(i) for i in range(1, KMEANS_ITERS + 1))
    + f"""
        SELECT assign AS cluster,
               CAST(count(*) AS BIGINT)              AS n_vecs,
               CAST(SUM(d // {1 << 20}) AS BIGINT)   AS inertia_fp
        FROM a{KMEANS_ITERS}
        GROUP BY 1
        """
)


@register("q_kmeans", oracle=_KMEANS_SQL, tags=("embeddings", "clustering", "iterative"))
def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means, K=8, three unrolled iterations — hash-gated.

    Iterative ML as one lazy Spark plan: no collect, no driver loop — each
    round is (broadcast 8-row centroid table) x corpus for assignment, then
    an exploded per-dimension fold for the new centroids, composed
    KMEANS_ITERS deep and executed as a single job. Everything stays in
    exact integer arithmetic so the whole trajectory is bit-identical
    cross-engine: vectors quantize at 2^-10, centroids are stored as
    truncated-integer fixed point ((sum * 2^10) div n — both engines
    truncate integer division toward zero), squared distances are exact
    bigints (<= 64 * 2^44), and the argmin is min(dist * K + k) — the
    encoded tiebreak makes ties deterministic with no struct-ordering
    dependence. Output is the K-row cluster census (sizes + truncated
    inertia), bounded at any scale.

    Scale: per round, the corpus is scanned once (centroids fold to ONE
    broadcast row of array<struct<k,c>> — the q_ivf_topk pattern), the
    assignment is a map-only array_min expression per vector (r12: the old
    form crossJoined the corpus x K and shuffled corpus x K rows through a
    groupBy(vec_id) argmin, then JOINED the assignment back onto the
    vectors for the recompute — two corpus-scale shuffles per round; now
    the assignment rides the same row as the vector, so NOTHING
    corpus-scale ever shuffles), and the recompute moves only |K| x |dims|
    map-side-combined partial sums. 100 TB k-means is exactly this plan
    with more executors; iterations-as-jobs with a driver-side convergence
    check would only add a scalar fold per round.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"), lambda x: F.floor(x.cast("double") * F.lit(float(_KM_Q))).cast("bigint")
        ).alias("xq"),
    ).withColumn("x2", F.transform(F.col("xq"), lambda v: v * F.lit(_KM_Q)))
    # one row: the whole centroid table, sorted by k for a deterministic fold
    cents_one = (
        base.filter(F.col("vec_id") < KMEANS_K)
        .select(F.col("vec_id").cast("bigint").alias("k"), F.col("x2").alias("c"))
        .agg(F.array_sort(F.collect_list(F.struct("k", "c"))).alias("cents"))
    )

    def dist_to(c: F.Column) -> F.Column:
        return F.aggregate(
            F.zip_with(F.col("x2"), c, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("bigint"),
            lambda acc, z: acc + z,
        )

    assigned = None
    for _ in range(KMEANS_ITERS):
        # map-only argmin: min(dist * K + k) over the broadcast centroid
        # array — bit-identical to the old groupBy(vec_id) min, including
        # the encoded tiebreak, because both fold the same K bigints
        m = F.array_min(
            F.transform(F.col("cents"), lambda t: dist_to(t["c"]) * KMEANS_K + t["k"])
        )
        assigned = (
            base.join(F.broadcast(cents_one))
            .withColumn("m", m)
            .select(
                "vec_id",
                "xq",
                (F.col("m") % KMEANS_K).cast("int").alias("assign"),
                F.expr(f"m div {KMEANS_K}").alias("d"),
            )
        )
        s = (
            assigned.select("assign", F.posexplode("xq").alias("pos", "val"))
            .select("assign", (F.col("pos") + 1).alias("dim"), "val")
            .groupBy("assign", "dim")
            .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
        )
        cents_one = (
            s.select("assign", "dim", F.expr(f"(s * {_KM_Q}) div n").alias("ce"))
            .groupBy("assign")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "ce"))),
                    lambda t: t["ce"],
                ).alias("c")
            )
            .select(F.col("assign").cast("bigint").alias("k"), "c")
            .agg(F.array_sort(F.collect_list(F.struct("k", "c"))).alias("cents"))
        )
    return assigned.groupBy(F.col("assign").alias("cluster")).agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.sum(F.expr(f"d div {1 << 20}")).cast("bigint").alias("inertia_fp"),
    )


@register(
    "q_embed_norms",
    oracle=f"""
        WITH n2 AS (
          SELECT vec_id, label,
                 SUM(xq * xq) AS norm2
          FROM (SELECT vec_id, label,
                       CAST(floor(CAST(x AS DOUBLE) * {float(QUANT_SCALE)}) AS BIGINT) AS xq
                FROM (SELECT vec_id, label, unnest(embedding) AS x FROM embeddings))
          GROUP BY 1, 2
        )
        SELECT label,
               CAST(length(bin(norm2)) - 1 AS BIGINT) AS norm2_log2,
               CAST(count(*) AS BIGINT)               AS n_vecs,
               CAST(sum(norm2) AS BIGINT)             AS sum_norm2
        FROM n2 GROUP BY 1, 2
        """,
    tags=("embeddings", "profiling"),
)
def q_embed_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-norm distribution per label, as a power-of-2 histogram.

    The vector-health profile run before any ANN build: un-normalized or
    degenerate (near-zero) embeddings show up as stray norm buckets, and
    per-label norm drift flags an encoder version mix. Norms are exact
    bigint squared magnitudes of the 2^-20 fixed-point vectors (the
    module's quantization), bucketed by floor(log2) via the
    length(bin(k))-1 string identity (the q_zipf_slope trick) — no sqrt,
    no float anywhere.

    Scale: map-only per-vector fold (expression-level aggregate inside
    codegen, no explode) down to a |labels| x ~64-bucket grid, then one
    metadata-scale groupBy. At any corpus size the shuffle carries only
    the grid.
    """
    e = load_table(spark, sf_dir, "embeddings")
    xq = quantize(F.col("embedding"))
    n2 = e.select(
        "label",
        F.aggregate(
            F.zip_with(xq, xq, lambda a, b: a * b),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        ).alias("norm2"),
    )
    return n2.groupBy(
        "label",
        (F.length(F.bin(F.col("norm2"))) - 1).cast("bigint").alias("norm2_log2"),
    ).agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.sum("norm2").cast("bigint").alias("sum_norm2"),
    )


@register(
    "q_label_separation",
    oracle=f"""
        WITH comp AS (
          SELECT label,
                 unnest(range(1, len(embedding) + 1)) AS dim,
                 CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {float(QUANT_SCALE)}) AS BIGINT)
                   AS xq
          FROM embeddings
        ),
        cent AS (
          SELECT label, dim,
                 SUM(xq) // count(*) AS cmean_fp
          FROM comp GROUP BY 1, 2
        )
        SELECT a.label AS label_a, b.label AS label_b,
               CAST(SUM(a.cmean_fp * b.cmean_fp) AS BIGINT) AS dot_fp
        FROM cent a JOIN cent b
          ON a.dim = b.dim AND a.label <= b.label
        GROUP BY 1, 2
        """,
    tags=("embeddings", "diagnostics", "clustering"),
)
def q_label_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-centroid separation matrix: pairwise dot products of class means.

    The classifier-health audit over an embedding corpus: per-label mean
    vectors (the kmeans convention — truncated-integer components over
    2^-20 fixed point, so every engine computes the identical centroid),
    then every pairwise dot product including the diagonal self-dots —
    enough to reconstruct every pairwise cosine exactly. Two labels whose
    off-diagonal dot approaches their self-dots are not separable; the
    audit that decides whether the label column is worth training on.

    Scale: the centroid build is one map-side-combined aggregation over
    the exploded (label, dim) grid; everything after runs on the
    |labels| x dims table (metadata scale), so the pairwise join is
    broadcast-sized by construction. dot_fp stays ~2^45 for unit-norm
    2^-20 vectors — far inside BIGINT.
    """
    e = load_table(spark, sf_dir, "embeddings")
    comp = e.select(
        "label",
        F.posexplode(quantize(F.col("embedding"))).alias("dim0", "xq"),
    )
    # cut: cent feeds both sides of the pairwise self-join — without the
    # cut the corpus-scale explode + aggregation executes twice
    cent = cut(
        comp.groupBy("label", F.col("dim0").alias("dim")).agg(
            F.expr("SUM(xq) div count(*)").alias("cmean_fp")
        )
    )
    a = cent.select(F.col("label").alias("label_a"), "dim", F.col("cmean_fp").alias("ca"))
    b = cent.select(F.col("label").alias("label_b"), "dim", F.col("cmean_fp").alias("cb"))
    return (
        a.join(b, "dim")
        .filter(F.col("label_a") <= F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("dot_fp"))
    )
