"""Distributed vector-similarity primitives over ARRAY<FLOAT> columns.

Parity-exact math: float32*float32 products are exact in float64 (24+24 < 53
mantissa bits), and summation uses a DECIMAL(30,12) fold so the result is
independent of element order and identical to the DuckDB oracle. All
expression-level — zip_with/aggregate run inside codegen; no UDF, no explode,
no shuffle for the per-vector math.

Scale path: brute-force cosine top-k is O(|queries| x |corpus|); it stays
tractable by broadcasting the (small) query set so the corpus is scanned once
with no shuffle, and the per-query top-k is a windowed rank over |queries| x k
candidates. For corpus-x-corpus search use the LSH route in operators.text or
an IVF pre-cluster (bucket join), not this.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

DOT_DECIMAL = "decimal(30,12)"

#: fixed-point quantization scale for the bigint dot-product path. floor() of
#: a double is exact in every engine, and the resulting bigint sums are
#: associative, so results are order- and engine-independent like the decimal
#: fold but at integer-arithmetic speed (no BigDecimal allocations in the
#: fold). 2^20 on unit-scale embedding values keeps relative quantization
#: error ~1e-6; products stay < 2^46 and 64-dim sums < 2^52 — no overflow.
QUANT_SCALE = 1 << 20


def quantize(a: Column) -> Column:
    """ARRAY<FLOAT> -> ARRAY<BIGINT> via floor(x * 2^20) (exact, portable)."""
    return F.transform(a, lambda x: F.floor(x.cast("double") * F.lit(float(QUANT_SCALE))))


def dot_quant(aq: Column, bq: Column) -> Column:
    """Exact bigint dot product of two pre-quantized arrays.

    The fast parity path: order-independent (integer addition is associative)
    and bit-identical across engines, unlike dot_double; ~the speed of the
    double fold, unlike dot_decimal. Callers quantize once per vector (with
    ``quantize``) and reuse the arrays across pairs.
    """
    return F.aggregate(
        F.zip_with(aq, bq, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, z: acc + z,
    )


def dot_decimal(a: Column, b: Column) -> Column:
    """Order-independent dot product of two float arrays (DECIMAL fold).

    Summation-order independent WITHIN an engine, but NOT cross-engine
    bit-identical: each product's double->DECIMAL cast can land on an exact
    round-half tie (float products are dyadic rationals), and Spark rounds
    HALF_UP where DuckDB rounds half-even. The correctness-gated vector
    queries therefore use dot_quant (integer arithmetic, no rounding mode
    anywhere); keep this fold for within-engine reproducibility needs only.
    """
    products = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(
        products,
        F.lit(0).cast(DOT_DECIMAL),
        lambda acc, z: (acc + z.cast(DOT_DECIMAL)).cast(DOT_DECIMAL),
    )


def dot_double(a: Column, b: Column) -> Column:
    """Fast dot product (double accumulation): the production ANN path.

    Left-to-right double sums are deterministic for a fixed array order (the
    arrays are stored, not shuffled), just not identical across engines —
    measured 4.3x faster than the decimal fold at 64 dims.
    """
    products = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(products, F.lit(0.0), lambda acc, z: acc + z)


def absmax(a: Column) -> Column:
    """Per-vector max |x| in double — the int8 quantizer's scale source."""
    return F.aggregate(a, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))))


def int8_scale(amax: Column) -> Column:
    """Symmetric int8 scale 127/amax (0.0 for the all-zero vector, whose
    quantized form is all zeros anyway)."""
    return F.when(amax > 0, F.lit(127.0) / amax).otherwise(F.lit(0.0))


def quantize_int8(a: Column, scale: Column) -> Column:
    """ARRAY<FLOAT> -> ARRAY<INT> in [-127, 127]: floor(x*scale + 0.5).

    Per-VECTOR scale (symmetric absmax quantization — the standard int8
    embedding-storage scheme), unlike ``quantize``'s global 2^20 fixed
    point. floor(x + 0.5) is written out instead of round() because the
    two engines disagree on round-half ties (Spark HALF_UP vs DuckDB
    half-even); floor of a double is exact and portable everywhere. At
    x = ±amax this yields exactly ±127 — no clamp needed."""
    return F.transform(a, lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast("int"))


def dot_int8(aq: Column, bq: Column) -> Column:
    """Exact bigint dot of two int8-quantized arrays (|sum| <= dims * 127^2,
    far inside bigint) — the integer-SIMD scoring path a 100 TB ANN serving
    layer runs on 4x-smaller vectors."""
    return F.aggregate(
        F.zip_with(aq, bq, lambda x, y: x.cast("bigint") * y.cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, z: acc + z,
    )


def cosine_topk(
    emb: DataFrame,
    query_pred: Column,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    parity: bool = True,
) -> DataFrame:
    """Brute-force cosine top-k: for each query vector (rows matching
    ``query_pred``), the k nearest corpus vectors.

    Output: (query_id, neighbor_id, cosine DOUBLE, rank INT). Self-matches are
    excluded; ties break on neighbor_id so results are total-ordered and
    reproducible. ``parity=True`` (default) scores on 2^-20 fixed-point
    quantized vectors — exact bigint sums, engine-portable; ``parity=False``
    scores the raw floats with double accumulation (neighbors agree, cosines
    differ from the quantized path by ~1e-6 quantization).
    """
    if parity:
        with_norm = emb.select(
            F.col(id_col).alias("vec_id"),
            quantize(F.col(vec_col)).alias("embedding"),
        )
        with_norm = with_norm.select(
            "vec_id",
            "embedding",
            F.sqrt(dot_quant(F.col("embedding"), F.col("embedding")).cast("double")).alias("norm"),
        )
        dot = dot_quant
    else:
        with_norm = emb.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("embedding"),
            F.sqrt(dot_double(F.col(vec_col), F.col(vec_col))).alias("norm"),
        )
        dot = dot_double
    queries = (
        with_norm.filter(query_pred)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_embedding"),
            F.col("norm").alias("q_norm"),
        )
    )
    pairs = with_norm.crossJoin(F.broadcast(queries)).filter(F.col("vec_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            dot(F.col("embedding"), F.col("q_embedding")).cast("double")
            / (F.col("norm") * F.col("q_norm"))
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
