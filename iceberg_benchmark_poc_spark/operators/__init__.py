"""Reusable distributed building blocks for the training-data pipeline ops.

These are the operators a 100 TB corpus pipeline composes: shingling,
minhash-LSH candidate generation, simhash signatures, cosine top-k, and the
multimodal Pandas-UDF plumbing. Queries in ``queries/textpipe.py`` and
``queries/embeddings.py`` are thin, oracle-checkable views over these.
"""

from .text import (
    PORTABLE_HASH_PRIME,
    hash60,
    word_shingles,
    minhash_signatures,
    simhash_sig,
)
from .vectors import (
    QUANT_SCALE,
    cosine_topk,
    dot_decimal,
    dot_double,
    dot_quant,
    quantize,
)
from .graph import connected_components, connected_components_star
from .multimodal import media_features
from .prefix import global_prefix_sum
from .quantiles import exact_quantiles
from .skew import salted_count, salted_join

__all__ = [
    "PORTABLE_HASH_PRIME",
    "hash60",
    "word_shingles",
    "minhash_signatures",
    "simhash_sig",
    "QUANT_SCALE",
    "cosine_topk",
    "dot_decimal",
    "dot_double",
    "dot_quant",
    "quantize",
    "media_features",
    "connected_components",
    "connected_components_star",
    "global_prefix_sum",
    "exact_quantiles",
    "salted_count",
    "salted_join",
]
