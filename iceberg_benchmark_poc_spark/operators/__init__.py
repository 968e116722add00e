"""Reusable distributed building blocks for the training-data pipeline ops.

These are the operators a 100 TB corpus pipeline composes: shingling,
minhash-LSH candidate generation, simhash signatures, cosine top-k, and the
multimodal Pandas-UDF plumbing. Queries in ``queries/textpipe.py`` and
``queries/embeddings.py`` are thin, oracle-checkable views over these.

Callers import the submodules (``from ..operators.text import ...``). The
package itself imports nothing: a Python worker that unpickles one operator
function imports this package first, and eager re-exports would load every
submodule's dependencies into it (pyarrow through ``text``, pandas through
``multimodal``), about 60 MB per worker for the DV codec UDFs that need
neither.
"""
