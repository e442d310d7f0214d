"""Column-function library: portable hashing, text analysis, vector math.

Catalyst expressions (JVM-side, codegen'd where Spark allows) for the
operators that stay relational — quality features, fingerprints, the
lexical index's tokenize pass, md5 buckets and salts, cosine — plus the
shared definitions (md5 prefix, whitespace class, MinHash permutations)
that the Arrow operators in ``plumberapp_spark.llm`` reimplement in
Python. Each function has an exact DuckDB-SQL equivalent noted in its
docstring.
"""

from plumberapp_spark.functions.hashing import md5_long, stable_bucket
from plumberapp_spark.functions.text import (
    tokenize,
    word_ngrams,
    token_count,
    quality_features,
    doc_fingerprint,
)
from plumberapp_spark.functions.vectors import dot, l2_norm, cosine

__all__ = [
    "md5_long",
    "stable_bucket",
    "tokenize",
    "word_ngrams",
    "token_count",
    "quality_features",
    "doc_fingerprint",
    "dot",
    "l2_norm",
    "cosine",
]
