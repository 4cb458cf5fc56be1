"""Vectorized scalar/expression helpers (JVM-side Columns, no Python UDFs).

Everything here returns `pyspark.sql.Column` expressions so the hot path
stays inside whole-stage codegen; the DuckDB oracle re-derives the same
values with equivalent SQL (tools/check_oracle.py).
"""

from matric_spark.functions.hashing import (
    HASH_PRIME,
    md5_long,
    minhash_params,
    word_shingles,
)
from matric_spark.functions.text import (
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
    tokens,
)
from matric_spark.functions.vector import dot, l2_norm

__all__ = [
    "HASH_PRIME",
    "md5_long",
    "minhash_params",
    "word_shingles",
    "tokens",
    "token_count",
    "stopword_ratio",
    "punct_ratio",
    "quality_score",
    "dot",
    "l2_norm",
]
