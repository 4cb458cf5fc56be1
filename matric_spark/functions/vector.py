"""Vector math over `array<float>` columns as pure Column expressions.

`F.aggregate`/`F.zip_with` run inside codegen on the JVM — no Python
boundary — which is the right default for 100 TB of embeddings. The
DuckDB oracle uses `list_dot_product`, which implements the same formula.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    """Sum_i a_i*b_i, accumulated in double."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(
            _c(a), F.lit(0.0), lambda acc, v: acc + v.cast("double") * v
        )
    )
