"""Population-schema utilities (matric R/utils.R): annotation-prefix
schema split and NA-column preprocessing.

matric infers schema by column-name convention — metadata columns start
with a prefix (default "Metadata_"), everything else is a feature
(R/utils.R:32-39, :68-73). The graft keeps the prefix fallback but the
declared-schema path (explicit column lists) is preferred.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

ANNOTATION_PREFIX = "Metadata_"


def annotation_cols(df: DataFrame, prefix: str = ANNOTATION_PREFIX) -> list[str]:
    """Columns matching the annotation prefix (R/utils.R:36)."""
    return [c for c in df.columns if c.startswith(prefix)]


_HASH_BITS = 43   # truncated-xxhash bucket space (~8.8e12 buckets)
_RANK_BITS = 20   # per-bucket disambiguation (up to ~1M identical rows)


def _stable_row_id(df: DataFrame, id_col: str) -> DataFrame:
    """Sort-free stable surrogate id — NO single-task exchange.

    xxhash64 over every column (truncated to 43 bits) places each row in
    a tiny bucket; a row_number over the bucket (ordered by all columns)
    disambiguates hash collisions AND identical rows. id =
    bucket · 2^20 + rank: deterministic, stable under repartition, and
    unique provided no >2^20 identical-row group (raise `_RANK_BITS` for
    pathological inputs). The window partitions on the 43-bit bucket, so
    the shuffle is uniform — this replaces the former
    Window.orderBy(*all_columns) total sort that funnelled the table
    through one task."""
    h = F.pmod(
        F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(1 << _HASH_BITS)
    )
    w = Window.partitionBy("_h").orderBy(*[F.col(c) for c in df.columns])
    return (
        df.withColumn("_h", h)
        .withColumn(
            id_col,
            F.col("_h") * F.lit(1 << _RANK_BITS)
            + F.row_number().over(w),
        )
        .drop("_h")
    )


def get_annotation(
    df: DataFrame,
    prefix: str = ANNOTATION_PREFIX,
    id_col: str = "id",
) -> DataFrame:
    """Project annotation columns + a stable row id (R/utils.R:32-39:
    `id = seq_len(n)` — the graft needs stability, not 1..N density, so
    the id is the sort-free bucketed surrogate of `_stable_row_id`). For
    keyed tables, prefer the natural key and skip this entirely.
    """
    return _stable_row_id(df, id_col).select(
        id_col, *annotation_cols(df, prefix)
    )


def drop_annotation(df: DataFrame, prefix: str = ANNOTATION_PREFIX) -> DataFrame:
    """Complement projection: the feature block (R/utils.R:68-73)."""
    return df.drop(*annotation_cols(df, prefix))


def preprocess_data(
    df: DataFrame, prefix: str = ANNOTATION_PREFIX
) -> tuple[DataFrame, list[str]]:
    """Drop every feature column containing >= 1 NA (R/utils.R:97-120).

    ONE conditional-aggregation pass computes all per-column null counts
    (the same fused shape as checks/column_stats.py — this op *is* the
    null-rate column stat); returns (clean_df, dropped_cols).
    """
    feat = [c for c in df.columns if not c.startswith(prefix)]
    if not feat:
        return df, []
    counts = df.agg(
        *[F.sum(F.col(c).isNull().cast("long")).alias(c) for c in feat]
    ).collect()[0]
    dropped = [c for c in feat if counts[c] > 0]
    return df.drop(*dropped), dropped


def assemble_population(
    df: DataFrame,
    prefix: str = ANNOTATION_PREFIX,
    id_col: str = "id",
) -> DataFrame:
    """Wide population → (id, features array<double>, *annotations):
    the input shape `operators/pairs.sim_calculate` consumes. Feature
    columns are packed into one array column in schema order. Ids are
    `get_annotation`'s sort-free hash surrogate (tests/test_plans.py
    asserts no single-partition exchange)."""
    clean, _ = preprocess_data(df, prefix)
    feat = [c for c in clean.columns if not c.startswith(prefix)]
    return _stable_row_id(clean, id_col).select(
        id_col,
        F.array(*[F.col(c).cast("double") for c in feat]).alias("features"),
        *annotation_cols(clean, prefix),
    )
