"""Per-partition column statistics in ONE aggregation pass.

Generalizes the reference's single-pass NA accounting
(``preprocess_data``, R/utils.R:97-120 — one summarise over all columns)
and its per-group mean/sd background stats (R/sim_metrics.R:391-404).

Scale notes: a single ``groupBy(partition).agg(...)`` with N stat
expressions is one shuffle of pre-aggregated partials regardless of column
count — at 100 TB the scan dominates and every stat rides the same scan.
Column pruning keeps the parquet read to exactly the referenced columns
(verify with ``.explain``: ReadSchema lists only these). Exact distinct
counts force a second shuffle keyed by the value, so the scale path uses
``approx_count_distinct`` (HLL, mergeable partials); ``exact_distinct``
exists for oracle parity at test scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NUMERIC = (T.IntegerType, T.LongType, T.DoubleType, T.FloatType, T.ShortType, T.DecimalType)


def column_stats(
    df: DataFrame,
    partition_col: str,
    columns: list[str] | None = None,
    distinct_cols: list[str] | None = None,
    exact_distinct: bool = False,
) -> DataFrame:
    """Per ``partition_col`` group: row count; per column: null count +
    null rate, min/max; mean for numeric columns; avg length for strings;
    (approx) distinct count for ``distinct_cols``.

    Output column naming: ``<col>_nulls``, ``<col>_null_rate``,
    ``<col>_min``, ``<col>_max``, ``<col>_mean``, ``<col>_avg_len``,
    ``<col>_distinct`` — stable, oracle-friendly aliases.
    """
    fields = {f.name: f.dataType for f in df.schema.fields}
    cols = columns or [c for c in df.columns if c != partition_col]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        dt = fields[c]
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}_nulls"))
        aggs.append(
            (F.sum(F.col(c).isNull().cast("double")) / F.count(F.lit(1))).alias(
                f"{c}_null_rate"
            )
        )
        if isinstance(dt, _NUMERIC):
            aggs.append(F.min(c).alias(f"{c}_min"))
            aggs.append(F.max(c).alias(f"{c}_max"))
            aggs.append(F.avg(c).alias(f"{c}_mean"))
        elif isinstance(dt, T.StringType):
            aggs.append(F.avg(F.length(c)).alias(f"{c}_avg_len"))
        elif isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
            aggs.append(F.min(c).alias(f"{c}_min"))
            aggs.append(F.max(c).alias(f"{c}_max"))
    for c in distinct_cols or []:
        if exact_distinct:
            aggs.append(F.count_distinct(F.col(c)).alias(f"{c}_distinct"))
        else:
            aggs.append(F.approx_count_distinct(c).alias(f"{c}_distinct"))
    return df.groupBy(partition_col).agg(*aggs)


def heavy_hitters(
    df: DataFrame, columns: list[str], k: int = 10
) -> DataFrame:
    """Global top-``k`` most frequent values per column — the skew
    diagnostic a validation run emits BEFORE the shuffle-heavy checks,
    so an operator (or AQE tuning) knows which join/agg keys are hot.

    One scan: every row explodes to |columns| (col_name, value) structs
    (values cast to string; NULL kept as a real NULL group), then one
    map-side-combinable count aggregate and a row_number over the tiny
    per-column count relation. Ties break on the value string (NULLs
    first, matching Spark's default ascending order) so the k-boundary
    is deterministic on both engines.

    Returns DataFrame[col_name, value, n, frac, rnk] with rnk <= k;
    ``frac`` is the value's share of all rows (round6, -0.0-normalized).

    Scale shape: the exploded relation is |rows| x |columns| but carries
    only (short string, string) pairs and partial-aggregates per input
    partition before its single shuffle — a million-fold duplicated
    value crosses the wire once per partition. The ranked stage sees one
    row per DISTINCT value, which for skew-diagnostic columns is tiny;
    for genuinely high-cardinality columns (conv_id) it is exactly the
    (key, count) relation any skew analysis must materialize anyway.

    Reference lineage: generalizes matric's per-group count discipline
    (R/sim_metrics.R:391-404) from fixed metadata groups to arbitrary
    key-frequency ranking.
    """
    from pyspark.sql import Window

    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col_name"),
                        F.col(c).cast("string").alias("value"),
                    )
                    for c in columns
                ]
            )
        ).alias("p")
    ).select("p.*")
    counts = pairs.groupBy("col_name", "value").agg(
        F.count(F.lit(1)).alias("n")
    )
    w_rank = Window.partitionBy("col_name").orderBy(
        F.desc("n"), F.asc_nulls_first("value")
    )
    w_all = Window.partitionBy("col_name")
    return (
        counts.withColumn("rnk", F.row_number().over(w_rank).cast("long"))
        .withColumn(
            "frac",
            F.round(F.col("n") / F.sum("n").over(w_all), 6) + F.lit(0.0),
        )
        .filter(F.col("rnk") <= k)
        .select("col_name", "value", "n", "frac", "rnk")
    )


def robust_outliers(
    df: DataFrame,
    partition_col: str,
    value: "F.Column",
    k: float = 3.5,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """Rows whose value is a robust outlier within its partition:
    |v − median| / (MAD · 1.4826) > k → (id_cols..., partition_col,
    value, robust_z). Median/MAD instead of mean/sd so the detector
    itself survives the outliers it hunts (one wild row shifts a mean,
    not a median) — the per-row counterpart of the z-scaled background
    stats in operators/metrics.py (reference: R/sim_metrics.R:391-411).

    Two grouped EXACT percentile passes (Spark `percentile` ≡ DuckDB
    `quantile_cont`, the colstats_quantiles parity recipe) + broadcast
    joins of the tiny per-partition stats back onto the scan. Exact
    percentile buffers each group's values, so at full corpus scale
    substitute the approximate `tdigest_quantiles` (operators/sketches.py)
    for the two median passes — the detector's join/filter shape is unchanged.
    Partitions whose MAD is 0 (over half the rows share one value) are
    skipped — an integer-free but exact-equality guard that both
    engines evaluate identically.
    """
    id_cols = id_cols or ["conv_id", "turn_idx"]
    t = df.select(
        *id_cols, partition_col, value.cast("double").alias("_v")
    ).filter(F.col("_v").isNotNull())
    med = t.groupBy(partition_col).agg(
        F.expr("percentile(_v, 0.5)").alias("_med")
    )
    d = t.join(F.broadcast(med), partition_col).withColumn(
        "_dev", F.abs(F.col("_v") - F.col("_med"))
    )
    mad = d.groupBy(partition_col).agg(
        F.expr("percentile(_dev, 0.5)").alias("_mad")
    )
    return (
        d.join(F.broadcast(mad), partition_col)
        .filter(F.col("_mad") > 0)
        .withColumn("robust_z", F.col("_dev") / (F.col("_mad") * F.lit(1.4826)))
        .filter(F.col("robust_z") > k)
        .select(
            *id_cols,
            partition_col,
            F.col("_v").alias("value"),
            "robust_z",
        )
    )


def partition_volume(
    df: DataFrame,
    partition_col: str = "part_month",
    max_abs_delta: float | None = None,
) -> DataFrame:
    """Month-over-month ingest-volume profile per partition: row count,
    relative delta vs the previous populated partition, and how many
    calendar months were skipped in between.

    The ops check the drift suite can't express: KS/PSI compare value
    DISTRIBUTIONS, this compares VOLUME — a partition that silently
    arrives 60% small (upstream backfill bug) or a missing month
    (gap_months > 0) is invisible to distribution drift because the rows
    that DID arrive look normal. ``max_abs_delta`` optionally filters to
    anomalies only; None returns the full profile (every partition, so
    the output doubles as the ingest-volume dashboard table).

    Partition keys are YYYYMM ints (the repo-wide convention —
    sources/transcripts_view.py derives them from the event timestamp;
    an Iceberg months(ts) partition transform yields the same key).

    Scale shape: one count aggregate keyed by partition (map-side
    combined), then a single unpartitioned lag window over ONE ROW PER
    PARTITION — thousands of rows at 100 TB, not billions, so the
    single-task window is free and exactly as parallel as it needs to be.
    """
    agg = df.groupBy(partition_col).agg(F.count(F.lit(1)).alias("n_rows"))
    out = volume_profile(agg, partition_col)
    if max_abs_delta is not None:
        out = out.filter(
            (F.abs(F.col("delta_pct")) > max_abs_delta)
            | (F.col("gap_months") > 0)
        )
    return out


def volume_profile(counts: DataFrame, partition_col: str) -> DataFrame:
    """The lag/gap/delta stage of partition_volume over a precomputed
    (partition, n_rows) table — split out so the resumable suite can
    derive the volume check from the state log's per-partition counts
    without re-scanning data (state.assemble_verdicts_extended)."""
    from pyspark.sql import Window

    idx = (
        F.floor(F.col(partition_col) / 100) * 12 + F.col(partition_col) % 100
    ).alias("_idx")
    w = Window.orderBy(partition_col)
    return (
        counts.select(partition_col, "n_rows", idx)
        .withColumn("prev_part", F.lag(partition_col).over(w))
        .withColumn("prev_n", F.lag("n_rows").over(w))
        .withColumn("gap_months", F.col("_idx") - F.lag("_idx").over(w) - 1)
        .withColumn(
            "delta_pct",
            F.round(
                (F.col("n_rows") - F.col("prev_n"))
                / F.col("prev_n").cast("double"),
                6,
            )
            + F.lit(0.0),
        )
        .drop("_idx")
    )


def volume_trend(df: DataFrame, partition_col: str = "part_month") -> DataFrame:
    """Closed-form OLS trend of ingest volume over the month index →
    one row (n_partitions, slope, r2): is the table growing, flat, or
    silently draining? partition_volume flags single-month anomalies;
    the trend catches slow leaks its month-over-month deltas smooth
    over. Same closed-form-sums recipe as the Zipf fit
    (text_analysis.zipf_fit): every sum is over integer-valued terms, so
    both engines accumulate exactly regardless of order. Degenerate
    inputs (one month, zero x-variance or zero y-variance) yield NULL
    slope/r2 via nullif on both engines.
    """
    counts = df.groupBy(partition_col).agg(F.count(F.lit(1)).alias("n_rows"))
    x = (
        F.floor(F.col(partition_col) / 100) * 12 + F.col(partition_col) % 100
    ).cast("double")
    y = F.col("n_rows").cast("double")
    s = counts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    cov_n = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx_n = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary_n = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        F.col("n").cast("long").alias("n_partitions"),
        (F.round(cov_n / F.nullif(varx_n, F.lit(0.0)), 6) + F.lit(0.0)).alias(
            "slope"
        ),
        (
            F.round(
                cov_n * cov_n
                / F.nullif(varx_n * vary_n, F.lit(0.0)),
                6,
            )
            + F.lit(0.0)
        ).alias("r2"),
    )
