"""Permutation-null significance for retrieval metrics
(R/sim_metrics_signif.R:17-202).

Distributed shape: the null distribution is parametrized only by
(m = signal_n, n = binned background_n) — a tiny distinct set — so one
small job collects the distinct (m, n) cells, the driver simulates each
cell with vectorized numpy (nn permutations per cell in one matrix op),
and the null-sample arrays ship back as a `pyarrow.Table`. Spark turns
that into a JVM `LocalRelation`: no Python worker, no Python RDD, and
no dependence on `spark.sql.execution.arrow.pyspark.enabled`. The
samples broadcast-join back to the metrics table.
p = (1 + #{null > stat}) / (1 + nn), matric's add-one smoothing
(R/sim_metrics_signif.R:191-202; note the reference's `filter(m == m)`
self-comparison bug is NOT copied — we join on (m, n_mapped) properly).

Determinism: the reference seeds furrr futures globally (seed=42,
R/sim_metrics_signif.R:91,119), which is not reproducible across
schedulers. Here every (m, n) cell seeds its own
`np.random.default_rng([seed, m, n])`, so the samples do not depend on
cell order, partitioning or where the simulation runs (they are
bit-identical to the earlier per-cell executor tasks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

BIN_POW = 1.3


def bin_background_n(col: F.Column) -> F.Column:
    """matric's power-law widening bins (R/sim_metrics_signif.R:132-143):
    break points ceil(i^1.3); a value maps to the smallest break point
    strictly greater than it. For integer x the smallest such i is
    floor(x^(1/1.3)) + 1, so the whole map is one closed-form expression
    (no break-point table; also avoids the reference's NA at x == max)."""
    i = F.floor(F.pow(col.cast("double"), 1.0 / BIN_POW)) + 1
    return F.ceil(F.pow(i.cast("double"), BIN_POW)).cast("long")


def ap_null_samples(
    mn: DataFrame, nn: int = 10000, seed: int = 42
) -> DataFrame:
    """DataFrame[m, n, samples array<double>]: AP null per (m, n) cell.

    Runs one Spark job when called: the distinct cells of `mn` are
    collected to the driver. Each cell's nn permutations are then a
    single (nn × (m+n)) argsort + cumsum (no Python loop). Matches
    null_distribution_helper (R/sim_metrics_signif.R:154-180): labels
    shuffled against a fixed strictly-descending score vector, AP by the
    summation estimator.
    """
    import numpy as np
    import pyarrow as pa

    cells = [(r.m, r.n) for r in mn.select("m", "n").distinct().collect()]
    samples = []
    for m, n in cells:
        rng = np.random.default_rng([seed, m, n])
        base = np.concatenate([np.ones(m), np.zeros(n)])
        idx = rng.random((nn, m + n)).argsort(axis=1)
        labels = np.take(base, idx)  # nn independent permutations
        tp = np.cumsum(labels, axis=1)
        k = np.arange(1, m + n + 1)
        samples.append(((labels / m) * (tp / k)).sum(axis=1))
    table = pa.table(
        {
            "m": pa.array([m for m, _ in cells], pa.int64()),
            "n": pa.array([n for _, n in cells], pa.int64()),
            "samples": pa.array(samples, pa.list_(pa.float64())),
        }
    )
    return mn.sparkSession.createDataFrame(table)


def attach_ap_pvalues(
    metrics: DataFrame,
    background_type: str = "non_rep",
    identifier: str = "i",
    nn: int = 10000,
    seed: int = 42,
    with_qvalue: bool = True,
) -> DataFrame:
    """`sim_metrics_signif` (R/sim_metrics_signif.R:17-71): append
    `sim_retrieval_average_precision_{bg}_{id}_nlog10pvalue` (and the BH
    `_nlog10qvalue` when requested, per the level-1 flow)."""
    from matric_spark.operators.metrics import bh_adjust

    stat = f"sim_retrieval_average_precision_{background_type}_{identifier}"
    m_col = f"sim_stat_signal_n_{background_type}_{identifier}"
    n_col = f"sim_stat_background_n_{background_type}_{identifier}"
    out_col = f"{stat}_nlog10pvalue"

    binned = metrics.withColumn("_n_mapped", bin_background_n(F.col(n_col)))
    nulls = ap_null_samples(
        binned.select(
            F.col(m_col).alias("m"), F.col("_n_mapped").alias("n")
        ),
        nn=nn,
        seed=seed,
    )
    joined = binned.join(
        F.broadcast(nulls),
        (F.col(m_col) == F.col("m")) & (F.col("_n_mapped") == F.col("n")),
        "left",
    )
    p = (
        1
        + F.size(
            F.filter(F.col("samples"), lambda s: s > F.col(stat))
        )
    ) / (1 + F.lit(nn))
    out = (
        joined.withColumn("_p_value", p)
        .withColumn(out_col, -F.log10(F.col("_p_value")))
        .drop("m", "n", "samples", "_n_mapped")
    )
    if with_qvalue:
        out = bh_adjust(out, "_p_value", q_col="_q_value").withColumn(
            f"{stat}_nlog10qvalue", -F.log10(F.col("_q_value"))
        ).drop("_q_value")
    return out.drop("_p_value")


def ap_pvalue_property_violations(
    df: DataFrame,
    background_type: str = "non_rep",
    identifier: str = "i",
    nn: int = 10000,
) -> DataFrame:
    """Rows of an `attach_ap_pvalues` output that break the permutation
    machinery's invariants — empty on a correct implementation:

    - monotonicity: within a permutation cell (signal_n m, binned
      background_n), p = (1 + #{null > stat})/(1 + nn) is non-increasing
      in the stat, so −log10 p ordered by stat may never decrease;
    - range: p ∈ [1/(nn+1), 1] ⇒ −log10 p ∈ [0, log10(nn+1)].

    One window per cell (max of preceding −log10 p under stat order);
    ties are safe because equal stat ⇒ identical p bit-for-bit (p is a
    deterministic function of (cell, stat))."""
    import math

    stat = f"sim_retrieval_average_precision_{background_type}_{identifier}"
    m_col = f"sim_stat_signal_n_{background_type}_{identifier}"
    n_col = f"sim_stat_background_n_{background_type}_{identifier}"
    nlp = f"{stat}_nlog10pvalue"

    cell = df.withColumn("_cell_n", bin_background_n(F.col(n_col)))
    w = (
        Window.partitionBy(m_col, "_cell_n")
        .orderBy(stat)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        cell.withColumn("_prev_max", F.max(nlp).over(w))
        .filter(
            (F.col(nlp) < F.col("_prev_max"))
            | (F.col(nlp) < 0)
            | (F.col(nlp) > F.lit(math.log10(nn + 1)))
        )
        .drop("_cell_n", "_prev_max")
    )
