"""Distribution-drift checks between partition cohorts: KS, PSI and EMD.

Reference lineage: matric's core analytic move is comparing a signal
cohort's distribution against a background cohort per group — z-scaling
vs background stats (R/sim_metrics.R:391-411) and the relrank empirical-
CDF percentile (R/sim_metrics.R:413-428,623-625). KS is exactly the
max-gap between two such ECDFs, EMD its integral, PSI its histogram
counterpart. Significance follows matric's p-value machinery
(R/sim_metrics_signif.R) with an analytic (asymptotic Smirnov) null
instead of permutation — the permutation null lives in
operators/sim_metrics_signif.py.

Cohort design: each partition is the *signal* cohort, all other
partitions are its *background* — per-partition drift verdicts fall out
directly, matching the collate `type` = signal|background discriminator
(R/sim_collate.R:480-504).

Scale notes (the whole point): drift is computed on AGGREGATES ONLY.
`counts_sketch` is the one scan: groupBy(partition, value) reduces 10^12
rows to |parts| x |distinct values| counts (p, v, c), and every drift
statistic takes that sketch as its only input (in memory, or read back
from the state table / a parquet copy). `drift_by_partition` builds ONE
partition x value grid from it and ONE Window.partitionBy(p).orderBy(v):
complement ECDFs come from (total - partition) arithmetic, PSI buckets
are a function of v (so PSI is the same grid rows grouped by
(p, bucket)), and every later group-by reuses the window's
hashpartitioning(p) — no further exchange. Value cardinality is bounded
by the PSI buckets or a naturally small domain (text length); for an
unbounded domain pass a bucketized value.

The constants below are the ones duck_oracle's drift SQL hard-codes
(`_KS_P_SELECT`, `_PSI_FROM_CNT`): 3 Smirnov series terms, PSI buckets
50 value units wide capped at 20, add-0.5 smoothing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_N_TERMS = 3
_BUCKET_WIDTH = 50.0
_N_BUCKETS = 20
_EPS = 0.5


def counts_sketch(df: DataFrame, partition_col: str, value: Column) -> DataFrame:
    """One scan: counts per (partition, value), nulls excluded — the
    (p, v, c) sketch every drift/entropy statistic consumes. Compute it
    once (or materialize it) and fan out without rescanning the table.

    Nulls are dropped HERE, before any bucketing: Spark's ``least``
    ignores null arguments (least(NULL, 19) = 19), so a PSI bucket of a
    raw null value would land in the last bucket."""
    return (
        df.select(F.col(partition_col).alias("p"), value.alias("v"))
        .filter(F.col("v").isNotNull())
        .groupBy("p", "v")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def opaque_eq(left: Column, right: Column) -> Column:
    """``left = right`` for a join condition (a NULL matches nothing),
    phrased so that the optimizer infers no ``isnotnull`` filter from it.
    An equi-join pushes ``isnotnull(key)`` into its side's subplan; when
    that subplan is one of several consumers of one sketch, its scan and
    exchange stop matching the others' and the sketch is scanned twice."""
    return left.eqNullSafe(right) & left.isNotNull()


def drift_by_partition(sketch: DataFrame, partition_col: str) -> DataFrame:
    """KS, PSI and EMD of each partition's value distribution vs its
    complement, from the (p, v, c) sketch →
    (partition_col, n_part, n_rest, ks_d, ks_p, psi, emd).

    - ks_d = max_v |F_part(v) - F_rest(v)|; ks_p is the asymptotic
      two-sided Smirnov p-value (first 3 series terms,
      lambda = sqrt(ne)*D, ne = n1*n2/(n1+n2)), clamped to [0, 1].
    - emd = sum_i |F_part(v_i) - F_rest(v_i)| * (v_{i+1} - v_i), the
      Wasserstein-1 distance: KS fires on ANY shape change however thin,
      EMD weighs how much mass moved how far (in value units).
    - psi = sum_b (pa_b - pb_b) * ln(pa_b / pb_b) over buckets
      b = least(floor(v / 50), 19), with
      pa = (c_part + 0.5) / (n_part + 0.5 * B), pb likewise for the
      complement, B = buckets observed in ANY partition.

    A single-partition input (empty complement) yields NULL ks_d, ks_p
    and emd — an INTEGER guard (n_part < n_total), so it can never
    disagree with an oracle and keeps ANSI mode from raising
    DIVIDE_BY_ZERO — and a finite psi."""
    parts = sketch.groupBy("p").agg(F.sum("c").alias("np"))
    tot = sketch.groupBy("v").agg(F.sum("c").alias("ct"))
    # every partition's grid row set spans every observed value, hence
    # every observed bucket and the whole table's count (n_total); the
    # grid is clustered by p once, for the window, and every later
    # group-by and window reuses that hashpartitioning(p)
    w = Window.partitionBy("p").orderBy("v")
    whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cells = sketch.select(F.col("p").alias("cp"), F.col("v").alias("cv"), "c")
    on = opaque_eq(F.col("p"), F.col("cp")) & opaque_eq(F.col("v"), F.col("cv"))
    grid = (
        parts.crossJoin(tot)
        .join(cells, on, "left")
        .fillna(0, subset=["c"])
        .select(
            "p",
            "np",
            "v",
            "c",
            "ct",
            F.sum("ct").over(whole).alias("n_total"),
            F.sum("c").over(w).alias("cum_c"),
            F.sum("ct").over(w).alias("cum_t"),
            F.lead("v").over(w).alias("next_v"),
        )
    )
    has_rest = F.col("np") < F.col("n_total")
    gap = F.when(
        has_rest,
        F.abs(
            F.col("cum_c") / F.col("np")
            - (F.col("cum_t") - F.col("cum_c")) / (F.col("n_total") - F.col("np"))
        ),
    )
    # the last grid point has no width (lead is NULL) → contributes 0
    area = F.coalesce(
        gap * (F.col("next_v") - F.col("v")).cast("double"),
        F.when(has_rest, F.lit(0.0)),
    )
    bucket = F.least(
        F.floor(F.col("v") / F.lit(_BUCKET_WIDTH)), F.lit(_N_BUCKETS - 1)
    )
    by_bucket = (
        grid.groupBy("p", "np", "n_total", bucket.alias("b"))
        .agg(
            F.sum("c").alias("c"),
            F.sum("ct").alias("ct"),
            F.max(gap).alias("gap"),
            F.sum(area).alias("area"),
        )
        .withColumn("n_b", F.count(F.lit(1)).over(Window.partitionBy("p")))
    )
    n_rest = F.col("n_total") - F.col("np")
    pa = (F.col("c") + F.lit(_EPS)) / (F.col("np") + F.lit(_EPS) * F.col("n_b"))
    pb = (F.col("ct") - F.col("c") + F.lit(_EPS)) / (n_rest + F.lit(_EPS) * F.col("n_b"))
    out = by_bucket.groupBy("p", "np", "n_total").agg(
        F.max("gap").alias("ks_d"),
        F.sum((pa - pb) * F.log(pa / pb)).alias("psi"),
        F.sum("area").alias("emd"),
    )
    ne = F.col("np") * n_rest / (F.col("np") + n_rest)
    lam2 = ne * F.col("ks_d") * F.col("ks_d")
    series = None
    for k in range(1, _N_TERMS + 1):
        term = F.lit(float((-1) ** (k - 1))) * F.exp(F.lit(-2.0 * k * k) * lam2)
        series = term if series is None else series + term
    # explicit NULL gate: greatest/least IGNORE null args in Spark, so a
    # NULL ks_d would otherwise surface as ks_p = 0.0
    ks_p = F.when(
        F.col("ks_d").isNotNull(),
        F.least(F.lit(1.0), F.greatest(F.lit(0.0), F.lit(2.0) * series)),
    )
    return out.select(
        F.col("p").alias(partition_col),
        F.col("np").alias("n_part"),
        n_rest.alias("n_rest"),
        "ks_d",
        ks_p.alias("ks_p"),
        "psi",
        "emd",
    )


def entropy_by_partition(sketch: DataFrame, partition_col: str) -> DataFrame:
    """Shannon entropy (nats) of the value distribution within each
    partition, from the (p, v, c) sketch →
    (partition_col, n_part, n_values, entropy). A collapsing domain
    (template takeover, a stuck producer) shows up as an entropy drop
    before any referential or drift check fires."""
    parts = sketch.groupBy("p").agg(
        F.sum("c").alias("np"), F.count(F.lit(1)).alias("n_values")
    )
    j = sketch.join(parts, "p")
    frac = F.col("c") / F.col("np")
    return (
        j.groupBy("p")
        .agg(
            F.first("np").alias("n_part"),
            F.first("n_values").alias("n_values"),
            (-F.sum(frac * F.log(frac))).alias("entropy"),
        )
        .select(F.col("p").alias(partition_col), "n_part", "n_values", "entropy")
    )
