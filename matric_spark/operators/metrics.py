"""`sim_metrics` (R/sim_metrics.R:154-304) — scaled / rank / retrieval
metrics of a signal cohort vs a background cohort, per group.

Every metric is computed with windows + hash aggregates over the UNION of
signal and background rows — no nested list-columns, no driver loops:

- background stats (R/sim_metrics.R:391-404): groupBy(summary).agg(mean,
  stddev_samp)  [stddev_samp == R's n−1 `sd`; Spark aggregates skip
  nulls, matching na.rm=TRUE].
- sim_scaled (R/sim_metrics.R:406-411): (sim − mean_bg) / sd_bg.
- relrank (R/sim_metrics.R:623-625, NA→1 at :424-427): matric computes
  `which(sim >= bg_desc)[1] / n_bg` = (1 + #{bg > sim}) / n_bg, clamped
  to 1 when sim < all bg. Here: a RANGE window (ORDER BY sim, peers
  included) counts bg ≤ sim, so #{bg > sim} = n_bg − cnt_le.
- probrank/AP (R/sim_metrics.R:602-643): rank(sim)/n with average ties
  is monotone in sim, so the PR curve is computed directly over distinct
  sim values: AP = Σ_v (sig_v/m) · precision_v — yardstick's summation
  estimator (Σ Δrecall·precision) with ties grouped at thresholds.
- r_precision (R/sim_metrics.R:653-667): #signal in top-m by sim with
  signal-first tie-break (bind_rows puts signal first; R's sort is
  stable), m = #signal.
- metric grammar (vignettes/taxonomy.Rmd:40-153, rename at
  R/sim_metrics.R:533-554): `sim_{transform}_{stat}_{background}_{id}`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

TRANSFORM_COLS = ["sim_scaled", "sim_ranked_relrank", "sim"]


def sim_annotate(
    pairs: DataFrame,
    meta: DataFrame,
    annotation_cols: list[str],
    side: str = "both",
    id_col: str = "id",
) -> DataFrame:
    """Attach metadata columns to pair sides (R/sim_annotate.R:31-73).

    `side` ∈ {"id1", "id2", "both"} ≙ the reference's index ∈ {"left",
    "right", "both"}; "both" (the reference default, used by every
    metrics consumer in its vignette) joins each side once with `1`/`2`
    suffixes — matching R/sim_annotate.R:61-70's suffix = c("1", "2").
    Metadata is the small relation → broadcast inner joins."""
    if side == "both":
        out = sim_annotate(pairs, meta, annotation_cols, "id1", id_col)
        return sim_annotate(out, meta, annotation_cols, "id2", id_col)
    suffix = side[-1]
    m = meta.select(
        F.col(id_col).alias(side),
        *[F.col(c).alias(f"{c}{suffix}") for c in annotation_cols],
    )
    return pairs.join(F.broadcast(m), side)


def sim_metrics(
    collated: DataFrame,
    summary_cols: list[str],
    signal_type: str = "rep",
    background_type: str = "non_rep",
    identifier: str = "i",
    persist: bool = True,
) -> DataFrame:
    """Level-1_0 metrics table, grouped by `summary_cols` (must include
    id1 for the per-row level; pass group keys only for coarser levels).

    Input: DataFrame[*summary_cols, id2, type, sim]. Output columns
    follow the reference naming grammar exactly, e.g.
    sim_scaled_mean_non_rep_i, sim_retrieval_average_precision_non_rep_i.
    """
    bg, sig = background_type, signal_type
    u = collated.filter(F.col("type").isin([sig, bg])).select(
        *summary_cols,
        "sim",
        (F.col("type") == sig).cast("int").alias("_is_sig"),
    )

    grp = Window.partitionBy(*summary_cols)
    w_le = grp.orderBy("sim").rangeBetween(Window.unboundedPreceding, Window.currentRow)

    n_sig = F.sum("_is_sig").over(grp)
    n_bg = F.sum(1 - F.col("_is_sig")).over(grp)
    cnt_le_bg = F.sum(1 - F.col("_is_sig")).over(w_le)

    scored = (
        u.withColumn("_m", n_sig)
        .withColumn("_n_bg", n_bg)
        .withColumn("_cnt_le_bg", cnt_le_bg)
    )

    # groups lacking either cohort drop out (matric inner joins,
    # R/sim_metrics.R:406-428)
    scored = scored.filter((F.col("_m") > 0) & (F.col("_n_bg") > 0))

    # `scored` feeds FOUR consumers (bg stats, per-group agg, AP curve,
    # R-precision); without persistence each branch re-runs the whole
    # upstream pair computation. matric materializes collated_sim the
    # same way. MEMORY_AND_DISK: spills instead of OOM at scale.
    if persist:
        from pyspark import StorageLevel

        scored = scored.persist(StorageLevel.MEMORY_AND_DISK)

    relrank = F.coalesce(
        F.least(
            F.lit(1.0),
            (1 + F.col("_n_bg") - F.col("_cnt_le_bg")) / F.col("_n_bg"),
        ),
        F.lit(1.0),
    )
    signal = scored.filter(F.col("_is_sig") == 1).withColumn(
        "sim_ranked_relrank", relrank
    )

    # ---- background stats + z-scaling --------------------------------
    bg_stats = (
        scored.filter(F.col("_is_sig") == 0)
        .groupBy(*summary_cols)
        .agg(
            F.mean("sim").alias("sim_mean_stat"),
            F.stddev_samp("sim").alias("sim_sd_stat"),
        )
    )
    # sd == 0 (constant background) → NULL, matching R's NaN from
    # (x-m)/0 semantically; under ANSI mode a bare division would throw
    signal = signal.join(bg_stats, summary_cols).withColumn(
        "sim_scaled",
        F.when(
            F.col("sim_sd_stat") != 0,
            (F.col("sim") - F.col("sim_mean_stat")) / F.col("sim_sd_stat"),
        ),
    )

    per_group = signal.groupBy(*summary_cols).agg(
        *[
            a
            for c in TRANSFORM_COLS
            for a in (
                F.mean(c).alias(f"{c}_mean"),
                F.expr(f"percentile({c}, 0.5)").alias(f"{c}_median"),
            )
        ],
        F.first("sim_mean_stat").alias("sim_mean_stat"),
        F.first("sim_sd_stat").alias("sim_sd_stat"),
        F.first("_m").cast("long").alias("sim_stat_signal_n"),
        F.first("_n_bg").cast("long").alias("sim_stat_background_n"),
    )

    # ---- retrieval: AP + R-precision over the union ------------------
    # PR curve over distinct sim thresholds (ties grouped, desc order)
    by_val = scored.groupBy(*summary_cols, "sim").agg(
        F.sum("_is_sig").alias("_sig_v"),
        F.sum(1 - F.col("_is_sig")).alias("_bg_v"),
        F.first("_m").alias("_m"),
    )
    w_desc = Window.partitionBy(*summary_cols).orderBy(F.desc("sim")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    curve = by_val.withColumn("_tp", F.sum("_sig_v").over(w_desc)).withColumn(
        "_fp", F.sum("_bg_v").over(w_desc)
    )
    ap = curve.groupBy(*summary_cols).agg(
        F.sum(
            (F.col("_sig_v") / F.col("_m"))
            * (F.col("_tp") / (F.col("_tp") + F.col("_fp")))
        ).alias("sim_retrieval_average_precision")
    )
    # R-precision: top-m rows by (sim desc, signal first on ties)
    w_rp = Window.partitionBy(*summary_cols).orderBy(
        F.desc("sim"), F.desc("_is_sig")
    )
    rp = (
        scored.withColumn("_rn", F.row_number().over(w_rp))
        .filter(F.col("_rn") <= F.col("_m"))
        .groupBy(*summary_cols)
        .agg((F.sum("_is_sig") / F.first("_m")).alias("sim_retrieval_r_precision"))
    )

    out = per_group.join(ap, summary_cols).join(rp, summary_cols)

    # ---- rename to the metric grammar (R/sim_metrics.R:533-554) ------
    renames: dict[str, str] = {}
    for c in out.columns:
        if c in summary_cols:
            continue
        name = c
        # background suffix on stat/retrieval/scaled/ranked cols only
        if (
            ("_stat" in name)
            or name.startswith("sim_retrieval")
            or name.startswith("sim_scaled")
            or name.startswith("sim_ranked")
        ):
            name = f"{name}_{bg}"
        renames[c] = f"{name}_{identifier}"
    return out.withColumnsRenamed(renames)


def aggregate_level(
    level10: DataFrame,
    group_cols: list[str],
    identifier: str = "i",
) -> DataFrame:
    """Level-1 rollup (R/sim_metrics.R:199-233): mean and median of every
    sim_* column across the replicate set, named {col}_mean_{id} /
    {col}_median_{id}. Two-level hierarchy = matric's explicit rollup."""
    sim_cols = [c for c in level10.columns if c.startswith("sim")]
    aggs = []
    for c in sim_cols:
        aggs.append(F.mean(c).alias(f"{c}_mean_{identifier}"))
        aggs.append(
            F.expr(f"percentile({c}, 0.5)").alias(f"{c}_median_{identifier}")
        )
    return level10.groupBy(*group_cols).agg(*aggs)


def bh_adjust(df: DataFrame, p_col: str, q_col: str = "q_value") -> DataFrame:
    """Benjamini-Hochberg across the whole column (R/sim_metrics.R:248-253,
    p.adjust(method='BH')): q_i = min_{j: p_j >= p_i}(p_j * n / rank_j),
    capped at 1 — a rank window + a reverse running min, no driver pass.

    CARDINALITY NOTE: the global un-partitioned windows funnel the whole
    table through ONE task. Its only callers are metric-level tables
    (level-1_0 has one row per (row, group)), never raw-data scale."""
    n = Window.partitionBy()
    w_rank = Window.orderBy(p_col)
    w_rev = Window.orderBy(F.desc(p_col)).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # max row_number among ties = R's p.adjust behavior (it sorts and
    # divides by the index; ties get the same q after the cummin)
    with_rank = (
        df.withColumn("_rn", F.row_number().over(w_rank))
        .withColumn("_rank", F.max("_rn").over(Window.partitionBy(p_col)))
        .withColumn("_n", F.count(F.lit(1)).over(n))
    )
    q = F.least(
        F.lit(1.0),
        F.min(F.col(p_col) * F.col("_n") / F.col("_rank")).over(w_rev),
    )
    return with_rank.withColumn(q_col, q).drop("_rn", "_n", "_rank")
