"""`sim_metrics` (R/sim_metrics.R:154-304) — scaled / rank / retrieval
metrics of a signal cohort vs a background cohort, per group.

matric derives every level-1_0 metric from one collated signal ∪
background list per group; so does `sim_metrics`: ONE window pass over
the union, partitioned once by the summary columns, then ONE groupBy on
the same partitioning — one exchange, no join, nothing persisted:

- background stats (R/sim_metrics.R:391-404): unordered group windows of
  mean / stddev_samp over `when(background, sim)` [stddev_samp == R's
  n−1 `sd`; aggregates skip nulls, matching na.rm=TRUE].
- sim_scaled (R/sim_metrics.R:406-411): (sim − mean_bg) / sd_bg.
- relrank (R/sim_metrics.R:623-625, NA→1 at :424-427): matric computes
  `which(sim >= bg_desc)[1] / n_bg` = (1 + #{bg > sim}) / n_bg, clamped
  to 1 when sim < all bg. Here: an ascending RANGE window (peers
  included) counts bg ≤ sim, so #{bg > sim} = n_bg − cnt_le.
- probrank/AP (R/sim_metrics.R:602-643): rank(sim)/n with average ties
  is monotone in sim, so the PR curve is taken over distinct sim values:
  AP = Σ_v (sig_v/m) · tp_v/(tp_v + fp_v) — yardstick's summation
  estimator (Σ Δrecall·precision) with ties grouped at thresholds. A
  descending RANGE window gives tp_v/fp_v; the term sits on the first
  row of each distinct value, with sig_v = tp_v − tp of the value above.
- r_precision (R/sim_metrics.R:653-667): #signal among the top-m rows by
  (sim desc, signal first on ties — bind_rows puts signal first and R's
  sort is stable), m = #signal.
- metric grammar (vignettes/taxonomy.Rmd:40-153, rename at
  R/sim_metrics.R:533-554): `sim_{transform}_{stat}_{background}_{id}`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


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
    is_sig = F.col("_is_sig") == 1
    is_bg = 1 - F.col("_is_sig")
    bg_sim = F.when(~is_sig, F.col("sim"))

    grp = Window.partitionBy(*summary_cols)
    upto = (Window.unboundedPreceding, Window.currentRow)
    w_asc = grp.orderBy("sim").rangeBetween(*upto)
    w_desc = grp.orderBy(F.desc("sim")).rangeBetween(*upto)
    # (sim desc, signal first on ties): the R-precision order; its lag
    # finds the first row of each distinct sim value for the AP curve
    w_rank = grp.orderBy(F.desc("sim"), F.desc("_is_sig"))

    scored = (
        u.select(
            "*",
            F.sum("_is_sig").over(grp).alias("_m"),
            F.sum(is_bg).over(grp).alias("_n_bg"),
            F.mean(bg_sim).over(grp).alias("_mean_bg"),
            F.stddev_samp(bg_sim).over(grp).alias("_sd_bg"),
            F.sum(is_bg).over(w_asc).alias("_cnt_le_bg"),
            F.sum("_is_sig").over(w_desc).alias("_tp"),
            F.sum(is_bg).over(w_desc).alias("_fp"),
            F.row_number().over(w_rank).alias("_rn"),
        )
        # groups lacking either cohort drop out (matric inner joins,
        # R/sim_metrics.R:406-428)
        .filter((F.col("_m") > 0) & (F.col("_n_bg") > 0))
        .select(
            "*",
            F.lag("sim").over(w_rank).alias("_prev_sim"),
            F.lag("_tp", default=0).over(w_rank).alias("_prev_tp"),
        )
    )

    m, n_bg = F.col("_m"), F.col("_n_bg")
    relrank = F.coalesce(
        F.least(F.lit(1.0), (1 + n_bg - F.col("_cnt_le_bg")) / n_bg),
        F.lit(1.0),
    )
    # sd == 0 (constant background) → NULL, matching R's NaN from
    # (x-m)/0 semantically; under ANSI mode a bare division would throw
    scaled = F.when(
        F.col("_sd_bg") != 0,
        (F.col("sim") - F.col("_mean_bg")) / F.col("_sd_bg"),
    )
    # per-signal-row values; the output keeps this column order
    signal_vals = {
        "sim_scaled": scaled, "sim_ranked_relrank": relrank, "sim": F.col("sim")
    }
    first_of_value = (F.col("_rn") == 1) | ~F.col("sim").eqNullSafe(
        F.col("_prev_sim")
    )
    sig_v = F.col("_tp") - F.col("_prev_tp")
    ap_term = F.when(
        first_of_value,
        (sig_v / m) * (F.col("_tp") / (F.col("_tp") + F.col("_fp"))),
    )

    out = scored.groupBy(*summary_cols).agg(
        *[
            a
            for c, v in signal_vals.items()
            for a in (
                F.mean(F.when(is_sig, v)).alias(f"{c}_mean"),
                F.percentile(F.when(is_sig, v), 0.5).alias(f"{c}_median"),
            )
        ],
        F.first("_mean_bg").alias("sim_mean_stat"),
        F.first("_sd_bg").alias("sim_sd_stat"),
        F.first("_m").cast("long").alias("sim_stat_signal_n"),
        F.first("_n_bg").cast("long").alias("sim_stat_background_n"),
        F.sum(ap_term).alias("sim_retrieval_average_precision"),
        (F.sum(F.when(F.col("_rn") <= m, F.col("_is_sig"))) / F.first("_m")).alias(
            "sim_retrieval_r_precision"
        ),
    )

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
    # rank = #{j: p_j <= p_i}: the max row_number among ties = R's
    # p.adjust behavior (it sorts and divides by the index; ties get the
    # same q after the cummin)
    w_rank = Window.orderBy(p_col).rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_rev = Window.orderBy(F.desc(p_col)).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    with_rank = df.withColumn("_rank", F.count(F.lit(1)).over(w_rank)).withColumn(
        "_n", F.count(F.lit(1)).over(n)
    )
    q = F.least(
        F.lit(1.0),
        F.min(F.col(p_col) * F.col("_n") / F.col("_rank")).over(w_rev),
    )
    return with_rank.withColumn(q_col, q).drop("_n", "_rank")
