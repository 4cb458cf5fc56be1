"""Pair generation + similarity kernels (matric's `sim_calculate`).

The reference's three execution strategies map to Spark like this:
- eager all-pairs (R/sim_calculate.R:80-161): `all_pairs` = crossJoin
  minus diagonal. O(N²) — correctness baseline only.
- optimized pair-gen (R/sim_calculate.R:162-301): never materialize N²;
  `within_group_pairs` is an equi-join on the partition key (the single
  most important pattern per SURVEY §2.3). It is the one pair builder:
  `sim_calculate`'s strata and every `collate.sim_collate` subset
  (a broadcast reference side for `ref`) go through it. These are the
  100 TB paths.
- lazy (R/sim_calculate.R:150,296-298): Spark is lazy by construction —
  a pair DataFrame without `sim` *is* the lazy index; `attach_sim`
  plays `sim_calculate_ij` (R/sim_calculate.R:362-426): join the pair
  list to features twice, compute the kernel as a codegen expression.

Kernels (R/sim_calculate.R:113-132): cosine = normalized dot; pearson =
row-center then cosine (equivalent to stats::cor for complete rows —
matric's own sparse path makes the same simplification, R/sparse.R:194-198);
euclidean = L2 distance; spearman = average-tie rank transform of each
row (stats::cor(t(X), method="spearman") ranks within each row) composed
with the pearson kernel — the ranks come from windows over the exploded
elements, so every kernel stays a Column-expression pipeline with no
Python in the pair hot path.

Pearson/spearman NaN semantics: the codegen kernels are EXACT equal to
R only for complete rows — stats::cor's use="pairwise.complete.obs"
(R/sim_calculate.R:122-124) recomputes means per PAIR when NAs survive,
which a row-preprocessed formulation cannot reproduce (matric's own
sparse path, R/sparse.R:194-198, makes the same simplification). The
reference's preprocess_data drops NA-bearing feature columns first
(R/utils.R:97-120 ≙ operators/population.preprocess_data), so complete
rows are the codegen contract; `attach_sim` enforces it with a runtime
assert_true on NaN features for these kernels rather than silently
diverging. For NA-bearing data, the kernels "pearson_complete",
"spearman_complete" and "kendall_complete" implement the exact
pairwise.complete.obs semantics on the blocked numpy path
(sparse.pearson_pairwise_complete_rows / spearman_pairwise_complete_rows
/ kendall_pairwise_complete_rows — spearman re-ranks each pair on its
common support, exactly as R does), differential-tested against R's
documented edge cases.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from matric_spark.functions.vector import dot

KERNELS = (
    "cosine",
    "pearson",
    "pearson_complete",
    "euclidean",
    "spearman",
    "spearman_complete",
    "kendall",
    "kendall_complete",
)


def all_pairs(pop: DataFrame, id_col: str = "id") -> DataFrame:
    """Eager full pair index: N×N minus the diagonal (both directions,
    matching the melted symmetric matrix of R/sim_calculate.R:143-160)."""
    a = pop.select(F.col(id_col).alias("id1"))
    b = pop.select(F.col(id_col).alias("id2"))
    return a.crossJoin(b).filter(F.col("id1") != F.col("id2"))


def within_group_pairs(
    pop: DataFrame,
    same_cols: list[str] | None,
    right: DataFrame | None = None,
    carry: list[str] | None = None,
    keep: F.Column | None = None,
    id_col: str = "id",
) -> DataFrame:
    """(id1 from `pop`, id2 from `right`, default `pop`) pairs agreeing on
    every `same_cols`: ONE equi-join on the group key
    (R/sim_calculate.R:177-191 reduct_all_same_cols_*), so the shuffle is
    keyed on the group columns; without a key, a cross join (wrap a small
    `right` in F.broadcast). Both sides carry each `carry` column as
    `_l_<c>`/`_r_<c>`, and `keep`, a predicate over those copies, filters
    the join output, so a pair rule never joins the pairs back to the
    metadata (sim_filter._different, collate's ref rule)."""
    right = pop if right is None else right
    same_cols, carry = same_cols or [], carry or []

    def side(df: DataFrame, id_name: str, prefix: str) -> DataFrame:
        return df.select(
            *same_cols,
            F.col(id_col).alias(id_name),
            *[F.col(c).alias(f"{prefix}{c}") for c in carry],
        )

    a, b = side(pop, "id1", "_l_"), side(right, "id2", "_r_")
    joined = a.join(b, same_cols) if same_cols else a.crossJoin(b)
    pred = F.col("id1") != F.col("id2")
    return joined.filter(pred if keep is None else pred & keep).select("id1", "id2")


def _preprocess_features(
    df: DataFrame, v: F.Column, kernel: str, out_col: str
) -> DataFrame:
    """Row-level kernel preprocessing, done ONCE per row before the pair
    join — matric's own optimization (normalize rows then tcrossprod,
    R/sim_calculate.R:126-128; center then normalize, R/sparse.R:194-198).
    Per-pair work is then a single dot product / diff, O(d) not O(d²).

    STAGED as separate withColumn projections on purpose: embedding the
    mean/norm aggregates inside the transform lambdas nests higher-order
    functions three deep, and Catalyst cannot CSE across lambda scopes —
    the expression tree (and its codegen) grows O(d³) and a 3 s job takes
    40 s compiling. Materialized intermediate columns keep every
    expression O(d). (Float op order is unchanged — oracle-identical.)"""
    df = df.withColumn(out_col, v)
    if kernel == "pearson":
        df = (
            df.withColumn(
                "_pp_mean",
                F.aggregate(out_col, F.lit(0.0), lambda acc, x: acc + x)
                / F.size(out_col),
            )
            .withColumn(
                out_col, F.transform(out_col, lambda x: x - F.col("_pp_mean"))
            )
            .drop("_pp_mean")
        )
    if kernel in ("cosine", "pearson"):
        df = (
            df.withColumn(
                "_pp_norm",
                F.sqrt(
                    F.aggregate(out_col, F.lit(0.0), lambda acc, x: acc + x * x)
                ),
            )
            .withColumn(
                out_col,
                F.when(
                    F.col("_pp_norm") > 0,
                    F.transform(out_col, lambda x: x / F.col("_pp_norm")),
                ),
            )
            .drop("_pp_norm")
        )
    return df


def rank_transform(
    df: DataFrame, id_col: str = "id", vec_col: str = "features"
) -> DataFrame:
    """Replace each row's vector with its average-tie element ranks
    (R's rank(x, ties.method="average"), the spearman preprocessing of
    stats::cor(t(X), method="spearman"), R/sim_calculate.R:122-124).

    Shape: posexplode → one window pass keyed on the row id (count of
    elements ≤ x via a RANGE frame, tie size via a peer partition) →
    regroup. The explode is d×N rows shuffled ONCE on the row id; the
    regroup reuses that partitioning. avg_rank = cnt_le − (cnt_eq−1)/2,
    an exact rational — bit-identical across engines.
    """
    ex = df.select(
        F.col(id_col).alias("_rid"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("_i", "_x"),
    )
    w_le = (
        Window.partitionBy("_rid")
        .orderBy("_x")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_eq = Window.partitionBy("_rid", "_x")
    ranked = ex.select(
        "_rid",
        "_i",
        (
            F.count(F.lit(1)).over(w_le)
            - (F.count(F.lit(1)).over(w_eq) - 1) / 2.0
        ).alias("_r"),
    )
    ranks = ranked.groupBy("_rid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_i", "_r"))), lambda s: s["_r"]
        ).alias("_ranked_vec")
    )
    base = df.drop(vec_col)
    return (
        base.join(ranks, base[id_col] == ranks["_rid"])
        .withColumnRenamed("_ranked_vec", vec_col)
        .drop("_rid")
    )


def _kernel_expr(kernel: str) -> F.Column:
    """Pair-level kernel over preprocessed feature vectors."""
    v1, v2 = F.col("_v1"), F.col("_v2")
    if kernel in ("cosine", "pearson"):
        return dot(v1, v2)  # rows pre-normalized (and pre-centered)
    if kernel == "euclidean":
        diff = F.zip_with(v1, v2, lambda x, y: (x - y) * (x - y))
        return F.sqrt(F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x))
    raise ValueError(f"kernel must be one of {KERNELS}, got {kernel!r}")


def _nan_guard(v: F.Column, kernel: str) -> F.Column:
    """Runtime completeness assertion for correlation kernels: rows with
    NaN features would silently diverge from stats::cor's
    use="pairwise.complete.obs" (which recomputes means per pair,
    R/sim_calculate.R:122-124), so they raise instead. NULL vectors pass
    through (they yield NULL sim, as before). assert_true is folded into
    the feature expression so column pruning cannot drop it."""
    ok = F.coalesce(~F.exists(v, lambda x: F.isnan(x)), F.lit(True))
    msg = F.lit(
        f"{kernel} kernel requires complete rows (no NaN features): run "
        "preprocess_data to drop NA-bearing feature columns first "
        f"(R/utils.R:97-120), or use kernel='{kernel}_complete' for exact "
        "pairwise.complete.obs semantics on NA-bearing data"
    )
    return F.when(F.assert_true(ok, msg).isNull(), v)


def attach_sim(
    pairs: DataFrame,
    pop: DataFrame,
    kernel: str = "cosine",
    id_col: str = "id",
    vec_col: str = "features",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Fill `sim` for a pair list (matric `sim_calculate_ij`,
    R/sim_calculate.R:362-426): dedup pairs, join features to both sides,
    evaluate the kernel in codegen. Duplicate pairs are dropped *before*
    the join — matric's dedup-before-fan-out discipline
    (R/sim_calculate.R:395-399). spearman = rank_transform ∘ pearson."""
    feat_src = pop.select(F.col(id_col).alias("_fid"), F.col(vec_col))
    v = F.col(vec_col).cast("array<double>")
    if kernel in ("pearson", "spearman", "kendall"):
        feat_src = feat_src.withColumn(vec_col, _nan_guard(v, kernel))
        v = F.col(vec_col)
    if kernel in (
        "kendall",
        "pearson_complete",
        "spearman_complete",
        "kendall_complete",
    ):
        # kendall: rank-correlation over every element pair — no row
        # preprocessing makes it a dot product. *_complete: the per-pair
        # NaN mask makes means/norms/ranks pair-dependent (stats::cor
        # use="pairwise.complete.obs", which R/sim_calculate.R:122-124
        # passes for EVERY method — spearman re-ranks on each pair's
        # common support). All run on the blocked numpy path (one
        # vectorized kernel per Arrow batch).
        from matric_spark.operators.sparse import pairwise_blocked

        return pairwise_blocked(
            pairs,
            feat_src,
            kernel=kernel,
            id_col="_fid",
            vec_col=vec_col,
            keep_cols=keep_cols,
        )
    if kernel == "spearman":
        feat_src = rank_transform(feat_src, id_col="_fid", vec_col=vec_col)
        kernel = "pearson"
    feats = _preprocess_features(feat_src, v, kernel, "_v").select("_fid", "_v")
    uniq = pairs.select("id1", "id2", *(keep_cols or [])).dropDuplicates(
        ["id1", "id2", *(keep_cols or [])]
    )
    out = (
        uniq.join(feats.withColumnsRenamed({"_fid": "id1", "_v": "_v1"}), "id1")
        .join(feats.withColumnsRenamed({"_fid": "id2", "_v": "_v2"}), "id2")
        .withColumn("sim", _kernel_expr(kernel))
        .drop("_v1", "_v2")
    )
    return out.select("id1", "id2", *(keep_cols or []), "sim")


def sim_calculate(
    pop: DataFrame,
    kernel: str = "cosine",
    id_col: str = "id",
    vec_col: str = "features",
    strata: list[str] | None = None,
) -> DataFrame:
    """matric `sim_calculate`: all-pairs (strata=None) or within-strata
    pairs, with `sim` attached. `strata` ≙ all_same_cols_rep_or_group
    (R/sim_calculate.R:92-96)."""
    pairs = (
        within_group_pairs(pop, strata, id_col=id_col)
        if strata
        else all_pairs(pop, id_col=id_col)
    )
    return attach_sim(pairs, pop, kernel=kernel, id_col=id_col, vec_col=vec_col)
