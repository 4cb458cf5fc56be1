"""`sim_collate` (R/sim_collate.R:197-527) — build the typed pair subsets
and union them with a `type` discriminator.

Spark formulation: each subset is generated directly as a per-group
self-join / broadcast-reference join over the METADATA relation (the
optimized pair-gen path, R/sim_calculate.R:162-301) — the N² pair space
is never materialized. `sim` is attached afterwards by
`pairs.attach_sim` (the lazy path, vignettes/matric.Rmd:222-257): Spark's
lazy evaluation makes eager-vs-lazy a non-distinction here.

The three theta subsets (non_rep; rep under rep-side inequality
constraints; rep_group) are each ONE equi-join on their same-key
(`_theta_pairs`): both sides carry the columns the inequalities read as
`_l_<c>`/`_r_<c>`, and `sim_filter._different` (the some-different rule,
normalization included) filters the join output. The pairs are never
joined back to the metadata; the carried columns are private to this
module and projected away before the union.

Subsets (tags follow the reference exactly):
- ref     : non-reference × reference, same on all_same_cols_ref
            (R/sim_collate.R:277-288)
- rep     : non-ref × non-ref, same on all_same_cols_rep, both
            directions kept (R/sim_collate.R:311-345)
- rep_ref : reference × reference, same on all_same_cols_rep_ref,
            tagged 'rep' and deduped out of ref (R/sim_collate.R:366-396)
- non_rep : same on all_same_cols_non_rep, different on
            any_different_cols_non_rep, both non-ref — the background
            cohort (R/sim_collate.R:419-438)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from matric_spark.operators.pairs import vs_reference_pairs, within_group_pairs
from matric_spark.operators.sim_filter import _different


def _theta_pairs(
    left: DataFrame,
    right: DataFrame,
    same_cols: list[str],
    all_different_cols: list[str] | None = None,
    any_different_cols: list[str] | None = None,
    id_col: str = "id",
) -> DataFrame:
    """(id1 from `left`, id2 from `right`) pairs same on `same_cols` ∧
    the some-different rule (R/sim_filter.R:409-530): one equi-join on
    the same-key whose sides carry the inequality columns, then one
    filter. Without inequality constraints this is the plain per-group
    self-join of `pairs.within_group_pairs`."""
    diff_cols, different = _different(
        same_cols, all_different_cols, any_different_cols
    )

    def side(pop: DataFrame, id_name: str, prefix: str) -> DataFrame:
        return pop.select(
            *same_cols,
            F.col(id_col).alias(id_name),
            *[F.col(c).alias(f"{prefix}{c}") for c in diff_cols],
        )

    return (
        side(left, "id1", "_l_")
        .join(side(right, "id2", "_r_"), same_cols)
        .filter((F.col("id1") != F.col("id2")) & different)
        .select("id1", "id2")
    )


def sim_collate(
    meta: DataFrame,
    reference: F.Column,
    all_same_cols_ref: list[str] | None,
    all_same_cols_rep: list[str],
    all_same_cols_non_rep: list[str],
    any_different_cols_non_rep: list[str],
    any_different_cols_rep: list[str] | None = None,
    all_different_cols_rep: list[str] | None = None,
    all_different_cols_non_rep: list[str] | None = None,
    all_same_cols_group: list[str] | None = None,
    any_different_cols_group: list[str] | None = None,
    all_same_cols_rep_ref: list[str] | None = None,
    drop_group_spec: DataFrame | None = None,
    drop_reference: bool = True,
    id_col: str = "id",
) -> DataFrame:
    """Typed pair index DataFrame[id1, id2, type].

    Optional 5th subset (R/sim_collate.R:460-478): `rep_group` — same
    group (e.g. same gene, `all_same_cols_group`) but different
    perturbation (`any_different_cols_group`).

    `drop_group_spec` is step 0 (R/sim_collate.R:246-258): rows matching
    the spec-by-example table (matric's EMPTY wells) are anti-joined out
    of the population before ANY pair generation, which drops them from
    both sides of every subset at once.

    `drop_reference` mirrors R/sim_collate.R:211 (its default there is
    FALSE). Under FALSE — the setting of the reference's own golden
    pipelines and testthat tallies (test-sim_collate.R:207-226) —
    reference rows stay on specific pair sides:
    - ref      : LEFT side keeps reference rows, so ref×ref pairs that
                 are NOT rep_ref pairs (e.g. same plate, different
                 perturbation) remain typed 'ref' after the anti-join
                 (R/sim_collate.R:281-287 keep_some with
                 drop_reference=FALSE; anti-join at :388-395).
    - non_rep  : LEFT keeps reference rows, RIGHT drops them — the
                 asymmetry of R/sim_collate.R:420-436
                 (filter_drop_left=NULL, filter_drop_right=reference).
    - rep_group: BOTH sides keep reference rows
                 (R/sim_collate.R:461-476, reference_both=NULL).
    Under TRUE every subset is reference-free on both sides. `rep` and
    `rep_ref` never depend on the flag. Verified against the reference's
    hard-coded tallies on its packaged cellhealth data
    (tests/test_reference_parity.py).
    """
    if drop_group_spec is not None:
        meta = meta.join(
            F.broadcast(drop_group_spec), on=drop_group_spec.columns, how="left_anti"
        )
    non_ref = meta.filter(~reference)
    refs = meta.filter(reference)

    # ref: (all | non-ref) side × reference side, same partition key;
    # reference side is tiny → broadcast (R/sim_collate.R:277-288)
    ref_pairs = vs_reference_pairs(
        meta,
        reference,
        same_cols=all_same_cols_ref,
        id_col=id_col,
        include_ref_left=not drop_reference,
    ).withColumn("type", F.lit("ref"))

    # rep: replicate pairs among non-reference rows (both directions,
    # R/sim_collate.R:311-345), optionally constrained to differ on
    # any_different_cols_rep / all_different_cols_rep
    # (R/sim_collate.R:325-345, e.g. "replicates must sit on different
    # plates") — the same theta join as the non_rep subset.
    rep_pairs = _theta_pairs(
        non_ref,
        non_ref,
        all_same_cols_rep,
        all_different_cols=all_different_cols_rep,
        any_different_cols=any_different_cols_rep,
        id_col=id_col,
    ).withColumn("type", F.lit("rep"))

    # rep_ref: replicate pairs among reference rows, tagged 'rep'
    # (R/sim_collate.R:366-396); deduped out of ref below. Its key may
    # legitimately be FINER than the rep key (the reference's
    # cellhealthmetrics pipeline adds Metadata_Plate,
    # data-raw/cellhealthmetrics.R:47-52); defaults to the rep key.
    rep_ref_pairs = within_group_pairs(
        refs, all_same_cols_rep_ref or all_same_cols_rep, id_col=id_col
    ).withColumn("type", F.lit("rep"))

    # dedup overlap: ref pairs that are also rep_ref pairs are dropped
    # from ref so they are not double-counted (R/sim_collate.R:387-395)
    ref_pairs = ref_pairs.join(
        rep_ref_pairs.select("id1", "id2"), ["id1", "id2"], "left_anti"
    )

    # non_rep: background — same partition, different perturbation,
    # optionally all-different on every all_different_cols_non_rep
    # (R/sim_collate.R:419-438; the reference's fetch_non_rep gate at
    # :231-234 requires all three constraint sets)
    non_rep_pairs = _theta_pairs(
        non_ref if drop_reference else meta,
        non_ref,
        all_same_cols_non_rep,
        all_different_cols=all_different_cols_non_rep,
        any_different_cols=any_different_cols_non_rep,
        id_col=id_col,
    ).withColumn("type", F.lit("non_rep"))

    # union + tag (R/sim_collate.R:480-504); distinct within type guards
    # against overlapping generators, as the reference's distinct() does
    out = ref_pairs.unionByName(rep_pairs).unionByName(rep_ref_pairs)
    out = out.unionByName(non_rep_pairs)

    if all_same_cols_group:
        group_pop = non_ref if drop_reference else meta
        rep_group_pairs = _theta_pairs(
            group_pop,
            group_pop,
            all_same_cols_group,
            any_different_cols=any_different_cols_group,
            id_col=id_col,
        ).withColumn("type", F.lit("rep_group"))
        out = out.unionByName(rep_group_pairs)

    return out.dropDuplicates(["id1", "id2", "type"])
