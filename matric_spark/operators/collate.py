"""`sim_collate` (R/sim_collate.R:197-527) — build the typed pair subsets
and union them with a `type` discriminator.

Spark formulation: each subset is generated directly as a per-group
join over the METADATA relation (the optimized pair-gen path,
R/sim_calculate.R:162-301) — the N² pair space is never materialized.
`sim` is attached afterwards by `pairs.attach_sim` (the lazy path,
vignettes/matric.Rmd:222-257): Spark's lazy evaluation makes
eager-vs-lazy a non-distinction here.

Every subset comes from ONE pair builder, `pairs.within_group_pairs`:
one equi-join on the subset's same-key whose sides carry, as
`_l_<c>`/`_r_<c>`, the columns its pair rule reads, then one filter. The
pairs are never joined back to the metadata or to each other.
- The theta subsets (non_rep; rep under rep-side inequality
  constraints; rep_group) filter by `sim_filter._different`, the
  some-different rule with its normalization.
- `ref` joins the broadcast reference side and drops its `rep_ref`
  pairs in the same filter: keep a pair unless its left row is a
  reference row (`coalesce(reference, false)`) AND every rep_ref key
  column has `coalesce(l = r, false)`. That is the set matric's
  anti-join keeps (R/sim_collate.R:387-395), NULLs included: a NULL key
  or a NULL reference flag never made a rep_ref pair.

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

from functools import reduce
from operator import and_

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from matric_spark.operators.pairs import within_group_pairs
from matric_spark.operators.sim_filter import _different


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
                 perturbation) remain typed 'ref' under the rep_ref rule
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
    # the ref rule's flag: a NULL reference flag is not a reference row
    meta = meta.withColumn("_ref", F.coalesce(reference, F.lit(False)))
    non_ref = meta.filter(~reference)
    refs = meta.filter(reference)

    # rep_ref: replicate pairs among reference rows, tagged 'rep'
    # (R/sim_collate.R:366-396). Its key may legitimately be FINER than
    # the rep key (the reference's cellhealthmetrics pipeline adds
    # Metadata_Plate, data-raw/cellhealthmetrics.R:47-52); defaults to the
    # rep key.
    rep_ref_key = all_same_cols_rep_ref or all_same_cols_rep
    rep_ref_pairs = within_group_pairs(
        refs, rep_ref_key, id_col=id_col
    ).withColumn("type", F.lit("rep"))

    # ref: (all | non-ref) side × reference side, same partition key;
    # the reference side is tiny → broadcast (R/sim_collate.R:277-288).
    # The rep_ref rule (module docstring) drops the rep_ref pairs; each
    # comparison is coalesced to false BEFORE the negation.
    is_rep_ref = reduce(
        and_,
        [
            F.coalesce(F.col(f"_l_{c}") == F.col(f"_r_{c}"), F.lit(False))
            for c in rep_ref_key
        ],
        F.col("_l__ref"),
    )
    ref_pairs = within_group_pairs(
        non_ref if drop_reference else meta,
        all_same_cols_ref,
        F.broadcast(refs),
        ["_ref", *rep_ref_key],
        ~is_rep_ref,
        id_col=id_col,
    ).withColumn("type", F.lit("ref"))

    # rep: replicate pairs among non-reference rows (both directions,
    # R/sim_collate.R:311-345), optionally constrained to differ on
    # any_different_cols_rep / all_different_cols_rep
    # (R/sim_collate.R:325-345, e.g. "replicates must sit on different
    # plates"). `_different` supplies the (carry, keep) of the theta rule.
    rep_pairs = within_group_pairs(
        non_ref,
        all_same_cols_rep,
        non_ref,
        *_different(
            all_same_cols_rep, all_different_cols_rep, any_different_cols_rep
        ),
        id_col=id_col,
    ).withColumn("type", F.lit("rep"))

    # non_rep: background — same partition, different perturbation,
    # optionally all-different on every all_different_cols_non_rep
    # (R/sim_collate.R:419-438; the reference's fetch_non_rep gate at
    # :231-234 requires all three constraint sets)
    non_rep_pairs = within_group_pairs(
        non_ref if drop_reference else meta,
        all_same_cols_non_rep,
        non_ref,
        *_different(
            all_same_cols_non_rep,
            all_different_cols_non_rep,
            any_different_cols_non_rep,
        ),
        id_col=id_col,
    ).withColumn("type", F.lit("non_rep"))

    # union + tag (R/sim_collate.R:480-504); distinct within type guards
    # against overlapping generators, as the reference's distinct() does
    out = ref_pairs.unionByName(rep_pairs).unionByName(rep_ref_pairs)
    out = out.unionByName(non_rep_pairs)

    if all_same_cols_group:
        group_pop = non_ref if drop_reference else meta
        rep_group_pairs = within_group_pairs(
            group_pop,
            all_same_cols_group,
            group_pop,
            *_different(all_same_cols_group, None, any_different_cols_group),
            id_col=id_col,
        ).withColumn("type", F.lit("rep_group"))
        out = out.unionByName(rep_group_pairs)

    return out.dropDuplicates(["id1", "id2", "type"])
