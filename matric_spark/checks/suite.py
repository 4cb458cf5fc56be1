"""ValidationSuite: run every check, emit per-partition verdicts +
violation rows — the graft's analog of matric's collate-then-metrics
pipeline (typed subsets unioned with a discriminator column,
R/sim_collate.R:480-504; per-group metric rows, R/sim_metrics.R:154-304).

Physical plan budget per run (the 100 TB story) — THREE scans, of which
only two read the wide text column:
  1 scan  — fused conditional-aggregation pass: ALL scalar-predicate
            checks (role domain, tool domain, null text) + row counts per
            partition ride one groupBy(partition) with map-side combine.
            IN-list domains stay JVM-side (no join, no shuffle of the
            big table beyond the partial-agg shuffle).
  1 scan  — fused conv-keyed window pass (conv_keyed_metrics): the
            sequence check's Window.partitionBy(conv_id) exchange
            already moves (conv_id, turn_idx, ts, part), and uniqueness
            on the (conv_id, turn_idx) key needs only clustering by a
            prefix of that — hashpartitioning(conv_id) satisfies
            ClusteredDistribution(conv_id, turn_idx) and the sequence
            sort (conv_id, turn_idx, ts) covers the key window's
            (conv_id, turn_idx) — so BOTH checks ride ONE exchange and
            ONE sort (plan-pinned in tests/test_plans.py). Text never
            shuffles here.
  1 scan  — drift value-counts: KS and PSI come from ONE partition x
            value grid over the (p, v, c) sketch (drift_by_partition),
            whose three consumers read one reused exchange — so the
            sketch is neither persisted nor re-scanned, and everything
            after it is |partitions| x |distinct values|, not |rows|.
Violation ROWS are materialized lazily on demand (separate filters that
each push down to the scan), optionally capped.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from matric_spark.checks.drift import counts_sketch, drift_by_partition
from matric_spark.checks.referential import domain_violations
from matric_spark.checks.sequence import out_of_order_turns
from matric_spark.checks.uniqueness import uniqueness_violations
from matric_spark.schema import DEFAULT_ROLE_DOMAIN, DEFAULT_TOOL_DOMAIN

VERDICT_COLUMNS = ["part", "check_id", "metric", "status"]


@dataclass
class SuiteConfig:
    partition_col: str = "part_month"
    key: list[str] = field(default_factory=lambda: ["conv_id", "turn_idx"])
    role_domain: list[str] = field(default_factory=lambda: list(DEFAULT_ROLE_DOMAIN))
    tool_domain: list[str] = field(default_factory=lambda: list(DEFAULT_TOOL_DOMAIN))
    ks_threshold: float = 0.15
    psi_threshold: float = 0.25


def scalar_check_metrics(df: DataFrame, cfg: SuiteConfig) -> DataFrame:
    """ONE pass over the table: per-partition counts for every
    scalar-predicate check (conditional aggregation)."""
    bad_role = (~F.col("role").isin(cfg.role_domain)) & F.col("role").isNotNull()
    bad_tool = (~F.col("tool").isin(cfg.tool_domain)) & F.col("tool").isNotNull()
    return df.groupBy(F.col(cfg.partition_col).alias("part")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(bad_role.cast("long")).alias("ref_role"),
        F.sum(bad_tool.cast("long")).alias("ref_tool"),
        F.sum(F.col("text").isNull().cast("long")).alias("null_text"),
        F.sum(F.col("ts").isNull().cast("long")).alias("null_ts"),
    )


def conv_keyed_metrics(df: DataFrame, cfg: SuiteConfig) -> DataFrame:
    """The suite's fused conv-keyed pass: sequence + uniqueness metrics
    from ONE exchange -> DataFrame[part, seq_order, uniqueness] (every
    partition present; zero-violation partitions carry 0).

    - seq_order: rows whose ts is strictly below the max ts of any
      earlier turn — the same shared preceding_max_ts_window definition
      as out_of_order_turns, so the two can never drift.
    - uniqueness: rows participating in duplicated composite keys,
      null-keyed rows excluded — the same semantics as
      uniqueness.duplicate_keys (the count window runs over the REAL key,
      so there is no hash-collision risk to void).

    Physical shape (see module docstring): the key-count window needs
    only ClusteredDistribution(*key), which the sequence window's
    hashpartitioning(conv_id) satisfies (key[0] is conv_id — asserted),
    and the sequence sort (conv_id, turn_idx, ts) covers the key
    window's (conv_id, turn_idx): one exchange, one sort, two window
    frames, then a tiny per-part aggregate. For an exotic non-conv-
    prefixed key Spark would insert a second exchange — still correct,
    just not fused — so the assert keeps the contract visible.
    """
    assert cfg.key[0] == "conv_id", "fused pass assumes conv-prefixed key"
    p = cfg.partition_col
    from matric_spark.checks.sequence import preceding_max_ts_window

    cols = list(dict.fromkeys(["conv_id", "turn_idx", "ts", p, *cfg.key]))
    nn = F.lit(True)
    for k in cfg.key:
        nn = nn & F.col(k).isNotNull()
    enriched = (
        df.select(*cols)
        .withColumn(
            "_prev_max_ts", F.max("ts").over(preceding_max_ts_window())
        )
        .withColumn(
            "_k", F.count(F.lit(1)).over(Window.partitionBy(*cfg.key))
        )
    )
    # coalesce: a partition whose every ts comparison is NULL (all rows
    # conversation-first, _prev_max_ts NULL) must report 0, matching the
    # previous absent-row + fillna(0) shape bit for bit
    return enriched.groupBy(F.col(p).alias("part")).agg(
        F.coalesce(
            F.sum((F.col("ts") < F.col("_prev_max_ts")).cast("long")),
            F.lit(0),
        ).alias("seq_order"),
        F.coalesce(
            F.sum((nn & (F.col("_k") > 1)).cast("long")), F.lit(0)
        ).alias("uniqueness"),
    )


def run_verdicts(df: DataFrame, cfg: SuiteConfig | None = None) -> DataFrame:
    """The flagship query: per-(partition, check) verdict table
    (part, check_id, metric, status), every partition present for every
    check, 'fail' iff the check's threshold is exceeded."""
    cfg = cfg or SuiteConfig()
    p = cfg.partition_col

    # sequence + uniqueness: one conv-keyed exchange (module docstring)
    local = (
        scalar_check_metrics(df, cfg)
        .join(conv_keyed_metrics(df, cfg), "part", "left")
        .fillna(0, subset=["uniqueness", "seq_order"])
    )
    return core_rows(local, counts_sketch(df, p, F.length("text")), cfg)


def _entry(metric: Column, fail_when: Column) -> Column:
    """One verdict cell: the metric as a double and its pass/fail status
    (a NULL ``fail_when`` passes)."""
    status = F.when(fail_when, F.lit("fail")).otherwise(F.lit("pass"))
    return F.struct(metric.cast("double").alias("m"), status.alias("s"))


def _unpivot(wide: DataFrame, cells: dict[str, Column]) -> DataFrame:
    """Wide per-partition cells -> verdict rows (VERDICT_COLUMNS), with ONE
    projection. A per-check union-of-selects would re-evaluate the whole
    `wide` subplan once per branch; unpivot evaluates it exactly once."""
    packed = wide.select("part", *[c.alias(n) for n, c in cells.items()])
    return packed.unpivot(
        ids=["part"],
        values=list(cells),
        variableColumnName="check_id",
        valueColumnName="ms",
    ).select(
        "part",
        "check_id",
        F.col("ms.m").alias("metric"),
        F.col("ms.s").alias("status"),
    )


def core_rows(local: DataFrame, sketch: DataFrame, cfg: SuiteConfig) -> DataFrame:
    """The eight core verdicts per partition from two small relations —
    SHARED by the batch suite (run_verdicts) and the state assembly
    (state.assemble_verdicts), so the two emissions cannot diverge in
    check ids, thresholds or status logic.

    ``local``: (part, ref_role, ref_tool, null_text, null_ts,
    uniqueness, seq_order), one row per partition. ``sketch``: the
    (p, v, c) text-length counts; KS and PSI of every partition against
    its complement are derived from it here."""
    drift = drift_by_partition(sketch, "part").select("part", "ks_d", "psi")
    wide = local.join(drift, "part", "left")
    cells = {
        c: _entry(F.col(c), F.col(c) > 0)
        for c in ["ref_role", "ref_tool", "null_text", "null_ts", "uniqueness", "seq_order"]
    }
    cells["drift_ks"] = _entry(F.col("ks_d"), F.col("ks_d") > cfg.ks_threshold)
    cells["drift_psi"] = _entry(F.col("psi"), F.col("psi") > cfg.psi_threshold)
    return _unpivot(wide, cells)


def run_verdicts_extended(
    df: DataFrame,
    cfg: SuiteConfig | None = None,
    rules=None,
    fd_dependents: list[str] | None = None,
    volume_abs_delta: float = 0.5,
) -> DataFrame:
    """Core verdicts + the declarative check families, one verdict table.

    Unions run_verdicts with three more per-partition check families in
    the same (part, check_id, metric, status) schema:
    - ``rule_<name>``: violation count per cross-field implication rule
      (checks/constraints.Rule) — ALL rules ride ONE conditional
      aggregation scan, the scalar_check_metrics pattern.
    - ``fd_conflict``: intra-partition functional-dependency conflicts —
      (key) groups within the partition whose copies disagree on any
      dependent. Cross-partition conflicts are partition_spillover /
      uniqueness territory; scoping FD to the partition keeps the
      verdict attributable to the partition that must be re-validated.
    - ``volume_delta``: month-over-month ingest-volume swing; fails on
      |delta| > volume_abs_delta or any skipped calendar month. The
      first populated partition has no predecessor → NULL metric,
      'pass' (nothing to compare against).

    Physical budget on top of run_verdicts: one fused rule/FD-input scan
    shape — rules aggregate per partition (1 scan), FD aggregates per
    (partition, key) then per partition (1 scan), volume reuses the
    row-count aggregate (1 scan over the partition-count table). Joins
    between the per-partition tables are partition-count-sized.
    """
    from matric_spark.checks.column_stats import partition_volume
    from matric_spark.checks.constraints import default_transcript_rules

    cfg = cfg or SuiteConfig()
    p = cfg.partition_col
    rules = rules if rules is not None else default_transcript_rules()
    fd_dependents = fd_dependents or ["text", "role"]

    core = run_verdicts(df, cfg)

    vol = partition_volume(df, p).select(
        F.col(p).alias("part"), "delta_pct", "gap_months"
    )
    wide = extended_partition_metrics(df, cfg, rules, fd_dependents).join(
        vol, "part", "left"
    )
    return core.unionByName(_extended_rows(wide, rules, volume_abs_delta))


def extended_partition_metrics(
    df: DataFrame,
    cfg: SuiteConfig,
    rules,
    fd_dependents: list[str],
) -> DataFrame:
    """PARTITION-LOCAL extended metrics (part, rule_<name>...,
    fd_conflict) — rule counts ride one conditional-aggregation pass;
    FD reuses constraints.fd_violations with the partition key prepended
    to the determinant (one definition of the hash-before-shuffle +
    null-key conventions; the partition key is never null so its extra
    non-null filter is a no-op). Partition-local by construction, which
    is what makes the extended families RESUMABLE: the incremental path
    (state.run_incremental extended=True) appends exactly this table per
    completed partition."""
    from matric_spark.checks.constraints import fd_violations

    p = cfg.partition_col
    rule_agg = df.groupBy(F.col(p).alias("part")).agg(
        *[
            F.sum(r.violated().cast("long")).alias(f"rule_{r.name}")
            for r in rules
        ]
    )
    fd = (
        fd_violations(df, [p, *cfg.key], fd_dependents)
        .groupBy(F.col(p).alias("part"))
        .agg(F.count(F.lit(1)).alias("fd_conflict"))
    )
    return rule_agg.join(fd, "part", "left").fillna(
        0, subset=["fd_conflict"]
    )


def _extended_rows(
    wide: DataFrame, rules, volume_abs_delta: float
) -> DataFrame:
    """Unpivot the extended families' wide metrics (part, rule_<name>...,
    fd_conflict, delta_pct, gap_months) into verdict rows — SHARED by
    the batch path (run_verdicts_extended) and the resumable path
    (state.assemble_verdicts_extended) so the two emissions can never
    diverge in check ids, thresholds, or status logic."""
    cells = {
        f"rule_{r.name}": _entry(F.col(f"rule_{r.name}"), F.col(f"rule_{r.name}") > 0)
        for r in rules
    }
    cells["fd_conflict"] = _entry(F.col("fd_conflict"), F.col("fd_conflict") > 0)
    cells["volume_delta"] = _entry(
        F.col("delta_pct"),
        (F.abs(F.col("delta_pct")) > volume_abs_delta) | (F.col("gap_months") > 0),
    )
    return _unpivot(wide, cells)


def run_violations(df: DataFrame, cfg: SuiteConfig | None = None) -> dict[str, DataFrame]:
    """Materialized violation rows per check (matric's anti-join rows,
    R/sim_construct-validate.R:69-78)."""
    cfg = cfg or SuiteConfig()
    return {
        "uniqueness": uniqueness_violations(df, cfg.key),
        "ref_role": domain_violations(df, "role", cfg.role_domain, nulls_ok=False),
        "ref_tool": domain_violations(df, "tool", cfg.tool_domain, nulls_ok=True),
        "null_text": df.filter(F.col("text").isNull()),
        "seq_order": out_of_order_turns(df),
    }
