"""ValidationSuite: run every check, emit per-partition verdicts +
violation rows — the graft's analog of matric's collate-then-metrics
pipeline (typed subsets unioned with a discriminator column,
R/sim_collate.R:480-504; per-group metric rows, R/sim_metrics.R:154-304).

The six row checks (ROW_CHECKS) are defined ONCE, in `check_flags`, the
way matric's constructor and reader share one `sim_validate`
(R/sim_construct-validate.R:54-81): the verdicts, the state builder,
the quarantine router and the stream monitors all read these flags, so
no two of them can disagree on a NULL role or a NULL conv_id.

Physical plan budget per run (the 100 TB story) — TWO passes:
  1 scan  — the flag pass (check_flags -> check_counts): the four
            row-local flags (role/tool IN-list domains, null text, null
            ts) are computed at the scan, so text is read there and
            never shuffles; only the partition column, the window keys
            and the booleans enter ONE conv_id exchange. The key-count
            window needs only ClusteredDistribution(conv_id, turn_idx),
            which hashpartitioning(conv_id) satisfies, and the sequence
            sort (conv_id, turn_idx, ts) covers its ordering — so
            uniqueness and seq_order ride ONE exchange and ONE sort, and
            one groupBy(partition) sums every flag (plan-pinned in
            tests/test_plans.py).
  1 scan  — drift value-counts: KS and PSI come from ONE partition x
            value grid over the (p, v, c) sketch (drift_by_partition),
            whose three consumers read one reused exchange (the joins
            above them use opaque_eq keys, so no inferred filter reaches
            one consumer only) — so the sketch is neither persisted nor
            re-scanned (plan-pinned), and everything
            after it is |partitions| x |distinct values|, not |rows|.
Violation ROWS are materialized lazily on demand (separate filters that
each push down to the scan), optionally capped.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from matric_spark.checks.drift import counts_sketch, drift_by_partition, opaque_eq
from matric_spark.checks.sequence import preceding_max_ts_window
from matric_spark.schema import DEFAULT_ROLE_DOMAIN, DEFAULT_TOOL_DOMAIN, TRANSCRIPT_KEY

VERDICT_COLUMNS = ["part", "check_id", "metric", "status"]

#: the row-level checks, in verdict order
ROW_CHECKS = ["ref_role", "ref_tool", "null_text", "null_ts", "uniqueness", "seq_order"]


@dataclass
class SuiteConfig:
    partition_col: str = "part_month"
    key: list[str] = field(default_factory=lambda: list(TRANSCRIPT_KEY))
    role_domain: list[str] = field(default_factory=lambda: list(DEFAULT_ROLE_DOMAIN))
    tool_domain: list[str] = field(default_factory=lambda: list(DEFAULT_TOOL_DOMAIN))
    ks_threshold: float = 0.15
    psi_threshold: float = 0.25


def row_local_flags(cfg: SuiteConfig | None = None) -> dict[str, Column]:
    """The four row-local checks as never-NULL booleans, in verdict
    order: a role that is NULL or outside the domain (as the oracle and
    the violation rows count it), a non-NULL tool outside the domain,
    NULL text, NULL ts."""
    cfg = cfg or SuiteConfig()
    role, tool = F.col("role"), F.col("tool")
    return {
        "ref_role": role.isNull() | ~role.isin(cfg.role_domain),
        "ref_tool": tool.isNotNull() & ~tool.isin(cfg.tool_domain),
        "null_text": F.col("text").isNull(),
        "null_ts": F.col("ts").isNull(),
    }


def check_flags(df: DataFrame, cfg: SuiteConfig, carry: list[str]) -> DataFrame:
    """THE row-check definition -> DataFrame[*carry, *ROW_CHECKS], one
    never-NULL boolean per check.

    The row-local flags are computed at the scan; only `carry`, the
    window keys and the booleans enter the one conv_id exchange.
    - uniqueness: the row's key occurs more than once; rows with a NULL
      key column are excluded (uniqueness.py's NULL-key contract —
      Window.partitionBy groups NULLs together, so the count is masked).
    - seq_order: ts strictly below the max ts of any earlier turn of
      the conversation (sequence.preceding_max_ts_window; NULL conv_ids
      form one conversation, as in the oracle).
    For an exotic non-conv-prefixed key Spark would insert a second
    exchange — still correct, just not fused — so the assert keeps the
    contract visible."""
    assert cfg.key[0] == "conv_id", "fused pass assumes conv-prefixed key"
    window_cols = [
        c for c in dict.fromkeys(["conv_id", "turn_idx", "ts", *cfg.key]) if c not in carry
    ]
    local = row_local_flags(cfg)
    scanned = df.select(*carry, *window_cols, *[c.alias(n) for n, c in local.items()])
    non_null_key = reduce(Column.__and__, [F.col(k).isNotNull() for k in cfg.key])
    key_count = F.count(F.lit(1)).over(Window.partitionBy(*cfg.key))
    prev_max_ts = F.max("ts").over(preceding_max_ts_window())
    return scanned.select(
        *carry,
        *local,
        (non_null_key & (key_count > 1)).alias("uniqueness"),
        F.coalesce(F.col("ts") < prev_max_ts, F.lit(False)).alias("seq_order"),
    )


def check_counts(df: DataFrame, cfg: SuiteConfig) -> DataFrame:
    """Per-partition violation counts of every row check ->
    DataFrame[part, n_rows, *ROW_CHECKS]: the flag pass grouped by
    partition."""
    p = cfg.partition_col
    return check_flags(df, cfg, [p]).groupBy(F.col(p).alias("part")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.sum(F.col(c).cast("long")).alias(c) for c in ROW_CHECKS],
    )


def run_verdicts(df: DataFrame, cfg: SuiteConfig | None = None) -> DataFrame:
    """The flagship query: per-(partition, check) verdict table
    (part, check_id, metric, status), every partition present for every
    check, 'fail' iff the check's threshold is exceeded."""
    cfg = cfg or SuiteConfig()
    sketch = counts_sketch(df, cfg.partition_col, F.length("text"))
    return core_rows(check_counts(df, cfg), sketch, cfg)


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

    ``local``: (part, *ROW_CHECKS) violation counts, one row per
    partition (check_counts' shape). ``sketch``: the (p, v, c)
    text-length counts; KS and PSI of every partition against its
    complement are derived from it here."""
    drift = drift_by_partition(sketch, "dpart")
    wide = local.join(drift, opaque_eq(F.col("part"), F.col("dpart")), "left")
    cells = {c: _entry(F.col(c), F.col(c) > 0) for c in ROW_CHECKS}
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
      aggregation scan, one summed boolean per rule as in check_counts.
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
    """Materialized violation rows per row check (matric's anti-join
    rows, R/sim_construct-validate.R:69-78), one set per ROW_CHECKS
    entry, each a filter on the very flag the verdicts count, so each set
    has exactly as many rows as its verdicts sum to, NULLs included. The
    four row-local sets are scan filters (`row_local_flags`); uniqueness
    and seq_order filter the flag pass (`check_flags`), whose one conv_id
    exchange serves both."""
    cfg = cfg or SuiteConfig()
    flags = check_flags(df, cfg, df.columns)
    return {
        **{c: df.filter(flag) for c, flag in row_local_flags(cfg).items()},
        **{c: flags.filter(c).select(*df.columns) for c in ("uniqueness", "seq_order")},
    }
