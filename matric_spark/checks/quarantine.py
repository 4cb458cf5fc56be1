"""Quarantine splitter: route rows failing any ROW-LEVEL check out of
the clean stream, with reasons.

The actionable complement of the verdict table: verdicts say WHICH
partitions are bad, run_violations materializes the bad rows per check —
this produces the thing a pipeline actually ships, the CLEAN table, plus
a quarantine table carrying why each row was held (matric's construct-
validate split keeps invalid rows out of the SimFrame the same way,
R/sim_construct-validate.R:69-78; here the routing is row-granular).

Every row-attributable check from the verdict suite quarantines: the six
row checks of suite.check_flags (domain membership, null text / null ts,
duplicate-key membership, out-of-order timestamps) read from that one
definition, plus the cross-field rule pack — so a partition made only of
quarantine-clean rows also passes every row-level verdict. Partition-
level signals (drift, volume) can't name a row and never should — a
drifted cohort is re-weighted or investigated, not row-dropped.

Scale shape: check_flags computes the row-local flags (and here the rule
pack, everything that reads the ~10×-bytes text column) at the scan, so
the summary path's window exchange never carries text (plan-pinned). The
full-row quarantine() routing necessarily ships whole rows — its output
IS the data — but its flags are likewise pre-computed, so the windows
add no text re-reads.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from matric_spark.checks.suite import SuiteConfig, check_flags

#: reason -> flag column; the order fixes the `reasons` string and the
#: n_<reason> columns, mirroring the oracle SQL
_REASONS = {
    "bad_role": "ref_role",
    "bad_tool": "ref_tool",
    "null_text": "null_text",
    "null_ts": "null_ts",
    "rule": "_rule",
    "dup_key": "uniqueness",
    "ooo": "seq_order",
}


def _flagged(df: DataFrame, cfg: SuiteConfig, rules, carry: list[str]) -> DataFrame:
    """check_flags over `df` plus the never-NULL `_rule` flag (any rule
    of the pack violated), carried through the exchange."""
    from matric_spark.checks.constraints import default_transcript_rules

    rules = rules if rules is not None else default_transcript_rules()
    rule_any: Column = F.lit(False)
    for r in rules:
        rule_any = rule_any | r.violated()
    ruled = df.withColumn("_rule", F.coalesce(rule_any, F.lit(False)))
    return check_flags(ruled, cfg, [*carry, "_rule"])


def _any_bad() -> Column:
    return reduce(Column.__or__, [F.col(f) for f in _REASONS.values()])


def quarantine(
    df: DataFrame,
    cfg: SuiteConfig | None = None,
    rules=None,
    granularity: str = "row",
) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantined): quarantined rows carry a `reasons` string
    (comma-joined, deterministic order); clean rows are schema-identical
    to the input.

    granularity='conversation' holds EVERY turn of a conversation any of
    whose turns trips a check — the usual training-time policy (a
    conversation with one corrupt turn is not a valid training example;
    reasons then reflect the whole conversation's union). One extra
    window over conv_id, already the table's natural clustering.
    """
    if granularity not in ("row", "conversation"):
        raise ValueError(f"unknown granularity {granularity!r}")
    cfg = cfg or SuiteConfig()
    cols = df.columns
    flagged = _flagged(df, cfg, rules, cols)
    if granularity == "conversation":
        wconv = Window.partitionBy("conv_id")
        flagged = flagged.select(
            *cols, *[F.max(f).over(wconv).alias(f) for f in _REASONS.values()]
        )
    any_bad = _any_bad()
    reasons = F.concat_ws(
        ",", *[F.when(F.col(f), F.lit(r)) for r, f in _REASONS.items()]
    )
    clean = flagged.filter(~any_bad).select(*cols)
    quarantined = flagged.filter(any_bad).select(*cols, reasons.alias("reasons"))
    return clean, quarantined


def quarantine_summary(
    df: DataFrame, cfg: SuiteConfig | None = None, rules=None
) -> DataFrame:
    """Per-partition routing report: (part, n_rows, n_quarantined,
    n_clean, n_<reason>...). Multi-reason rows count once in
    n_quarantined and once per reason column. Only the partition column,
    the window keys and the flags cross the exchange — text never
    shuffles."""
    cfg = cfg or SuiteConfig()
    flagged = _flagged(df, cfg, rules, [cfg.partition_col])
    any_bad = _any_bad()
    return flagged.groupBy(
        F.col(cfg.partition_col).alias("part")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(any_bad.cast("long")).alias("n_quarantined"),
        F.sum((~any_bad).cast("long")).alias("n_clean"),
        *[
            F.sum(F.col(f).cast("long")).alias(f"n_{r}")
            for r, f in _REASONS.items()
        ],
    )
