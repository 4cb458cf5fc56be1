"""Declarative row/group constraint checks: functional dependencies and
cross-field rules.

Two deequ-shaped primitives the reference expresses ad hoc (matric bakes
its invariants into per-function asserts — e.g. the uniqueness/anti-join
checks in R/sim.R:113-170 and the all-same-side preconditions in
R/sim_filter.R:40-77); here they are first-class, reusable operators:

- ``fd_violations``: determinant → dependent functional-dependency audit.
  Distinct from the uniqueness check (checks/uniqueness.py): uniqueness
  flags EVERY duplicated key, FD flags only keys whose duplicates
  DISAGREE on payload — the rows that cannot be fixed by dropping
  copies.
- ``rule_violations``: row-level implication rules (WHEN ⇒ MUST), the
  "satisfies" constraint of a validation suite, evaluated in ONE scan
  for any number of rules.

Scale design:
- fd_violations shuffles (key, 60-bit payload hash) only — string
  dependents are hashed BEFORE the exchange (functions/hashing.md5_long),
  so a 10 KB text column costs 8 bytes on the wire. The count-distinct
  is Spark's standard expand+two-phase plan, map-side combined.
- rule_violations is a narrow map: rules compile to one array-of-name
  expression per row, exploded after a codegen filter; no shuffle at
  all, and only violating rows leave the scan.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from matric_spark.functions.hashing import md5_long


def fd_violations(
    df: DataFrame,
    determinant: list[str],
    dependents: list[str],
    hash_strings: bool = True,
) -> DataFrame:
    """Determinant groups violating X → Y: >1 distinct dependent value.

    Returns (determinant..., n_rows, n_<dep> per dependent) for groups
    where ANY dependent has more than one distinct non-null value. NULL
    dependents are treated as absent (count-distinct semantics on both
    engines), so a NULL never conflicts with a value — the same
    convention DuckDB's ``count(DISTINCT x)`` applies, which keeps the
    oracle expressible verbatim.

    Rows with a NULL anywhere in the determinant are excluded, matching
    the join semantics of the uniqueness check (checks/uniqueness.py
    _non_null_keys) — NULL keys never match anything, so they cannot
    witness an FD conflict.

    ``hash_strings`` replaces each string dependent with its 60-bit
    content hash before the aggregation: distinct-counts are identical
    (mod a ~2^-60 collision) and the shuffle carries 8 bytes instead of
    the payload.
    """
    t = df
    for k in determinant:
        t = t.filter(F.col(k).isNotNull())

    def dep_expr(c: str) -> Column:
        if hash_strings and dict(df.dtypes).get(c) == "string":
            return md5_long(F.col(c))
        return F.col(c)

    agg = t.groupBy(*determinant).agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.countDistinct(dep_expr(c)).alias(f"n_{c}") for c in dependents],
    )
    cond = None
    for c in dependents:
        cc = F.col(f"n_{c}") > 1
        cond = cc if cond is None else (cond | cc)
    return agg.filter(cond)


@dataclass(frozen=True)
class Rule:
    """Implication constraint: rows where ``when`` holds must satisfy
    ``must``. A NULL ``must`` counts as a violation (three-valued logic
    collapses to failed-check, deequ's convention)."""

    name: str
    when: Column
    must: Column

    def violated(self) -> Column:
        return self.when & ~F.coalesce(self.must, F.lit(False))


def rule_violations(
    df: DataFrame,
    rules: list[Rule],
    id_cols: list[str] | None = None,
) -> DataFrame:
    """Rows violating any rule → (rule, id_cols...), one output row per
    (rule, row) violation.

    Single scan regardless of rule count: each rule compiles to a
    name-or-NULL element of one array expression; the array is compacted
    JVM-side and exploded, so non-violating rows (the overwhelming
    majority) are dropped inside the codegen stage and never reach the
    explode. No shuffle, no UDF — stateless, so a stream runs it in
    append mode with no watermark, each violating row emitted once, in
    the micro-batch it arrives in (tests/test_streaming.py).
    """
    id_cols = id_cols or ["conv_id", "turn_idx", "part_month"]
    flags = F.array_compact(
        F.array(
            *[F.when(r.violated(), F.lit(r.name)) for r in rules]
        )
    )
    return (
        df.select(*id_cols, flags.alias("_rules"))
        .filter(F.size("_rules") > 0)
        .select(F.explode("_rules").alias("rule"), *id_cols)
    )


def default_transcript_rules() -> list[Rule]:
    """The transcript-table rule pack used by the gated query — each has
    genuine violations planted in the synthetic view
    (sources/transcripts_view.py):

    - tool_turns_use_tool_role: a tool invocation recorded outside a
      tool turn (the 'telnet' plant lands tool values on system/user
      rows; the 'moderator' plant strips the role).
    - first_turn_is_system: conversations must open with the system
      prompt (the 'moderator' plant replaces it at turn 0).
    - dialogue_text_present: user/assistant turns must carry text (the
      null-text plant hits all roles).
    """
    return [
        Rule(
            "tool_turns_use_tool_role",
            F.col("tool").isNotNull(),
            F.col("role") == "tool",
        ),
        Rule(
            "first_turn_is_system",
            F.col("turn_idx") == 0,
            F.col("role") == "system",
        ),
        Rule(
            "dialogue_text_present",
            F.col("role").isin("user", "assistant"),
            F.col("text").isNotNull(),
        ),
    ]
