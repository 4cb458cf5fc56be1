"""Semi-structured (JSON) payload conformance checks.

Transcript/event tables routinely smuggle a JSON blob alongside the
typed columns (tool-call arguments, event properties); schema
conformance (checks/schema_check.py) sees only ``string`` there. This
module audits the blob's CONTENT against a declared contract — the
validation-suite discipline of the reference (matric asserts its input
frames' structure up front, R/sim.R:113-170) extended to the
semi-structured column a Spark-native table actually carries.

Contract grammar (deliberately small and engine-portable):
  - the column must parse as JSON,
  - a required key must be present,
  - its value must be a lexical integer,
  - the integer must fall inside [lo, hi).

Engine parity notes (the reason the checks are LEXICAL, over
``get_json_object`` extractions, not typed ``from_json`` structs):
  - Spark ``get_json_object(col, '$')`` is NULL iff the document is
    malformed; DuckDB mirrors it as ``json_valid``. Both treat a NULL
    column as failing the parse check.
  - ``get_json_object(col, '$.k')`` returns the value's raw text with
    string quotes stripped and JSON ``null`` mapped to SQL NULL —
    exactly DuckDB's ``json_extract_string``. A missing key and an
    explicit JSON null are therefore indistinguishable (both count as
    "missing"); documented contract, identical on both engines.
  - the integer check is a regex over that extracted text, so a JSON
    string ``"87"`` passes it — a type-level check would need
    ``json_type``, which Spark lacks without schema inference. The
    lexical form is what both engines can state identically.
  - the regex is bounded to 18 digits and anchored with ``\\z``, both
    load-bearing for parity: an unbounded match lets 19+-digit values
    through to ``CAST(... AS BIGINT)``, where Spark's non-ANSI cast
    overflows to NULL (violating the non-null-flag contract and
    silently dropping the violation row) while DuckDB raises and aborts
    the whole oracle run; and Java's ``$`` matches before a trailing
    newline (``"87\\n"`` would conform on Spark, violate on DuckDB's
    RE2, which anchors ``$`` at end-of-text). 18 digits always fits
    int64; longer values — including the 19-digit int64 boundary pair —
    are classified ``not_int`` identically on both engines.

Scale design: both operators are ONE codegen scan — get_json_object +
regexp + casts, no UDF, no join. The audit's only shuffle is the
per-group counter aggregate (map-side combined, one row per group);
the violation emitter has no shuffle at all and only violating rows
leave the scan (same array-compact/explode shape as
constraints.rule_violations).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_INT_RE = r"^-?[0-9]{1,18}\z"


def _payload_flags(
    col: str, key: str, lo: int, hi: int
) -> tuple[Column, Column, Column, Column, Column]:
    """(valid_json, has_key, is_int, in_range, k) flag columns.

    Each flag is non-null boolean; later flags imply earlier ones, so
    the audit counters are nested tiers (n >= n_valid >= n_has >=
    n_int >= n_in_range) and a violation reports only its FIRST
    failing tier.
    """
    c = F.col(col)
    valid = F.get_json_object(c, "$").isNotNull()
    raw = F.get_json_object(c, f"$.{key}")
    has_key = valid & raw.isNotNull()
    is_int = has_key & raw.rlike(_INT_RE)
    k = F.when(is_int, raw.cast("long"))
    in_range = is_int & (k >= F.lit(lo)) & (k < F.lit(hi))
    return valid, has_key, is_int, in_range, k


def json_payload_audit(
    df: DataFrame,
    col: str,
    key: str,
    lo: int,
    hi: int,
    group_col: str = "event_type",
) -> DataFrame:
    """Per-group payload-contract verdict counters.

    Returns (group, n, n_valid_json, n_has_key, n_int, n_in_range,
    min_k, max_k, sum_k, payload_pass) — k stats cover lexically-integer
    values only (well-defined independent of the range tier), and
    ``payload_pass`` is true iff every row in the group clears every
    tier.

    ``sum_k`` is a diagnostic, exact while the group's running total
    fits int64: each value is cast-safe by the 18-digit bound, but ~10+
    near-bound OUT-OF-RANGE values in one group can wrap the sum (on a
    contract-conforming table the [lo, hi) bound keeps it exact to
    ~1e17 rows/group). Rely on the tier counters, not sum_k, for
    pass/fail.
    """
    valid, has_key, is_int, in_range, k = _payload_flags(col, key, lo, hi)
    t = df.select(
        F.col(group_col),
        valid.cast("long").alias("_valid"),
        has_key.cast("long").alias("_has"),
        is_int.cast("long").alias("_int"),
        in_range.cast("long").alias("_rng"),
        k.alias("_k"),
    )
    return t.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_valid").alias("n_valid_json"),
        F.sum("_has").alias("n_has_key"),
        F.sum("_int").alias("n_int"),
        F.sum("_rng").alias("n_in_range"),
        F.min("_k").alias("min_k"),
        F.max("_k").alias("max_k"),
        F.sum("_k").alias("sum_k"),
        (F.count(F.lit(1)) == F.sum("_rng")).alias("payload_pass"),
    )


def json_payload_violations(
    df: DataFrame,
    col: str,
    key: str,
    lo: int,
    hi: int,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """Materialized violation rows: (reason, id_cols...), one row per
    violating input row, reason = the FIRST failing contract tier
    (malformed_json | missing_key | not_int | out_of_range).

    Conforming rows are dropped inside the codegen filter and never
    reach the output — at a healthy 100 TB table this emits ~nothing.
    Stateless, so a stream runs it in append mode with no watermark,
    each violating row emitted once, in the micro-batch it arrives in
    (tests/test_streaming.py).
    """
    id_cols = id_cols or ["event_id", "event_type"]
    valid, has_key, is_int, in_range, _ = _payload_flags(col, key, lo, hi)
    reason = (
        F.when(~valid, F.lit("malformed_json"))
        .when(~has_key, F.lit("missing_key"))
        .when(~is_int, F.lit("not_int"))
        .when(~in_range, F.lit("out_of_range"))
    )
    return (
        df.select(reason.alias("reason"), *id_cols)
        .filter(F.col("reason").isNotNull())
    )
