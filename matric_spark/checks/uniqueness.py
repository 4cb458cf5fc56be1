"""Uniqueness constraint on a composite key, skew-safe.

Reference lineage: matric deduplicates pairs before fan-out joins
(``distinct`` at R/sim_calculate.R:293-299 and :396-399) because duplicate
keys multiply downstream inner joins. Here uniqueness on
``(conv_id, turn_idx)`` is a first-class constraint with two outputs:

- the duplicate KEYS with their counts (``duplicate_keys``, the
  ``uniqueness_keys`` query): hash-first, because almost every key is
  unique and an 8-byte hash aggregates faster than the string key;
- the violating ROWS (``suite.run_violations["uniqueness"]``): a filter on
  the uniqueness flag of the verdicts' own flag pass (``suite.check_flags``),
  so the rows are the ones the verdict counts, with no hash and no join.

Skew: Spark's hash aggregate is two-phase, so a hot key reaches its final
reducer as at most one partial count per input split (tests/test_skew.py
pins a 500× hot key).

NULL-key semantics (uniform across both outputs, pinned by
tests/test_checks.py::test_uniqueness_null_keys_excluded): rows with a
NULL in ANY key column are EXCLUDED from uniqueness accounting. Rationale:
SQL equality never matches NULLs (the verdict oracle's ``JOIN dupk
USING(...)`` and Spark's equi-joins agree on this), so "two rows with the
same NULL key" is not a well-defined duplicate — and nullness of a key
column is its own check (column_stats null-rate / a not-null constraint),
not a uniqueness violation. Window.partitionBy DOES group NULL tuples
together, which is why the verdict path's key window
(suite.check_flags' uniqueness flag) masks null-keyed rows out of its
count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _non_null_keys(df: DataFrame, key: list[str]) -> DataFrame:
    cond = None
    for k in key:
        c = F.col(k).isNotNull()
        cond = c if cond is None else cond & c
    return df.filter(cond)


def duplicate_keys(df: DataFrame, key: list[str]) -> DataFrame:
    """Keys occurring more than once → DataFrame[*key, n_dup long].

    Aggregates on xxhash64(key) FIRST — an 8-byte primitive that Spark's
    vectorized hash map handles at memory speed, vs. fat string keys that
    spill the partial-agg hash table when keys are near-unique (the
    common case: almost every (conv_id, turn_idx) appears once, so the
    first phase is pure shuffle-byte cost). Rows whose hash collides are
    then verified with an exact groupBy on the real key — only the
    candidate fraction is reshuffled, and 64-bit false positives are
    filtered exactly.
    """
    df = _non_null_keys(df, key)
    h = F.xxhash64(*key)
    cand = (
        df.select(h.alias("_h"))
        .groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") > 1)
        .select("_h")
    )
    hits = df.withColumn("_h", h).join(cand, "_h", "left_semi")
    counts = hits.groupBy(*key).agg(F.count(F.lit(1)).alias("n_dup"))
    return counts.filter(F.col("n_dup") > 1)

