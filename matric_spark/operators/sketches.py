"""Per-group sketches: approximate quantiles, distinct counts and a
count-min sketch.

`tdigest_quantiles` and `hll_distinct` keep their historical names but
are each one grouped native aggregate: a map-side partial phase, one
shuffle of sketch-sized partials, no Python worker. Nothing persists
their partials (the state table keeps only exact drift counts), so the
old reason for hand-rolling mergeable sketches no longer applies.

- Quantiles use `percentile_approx` (accuracy 10000), not the
  `kll_sketch_*` functions: KLL compaction is randomised, so the same
  input gives different answers from run to run, while
  `percentile_approx` repeats exactly for an identical partition layout.
  On its own it returns an input value (nearest rank), which on groups
  of ~75 rows misses the interpolated q95 by more than 5 % of the
  spread. So it is read at _KNOTS + 1 evenly spaced probabilities and
  interpolated linearly at rank p·(n-1): the answer equals `np.quantile`
  for groups of up to _KNOTS values, and for larger groups stays between
  the two knots around that rank. NaN is ignored, like NULL.
- Distinct counts use DataSketches HLL (`hll_sketch_agg`, lg K = 12),
  not `approx_count_distinct`: it is exact below ~384 distinct values
  per group, where HLL++ already errs by a few percent. Above that, a
  single-partition input can estimate slightly differently from a
  merged one (n = 5000: 5001 on 1 partition, 5033 on 4 or 13).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_KNOTS = 1000


def tdigest_quantiles(
    df: DataFrame, group_cols: list[str], value_col: str, probs: list[float]
) -> DataFrame:
    """DataFrame[*group_cols, q_<p>...]; NULL where a group has no value."""
    v = F.col(value_col).cast("double")
    v = F.when(~F.isnan(v), v)
    knots = [j / _KNOTS for j in range(_KNOTS + 1)]
    agg = df.groupBy(*group_cols).agg(
        F.percentile_approx(v, knots, 10000).alias("_x"), F.count(v).alias("_n")
    )
    x, n, r = F.col("_x"), F.col("_n"), F.col("_r")
    # 0-based rank of the value percentile_approx returns at each knot
    ranks = F.transform(
        F.sequence(F.lit(0), F.lit(_KNOTS)),
        lambda j: F.greatest(F.ceil(j / _KNOTS * n) - 1, F.lit(0)),
    )

    def quantile(p: float):
        h = (n - 1) * p
        # the last knot at or below rank h, stopping short of the top knot
        j = F.size(F.filter(F.slice(r, 2, _KNOTS - 1), lambda rank: rank <= h))
        frac = (h - r[j]) / (r[j + 1] - r[j])
        return F.when(h > r[j], x[j] + (x[j + 1] - x[j]) * frac).otherwise(x[j])

    return agg.withColumn("_r", ranks).select(
        *group_cols, *[quantile(p).alias(f"q_{int(p*100)}") for p in probs]
    )


def hll_distinct(df: DataFrame, group_cols: list[str], value_col: str) -> DataFrame:
    """DataFrame[*group_cols, approx_distinct long]; 0 for an all-NULL group."""
    sketch = F.hll_sketch_agg(F.col(value_col).cast("string"), 12)
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_estimate(sketch).alias("approx_distinct")
    )


# ------------------------------------------------------- count-min sketch

CMS_DEPTH = 5
CMS_WIDTH = 8192


def _cms_coords(key_col: str, depth: int, width: int):
    """The (d, b) hash-coordinate expression SHARED by build and
    estimate — one definition so the two sides can never diverge (a
    build/estimate hash mismatch would silently break the CMS
    lower-bound guarantee)."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("d"),
                    F.pmod(
                        F.xxhash64(F.col(key_col).cast("string"), F.lit(i)),
                        F.lit(width),
                    ).alias("b"),
                )
                for i in range(depth)
            ]
        )
    )


def cms_build(
    df: DataFrame,
    key_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Count-min sketch of a key column → DataFrame[(d, b, c)].

    Pure DataFrame formulation — a CMS is nothing but `depth`
    hash-bucket count aggregates, so no UDF is needed: each row explodes
    to `depth` (row, bucket) coordinates and one combinable count runs
    over them. The map-side combiner bounds every partition's shuffle
    output at depth×width rows (the sketch size), NOT the input size —
    the defining property of a mergeable sketch, delivered here by
    Spark's own partial aggregation. Merging two sketches = unioning
    their coordinate tables and re-summing, which is exactly what the
    shuffle reduce does, so cross-run/cross-partition folds reuse this
    same function's output tables.

    Unlike heavy_hitters' exact count (one (key, count) partial PER
    DISTINCT KEY), the CMS shuffle is O(depth × width) regardless of key
    cardinality — the estimator to reach for when the key space itself
    (URLs, n-grams, user ids) is too wide to count exactly.
    """
    coords = df.select(_cms_coords(key_col, depth, width).alias("p")).select(
        "p.*"
    )
    return coords.groupBy("d", "b").agg(F.count(F.lit(1)).alias("c"))


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Point-estimate counts for a candidate key set → (key, cms_est).

    est(k) = min over the depth rows of the key's bucket counters —
    never BELOW the true count (every occurrence of k incremented all
    d of its counters), above it only by colliding keys' mass
    (≤ e/width · N with prob 1 − e^-depth per key). The candidate set
    joins the depth×width sketch via broadcast (the sketch is KBs).
    """
    probes = keys.select(
        key_col, _cms_coords(key_col, depth, width).alias("p")
    ).select(key_col, "p.*")
    return (
        probes.join(F.broadcast(sketch), ["d", "b"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("cms_est"))
    )
