"""Sketch accuracy + mergeability tests. Cross-checks follow SURVEY §7
(M3): exact aggregates and `approx_count_distinct` bound the native
`percentile_approx` / DataSketches HLL aggregates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def skewed(spark):
    # deterministic skewed values: group 'a' big + zipf-ish, 'b' small
    rows = [("a", float(i % 97) ** 2) for i in range(20000)] + [
        ("b", float(i)) for i in range(100)
    ]
    return spark.createDataFrame(rows, "g string, v double").repartition(16)


def test_tdigest_vs_exact_quantiles(spark, skewed):
    from matric_spark.operators.sketches import tdigest_quantiles

    got = {
        r.g: r
        for r in tdigest_quantiles(skewed, ["g"], "v", [0.25, 0.5, 0.95]).collect()
    }
    exact = {
        r.g: r
        for r in skewed.groupBy("g")
        .agg(F.expr("percentile(v, array(0.25, 0.5, 0.95))").alias("q"))
        .collect()
    }
    for g in ("a", "b"):
        lo, mid, hi = exact[g].q
        spread = hi - lo or 1.0
        assert abs(got[g].q_25 - lo) / spread < 0.05
        assert abs(got[g].q_50 - mid) / spread < 0.05
        assert abs(got[g].q_95 - hi) / spread < 0.05


def test_tdigest_merge_invariance(spark, skewed):
    """Partition layout must not change results materially: the fold of
    per-split digests ≈ a single-split digest (mergeability)."""
    from matric_spark.operators.sketches import tdigest_quantiles

    many = tdigest_quantiles(skewed.repartition(32), ["g"], "v", [0.5]).collect()
    one = tdigest_quantiles(skewed.coalesce(1), ["g"], "v", [0.5]).collect()
    m = {r.g: r.q_50 for r in many}
    o = {r.g: r.q_50 for r in one}
    for g in ("a", "b"):
        assert m[g] == pytest.approx(o[g], rel=0.05)


def test_quantiles_repeat_for_same_layout(spark, skewed):
    """Two runs over the same input and layout give identical quantiles
    (a randomised sketch such as KLL would not)."""
    from matric_spark.operators.sketches import tdigest_quantiles

    def run():
        return sorted(tdigest_quantiles(skewed, ["g"], "v", [0.25, 0.5, 0.95]).collect())

    assert run() == run()


def test_sketches_skip_null_and_nan(spark):
    """An all-NULL group has no quantile and zero distinct values; NaN
    is ignored by the quantiles."""
    from matric_spark.operators.sketches import hll_distinct, tdigest_quantiles

    rows = [("nul", None), ("nul", None), ("nan", float("nan")), ("nan", 1.0), ("nan", 3.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    q = {r.g: r for r in tdigest_quantiles(df, ["g"], "v", [0.5, 0.95]).collect()}
    assert q["nul"].q_50 is None and q["nul"].q_95 is None
    assert q["nan"].q_50 == pytest.approx(2.0) and q["nan"].q_95 == pytest.approx(2.9)
    d = {r.g: r.approx_distinct for r in hll_distinct(df, ["g"], "v").collect()}
    assert d["nul"] == 0


def test_hll_vs_exact_and_builtin(spark):
    from matric_spark.operators.sketches import hll_distinct

    rows = [("g1", f"user{i % 5000}") for i in range(30000)] + [
        ("g2", f"u{i}") for i in range(37)
    ]
    df = spark.createDataFrame(rows, "g string, u string").repartition(16)
    got = {r.g: r.approx_distinct for r in hll_distinct(df, ["g"], "u").collect()}
    assert got["g2"] == 37  # small range → linear counting is near-exact
    assert abs(got["g1"] - 5000) / 5000 < 0.05

    builtin = {
        r.g: r.ad
        for r in df.groupBy("g").agg(F.approx_count_distinct("u").alias("ad")).collect()
    }
    assert abs(got["g1"] - builtin["g1"]) / 5000 < 0.1


def test_hll_deterministic(spark):
    from matric_spark.operators.sketches import hll_distinct

    rows = [("g", f"x{i}") for i in range(5000)]
    df = spark.createDataFrame(rows, "g string, u string")
    a = hll_distinct(df.repartition(4), ["g"], "u").collect()[0].approx_distinct
    b = hll_distinct(df.repartition(13), ["g"], "u").collect()[0].approx_distinct
    assert a == b  # 4 and 13 partitions agree


def test_hll_exact_for_small_groups(spark):
    """200 distinct strings per group is well inside the sketch's exact
    range: every group counts exactly 200."""
    from matric_spark.operators.sketches import hll_distinct

    rows = [(f"g{g}", f"conv-{g}-{i}") for g in range(24) for i in range(200)]
    df = spark.createDataFrame(rows, "g string, u string").repartition(8)
    got = {r.g: r.approx_distinct for r in hll_distinct(df, ["g"], "u").collect()}
    assert len(got) == 24
    assert {g: n for g, n in got.items() if n != 200} == {}


# ------------------------------------------------------- count-min sketch


def test_cms_lower_bound_and_heavy_key(spark):
    from matric_spark.operators.sketches import cms_build, cms_estimate
    from pyspark.sql import functions as F

    # 1 heavy key (5000 rows) + 2000 singleton keys
    rows = [("hot",)] * 5000 + [(f"k{i}",) for i in range(2000)]
    df = spark.createDataFrame(rows, "k string")
    exact = df.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    est = cms_estimate(cms_build(df, "k"), exact.select("k"), "k")
    j = {r.k: (r.n, r.cms_est) for r in exact.join(est, "k").collect()}
    n, e = j["hot"]
    assert e >= n, "CMS must never underestimate"
    assert e <= n + 10  # 7000 rows / 8192 buckets: collisions are tiny
    assert all(e >= n for n, e in j.values())


def test_cms_merge_is_partition_invariant(spark):
    # the sketch table must be identical however the input is split —
    # THE mergeability property (groupBy sum is associative/commutative)
    from matric_spark.operators.sketches import cms_build

    rows = [(f"k{i % 37}",) for i in range(1000)]
    df = spark.createDataFrame(rows, "k string")
    a = {(r.d, r.b): r.c for r in cms_build(df.repartition(1), "k").collect()}
    b = {(r.d, r.b): r.c for r in cms_build(df.repartition(13), "k").collect()}
    assert a == b


def test_cms_shuffle_is_sketch_bounded(spark):
    # plan sanity: build is explode -> ONE hash aggregate with a partial
    # (map-side combine) phase; no join, no window
    from matric_spark.operators.sketches import cms_build

    df = spark.createDataFrame([(f"k{i}",) for i in range(100)], "k string")
    plan = cms_build(df, "k")._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan and "Join" not in plan
