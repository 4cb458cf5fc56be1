"""Significance tests mirroring the reference's seeded property tests
(tests/testthat/test-sim_metrics_signif.R:1-33): monotonicity of
-log10 p in effect size at fixed (m, n), plus distributed determinism."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def _reference_bin(x: int, max_value: int, pow_: float = 1.3) -> int:
    """Literal port of the reference's bin() table logic for testing."""
    bps = [math.ceil(i ** pow_) for i in range(1, math.ceil(max_value ** (1 / pow_)) + 1)]
    for bp in bps:
        if bp > x:
            return bp
    return math.ceil((math.floor(x ** (1 / pow_)) + 1) ** pow_)


def test_bin_matches_reference_table(spark):
    from matric_spark.operators.signif import bin_background_n

    vals = [1, 2, 3, 5, 8, 13, 50, 120, 447]
    df = spark.createDataFrame([(v,) for v in vals], "n long")
    got = {r.n: r.b for r in df.select("n", bin_background_n(F.col("n")).alias("b")).collect()}
    for v in vals:
        assert got[v] == _reference_bin(v, max_value=500), v


@pytest.fixture(scope="module")
def metrics_fixture(spark):
    rows = [
        (1, 0.9, 3, 20),
        (2, 0.5, 3, 20),
        (3, 0.2, 3, 20),
        (4, 0.7, 5, 40),
    ]
    return spark.createDataFrame(
        rows,
        "id1 int, sim_retrieval_average_precision_non_rep_i double, "
        "sim_stat_signal_n_non_rep_i long, sim_stat_background_n_non_rep_i long",
    )


def test_pvalue_monotone_in_effect_size(spark, metrics_fixture):
    from matric_spark.operators.signif import attach_ap_pvalues

    out = attach_ap_pvalues(metrics_fixture, nn=2000, with_qvalue=False)
    p = {
        r.id1: r["sim_retrieval_average_precision_non_rep_i_nlog10pvalue"]
        for r in out.collect()
    }
    # same (m, n) cell: higher AP ⇒ -log10 p non-decreasing
    assert p[1] >= p[2] >= p[3]
    assert p[1] > 0


def test_pvalue_deterministic_across_runs(spark, metrics_fixture):
    from matric_spark.operators.signif import attach_ap_pvalues

    a = attach_ap_pvalues(metrics_fixture, nn=500).orderBy("id1").collect()
    b = attach_ap_pvalues(
        metrics_fixture.repartition(7), nn=500
    ).orderBy("id1").collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]


def test_pvalue_extremes(spark):
    from matric_spark.operators.signif import attach_ap_pvalues

    rows = [(1, 1.0, 3, 30), (2, 0.05, 3, 30)]
    df = spark.createDataFrame(
        rows,
        "id1 int, sim_retrieval_average_precision_non_rep_i double, "
        "sim_stat_signal_n_non_rep_i long, sim_stat_background_n_non_rep_i long",
    )
    out = attach_ap_pvalues(df, nn=2000, with_qvalue=True)
    got = {r.id1: r for r in out.collect()}
    # AP=1 beats (almost) every null → p ≈ 1/(nn+1)
    assert got[1]["sim_retrieval_average_precision_non_rep_i_nlog10pvalue"] > 2.5
    # AP far below the null mean (~m/(m+n)=0.09) → p near 1
    assert got[2]["sim_retrieval_average_precision_non_rep_i_nlog10pvalue"] < 0.2
    # q-values present and ordered like p-values
    assert (
        got[1]["sim_retrieval_average_precision_non_rep_i_nlog10qvalue"]
        >= got[2]["sim_retrieval_average_precision_non_rep_i_nlog10qvalue"]
    )


def test_ap_pvalue_property_violations_detect_planted_break(spark, metrics_fixture):
    """The property gate is empty on a correct attach_ap_pvalues output
    and catches a planted monotonicity corruption."""
    from matric_spark.operators.signif import (
        ap_pvalue_property_violations,
        attach_ap_pvalues,
    )

    out = attach_ap_pvalues(metrics_fixture, nn=200)
    assert ap_pvalue_property_violations(out, nn=200).count() == 0

    stat = "sim_retrieval_average_precision_non_rep_i"
    nlp = f"{stat}_nlog10pvalue"
    # corrupt the highest-stat row's p to the worst value: within its
    # cell a smaller stat now has a LARGER -log10 p -> violation
    best = out.orderBy(F.desc(stat)).limit(1).select("id1").collect()[0].id1
    broken = out.withColumn(
        nlp, F.when(F.col("id1") == best, F.lit(0.0)).otherwise(F.col(nlp))
    )
    assert ap_pvalue_property_violations(broken, nn=200).count() >= 1


# sha256 of the float64 bytes of each cell's null samples (nn=200,
# seed=42), recorded from the per-cell applyInPandas simulation that
# preceded the driver-side one: every way of running the simulation must
# reproduce numpy's per-cell stream bit for bit.
_NULL_SAMPLE_SHA256 = {
    (3, 20): "dce8a62474fa74e56f839fc8ea476814408d582d41292800aaf375532a8cdfbb",
    (5, 40): "b5a816f352a72ced1aff6a1c2eb86bf3636ca81bca42392cd14f1ae6c87c05b3",
}


def test_null_samples_pinned_bit_for_bit(spark):
    import hashlib

    import numpy as np

    from matric_spark.operators.signif import ap_null_samples

    mn = spark.createDataFrame([(3, 20), (5, 40), (3, 20)], "m long, n long")
    got = {
        (r.m, r.n): hashlib.sha256(
            np.asarray(r.samples, dtype=np.float64).tobytes()
        ).hexdigest()
        for r in ap_null_samples(mn, nn=200, seed=42).collect()
    }
    assert got == _NULL_SAMPLE_SHA256


def test_pvalues_of_empty_metrics_are_empty(spark, metrics_fixture):
    from matric_spark.operators.signif import attach_ap_pvalues

    stat = "sim_retrieval_average_precision_non_rep_i"
    out = attach_ap_pvalues(metrics_fixture.limit(0), nn=200)
    assert out.columns == [
        *metrics_fixture.columns,
        f"{stat}_nlog10pvalue",
        f"{stat}_nlog10qvalue",
    ]
    assert out.collect() == []


def test_pvalues_independent_of_arrow_conf(spark, metrics_fixture):
    """The samples reach the JVM without the pandas-Arrow conversion, so
    turning `spark.sql.execution.arrow.pyspark.enabled` off at runtime
    changes nothing."""
    from matric_spark.operators.signif import attach_ap_pvalues

    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    rows = {}
    try:
        for flag in ("true", "false"):
            spark.conf.set(key, flag)
            rows[flag] = attach_ap_pvalues(metrics_fixture, nn=200).orderBy(
                "id1"
            ).collect()
    finally:
        spark.conf.set(key, before)
    assert rows["true"] == rows["false"]
    assert len(rows["true"]) == metrics_fixture.count()
