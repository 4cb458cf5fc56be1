"""Property-based tests (hypothesis) for the metric semantics — randomized
inputs with invariant checks, the generative counterpart of the
reference's seeded monotonicity tests (SURVEY §5.4)."""

from __future__ import annotations

import math

import pytest

hypothesis = pytest.importorskip("hypothesis")
from hypothesis import given, settings, strategies as st  # noqa: E402

sims = st.lists(
    st.floats(-1.0, 1.0, allow_nan=False, width=32), min_size=1, max_size=12
)


@settings(max_examples=25, deadline=None)
@given(sig=sims, bg=sims)
def test_metric_invariants(spark, sig, bg):
    """relrank ∈ (0,1]; AP ∈ (0,1]; r_precision ∈ [0,1]; AP=1 when every
    signal sim strictly beats every background sim."""
    from matric_spark.operators.metrics import sim_metrics

    rows = [(1, i, "rep", float(s)) for i, s in enumerate(sig)] + [
        (1, 1000 + i, "non_rep", float(b)) for i, b in enumerate(bg)
    ]
    df = spark.createDataFrame(rows, "id1 int, id2 int, type string, sim double")
    out = sim_metrics(df, ["id1"]).collect()
    assert len(out) == 1
    r = out[0]
    rel = r["sim_ranked_relrank_mean_non_rep_i"]
    ap = r["sim_retrieval_average_precision_non_rep_i"]
    rp = r["sim_retrieval_r_precision_non_rep_i"]
    assert 0.0 < rel <= 1.0
    assert 0.0 < ap <= 1.0
    assert 0.0 <= rp <= 1.0
    assert r["sim_stat_signal_n_non_rep_i"] == len(sig)
    assert r["sim_stat_background_n_non_rep_i"] == len(bg)
    if min(sig) > max(bg):
        assert ap == pytest.approx(1.0) and rp == pytest.approx(1.0)


@settings(max_examples=25, deadline=None)
@given(ps=st.lists(st.floats(1e-9, 1.0, allow_nan=False), min_size=1, max_size=20))
def test_bh_invariants(spark, ps):
    """BH q-values: q >= p, q <= 1, and monotone in p (same order)."""
    from matric_spark.operators.metrics import bh_adjust

    df = spark.createDataFrame(
        [(i, float(p)) for i, p in enumerate(ps)], "id int, p double"
    )
    got = {r.id: (r.p, r.q_value) for r in bh_adjust(df, "p").collect()}
    for _, (p, q) in got.items():
        assert q >= p - 1e-12 and q <= 1.0 + 1e-12
    ordered = sorted(got.values())
    for (p1, q1), (p2, q2) in zip(ordered, ordered[1:]):
        if p1 <= p2:
            assert q1 <= q2 + 1e-12


@settings(max_examples=15, deadline=None)
@given(
    vals=st.lists(st.integers(0, 50), min_size=4, max_size=60),
)
def test_ks_self_is_zero_and_bounded(spark, vals):
    """KS of two identical cohorts is 0 (p=1); any KS D ∈ [0,1]."""
    from pyspark.sql import functions as F

    from matric_spark.checks.drift import counts_sketch, drift_by_partition

    rows = [(p, "x" * (v + 1)) for p in (1, 2) for v in vals]
    df = spark.createDataFrame(rows, "part int, text string")
    out = drift_by_partition(counts_sketch(df, "part", F.length("text")), "part").collect()
    for r in out:
        assert r.ks_d == pytest.approx(0.0) and r.ks_p == pytest.approx(1.0)

    skew = [(1, "x" * (v + 1)) for v in vals] + [(2, "y" * (v + 60)) for v in vals]
    df2 = spark.createDataFrame(skew, "part int, text string")
    for r in drift_by_partition(counts_sketch(df2, "part", F.length("text")), "part").collect():
        assert 0.0 <= r.ks_d <= 1.0 and 0.0 <= r.ks_p <= 1.0
        assert r.ks_d == pytest.approx(1.0)  # disjoint supports


_conv = st.integers(0, 4)
_role = st.sampled_from(["system", "user", "assistant", "tool", "moderator", None])
_tool = st.sampled_from([None, "bash", "telnet"])
_txt = st.sampled_from([None, "a", "bb", "ccc"])

_rowset = st.lists(
    st.tuples(_conv, st.integers(0, 3), _role, _txt, _tool, st.integers(0, 100)),
    min_size=1,
    max_size=25,
)


@settings(max_examples=15, deadline=None)
@given(rows=_rowset)
def test_quarantine_partition_property(spark, rows):
    """clean ⊎ quarantined == input (row multiset), clean carries the
    input schema, and a partition's summary counts are consistent —
    for ARBITRARY transcript contents including nulls everywhere."""
    import datetime as dt

    from matric_spark.checks.quarantine import quarantine, quarantine_summary

    t0 = dt.datetime(2024, 1, 1)
    data = [
        (f"c{c}", i, r, tx, tl, t0 + dt.timedelta(seconds=s), 1 + c % 2)
        for (c, i, r, tx, tl, s) in rows
    ]
    df = spark.createDataFrame(
        data,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, part_month int",
    )
    clean, bad = quarantine(df)
    assert clean.count() + bad.count() == len(data)
    assert clean.columns == df.columns
    assert all(r.reasons for r in bad.collect())  # never an empty reason
    summ = quarantine_summary(df).collect()
    for srow in summ:
        assert srow.n_quarantined + srow.n_clean == srow.n_rows
        # each reason count is bounded by the quarantined total
        for reason in ("bad_role", "bad_tool", "null_text", "null_ts",
                       "rule", "dup_key", "ooo"):
            assert srow[f"n_{reason}"] <= srow.n_quarantined


@settings(max_examples=15, deadline=None)
@given(
    events=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50), st.sampled_from("AB")),
        min_size=1,
        max_size=30,
    )
)
def test_funnel_monotone_and_bounded(spark, events):
    """Funnel counts are non-increasing per step and bounded by the
    user count; a gap bound can only reduce conversions."""
    import datetime as dt

    from matric_spark.operators.events import funnel

    t0 = dt.datetime(2024, 1, 1)
    data = [(u, t0 + dt.timedelta(seconds=s), t) for (u, s, t) in events]
    df = spark.createDataFrame(data, "user_id long, ts timestamp, event_type string")
    free = {r.step_idx: r.n_users for r in funnel(df, ["A", "B"]).collect()}
    gapped = {r.step_idx: r.n_users
              for r in funnel(df, ["A", "B"], max_gap_s=5).collect()}
    n_users = len({u for (u, _, _) in events})
    assert free[1] <= n_users and free[2] <= free[1]
    assert gapped[1] == free[1]          # step 1 has no gap constraint
    assert gapped[2] <= free[2]          # a bound only removes matches


@settings(max_examples=10, deadline=None)
@given(
    acts=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 3)),  # (user, period)
        min_size=1,
        max_size=30,
    )
)
def test_retention_bounds(spark, acts):
    """retention ∈ (0, 1]; offset-0 is exactly 1.0; per-cohort counts
    never exceed the cohort size; offsets are non-negative."""
    import datetime as dt

    from matric_spark.operators.events import retention

    t0 = dt.datetime(2024, 1, 1)
    data = [(u, t0 + dt.timedelta(days=7 * p, hours=1)) for (u, p) in acts]
    df = spark.createDataFrame(data, "user_id long, ts timestamp")
    out = retention(df, period_s=7 * 86400).collect()
    sizes = {r.cohort: r.n_users for r in out if r.offset == 0}
    for r in out:
        assert r.offset >= 0
        assert 0.0 < r.retention <= 1.0
        assert r.n_users <= sizes[r.cohort]
        if r.offset == 0:
            assert r.retention == 1.0


@settings(max_examples=10, deadline=None)
@given(
    keys=st.lists(st.text("ab", min_size=1, max_size=4), min_size=1, max_size=40)
)
def test_cms_never_underestimates_property(spark, keys):
    from matric_spark.operators.sketches import cms_build, cms_estimate
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(k,) for k in keys], "k string")
    exact = df.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    est = cms_estimate(cms_build(df, "k"), exact.select("k"), "k")
    for r in exact.join(est, "k").collect():
        assert r.cms_est >= r.n


_PAYLOADS = st.one_of(
    st.integers(-200, 200).map(lambda n: f'{{"k": {n}}}'),
    st.integers(-200, 200).map(lambda n: f'{{"k": "{n}"}}'),
    st.integers(0, 99).map(lambda n: f'{{"k": {n}.5}}'),
    st.sampled_from(
        [
            '{"k": true}', '{"k": null}', '{"j": 3}', "{}",
            "{", '{"k": }', "", "not json", "5", '"x"', None,
            # engine-parity corners (checks/payload._INT_RE notes):
            # 19+-digit lexical ints must be not_int on BOTH engines —
            # an unbounded regex would overflow Spark's cast to NULL
            # and crash DuckDB's CAST outright
            '{"k": 9223372036854775808}',      # > int64 max
            '{"k": -9223372036854775808}',     # int64 min: 19 digits
            '{"k": "9999999999999999999999"}',
            # 17 digits (not 18): is_int + out_of_range, but small enough
            # that 30 copies can't overflow sum_k's int64 on either
            # engine (Spark wraps silently, DuckDB's CAST would raise);
            # the 18-digit boundary itself is pinned in test_payload.py
            '{"k": "99999999999999999"}',
            # trailing newline: Java's $ would accept, RE2's would not;
            # the \z anchor rejects on both
            '{"k": "87\\n"}',
            '{"k": "87 "}', '{"k": " 87"}', '{"k": "-0"}',
        ]
    ),
)


@settings(max_examples=15, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.sampled_from("abc"), _PAYLOADS), min_size=1, max_size=30
    )
)
def test_payload_audit_parity_and_reconciliation(spark, rows):
    """Randomized payloads: (1) the audit's tier counters are nested,
    (2) the violation rows reconcile exactly with the counter deltas,
    (3) the DuckDB oracle SQL computes the identical audit table —
    generative coverage of the engine-parity corners the fixed-case
    tests pin."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as e
    from matric_spark.checks.payload import (
        json_payload_audit,
        json_payload_violations,
    )

    data = [(i, t, p) for i, (t, p) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "event_id long, event_type string, props string"
    )
    audit = {
        r.event_type: r
        for r in json_payload_audit(df, "props", "k", 0, 90).collect()
    }
    for r in audit.values():
        assert r.n >= r.n_valid_json >= r.n_has_key >= r.n_int >= r.n_in_range
        assert r.payload_pass == (r.n == r.n_in_range)
    reasons: dict[tuple[str, str], int] = {}
    for v in json_payload_violations(df, "props", "k", 0, 90).collect():
        reasons[(v.event_type, v.reason)] = (
            reasons.get((v.event_type, v.reason), 0) + 1
        )
    for t, r in audit.items():
        assert reasons.get((t, "malformed_json"), 0) == r.n - r.n_valid_json
        assert reasons.get((t, "missing_key"), 0) == r.n_valid_json - r.n_has_key
        assert reasons.get((t, "not_int"), 0) == r.n_has_key - r.n_int
        assert reasons.get((t, "out_of_range"), 0) == r.n_int - r.n_in_range
    con = duckdb.connect()
    con.register(
        "events",
        pd.DataFrame(data, columns=["event_id", "event_type", "props"]),
    )
    for dk in con.execute(e.oracle_sql()["events_payload"]).fetchall():
        (t, n, nv, nh, ni, nr, mn, mx, sk, ok) = dk
        r = audit[t]
        assert (
            n, nv, nh, ni, nr, mn, mx, sk, ok,
        ) == (
            r.n, r.n_valid_json, r.n_has_key, r.n_int, r.n_in_range,
            r.min_k, r.max_k, r.sum_k, r.payload_pass,
        )
