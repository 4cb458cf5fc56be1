"""Closed-form unit tests for the validation suite (the graft analog of
the reference's tiny hand-built populations with known answers,
tests/testthat/test-sim_calculate.R:5-103)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from matric_spark.checks.column_stats import column_stats
from matric_spark.checks.drift import counts_sketch, drift_by_partition, entropy_by_partition
from matric_spark.checks.sequence import conversation_shape, out_of_order_turns, text_parity
from matric_spark.checks.suite import SuiteConfig, run_verdicts, run_violations
from matric_spark.checks.uniqueness import duplicate_keys


def test_column_stats(tiny_transcripts):
    out = {
        r["part_month"]: r
        for r in column_stats(
            tiny_transcripts, "part_month", columns=["text", "tool"],
            distinct_cols=["conv_id"], exact_distinct=True,
        ).collect()
    }
    assert out[1]["n_rows"] == 8
    assert out[1]["text_nulls"] == 1
    assert out[1]["text_null_rate"] == pytest.approx(1 / 8)
    assert out[1]["conv_id_distinct"] == 2
    assert out[2]["n_rows"] == 2
    assert out[2]["text_nulls"] == 0
    assert out[2]["tool_nulls"] == 1


def test_duplicate_keys_and_violation_rows(tiny_transcripts):
    key = ["conv_id", "turn_idx"]
    got = sorted(map(tuple, duplicate_keys(tiny_transcripts, key).collect()))
    assert got == [("B", 1, 2)]
    rows = run_violations(tiny_transcripts)["uniqueness"].collect()
    assert len(rows) == 2 and all(r["conv_id"] == "B" and r["turn_idx"] == 1 for r in rows)


def test_uniqueness_null_keys_excluded(spark):
    """NULL-containing key tuples are excluded from uniqueness accounting
    in EVERY formulation (module-docstring contract): Window.partitionBy
    groups NULLs together, so without the null-key mask the window-based
    verdict path and the violation rows would report NULL-key 'duplicates'
    that the hash-first key count (and the DuckDB oracle's JOIN USING)
    can never match."""
    from matric_spark.checks.suite import SuiteConfig, check_counts

    rows = [
        ("A", 0, 1, "x"), ("A", 0, 1, "y"),        # real dup
        (None, 1, 1, "n1"), (None, 1, 1, "n2"),    # null conv_id ×2
        ("B", None, 1, "n3"), ("B", None, 1, "n4"),  # null turn_idx ×2
        ("C", 2, 1, "ok"),
    ]
    df = spark.createDataFrame(
        [(*r, "user", None) for r in rows],
        "conv_id string, turn_idx int, part_month int, text string, "
        "role string, tool string",
    )
    key = ["conv_id", "turn_idx"]
    got = sorted(map(tuple, duplicate_keys(df, key).collect()))
    assert got == [("A", 0, 2)]
    with_ts = df.withColumn("ts", F.lit(None).cast("timestamp"))
    viol = run_violations(with_ts)["uniqueness"].collect()
    assert sorted(r["text"] for r in viol) == ["x", "y"]
    # the verdict counts agree with the hash-first key count
    counts = {r["part"]: r["uniqueness"] for r in
              check_counts(with_ts, SuiteConfig()).collect()}
    assert counts == {1: 2}


def test_referential(tiny_transcripts):
    viol = run_violations(tiny_transcripts)
    bad_role = viol["ref_role"].collect()
    assert [(r["conv_id"], r["turn_idx"]) for r in bad_role] == [("C", 0)]
    bad_tool = viol["ref_tool"].collect()
    assert [(r["conv_id"], r["turn_idx"]) for r in bad_tool] == [("C", 2)]
    # an empty domain: every role violates (a NULL one too), while a
    # NULL tool is 'no tool' and never does
    empty = run_violations(tiny_transcripts, SuiteConfig(role_domain=[], tool_domain=[]))
    assert empty["ref_role"].count() == tiny_transcripts.count()
    assert (
        empty["ref_tool"].count()
        == tiny_transcripts.filter(F.col("tool").isNotNull()).count()
    )


def test_conversation_shape(tiny_transcripts):
    out = {r["conv_id"]: r for r in conversation_shape(tiny_transcripts).collect()}
    assert out["A"]["is_contiguous"] and not out["A"]["has_dup"]
    assert out["B"]["has_dup"] and not out["B"]["is_contiguous"]
    assert out["B"]["n_turns"] == 5 and out["B"]["n_keys"] == 4
    assert not out["C"]["is_contiguous"] and out["C"]["min_turn"] == 0 and out["C"]["max_turn"] == 2


def test_out_of_order(tiny_transcripts):
    rows = out_of_order_turns(tiny_transcripts).collect()
    assert [(r["conv_id"], r["turn_idx"]) for r in rows] == [("B", 2)]


def test_text_parity(spark, tiny_transcripts):
    ref = tiny_transcripts
    assert text_parity(tiny_transcripts, ref).count() == 0
    mutated = tiny_transcripts.withColumn(
        "text", F.when((F.col("conv_id") == "A") & (F.col("turn_idx") == 1), "HI").otherwise(F.col("text"))
    )
    bad = text_parity(mutated, ref).collect()
    assert [(r["conv_id"], r["turn_idx"]) for r in bad] == [("A", 1)]


def test_ks_two_identical_cohorts(spark):
    # identical length distributions in both partitions -> D = 0
    rows = [(p, "x" * (i % 5 + 1)) for p in (1, 2) for i in range(50)]
    df = spark.createDataFrame(rows, "part int, text string")
    out = drift_by_partition(counts_sketch(df, "part", F.length("text")), "part").collect()
    assert all(r["ks_d"] == pytest.approx(0.0) for r in out)
    assert all(r["ks_p"] == pytest.approx(1.0) for r in out)


def test_ks_disjoint_cohorts(spark):
    # completely disjoint supports -> D = 1
    rows = [(1, "x" * 2)] * 30 + [(2, "x" * 50)] * 30
    df = spark.createDataFrame(rows, "part int, text string")
    sk = counts_sketch(df, "part", F.length("text"))
    out = {r["part"]: r for r in drift_by_partition(sk, "part").collect()}
    assert out[1]["ks_d"] == pytest.approx(1.0)
    assert out[2]["ks_d"] == pytest.approx(1.0)
    assert out[1]["ks_p"] < 1e-6


def test_psi_identical_is_zero(spark):
    rows = [(p, "x" * (60 * (i % 4))) for p in (1, 2) for i in range(40)]
    df = spark.createDataFrame(rows, "part int, text string")
    out = drift_by_partition(counts_sketch(df, "part", F.length("text")), "part").collect()
    assert all(abs(r["psi"]) < 1e-12 for r in out)


def test_psi_closed_form(spark):
    """Two partitions over three 50-wide buckets, each missing one bucket
    the other has: psi is the docstring formula with B = 3, the buckets
    observed in ANY partition (per partition, B would be 2)."""
    import numpy as np

    rows = (
        [("A", 0)] * 3 + [("A", 60)]           # buckets 0, 1
        + [("B", 10)] * 2 + [("B", 120)] * 2   # buckets 0, 2
    )
    df = spark.createDataFrame(rows, "p string, v int")
    out = {r.p: r.psi for r in drift_by_partition(counts_sketch(df, "p", F.col("v")), "p").collect()}
    a, b = np.array([3.0, 1.0, 0.0]), np.array([2.0, 0.0, 2.0])
    for name, part, rest in (("A", a, b), ("B", b, a)):
        pa = (part + 0.5) / (part.sum() + 0.5 * 3)
        pb = (rest + 0.5) / (rest.sum() + 0.5 * 3)
        assert out[name] == pytest.approx(float(np.sum((pa - pb) * np.log(pa / pb))), rel=1e-12)


def test_verdicts(tiny_transcripts):
    v = run_verdicts(tiny_transcripts, SuiteConfig()).collect()
    status = {(r["part"], r["check_id"]): r["status"] for r in v}
    metric = {(r["part"], r["check_id"]): r["metric"] for r in v}
    # every partition appears for every check
    assert len(v) == 2 * 8
    assert status[(1, "uniqueness")] == "fail" and metric[(1, "uniqueness")] == 2
    assert status[(2, "uniqueness")] == "pass"
    assert status[(1, "ref_role")] == "pass"
    assert status[(2, "ref_role")] == "fail"
    assert status[(2, "ref_tool")] == "fail"
    assert status[(1, "null_text")] == "fail" and status[(2, "null_text")] == "pass"
    assert status[(1, "seq_order")] == "fail" and metric[(1, "seq_order")] == 1
    assert status[(1, "null_ts")] == "pass" and status[(2, "null_ts")] == "pass"


def test_role_transitions_matrix(tiny_transcripts):
    from matric_spark.checks.sequence import role_transitions

    out = {
        (r.prev_role, r.role): (r.n, r.allowed)
        for r in role_transitions(tiny_transcripts).collect()
    }
    # conv A: <start>→system→user→assistant; conv B (ordered by turn_idx,
    # ts): <start>→user→assistant→assistant→tool→user; conv C:
    # <start>→moderator→assistant
    assert out[("<start>", "system")] == (1, True)
    assert out[("system", "user")] == (1, True)
    assert out[("user", "assistant")] == (2, True)
    assert out[("assistant", "tool")] == (1, True)
    assert out[("tool", "user")] == (1, True)
    assert out[("<start>", "user")] == (1, False)
    assert out[("assistant", "assistant")] == (1, False)
    assert out[("<start>", "moderator")] == (1, False)
    assert out[("moderator", "assistant")] == (1, False)
    assert len(out) == 9
    assert sum(n for n, _ in out.values()) == 10  # one pair per row


def test_role_transitions_null_role_sentinel(spark):
    import datetime as dt

    from matric_spark.checks.sequence import role_transitions

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("X", 0, "system", "s", None, t0),
        ("X", 1, None, "mystery", None, t0),
        ("X", 2, "user", "q", None, t0),
    ]
    d = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    out = {(r.prev_role, r.role): r.allowed for r in role_transitions(d).collect()}
    # a NULL role is the \x1dnull sentinel — distinct from '<start>' and
    # from any real role, and never allowed by the grammar
    assert out[("system", "\x1dnull")] is False
    assert out[("\x1dnull", "user")] is False
    assert out[("<start>", "system")] is True


def test_schema_conformance_statuses(spark):
    from matric_spark.checks.schema_check import schema_conformance

    d = spark.createDataFrame(
        [("a", 1, 2.0)], "conv_id string, turn_idx long, bonus double"
    )
    expected = [
        ("conv_id", "string"),   # ok
        ("turn_idx", "int"),     # actual is long -> type_mismatch
        ("role", "string"),      # absent -> missing
    ]
    out = {r.col: r for r in schema_conformance(spark, d, expected).collect()}
    assert (out["conv_id"].status, out["conv_id"].ok) == ("ok", True)
    assert out["turn_idx"].status == "type_mismatch"
    assert out["turn_idx"].actual_type == "bigint"
    assert out["role"].status == "missing" and out["role"].actual_type is None
    assert out["bonus"].status == "extra" and out["bonus"].expected_type is None
    assert not out["bonus"].ok and len(out) == 4


def test_schema_conformance_ntz_canonicalized(spark):
    import datetime as dt

    from matric_spark.checks.schema_check import schema_conformance

    d = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1),)], "ts timestamp_ntz"
    )
    out = schema_conformance(spark, d, [("ts", "timestamp")]).collect()
    assert out[0].status == "ok"


def test_conv_near_dup_tapes(spark):
    import datetime as dt

    from matric_spark.checks.sequence import conversation_tapes
    from matric_spark.operators.dedup import ngram_jaccard_pairs

    t0 = dt.datetime(2024, 1, 1)
    mk = lambda conv, texts: [
        (conv, i, "user", t, None, t0) for i, t in enumerate(texts)
    ]
    base = ["alpha beta gamma delta", "epsilon zeta eta theta"]
    rows = (
        mk("A", base)
        + mk("B", base)                                  # exact dup of A
        + mk("C", base[:1] + ["totally different words here"])
        + mk("D", ["unrelated content entirely", "nothing shared at all"])
    )
    d = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    tapes = conversation_tapes(d).select(
        F.col("conv_id").alias("doc_id"), F.col("tape").alias("text")
    )
    out = {
        (r.id1, r.id2): r.jaccard
        for r in ngram_jaccard_pairs(tapes, 0.05).collect()
    }
    assert out[("A", "B")] == 1.0            # identical tapes
    # A and C share the first turn, but the tape glues turn boundaries
    # into single "words" (delta\x1euser\x1f...), so only the shingles
    # fully inside the shared prefix survive: 1 of 9 distinct
    assert out[("A", "C")] == pytest.approx(1 / 9)
    assert all("D" not in k for k in out)     # no shingles shared


def test_conversation_tapes_null_key_ordering_matches_oracle(spark):
    """Spark windows/sort_array put NULLs FIRST; DuckDB defaults to NULLS
    LAST — the tape CTE must say NULLS FIRST explicitly or any NULL
    turn_idx/ts (both nullable in the schema, and planted by colstats'
    null-rate fixtures) silently breaks the byte-for-byte tape mirror."""
    import datetime as dt

    import duckdb

    from __spark_entry__ import _TAPE_CTES
    from matric_spark.checks.sequence import conversation_tapes

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("C", None, "user", "ZZZ", None, None),
        ("C", 0, "user", "AAA", None, t0),
        ("C", 0, "user", "BBB", None, None),  # NULL ts ties with turn 0
        ("D", None, "user", None, None, None),  # all-NULL sort keys
        ("D", 1, "assistant", "ok", "web_search", t0),
    ]
    d = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    got = {r.conv_id: r.tape for r in conversation_tapes(d).collect()}

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE transcripts (conv_id VARCHAR, turn_idx INT, "
        "role VARCHAR, text VARCHAR, tool VARCHAR, ts TIMESTAMP)"
    )
    con.executemany("INSERT INTO transcripts VALUES (?, ?, ?, ?, ?, ?)", rows)
    want = dict(
        con.execute(
            f"WITH {_TAPE_CTES} SELECT doc_id, text FROM tapes"
        ).fetchall()
    )
    assert got == want
    # NULL turn_idx serializes first, not last
    assert got["C"].startswith("user\x1fZZZ")


def test_conv_verdicts_reason_codes(tiny_transcripts):
    from matric_spark.checks.sequence import conv_verdicts

    out = {r.conv_id: r for r in conv_verdicts(tiny_transcripts).collect()}
    a, b, c = out["A"], out["B"], out["C"]
    assert a.ok and a.reasons == ""
    assert not b.ok
    for code in ("dup_keys", "non_contiguous", "grammar", "out_of_order",
                 "null_text"):
        assert code in b.reasons
    assert b.n_ooo == 1 and b.n_text_null == 1
    # B opens with user (not system) + assistant->assistant dup transition
    assert b.n_grammar_viol == 2
    assert not c.ok
    for code in ("non_contiguous", "role_domain", "tool_domain", "grammar"):
        assert code in c.reasons
    assert "dup_keys" not in c.reasons
    assert c.n_role_viol == 1 and c.n_tool_viol == 1


def test_conv_token_stats(tiny_transcripts):
    from matric_spark.checks.sequence import conv_token_stats

    out = {r.conv_id: r for r in conv_token_stats(tiny_transcripts, budget=4).collect()}
    # conv A: "sys prompt"(2) + "hi"(1) + "hello"(1) = 4 ws tokens
    assert out["A"].n_turns == 3 and out["A"].n_tokens == 4
    assert out["A"].n_text_null == 0
    assert out["A"].n_chars == len("sys prompt") + len("hi") + len("hello")
    # conv B has one null text: counted in n_text_null, 0 in the sums
    assert out["B"].n_text_null == 1
    assert out["B"].n_tokens == 4  # "q", "a1", "a1-dup", "out" → 1 each
    assert out["B"].n_turns == 5
    # budget flag is on bpe tokens
    assert out["A"].over_budget == (out["A"].n_bpe_tokens > 4)


def test_emd_by_partition_closed_form(spark):
    """Two point masses one value-unit apart: each cohort's EMD vs its
    complement is exactly 1.0 (all mass moves distance 1)."""
    rows = [("A", 0), ("A", 0), ("B", 1), ("B", 1)]
    df = spark.createDataFrame(rows, "p string, v int")
    out = {r.p: r for r in drift_by_partition(counts_sketch(df, "p", F.col("v")), "p").collect()}
    assert out["A"].emd == 1.0 and out["B"].emd == 1.0
    assert out["A"].n_part == 2 and out["A"].n_rest == 2


def test_emd_vs_ks_sensitivity(spark):
    """A small shift moves EMD proportionally to distance while KS only
    sees the overlap fraction: shifting one cohort by 10 value units
    yields EMD 10× the 1-unit shift, same KS."""
    near = spark.createDataFrame(
        [("A", 0)] * 4 + [("B", 1)] * 4, "p string, v int"
    )
    far = spark.createDataFrame(
        [("A", 0)] * 4 + [("B", 10)] * 4, "p string, v int"
    )
    emd_near, ks_near = drift_by_partition(
        counts_sketch(near, "p", F.col("v")), "p"
    ).select("emd", "ks_d").first()
    emd_far, ks_far = drift_by_partition(
        counts_sketch(far, "p", F.col("v")), "p"
    ).select("emd", "ks_d").first()
    assert emd_far == 10 * emd_near
    assert ks_near == ks_far == 1.0


def test_entropy_by_partition_closed_form(spark):
    import math

    rows = (
        [("A", 0), ("A", 0), ("A", 1), ("A", 1)]  # uniform over 2 → ln 2
        + [("B", 5), ("B", 5), ("B", 5)]          # degenerate → 0
    )
    df = spark.createDataFrame(rows, "p string, v int")
    out = {r.p: r for r in entropy_by_partition(counts_sketch(df, "p", F.col("v")), "p").collect()}
    assert abs(out["A"].entropy - math.log(2)) < 1e-12
    assert out["A"].n_values == 2
    assert out["B"].entropy == 0.0 and out["B"].n_values == 1


def test_drift_degenerate_single_partition_yields_null(spark):
    """One partition = empty complement cohort: KS and EMD must emit
    NULL statistics (integer-guarded), not NaN or an ANSI
    divide-by-zero error; PSI is 0 (one bucket, pa = pb = 1)."""
    df = spark.createDataFrame(
        [("A", v) for v in (1, 2, 3, 4)], "p string, v int"
    )
    k = drift_by_partition(counts_sketch(df, "p", F.col("v")), "p").collect()[0]
    assert k.n_rest == 0
    assert k.ks_d is None and k.ks_p is None
    assert k.emd is None
    assert k.psi == 0.0


def test_drift_sketch_parquet_roundtrip(spark, tmp_path):
    """An in-memory sketch and the same sketch read back from parquet
    (as __spark_entry__._drift_sketch and the state table do) give the
    same drift and entropy rows."""
    rows = [("A", v % 7) for v in range(40)] + [("B", v % 5) for v in range(25)]
    df = spark.createDataFrame(rows, "p string, v int")
    sk = counts_sketch(df, "p", F.col("v"))
    path = str(tmp_path / "s.parquet")
    sk.write.parquet(path)
    for fn in (drift_by_partition, entropy_by_partition):
        direct = sorted(map(tuple, fn(sk, "p").collect()))
        read_back = sorted(map(tuple, fn(spark.read.parquet(path), "p").collect()))
        assert direct == read_back, fn.__name__


def test_robust_outliers_planted(spark):
    """A planted wild row is flagged with the hand-computed robust z;
    normal rows are not; a constant-value partition (MAD 0) is skipped."""
    rows = (
        [("c", i, "A", 10 + (i % 2)) for i in range(20)]  # lens 10/11
        + [("c", 99, "A", 1000)]                          # the outlier
        + [("c", i, "B", 7) for i in range(10)]           # MAD 0 → skip
    )
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, p string, ln int")
    from matric_spark.checks.column_stats import robust_outliers

    out = robust_outliers(df, "p", F.col("ln"), k=3.5).collect()
    assert [(r.conv_id, r.turn_idx) for r in out] == [("c", 99)]
    # n=21 sorted lens: 10×10, 10×11, 1000 → median (index 10 of 0..20)
    # = 11; devs: ten 1s, ten 0s, 989 → MAD = 1; z = 989/(1·1.4826)
    r = out[0]
    assert abs(r.robust_z - (989 / (1.0 * 1.4826))) < 1e-9


def test_role_latency_gaps_and_backwards_ts(spark):
    from datetime import datetime

    from matric_spark.checks.sequence import role_latency

    T = datetime
    rows = [
        ("c1", 0, "user", "q", None, T(2024, 1, 1, 0, 0, 0), 202401),
        ("c1", 1, "assistant", "a", None, T(2024, 1, 1, 0, 0, 30), 202401),
        ("c1", 2, "user", "q2", None, T(2024, 1, 1, 0, 0, 10), 202401),  # backwards
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, part_month int",
    )
    out = {(r.part_month, r.role): r for r in role_latency(df).collect()}
    assert out[(202401, "user")].n_gaps == 1       # first turn has no prev
    assert out[(202401, "user")].neg_gaps == 1     # -20 s
    assert out[(202401, "user")].min_gap_s == -20
    assert out[(202401, "assistant")].avg_gap_s == 30.0
    assert out[(202401, "assistant")].neg_gaps == 0
