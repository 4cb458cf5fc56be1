"""The local oracle gate (tools/check_oracle.py) must be at least as
strict as the driver's byte-level value hash. Round 2 shipped a red
driver row (sim_spearman_strata) because the local gate compared with
pandas `==`, which treats -0.0 == +0.0; these tests pin the byte-strict
contract so that class of divergence can never pass locally again."""

import os
import sys

import pandas as pd
import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_REPO, "tools"))
from check_oracle import canon, compare, frame_hash  # noqa: E402


def test_signed_zero_changes_hash():
    a = pd.DataFrame({"id": [1, 2], "sim": [0.5, 0.0]})
    b = pd.DataFrame({"id": [1, 2], "sim": [0.5, -0.0]})
    assert frame_hash(canon(a)) != frame_hash(canon(b))


def test_signed_zero_fails_compare(capsys):
    a = pd.DataFrame({"id": [1, 2], "sim": [0.5, 0.0]})
    b = pd.DataFrame({"id": [1, 2], "sim": [0.5, -0.0]})
    assert not compare("inject", a, b)
    assert "HASH mismatch" in capsys.readouterr().out


def test_equal_frames_pass_hash_even_unordered():
    a = pd.DataFrame({"id": [1, 2], "sim": [0.5, 0.25]})
    b = pd.DataFrame({"id": [2, 1], "sim": [0.25, 0.5]})
    assert frame_hash(canon(a)) == frame_hash(canon(b))
    assert compare("eq", a, b)


def test_nan_equals_nan_in_gate():
    a = pd.DataFrame({"id": [1], "sim": [float("nan")]})
    b = pd.DataFrame({"id": [1], "sim": [float("nan")]})
    assert compare("nan", a, b)


def test_value_divergence_beyond_6dp_fails():
    # the gate must NOT re-round: a query that forgets its own _round6
    # has to fail locally exactly as it would at the driver
    a = pd.DataFrame({"id": [1], "sim": [0.1234567]})
    b = pd.DataFrame({"id": [1], "sim": [0.123457]})
    assert not compare("noround", a, b)


@pytest.mark.parametrize("kernel_zero", [-0.0])
def test_round6_normalizes_signed_zero(spark, kernel_zero):
    """__spark_entry__._round6 maps -0.0 to +0.0 (the `+ 0.0` clause)."""
    import __spark_entry__ as e

    df = spark.createDataFrame([(1, kernel_zero)], "id int, sim double")
    out = e._round6(df, ["sim"]).toPandas()
    import numpy as np

    assert np.signbit(out["sim"].iloc[0]) == False  # noqa: E712


def test_oracle_sql_has_no_unnormalized_final_round():
    """Every final round(..., 6) in the oracle SQL carries the `+ 0`
    signed-zero normalizer, so a future oracle edit that drops it is
    caught here rather than at the driver's hash gate."""
    import re

    srcs = [
        open(os.path.join(_REPO, "matric_spark", "duck_oracle.py")).read(),
        open(os.path.join(_REPO, "__spark_entry__.py")).read(),
    ]
    bad = []
    for src in srcs:
        i = 0
        while True:
            m = re.compile(r"round\(").search(src, i)
            if not m:
                break
            if m.start() > 0 and re.match(r"[\w.]", src[m.start() - 1]):
                i = m.end()
                continue
            depth, j = 1, m.end()
            while depth > 0 and j < len(src):
                depth += src[j] == "("
                depth -= src[j] == ")"
                j += 1
            call = src[m.start() : j]
            rest = src[j : j + 16]
            wrapped = m.start() > 0 and src[m.start() - 1] == "(" and src[
                j : j + 4
            ].startswith(" + 0")
            if re.search(r",\s*6\)$", call) and re.match(r"\s+AS\s", rest) and not wrapped:
                bad.append(call[:60])
            i = j
    assert not bad, f"final round(...,6) without + 0 normalizer: {bad}"


def test_manifest_prefix_covers_every_family():
    """A prefix-sampling driver (50 of N queries, CORRECTNESS_r03 ran
    exactly that) must touch every operator family: the first 50
    queries() entries must collectively carry every family that appears
    anywhere in the manifest, and every entry must resolve to a real
    family (no 'other' fallbacks from an unmapped name prefix)."""
    sys.path.insert(0, _REPO)
    import __spark_entry__ as e

    man = e.queries_manifest()
    names = list(e.queries())
    assert len(names) == len(man)
    assert all(m["family"] != "other" for m in man.values()), [
        n for n, m in man.items() if m["family"] == "other"
    ]
    all_fams = {m["family"] for m in man.values()}
    prefix_fams = {man[n]["family"] for n in names[:50]}
    assert all_fams == prefix_fams, all_fams - prefix_fams


def test_sketch_bounds_oracle(spark):
    """check_oracle.py's bounds oracle for the approximate sketches, run
    inside pytest: every `sketch_stats` partition lands within the
    envelopes around DuckDB's exact values, and the `sketch_bounds`
    violation set is empty."""
    sys.path.insert(0, _REPO)
    import __spark_entry__ as e
    from check_oracle import check_sketch_bounds, duck_views

    sf_dir = "/root/testdata/sf0.001"
    qs = e.queries()
    con = duck_views(sf_dir)
    try:
        assert check_sketch_bounds(qs["sketch_stats"](spark, sf_dir).toPandas(), con)
    finally:
        con.close()
    assert qs["sketch_bounds"](spark, sf_dir).count() == 0
