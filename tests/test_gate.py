"""The local oracle gate (tools/check_oracle.py) must be at least as
strict as the driver's byte-level value hash. Round 2 shipped a red
driver row (sim_spearman_strata) because the local gate compared with
pandas `==`, which treats -0.0 == +0.0; these tests pin the byte-strict
contract so that class of divergence can never pass locally again, and
`test_oracle_gate` runs the gate itself on every queries() entry at
sf0.001."""

import os
import sys

import pandas as pd
import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_REPO, "tools"))
from check_oracle import canon, check_one, compare, duck_views, frame_hash  # noqa: E402

sys.path.insert(0, _REPO)
import __spark_entry__ as e  # noqa: E402


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
    family (no 'other' placeholder) and a known cost tier."""
    man = e.queries_manifest()
    names = list(e.queries())
    assert len(names) == len(man)
    assert all(m["family"] != "other" for m in man.values()), [
        n for n, m in man.items() if m["family"] == "other"
    ]
    assert {m["tier"] for m in man.values()} <= {"cheap", "medium", "expensive"}
    all_fams = {m["family"] for m in man.values()}
    prefix_fams = {man[n]["family"] for n in names[:50]}
    assert all_fams == prefix_fams, all_fams - prefix_fams


# Each queries() entry without an oracle_sql() twin, and why it has none.
_ROWS_ONLY = {
    "emb_near_dup_ivf": "IVF blocking misses pairs at cell boundaries by "
    "design; soundness gated by emb_ivf_soundness",
    "ann_topk_ivf": "probe set depends on the k-means centroids; "
    "containment oracle check_oracle.check_ivf_containment",
    "sim_signif": "permutation nulls come from numpy's PCG64 stream, which "
    "DuckDB cannot replay; values gated by signif_monotonic",
    "sketch_stats": "approximate by design; bounds oracle "
    "check_oracle.check_sketch_bounds, plus sketch_bounds",
}


def test_rows_only_set_is_pinned():
    """Every omission from oracle_sql() is deliberate: a new query
    without an oracle fails here instead of silently becoming
    'rows_only' in the manifest, and no oracle is orphaned."""
    assert set(e.queries()) - set(e.oracle_sql()) == set(_ROWS_ONLY)
    assert set(e.oracle_sql()) <= set(e.queries())


_SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duck_views(_SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", list(e.queries()))
def test_oracle_gate(spark, duck, name):
    """tools/check_oracle.py's gate, one case per queries() entry: the
    Spark result must match its DuckDB twin byte for byte, pass its
    special oracle (sketch bounds, IVF containment), or — rows-only —
    at least execute."""
    assert check_one(
        name, e.queries()[name], spark, duck, _SF_DIR, e.oracle_sql().get(name)
    )


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_lsh_sign_margin(sf):
    """`emb_near_dup_lsh` is value-hash gated because both engines take
    the same sign decision for every (vector, plane): DuckDB reads the
    sign of a sequential dot over the raw embedding, Spark of a matmul
    over the normalized one. That holds only while no kept vector lies
    within float slop (~1e-15) of a plane, so pin the corpus margin:
    min |normalized dot| over the rows `_NORM_OK` keeps must stay
    >= 1e-9 (measured 2.7e-6 to 7.3e-6 across the three scales)."""
    import numpy as np
    import pyarrow.parquet as pq

    from matric_spark.operators.ann import _lcg_planes

    path = os.path.join(os.path.dirname(_SF_DIR), sf, "embeddings.parquet")
    if not os.path.exists(path):
        pytest.skip(f"testdata {sf} not present")
    t = pq.read_table(path, columns=["vec_id", "embedding"]).to_pydict()
    ids = np.array([i for i, v in zip(t["vec_id"], t["embedding"]) if v is not None])
    x = np.array([v for v in t["embedding"] if v is not None], dtype=np.float64)
    sq = np.einsum("ij,ij->i", x, x)
    keep = np.isfinite(sq) & (sq > 0)  # duck_oracle._NORM_OK
    ids, x = ids[keep], x[keep] / np.sqrt(sq[keep])[:, None]
    planes = np.array(_lcg_planes(128, 64, seed=42), dtype=np.float64)
    margin = np.abs(x @ planes.T)
    row, plane = np.unravel_index(np.argmin(margin), margin.shape)
    assert margin[row, plane] >= 1e-9, (
        f"{sf}: vec_id {ids[row]} lies {margin[row, plane]:.3g} from LSH "
        f"plane {plane}; the engines' sign bits may disagree there, so "
        "emb_near_dup_lsh's value hash is no longer trustworthy"
    )
