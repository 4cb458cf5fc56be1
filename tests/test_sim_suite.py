"""matric-parity tests, mirroring the reference's four techniques
(SURVEY §5): closed-form kernels on tiny populations
(tests/testthat/test-sim_calculate.R:5-103), r_precision edge cases
(test-sim_metrics.R:360-372), differential equivalence between execution
strategies (test-sim_metrics.R:188-289), and hand-checked metric values.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def population(spark):
    # rows 1-2 proportional (cosine=1, pearson defined), 3-4 anti (−1)
    rows = [
        (1, [1.0, 2.0, 3.0], 10, 0),
        (2, [2.0, 4.0, 6.0], 10, 1),
        (3, [1.0, 0.0, -1.0], 20, 0),
        (4, [-1.0, 0.0, 1.0], 20, 1),
    ]
    return spark.createDataFrame(
        rows, "id long, features array<double>, label int, batch int"
    )


def test_kernels_closed_form(spark, population):
    from matric_spark.operators.pairs import sim_calculate

    cos = {
        (r.id1, r.id2): r.sim
        for r in sim_calculate(population, "cosine", strata=["label"]).collect()
    }
    assert cos[(1, 2)] == pytest.approx(1.0)
    assert cos[(3, 4)] == pytest.approx(-1.0)

    pea = {
        (r.id1, r.id2): r.sim
        for r in sim_calculate(population, "pearson", strata=["label"]).collect()
    }
    assert pea[(1, 2)] == pytest.approx(1.0)  # collinear ⇒ pearson 1

    euc = {
        (r.id1, r.id2): r.sim
        for r in sim_calculate(population, "euclidean", strata=["label"]).collect()
    }
    assert euc[(1, 2)] == pytest.approx(math.sqrt(1 + 4 + 9))
    assert euc[(3, 4)] == pytest.approx(math.sqrt(4 + 0 + 4))


def test_spearman_closed_form(spark):
    """spearman = pearson of per-row average-tie ranks
    (stats::cor(t(X), method='spearman'), R/sim_calculate.R:122-124)."""
    from matric_spark.operators.pairs import rank_transform, sim_calculate

    rows = [
        (1, [1.0, 2.0, 3.0], 0),
        (2, [10.0, 20.0, 30.0], 0),   # same rank order → 1.0
        (3, [3.0, 2.0, 1.0], 0),      # reversed → -1.0 vs 1
        (4, [1.0, 1.0, 2.0, 0.5], 1),
        (5, [5.0, 5.0, 9.0, 1.0], 1),  # identical tie structure → 1.0
    ]
    pop = spark.createDataFrame(rows, "id long, features array<double>, label int")
    sp = {
        (r.id1, r.id2): r.sim
        for r in sim_calculate(pop, "spearman", strata=["label"]).collect()
    }
    assert sp[(1, 2)] == pytest.approx(1.0)
    assert sp[(1, 3)] == pytest.approx(-1.0)
    assert sp[(4, 5)] == pytest.approx(1.0)

    ranks = {
        r.id: r.features for r in rank_transform(pop).collect()
    }
    assert ranks[4] == [2.5, 2.5, 4.0, 1.0]  # average ties, R semantics


def test_kendall_closed_form(spark):
    """kendall = tau-b over element pairs (stats::cor(t(X),
    method='kendall'), whitelisted at R/sim_calculate.R:99): exact
    concordant/discordant counts with tie-corrected denominator,
    computed on the blocked numpy path (sparse.kendall_rows)."""
    from matric_spark.operators.pairs import sim_calculate

    rows = [
        (1, [1.0, 2.0, 3.0], 0),
        (2, [10.0, 20.0, 30.0], 0),     # same order → 1.0
        (3, [3.0, 2.0, 1.0], 0),        # reversed → -1.0 vs 1
        (4, [1.0, 1.0, 2.0], 1),        # tie in x
        (5, [3.0, 5.0, 9.0], 1),        # num=2, dx=2, dy=3 → 2/sqrt(6)
        (6, [7.0, 7.0, 7.0], 2),        # constant row → denominator 0
        (7, [1.0, 2.0, 3.0], 2),
    ]
    pop = spark.createDataFrame(rows, "id long, features array<double>, label int")
    kd = {
        (r.id1, r.id2): r.sim
        for r in sim_calculate(pop, "kendall", strata=["label"]).collect()
    }
    assert kd[(1, 2)] == pytest.approx(1.0)
    assert kd[(1, 3)] == pytest.approx(-1.0)
    assert kd[(4, 5)] == pytest.approx(2.0 / math.sqrt(6.0))
    assert kd[(4, 5)] == kd[(5, 4)]
    # R: sd-zero row → NA correlation; numpy NaN crosses the Arrow
    # boundary as SQL NULL — the faithful rendering of R's NA
    assert kd[(6, 7)] is None


def test_kendall_matches_naive_reference(spark):
    """Differential: the chunked vectorized tau-b ≡ a direct per-pair
    O(d²) loop (the textbook formula), on deterministic pseudo-random
    vectors including injected ties."""
    import numpy as np

    from matric_spark.operators.sparse import kendall_rows

    rng = np.random.default_rng(11)
    x1 = rng.normal(size=(40, 17))
    x2 = rng.normal(size=(40, 17))
    x1[:, 3] = np.round(x1[:, 3])  # force ties
    x2[:, 5] = np.round(x2[:, 5])

    def naive(a, b):
        num = dx = dy = 0
        d = len(a)
        for i in range(d):
            for j in range(i + 1, d):
                sx = int(a[i] > a[j]) - int(a[i] < a[j])
                sy = int(b[i] > b[j]) - int(b[i] < b[j])
                num += sx * sy
                dx += sx != 0
                dy += sy != 0
        return num / math.sqrt(dx * dy)

    got = kendall_rows(x1, x2, _chunk=7)  # exercise chunk boundaries
    want = [naive(x1[i], x2[i]) for i in range(len(x1))]
    assert got == pytest.approx(want, rel=1e-12)


def test_kendall_high_dim_memory_bounded(spark):
    """Scale guard (kendall_rows docstring contract): at d=512 the
    adaptive chunk must shrink so the float64 diff buffers stay within
    KENDALL_MEM_BUDGET, and results must equal the small-chunk reference
    (chunking is numerically inert — exact integer counts)."""
    import tracemalloc

    import numpy as np

    from matric_spark.operators.sparse import KENDALL_MEM_BUDGET, kendall_rows

    d = 512
    n_pairs = d * (d - 1) // 2
    expected_chunk = max(1, KENDALL_MEM_BUDGET // (n_pairs * 8))
    assert expected_chunk < 64  # the guard actually engages at this dim

    rng = np.random.default_rng(3)
    x1 = rng.normal(size=(96, d))
    x2 = rng.normal(size=(96, d))
    tracemalloc.start()
    got = kendall_rows(x1, x2)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert peak < 4 * KENDALL_MEM_BUDGET, f"peak {peak >> 20} MiB"
    want = kendall_rows(x1, x2, _chunk=5)
    assert np.array_equal(got, want)
    # sanity: self-correlation is exactly 1
    assert kendall_rows(x1[:4], x1[:4]) == pytest.approx([1.0] * 4)


def test_correlation_kernels_raise_on_nan_features(spark):
    """Complete-rows contract: NaN features must raise (not silently
    diverge from pairwise.complete.obs, R/sim_calculate.R:122-124)."""
    import pyspark.errors

    from matric_spark.operators.pairs import sim_calculate

    pop = spark.createDataFrame(
        [(1, [1.0, float("nan"), 3.0], 0), (2, [1.0, 2.0, 3.0], 0)],
        "id long, features array<double>, label int",
    )
    for kernel in ("pearson", "spearman", "kendall"):
        with pytest.raises(Exception, match="complete rows"):
            sim_calculate(pop, kernel, strata=["label"]).collect()
    # cosine has no pairwise.complete.obs analog → NaN propagates, no raise
    sim_calculate(pop, "cosine", strata=["label"]).collect()


def test_optimized_equals_eager_restricted(spark, population):
    """Differential: within-group pair-gen ≡ all-pairs filtered to the
    same groups (matric's optimized ≡ eager equivalence,
    tests/testthat/test-sim_calculate.R:169-333)."""
    from matric_spark.operators.pairs import all_pairs, attach_sim, within_group_pairs
    from matric_spark.operators.sim_filter import filter_all_same

    fast = within_group_pairs(population, ["label"])
    slow = filter_all_same(all_pairs(population), population, ["label"])
    f = {(r.id1, r.id2) for r in fast.collect()}
    s = {(r.id1, r.id2) for r in slow.collect()}
    assert f == s and len(f) == 4  # both directions of (1,2) and (3,4)

    # attach_sim is strategy-independent
    a = {(r.id1, r.id2): r.sim for r in attach_sim(fast, population).collect()}
    b = {(r.id1, r.id2): r.sim for r in attach_sim(slow, population).collect()}
    assert a == b


def test_filter_all_same_compares_per_column(spark):
    """all-same compares each column (`_l_c = _r_c`), as the pair builder's
    equi-join does: a ":"-joined composite key would make ("a:b", "c")
    equal ("a", "b:c") and (NULL, "x") equal ("x", NULL)."""
    from matric_spark.operators.pairs import all_pairs, within_group_pairs
    from matric_spark.operators.sim_filter import filter_all_same

    pop = spark.createDataFrame(
        [(1, "a:b", "c"), (2, "a", "b:c"), (3, None, "x"), (4, "x", None)],
        "id long, a string, b string",
    )
    assert filter_all_same(all_pairs(pop), pop, ["a", "b"]).collect() == []
    assert within_group_pairs(pop, ["a", "b"]).collect() == []


def test_filter_suite(spark, population):
    from matric_spark.operators.pairs import all_pairs
    from matric_spark.operators.sim_filter import (
        drop_lower,
        filter_drop_some,
        filter_keep_some,
        filter_some_different,
    )

    pairs = all_pairs(population)
    spec = spark.createDataFrame([(10,)], "label int")
    kept = {(r.id1, r.id2) for r in filter_keep_some(pairs, population, spec).collect()}
    assert kept == {(1, 2), (1, 3), (1, 4), (2, 1), (2, 3), (2, 4)}
    dropped = {(r.id1, r.id2) for r in filter_drop_some(pairs, population, spec).collect()}
    assert kept.isdisjoint(dropped) and len(kept) + len(dropped) == 12

    # same batch, different label
    sd = {
        (r.id1, r.id2)
        for r in filter_some_different(
            pairs, population, ["batch"], any_different_cols=["label"]
        ).collect()
    }
    assert sd == {(1, 3), (3, 1), (2, 4), (4, 2)}

    assert {(r.id1, r.id2) for r in drop_lower(pairs).collect()} == {
        (i, j) for i in range(1, 5) for j in range(1, 5) if i > j
    }


def test_sim_annotate_both_sides(spark, population):
    """Reference invariants (tests/testthat/test-sim_annotate.R:18-41):
    index='both' yields {col}1/{col}2 with equal value domains, and
    equals composing the left and right single-side calls."""
    from matric_spark.operators.metrics import sim_annotate
    from matric_spark.operators.pairs import all_pairs

    pairs = all_pairs(population)
    both = sim_annotate(pairs, population, ["label"])  # both is the default
    assert {"label1", "label2"} <= set(both.columns)
    v1 = {r.label1 for r in both.select("label1").distinct().collect()}
    v2 = {r.label2 for r in both.select("label2").distinct().collect()}
    assert v1 == v2 == {10, 20}

    composed = sim_annotate(
        sim_annotate(pairs, population, ["label"], side="id1"),
        population,
        ["label"],
        side="id2",
    )
    a = sorted(map(tuple, both.collect()))
    b = sorted(map(tuple, composed.select(*both.columns).collect()))
    assert a == b


def test_filter_some_different_drop_some_composition(spark, population):
    """One-call parity with R/sim_filter.R:409-530: theta filter plus
    side-specific drop specs plus left annotation."""
    from matric_spark.operators.pairs import all_pairs
    from matric_spark.operators.sim_filter import filter_some_different_drop_some

    pairs = all_pairs(population)
    drop_label_10 = spark.createDataFrame([(10,)], "label int")
    out = filter_some_different_drop_some(
        pairs,
        population,
        any_different_cols=["label"],
        all_same_cols=["batch"],
        drop_spec_left=drop_label_10,
        annotation_cols=["label"],
    )
    got = {(r.id1, r.id2, r.label1) for r in out.collect()}
    # same batch, different label = {(1,3),(3,1),(2,4),(4,2)}; dropping
    # label-10 rows (ids 1,2) from the LEFT side keeps (3,1),(4,2) only
    assert got == {(3, 1, 20), (4, 2, 20)}

    # all_different superseding any_different (R/sim_filter.R:440-447):
    # any_different ⊇ all_different → any_different dropped entirely
    out2 = filter_some_different_drop_some(
        pairs,
        population,
        any_different_cols=["label", "batch"],
        all_different_cols=["label"],
    )
    got2 = {(r.id1, r.id2) for r in out2.collect()}
    # only constraint left: label differs (batch unconstrained)
    assert got2 == {
        (i, j) for i in range(1, 5) for j in range(1, 5)
        if i != j and (i <= 2) != (j <= 2)
    }


def test_collate_all_different_cols_non_rep(spark):
    """all_different_cols_non_rep restricts the background arm
    (R/sim_collate.R:419-438): same batch, different label AND
    different gene."""
    from matric_spark.operators.collate import sim_collate

    rows = [  # (id, label, gene, batch, is_ref)
        (1, 1, 0, 0, False),
        (2, 2, 0, 0, False),  # same gene as 1 → excluded from non_rep
        (3, 3, 1, 0, False),  # different gene → kept vs 1 and 2
        (4, 0, 9, 0, True),
    ]
    meta = spark.createDataFrame(
        rows, "id long, label int, gene int, batch int, is_ref boolean"
    )
    coll = sim_collate(
        meta,
        reference=F.col("is_ref"),
        all_same_cols_ref=["batch"],
        all_same_cols_rep=["label"],
        all_same_cols_non_rep=["batch"],
        any_different_cols_non_rep=["label"],
        all_different_cols_non_rep=["gene"],
    )
    non_rep = {
        (r.id1, r.id2) for r in coll.filter(F.col("type") == "non_rep").collect()
    }
    assert non_rep == {(1, 3), (3, 1), (2, 3), (3, 2)}


def test_collate_types(spark):
    from matric_spark.operators.collate import sim_collate

    # 2 batches × (ref + 2 groups of 2)
    rows = [
        (i, [float(i), 1.0], lbl, i % 2, lbl == 0)
        for i, lbl in enumerate([0, 0, 1, 1, 2, 2, 1, 2])
    ]
    meta = spark.createDataFrame(
        rows, "id long, features array<double>, label int, batch int, is_ref boolean"
    )
    coll = sim_collate(
        meta,
        reference=F.col("is_ref"),
        all_same_cols_ref=["batch"],
        all_same_cols_rep=["label"],
        all_same_cols_non_rep=["batch"],
        any_different_cols_non_rep=["label"],
    )
    counts = {r.type: r.n for r in coll.groupBy("type").agg(F.count("*").alias("n")).collect()}
    # ref: each non-ref row × the ref row in its batch = 6 pairs
    # rep: within-label directional pairs among non-refs + ref-ref pairs
    # non_rep: same batch, different label, non-ref
    assert counts["ref"] == 6
    # labels for ids 2..7: 1,1,2,2,1,2 → label 1: ids {2,3,6}; label 2: {4,5,7}
    assert counts["rep"] == 6 + 6 + 2  # 3P2 + 3P2 within labels + ref-ref both dirs
    # batch0 non-refs: 2(l1),4(l2),6(l1) → 4 cross-label ordered pairs;
    # batch1 non-refs: 3(l1),5(l2),7(l2) → 4
    assert counts["non_rep"] == 8


def test_collate_ref_subset_drops_rep_ref_pairs(spark):
    """Hand-computed `ref` subset (R/sim_collate.R:277-288, rep_ref pairs
    dropped at :387-395) under both drop_reference values, with and
    without all_same_cols_ref. Reference rows carry two labels, so some
    ref×ref pairs are not rep_ref pairs; a NULL rep_ref key and a NULL
    reference flag never make a rep_ref pair."""
    from matric_spark.operators.collate import sim_collate

    rows = [  # (id, label, plate, is_ref)
        (1, "A", 1, True),
        (2, "A", 1, True),
        (3, "B", 1, True),
        (4, None, 1, True),  # NULL rep_ref key on a reference row
        (5, "X", 1, False),
        (6, "X", 2, False),
        (7, "A", 1, None),  # NULL reference flag, a reference label
        (8, "A", 2, True),
    ]
    meta = spark.createDataFrame(
        rows, "id long, label string, plate int, is_ref boolean"
    )

    def typed(drop_reference, ref_key):
        coll = sim_collate(
            meta,
            reference=F.col("is_ref"),
            all_same_cols_ref=ref_key,
            all_same_cols_rep=["label"],
            all_same_cols_non_rep=["plate"],
            any_different_cols_non_rep=["label"],
            drop_reference=drop_reference,
        )
        out = {"ref": set(), "rep": set(), "non_rep": set()}
        for r in coll.collect():
            out[r.type].add((r.id1, r.id2))
        return out

    refs = {1, 2, 3, 4, 8}
    rep_ref = {(1, 2), (2, 1), (1, 8), (8, 1), (2, 8), (8, 2)}  # label A
    rep = {(5, 6), (6, 5)} | rep_ref

    got = typed(False, ["plate"])
    assert got["ref"] == {
        (1, 3), (1, 4), (2, 3), (2, 4),  # (1, 2), (2, 1) are rep_ref
        (3, 1), (3, 2), (3, 4),
        (4, 1), (4, 2), (4, 3),
        (5, 1), (5, 2), (5, 3), (5, 4),
        (7, 1), (7, 2), (7, 3), (7, 4),
        (6, 8),
    }
    assert got["rep"] == rep
    assert got["non_rep"] == {(1, 5), (2, 5), (3, 5), (7, 5), (8, 6)}

    got = typed(True, ["plate"])
    assert got["ref"] == {(5, 1), (5, 2), (5, 3), (5, 4), (6, 8)}
    assert got["rep"] == rep

    # all_same_cols_ref=None: every left row × every reference row
    got = typed(False, None)
    assert got["ref"] == {
        (i, j) for i in range(1, 9) for j in refs if i != j
    } - rep_ref
    assert len(got["ref"]) == 29
    got = typed(True, None)
    assert got["ref"] == {(i, j) for i in (5, 6) for j in refs}


def test_r_precision_edges(spark):
    """Reference edge cases (tests/testthat/test-sim_metrics.R:360-372):
    label sequences by descending sim → known R-precision."""
    from matric_spark.operators.metrics import sim_metrics

    def run(seq):
        rows = [
            (1, i, "rep" if s == "s" else "non_rep", float(len(seq) - i))
            for i, s in enumerate(seq)
        ]
        df = spark.createDataFrame(rows, "id1 int, id2 int, type string, sim double")
        out = sim_metrics(df, ["id1"]).collect()
        return out[0]["sim_retrieval_r_precision_non_rep_i"] if out else None

    assert run(["s", "b", "b"]) == pytest.approx(1.0)
    assert run(["b", "s", "b"]) == pytest.approx(0.0)
    assert run(["b", "s", "s", "b"]) == pytest.approx(0.5)


def test_metrics_closed_form(spark):
    from matric_spark.operators.metrics import sim_metrics

    rows = [(1, 101, "rep", 0.9), (1, 102, "rep", 0.5),
            (1, 103, "non_rep", 0.8), (1, 104, "non_rep", 0.4),
            (1, 105, "non_rep", 0.2)]
    df = spark.createDataFrame(rows, "id1 int, id2 int, type string, sim double")
    r = sim_metrics(df, ["id1"]).collect()[0]
    sd = math.sqrt(((0.8 - 7 / 15) ** 2 + (0.4 - 7 / 15) ** 2 + (0.2 - 7 / 15) ** 2) / 2)
    assert r["sim_mean_stat_non_rep_i"] == pytest.approx(7 / 15)
    assert r["sim_sd_stat_non_rep_i"] == pytest.approx(sd)
    assert r["sim_scaled_mean_non_rep_i"] == pytest.approx(
        ((0.9 - 7 / 15) / sd + (0.5 - 7 / 15) / sd) / 2
    )
    assert r["sim_ranked_relrank_mean_non_rep_i"] == pytest.approx(0.5)  # (1/3+2/3)/2
    assert r["sim_retrieval_average_precision_non_rep_i"] == pytest.approx(5 / 6)
    assert r["sim_retrieval_r_precision_non_rep_i"] == pytest.approx(0.5)
    assert r["sim_stat_signal_n_non_rep_i"] == 2
    assert r["sim_stat_background_n_non_rep_i"] == 3


def test_relrank_below_background_clamps_to_one(spark):
    from matric_spark.operators.metrics import sim_metrics

    rows = [(1, 1, "rep", 0.1), (1, 2, "non_rep", 0.5), (1, 3, "non_rep", 0.9)]
    df = spark.createDataFrame(rows, "id1 int, id2 int, type string, sim double")
    r = sim_metrics(df, ["id1"]).collect()[0]
    # sim below every background value → NA in R, replaced with 1
    assert r["sim_ranked_relrank_mean_non_rep_i"] == pytest.approx(1.0)


def test_sim_metrics_degenerate_groups_match_oracle(spark):
    """Level-1_0 metrics on Spark and in the DuckDB CTE chain
    (`duck_oracle._metrics_core`) agree bit-for-bit after 6-dp rounding
    on one fixture of degenerate groups. Group 1 is the only check of
    AP's per-value grouping with sig_v > 1 against the oracle. Group 5
    pins the null order of the relrank window: `attach_sim` leaves sim
    NULL for a zero-norm vector, Spark's ascending window puts it FIRST
    (relrank mean 0.833333), DuckDB's default would put it last
    (0.666667)."""
    import struct

    import duckdb

    from matric_spark.duck_oracle import LEVEL10_METRIC_COLS, _metrics_core
    from matric_spark.operators.metrics import sim_annotate, sim_metrics

    groups = {
        # tied signal sims (0.9 twice) and a signal/background tie (0.5);
        # the 'ref' row is outside both cohorts
        1: [("rep", 0.9), ("rep", 0.9), ("rep", 0.5), ("non_rep", 0.5),
            ("non_rep", 0.3), ("non_rep", 0.1), ("ref", 0.95)],
        # constant background: sd 0, so sim_scaled is NULL
        2: [("rep", 0.7), ("rep", 0.4), ("non_rep", 0.2), ("non_rep", 0.2)],
        # a single background row: sd NULL
        3: [("rep", 0.6), ("rep", 0.1), ("non_rep", 0.3)],
        # no background: the group drops out
        4: [("rep", 0.8), ("rep", 0.2)],
        # NULL sims in both cohorts
        5: [("rep", None), ("rep", 0.5), ("non_rep", None),
            ("non_rep", 0.2), ("non_rep", 0.7)],
    }
    sims = [
        (id1, 100 + i, t, s)
        for i, (id1, (t, s)) in enumerate(
            (g, r) for g, rows in groups.items() for r in rows
        )
    ]
    pop = [(i, i % 3) for i in [*groups, *(r[1] for r in sims)]]

    dbl = [c for c in LEVEL10_METRIC_COLS if not c.startswith("sim_stat_")]
    out = sim_metrics(
        sim_annotate(
            spark.createDataFrame(sims, "id1 long, id2 long, type string, sim double"),
            spark.createDataFrame(pop, "id long, label long"),
            ["label"],
        ),
        ["id1", "label1"],
    )
    got = sorted(
        out.select(
            "id1",
            "label1",
            *[(F.round(c, 6) + F.lit(0.0)).alias(c) if c in dbl else c
              for c in LEVEL10_METRIC_COLS],
        ).collect()
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE sims (id1 BIGINT, id2 BIGINT, type VARCHAR, sim DOUBLE)")
    con.executemany("INSERT INTO sims VALUES (?, ?, ?, ?)", sims)
    con.execute("CREATE TABLE pop (id BIGINT, label BIGINT)")
    con.executemany("INSERT INTO pop VALUES (?, ?)", pop)
    rounded = ", ".join(
        f"(round({c}, 6) + 0) AS {c}" if c in dbl else c for c in LEVEL10_METRIC_COLS
    )
    want = sorted(
        con.execute(
            f"WITH {_metrics_core()}\nSELECT id1, label1, {rounded} FROM level10"
        ).fetchall()
    )

    def bits(v):
        return struct.pack("<d", v) if isinstance(v, float) else v

    assert [r[0] for r in got] == [r[0] for r in want] == [1, 2, 3, 5]
    for g, w in zip(got, want):
        for c, a, b in zip(["id1", "label1", *LEVEL10_METRIC_COLS], g, w):
            assert bits(a) == bits(b), (g[0], c, a, b)
    by_id = {r.id1: r for r in got}
    assert by_id[2]["sim_scaled_mean_non_rep_i"] is None
    assert by_id[3]["sim_sd_stat_non_rep_i"] is None
    assert by_id[5]["sim_ranked_relrank_mean_non_rep_i"] == pytest.approx(5 / 6)


def test_bh_adjust(spark):
    from matric_spark.operators.metrics import bh_adjust

    df = spark.createDataFrame(
        [(1, 0.005), (2, 0.04), (3, 0.03)], "id int, p double"
    )
    q = {r.id: r.q_value for r in bh_adjust(df, "p").collect()}
    assert q[2] == pytest.approx(0.04)
    assert q[3] == pytest.approx(0.04)   # min(0.03*3/2, 0.04) = 0.04? no: 0.045 → 0.04
    assert q[1] == pytest.approx(0.015)  # min(0.005*3/1, 0.04) = 0.015


def test_pearson_complete_matches_plain_on_complete_rows(spark, population):
    """On NA-free data pairwise.complete.obs degenerates to plain
    pearson — the two paths (blocked numpy vs codegen expressions) must
    agree to float-reassociation tolerance."""
    from matric_spark.operators.pairs import sim_calculate

    plain = {
        (r.id1, r.id2): r.sim
        for r in sim_calculate(population, "pearson", strata=["label"]).collect()
    }
    comp = {
        (r.id1, r.id2): r.sim
        for r in sim_calculate(
            population, "pearson_complete", strata=["label"]
        ).collect()
    }
    assert set(plain) == set(comp)
    for k, v in plain.items():
        assert comp[k] == pytest.approx(v, abs=1e-12)


def test_pearson_complete_matches_r_semantics_with_nans(spark):
    """Differential vs an independent per-pair formulation of
    stats::cor(use="pairwise.complete.obs") (R/sim_calculate.R:122-124):
    mask to the common non-NaN support, then np.corrcoef on the
    restricted subvectors. Edge cases per R docs: <2 complete pairs →
    NA; zero variance on the common support → NA."""
    import numpy as np

    from matric_spark.operators.pairs import sim_calculate

    nan = float("nan")
    vecs = {
        1: [1.0, 2.0, nan, 4.0, 5.0, 6.0],
        2: [2.0, nan, 3.0, 8.0, 9.0, 1.0],
        3: [nan, 1.0, 1.0, nan, 2.0, 7.0],
        4: [1.0, nan, nan, 2.0, nan, nan],   # tiny common support
        5: [3.0, 3.0, 3.0, 3.0, nan, 3.0],   # constant on any support
    }
    pop = spark.createDataFrame(
        [(i, v, 1) for i, v in vecs.items()],
        "id long, features array<double>, label int",
    )
    got = {
        (r.id1, r.id2): r.sim
        for r in sim_calculate(
            pop, "pearson_complete", strata=["label"]
        ).collect()
    }

    def r_pairwise(a, b):
        a, b = np.asarray(a), np.asarray(b)
        m = ~(np.isnan(a) | np.isnan(b))
        if m.sum() < 2:
            return None
        aa, bb = a[m], b[m]
        if aa.std() == 0 or bb.std() == 0:
            return None
        return float(np.corrcoef(aa, bb)[0, 1])

    assert len(got) == 20  # 5P2 ordered pairs
    for (i, j), sim in got.items():
        want = r_pairwise(vecs[i], vecs[j])
        if want is None:
            assert sim is None or math.isnan(sim), (i, j, sim)
        else:
            assert sim == pytest.approx(want, abs=1e-12), (i, j)


def _r_rank_avg(a):
    """Independent average-tie rank (R's rank(ties.method='average'))
    via pandas — the oracle for the vectorized bincount formulation."""
    import pandas as pd

    return pd.Series(a).rank(method="average").to_numpy()


def test_masked_avg_ranks_matches_pandas():
    """_masked_avg_ranks vs pandas .rank on each row's compacted
    support — ties, singletons, empty support."""
    import numpy as np

    from matric_spark.operators.sparse import _masked_avg_ranks

    nan = np.nan
    x = np.array(
        [
            [3.0, 1.0, 2.0, 1.0, 5.0],
            [2.0, 2.0, 2.0, 2.0, 2.0],
            [nan, 7.0, nan, -1.0, 0.0],
            [nan, nan, nan, nan, nan],
        ]
    )
    m = ~np.isnan(x)
    # also mask a VALID coordinate (partner-row NaN case)
    m[0, 4] = False
    got = _masked_avg_ranks(x, m)
    for i in range(x.shape[0]):
        vals = x[i][m[i]]
        want = _r_rank_avg(vals)
        np.testing.assert_allclose(got[i][m[i]], want)
        assert np.isnan(got[i][~m[i]]).all()


def test_rank_complete_kernels_match_plain_on_complete_rows(spark, population):
    """On NA-free data pairwise.complete.obs degenerates to the plain
    kernel for spearman and kendall too (same contract as the pearson
    twin above): blocked numpy path vs the codegen/blocked plain path."""
    from matric_spark.operators.pairs import sim_calculate

    for base, comp in (
        ("spearman", "spearman_complete"),
        ("kendall", "kendall_complete"),
    ):
        plain = {
            (r.id1, r.id2): r.sim
            for r in sim_calculate(population, base, strata=["label"]).collect()
        }
        got = {
            (r.id1, r.id2): r.sim
            for r in sim_calculate(population, comp, strata=["label"]).collect()
        }
        assert set(plain) == set(got)
        for k, v in plain.items():
            assert got[k] == pytest.approx(v, abs=1e-12), (base, k)


def test_spearman_complete_matches_r_semantics_with_nans(spark):
    """Differential vs an independent per-pair formulation of
    stats::cor(method="spearman", use="pairwise.complete.obs"): mask to
    the common support, re-rank BOTH compacted subvectors with pandas
    average-tie ranks (ranks are per-PAIR — R recomputes them for every
    partner mask), then np.corrcoef on the ranks. Edges: <2 complete
    coordinates → NA; constant ranks on the support → NA."""
    import numpy as np

    from matric_spark.operators.pairs import sim_calculate

    nan = float("nan")
    vecs = {
        1: [1.0, 2.0, nan, 4.0, 5.0, 6.0],
        2: [2.0, nan, 3.0, 8.0, 9.0, 1.0],
        3: [nan, 1.0, 1.0, nan, 2.0, 7.0],
        4: [1.0, nan, nan, 2.0, nan, nan],   # tiny common support
        5: [3.0, 3.0, 3.0, 3.0, nan, 3.0],   # constant on any support
        6: [9.0, 2.0, 2.0, 2.0, 1.0, 4.0],   # heavy ties
    }
    pop = spark.createDataFrame(
        [(i, v, 1) for i, v in vecs.items()],
        "id long, features array<double>, label int",
    )
    got = {
        (r.id1, r.id2): r.sim
        for r in sim_calculate(
            pop, "spearman_complete", strata=["label"]
        ).collect()
    }

    def r_pairwise(a, b):
        a, b = np.asarray(a), np.asarray(b)
        m = ~(np.isnan(a) | np.isnan(b))
        if m.sum() < 2:
            return None
        ra, rb = _r_rank_avg(a[m]), _r_rank_avg(b[m])
        if ra.std() == 0 or rb.std() == 0:
            return None
        return float(np.corrcoef(ra, rb)[0, 1])

    assert len(got) == 30  # 6P2 ordered pairs
    for (i, j), sim in got.items():
        want = r_pairwise(vecs[i], vecs[j])
        if want is None:
            assert sim is None or math.isnan(sim), (i, j, sim)
        else:
            assert sim == pytest.approx(want, abs=1e-12), (i, j)


def test_kendall_complete_matches_r_semantics_with_nans(spark):
    """Differential vs a naive per-index-pair tau-b over the common
    non-NaN support (stats::cor(method="kendall",
    use="pairwise.complete.obs")). Edges as above."""
    import numpy as np

    from matric_spark.operators.pairs import sim_calculate

    nan = float("nan")
    vecs = {
        1: [1.0, 2.0, nan, 4.0, 5.0, 6.0],
        2: [2.0, nan, 3.0, 8.0, 9.0, 1.0],
        3: [nan, 1.0, 1.0, nan, 2.0, 7.0],
        4: [1.0, nan, nan, 2.0, nan, nan],
        5: [3.0, 3.0, 3.0, 3.0, nan, 3.0],
        6: [9.0, 2.0, 2.0, 2.0, 1.0, 4.0],
    }
    pop = spark.createDataFrame(
        [(i, v, 1) for i, v in vecs.items()],
        "id long, features array<double>, label int",
    )
    got = {
        (r.id1, r.id2): r.sim
        for r in sim_calculate(
            pop, "kendall_complete", strata=["label"]
        ).collect()
    }

    def r_pairwise(a, b):
        a, b = np.asarray(a), np.asarray(b)
        m = ~(np.isnan(a) | np.isnan(b))
        aa, bb = a[m], b[m]
        n = len(aa)
        num = dx = dy = 0
        for i in range(n):
            for j in range(i + 1, n):
                sx = np.sign(aa[i] - aa[j])
                sy = np.sign(bb[i] - bb[j])
                num += sx * sy
                dx += sx != 0
                dy += sy != 0
        if dx == 0 or dy == 0:
            return None
        return num / math.sqrt(dx * dy)

    assert len(got) == 30
    for (i, j), sim in got.items():
        want = r_pairwise(vecs[i], vecs[j])
        if want is None:
            assert sim is None or math.isnan(sim), (i, j, sim)
        else:
            assert sim == pytest.approx(want, abs=1e-12), (i, j)


def test_masked_avg_ranks_inf_values():
    """A legitimate +inf VALUE must not tie with masked slots (review
    finding r5: an inf sentinel merged them) — ranks on the compacted
    support must match pandas exactly, inf included."""
    import numpy as np

    from matric_spark.operators.sparse import _masked_avg_ranks

    inf, nan = np.inf, np.nan
    x = np.array(
        [
            [1.0, inf, 2.0, 7.0],    # valid inf + a masked slot
            [inf, inf, 3.0, nan],    # two valid infs tie with each other
            [-inf, 1.0, nan, inf],   # -inf sorts first, +inf last
        ]
    )
    m = np.array(
        [
            [True, True, True, False],
            [True, True, True, False],
            [True, True, False, True],
        ]
    )
    got = _masked_avg_ranks(x, m)
    for i in range(x.shape[0]):
        want = _r_rank_avg(x[i][m[i]])
        np.testing.assert_allclose(got[i][m[i]], want, err_msg=str(i))
        assert np.isnan(got[i][~m[i]]).all()
