"""Tests for connected-components clustering, deterministic sampling/
splitting, and the as-of join."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from matric_spark.operators import graph
from matric_spark.operators.events import asof_join
from matric_spark.operators.graph import connected_components, dedup_clusters
from matric_spark.operators.sampling import (
    hash_sample,
    hash_split,
    hash_uniform,
    stratified_hash_sample,
)


def _brute_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find ground truth: node -> min id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


@pytest.fixture(params=["distributed", "local"])
def cc_path(request, monkeypatch):
    """Drive connected_components down each path: an edge budget of -1
    sends every pair list to the distributed loop; the default budget
    solves these small graphs by driver-side union-find."""
    if request.param == "distributed":
        monkeypatch.setattr(graph, "_LOCAL_EDGES", -1)
    return request.param


# cc_path re-stated here (indirect) only to keep the edges-first test ids
@pytest.mark.parametrize("cc_path", ["distributed", "local"], indirect=True)
@pytest.mark.parametrize(
    "edges",
    [
        # long chain (worst case for plain propagation — exercises
        # pointer jumping), plus a separate triangle and a 2-clique
        [(i, i + 1) for i in range(0, 40)] + [(100, 101), (101, 102), (100, 102), (200, 201)],
        # star with high center, reversed edge order
        [(50, i) for i in range(10)],
        # duplicate + self edges must be ignored
        [(1, 2), (2, 1), (3, 3), (2, 3), (2, 3)],
    ],
)
def test_connected_components_vs_union_find(spark, edges, cc_path):
    df = spark.createDataFrame(edges, ["id1", "id2"])
    got = {r["v"]: r["cluster_id"] for r in connected_components(df).collect()}
    want = _brute_components([(a, b) for a, b in edges if a != b])
    assert got == want


def test_connected_components_auto_switches_to_distributed(spark, monkeypatch):
    """Above the edge budget the path must fall through to the
    distributed loop and still match union-find."""
    monkeypatch.setattr(graph, "_LOCAL_EDGES", 10)
    edges = [(i, i + 1) for i in range(0, 300, 2)] + [(7, 207)]
    df = spark.createDataFrame(edges, ["id1", "id2"])
    got = {r["v"]: r["cluster_id"] for r in connected_components(df).collect()}
    assert got == _brute_components(edges)


def test_connected_components_string_ids_deep_chain(spark, cc_path):
    """String node ids with diameter >> 3: the old sum-based convergence
    detector cast labels to decimal, got NULL on strings, and silently
    stopped after one round — the changed-count detector must converge
    the full chain. cluster_id = lexicographic min."""
    edges = [(f"doc{i:04d}", f"doc{i+1:04d}") for i in range(40)] + [
        ("zzz1", "zzz2")
    ]
    df = spark.createDataFrame(edges, ["id1", "id2"])
    got = {r["v"]: r["cluster_id"] for r in connected_components(df).collect()}
    for i in range(41):
        assert got[f"doc{i:04d}"] == "doc0000"
    assert got["zzz1"] == got["zzz2"] == "zzz1"


def test_connected_components_self_loop_only_node_is_singleton(spark, cc_path):
    edges = [(1, 2), (9, 9)]
    df = spark.createDataFrame(edges, ["id1", "id2"])
    got = {r["v"]: r["cluster_id"] for r in connected_components(df).collect()}
    assert got == {1: 1, 2: 1, 9: 9}


def test_dedup_clusters_sizes(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id1", "id2"]
    )
    out = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"])
        for r in dedup_clusters(pairs).collect()
    }
    assert out == {
        1: (1, 3), 2: (1, 3), 3: (1, 3), 10: (10, 2), 11: (10, 2)
    }


# ------------------------------------------------------------- sampling


def test_hash_split_disjoint_complete_deterministic(spark):
    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    out = hash_split(df, ["doc_id"], {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 2000  # complete + disjoint
    assert 1500 < counts["train"] < 1700  # ~1600
    assert 120 < counts["val"] < 280 and 120 < counts["test"] < 280
    # deterministic across invocations and independent of row order
    again = hash_split(
        df.orderBy(F.rand(7)), ["doc_id"],
        {"train": 0.8, "val": 0.1, "test": 0.1},
    )
    assert out.exceptAll(again).count() == 0
    # a different salt re-draws: some rows must move
    moved = hash_split(
        df, ["doc_id"], {"train": 0.8, "val": 0.1, "test": 0.1},
        salt="split-v2",
    )
    assert out.exceptAll(moved).count() > 0


def test_hash_sample_fraction_and_subset(spark):
    df = spark.range(5000).withColumnRenamed("id", "doc_id")
    s10 = hash_sample(df, ["doc_id"], 0.1)
    n = s10.count()
    assert 380 < n < 620  # ~500
    # nesting: a 5% sample with the same salt is a subset of the 10%
    s5 = hash_sample(df, ["doc_id"], 0.05)
    assert s5.exceptAll(s10).count() == 0


def test_token_budget_mix_rates_and_expectation(spark):
    from matric_spark.operators.sampling import token_budget_mix

    # 2000 docs of 10 tokens each per lang → 20k tokens per stratum
    rows = [(i, "en" if i % 2 else "de", 10) for i in range(4000)]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "n_tokens"])
    out = token_budget_mix(
        df, ["doc_id"], "lang", {"en": 5000.0, "de": 40000.0}
    )
    rates = {r["lang"]: r["mix_rate"] for r in
             out.select("lang", "mix_rate").distinct().collect()}
    assert rates["de"] == 1.0                      # budget > corpus → clamp
    assert rates["en"] == pytest.approx(0.25)      # 5k of 20k tokens
    kept = {r["lang"]: r["n"] for r in
            out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert kept["de"] == 2000                      # rate 1 keeps everything
    # expected sampled tokens = budget: 500 docs ≈ 5000 tokens
    assert 380 < kept["en"] < 620
    # unbudgeted strata drop entirely
    df2 = df.withColumn("lang", F.lit("fr"))
    assert token_budget_mix(df2, ["doc_id"], "lang", {"en": 1.0}).count() == 0


def test_stratified_sample_per_stratum(spark):
    rows = [(i, "en" if i % 2 else "de") for i in range(4000)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = stratified_hash_sample(
        df, ["doc_id"], "lang", {"en": 1.0, "de": 0.25}
    )
    counts = {r["lang"]: r["n"] for r in
              out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts["en"] == 2000  # frac 1.0 keeps everything
    assert 380 < counts["de"] < 620  # ~500
    # unlisted strata default to dropped
    df2 = df.withColumn("lang", F.lit("fr"))
    assert stratified_hash_sample(
        df2, ["doc_id"], "lang", {"en": 1.0}
    ).count() == 0


def test_hash_uniform_key_separator(spark):
    # ("ab","c") and ("a","bc") must draw differently
    df = spark.createDataFrame([("ab", "c"), ("a", "bc")], ["k1", "k2"])
    us = [r["u"] for r in
          df.select(hash_uniform(["k1", "k2"]).alias("u")).collect()]
    assert us[0] != us[1]
    assert all(0.0 <= u < 1.0 for u in us)


def test_hash_uniform_null_key_positions_draw_independently(spark):
    """concat_ws skips NULLs, so without the \\x1enull sentinel the keys
    ('a', NULL, 'b'), ('a', 'b', NULL) and ('a', 'b', '') would collide
    into identical draws — and the DuckDB twin must reproduce the
    sentinel'd draws bit-for-bit including on NULL keys."""
    import duckdb

    from matric_spark.duck_oracle import hash_uniform_sql

    rows = [("a", None, "b"), ("a", "b", None), ("a", "b", ""), (None, None, None)]
    df = spark.createDataFrame(rows, ["k1", "k2", "k3"])
    got = [
        r["u"]
        for r in df.select(
            hash_uniform(["k1", "k2", "k3"], salt="s").alias("u")
        ).collect()
    ]
    assert len(set(got)) == len(got)  # all distinct
    con = duckdb.connect()
    con.execute("CREATE TABLE t (k1 VARCHAR, k2 VARCHAR, k3 VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    want = [
        r[0]
        for r in con.execute(
            f"SELECT {hash_uniform_sql(['k1', 'k2', 'k3'], 's')} FROM t"
        ).fetchall()
    ]
    assert got == want


# -------------------------------------------------------------- as-of


def _ts(s: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)


def test_asof_join_backward(spark):
    left = spark.createDataFrame(
        [(1, _ts(10), "l0"), (1, _ts(25), "l1"), (2, _ts(5), "l2"),
         (3, _ts(50), "l3")],
        ["k", "ts", "tag"],
    )
    right = spark.createDataFrame(
        [(1, _ts(5), 1.0), (1, _ts(20), 2.0), (1, _ts(30), 3.0),
         (2, _ts(5), 9.0)],
        ["k", "ts", "v"],
    )
    out = {
        r["tag"]: (r["ts_r"], r["v_r"])
        for r in asof_join(left, right, on=["k"]).collect()
    }
    assert out["l0"] == (_ts(5), 1.0)
    assert out["l1"] == (_ts(20), 2.0)
    assert out["l2"] == (_ts(5), 9.0)  # inclusive: equal ts matches
    assert out["l3"] == (None, None)  # key 3 has no right rows
    # strict mode: l2's equal-ts right row no longer matches
    strict = {
        r["tag"]: (r["ts_r"], r["v_r"])
        for r in asof_join(left, right, on=["k"], strict=True).collect()
    }
    assert strict["l2"] == (None, None)
    assert strict["l0"] == (_ts(5), 1.0)


def test_asof_join_tie_and_nulls(spark):
    left = spark.createDataFrame([(1, _ts(10), "x")], ["k", "ts", "tag"])
    right = spark.createDataFrame(
        [(1, _ts(10), 1.0), (1, _ts(10), 5.0), (None, _ts(1), 9.0)],
        ["k", "ts", "v"],
    )
    out = asof_join(left, right, on=["k"]).collect()
    assert len(out) == 1
    # duplicate right (key, ts): deterministic max-payload resolution
    assert out[0]["v_r"] == 5.0


def test_asof_join_forward(spark):
    left = spark.createDataFrame(
        [(1, _ts(10), "l0"), (1, _ts(25), "l1"), (2, _ts(99), "l2")],
        ["k", "ts", "tag"],
    )
    right = spark.createDataFrame(
        [(1, _ts(5), 1.0), (1, _ts(10), 2.0), (1, _ts(30), 3.0)],
        ["k", "ts", "v"],
    )
    out = {
        r["tag"]: (r["ts_r"], r["v_r"])
        for r in asof_join(
            left, right, on=["k"], direction="forward"
        ).collect()
    }
    assert out["l0"] == (_ts(10), 2.0)  # inclusive: equal ts matches
    assert out["l1"] == (_ts(30), 3.0)
    assert out["l2"] == (None, None)
    strict = {
        r["tag"]: r["v_r"]
        for r in asof_join(
            left, right, on=["k"], direction="forward", strict=True
        ).collect()
    }
    assert strict["l0"] == 3.0  # equal ts excluded -> next is ts 30


def test_interval_join_vs_brute_force(spark):
    import random

    rnd = random.Random(11)
    ivals = []
    for i in range(80):
        s = rnd.randrange(3000)
        ivals.append((rnd.randrange(4), _ts(s), _ts(s + rnd.randrange(600)), i))
    points = [(rnd.randrange(4), _ts(rnd.randrange(3600)), float(j))
              for j in range(300)]
    ldf = spark.createDataFrame(
        ivals, ["k", "session_start", "session_end", "i"]
    )
    rdf = spark.createDataFrame(points, ["k", "ts", "v"])
    from matric_spark.operators.events import interval_join

    # bucket width much smaller than spans to exercise multi-bucket
    # explode + the no-duplicates property
    got = sorted(
        (r["i"], r["v"])
        for r in interval_join(ldf, rdf, ["k"], bucket_minutes=2).collect()
    )
    want = sorted(
        (i, v)
        for k, s, e, i in ivals
        for rk, ts, v in points
        if rk == k and s <= ts <= e
    )
    assert got == want


def test_asof_join_matches_pandas_brute_force(spark):
    import random

    rnd = random.Random(7)
    left = [(rnd.randrange(5), _ts(rnd.randrange(1000)), i)
            for i in range(200)]
    right = [(rnd.randrange(5), _ts(rnd.randrange(1000)), float(i))
             for i in range(300)]
    ldf = spark.createDataFrame(left, ["k", "ts", "i"])
    rdf = spark.createDataFrame(right, ["k", "ts", "v"])
    got = {r["i"]: r["v_r"]
           for r in asof_join(ldf, rdf, on=["k"]).collect()}
    for k, ts, i in left:
        cands = [(rts, v) for rk, rts, v in right if rk == k and rts <= ts]
        want = max(cands)[1] if cands else None
        assert got[i] == want, (k, ts, i)


def test_rolling_stats_window_membership(spark):
    from matric_spark.operators.events import rolling_stats

    t0 = dt.datetime(2024, 1, 1)
    d = dt.timedelta
    rows = [
        (1, t0, 10, "view", 1.0),
        (2, t0 + d(days=3), 10, "view", 2.0),
        (3, t0 + d(days=7), 10, "view", 4.0),     # exactly 7d after e1: in
        (4, t0 + d(days=7, seconds=1), 10, "view", 8.0),  # e1 now out
        (5, t0 + d(days=30), 10, "view", 16.0),   # alone in its window
        (6, t0, 99, "view", 100.0),               # other user: independent
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double",
    )
    out = {r.event_id: r for r in rolling_stats(ev).collect()}
    assert (out[1].roll_n, out[1].roll_sum) == (1, 1.0)
    assert (out[2].roll_n, out[2].roll_sum) == (2, 3.0)
    assert (out[3].roll_n, out[3].roll_sum) == (3, 7.0)   # inclusive 7d edge
    assert (out[4].roll_n, out[4].roll_sum) == (3, 14.0)  # e1 aged out
    assert (out[5].roll_n, out[5].roll_sum) == (1, 16.0)
    assert (out[6].roll_n, out[6].roll_sum) == (1, 100.0)
    assert out[3].roll_mean == pytest.approx(7.0 / 3)


def test_rolling_stats_same_second_ties_are_peers(spark):
    from matric_spark.operators.events import rolling_stats

    t0 = dt.datetime(2024, 1, 1)
    us = dt.timedelta(microseconds=500)
    # two events in the same integer second: RANGE frame makes them
    # peers — each sees both, regardless of intra-second order
    ev = spark.createDataFrame(
        [(1, t0, 5, "view", 1.0), (2, t0 + us, 5, "view", 2.0)],
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double",
    )
    out = {r.event_id: r for r in rolling_stats(ev).collect()}
    assert out[1].roll_n == 2 and out[2].roll_n == 2
    assert out[1].roll_sum == out[2].roll_sum == 3.0


def test_emb_dedup_clusters_composition(spark):
    """Embedding-space dedup clusters: near-dup pairs (cosine >= t) →
    connected components with min-id canonical + sizes."""
    from matric_spark.operators.ann import embedding_near_dup
    from matric_spark.operators.graph import dedup_clusters

    rows = [
        (0, [1.0, 0.0]), (1, [0.999, 0.01]),   # cluster {0,1,2}: 0~1, 1~2
        (2, [0.99, 0.05]),
        (10, [0.0, 1.0]), (11, [0.01, 0.999]), # cluster {10,11}
        (20, [-1.0, 0.0]),                     # no partner
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = embedding_near_dup(emb, 0.99).select("id1", "id2")
    out = {r.doc_id: (r.cluster_id, r.cluster_size)
           for r in dedup_clusters(pairs).collect()}
    assert out[0] == (0, 3) and out[1] == (0, 3) and out[2] == (0, 3)
    assert out[10] == (10, 2) and out[11] == (10, 2)
    assert 20 not in out  # pairless vectors are absent, not singletons
