"""Skew robustness: the north rule calls out Zipfian conversation
length. One pathological conversation must neither break correctness
nor concentrate per-key aggregation (the hash-first key count is exact
on a hot-key table)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from matric_spark.checks.suite import SuiteConfig, run_verdicts


@pytest.fixture(scope="module")
def skewed_transcripts(spark):
    """One 20k-turn conversation + 200 tiny ones, plus a hot duplicated
    key repeated 500× (the crawler-bug case from checks/uniqueness.py)."""
    t0 = dt.datetime(2024, 3, 1)
    monster = spark.range(20000).select(
        F.lit("MONSTER").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.concat(F.lit("turn "), F.col("id")).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        (F.lit(t0) + F.make_interval(secs=F.col("id").cast("double"))).alias("ts"),
        F.lit(1).alias("part_month"),
    )
    small = spark.range(200).select(
        F.concat(F.lit("c"), F.col("id")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("user").alias("role"),
        F.lit("hi").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(t0).alias("ts"),
        F.lit(2).alias("part_month"),
    )
    hot_dup = spark.range(500).select(
        F.lit("HOT").alias("conv_id"),
        F.lit(7).alias("turn_idx"),  # same key 500×
        F.lit("user").alias("role"),
        F.lit("dup").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(t0).alias("ts"),
        F.lit(2).alias("part_month"),
    )
    return monster.unionByName(small).unionByName(hot_dup).repartition(16)


def test_uniqueness_under_hot_key(spark, skewed_transcripts):
    from matric_spark.checks.uniqueness import duplicate_keys

    key = ["conv_id", "turn_idx"]
    got = sorted(map(tuple, duplicate_keys(skewed_transcripts, key).collect()))
    assert got == [("HOT", 7, 500)]


def test_suite_correct_under_skew(spark, skewed_transcripts):
    v = {(r.part, r.check_id): (r.metric, r.status)
         for r in run_verdicts(skewed_transcripts, SuiteConfig()).collect()}
    assert v[(2, "uniqueness")] == (500.0, "fail")
    assert v[(1, "uniqueness")][1] == "pass"
    assert v[(1, "seq_order")] == (0.0, "pass")  # monster conv is ordered
    assert v[(1, "null_text")][1] == "pass"
    # drift between the monster partition and the tiny-texts partition
    assert v[(1, "drift_ks")][1] == "fail" and v[(2, "drift_ks")][1] == "fail"


def test_ngram_jaccard_stop_shingle_cut_bounds_hot_fanout(spark):
    """One boilerplate sentence in 50% of 2,000 docs: the default
    stop-shingle cut must (a) keep the candidate join sub-quadratic —
    the boilerplate shingles alone would be 3·C(1000,2) ≈ 1.5M candidate
    rows — and (b) still find the genuinely similar pair."""
    from matric_spark.operators.dedup import ngram_jaccard_pairs, shingle_sets

    boiler = "click here to subscribe to our newsletter today"
    rows = []
    for i in range(2000):
        uniq = f"document {i} body token{i}a token{i}b token{i}c token{i}d"
        rows.append((i, (uniq + " " + boiler) if i % 2 == 0 else uniq))
    # one planted near-dup pair that shares non-boilerplate shingles
    rows.append((9001, "the quick brown fox jumps over the lazy dog"))
    rows.append((9002, "the quick brown fox jumps over the lazy cat"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    got = {(r.id1, r.id2) for r in pairs.collect()}
    assert (9001, 9002) in got
    # no boilerplate-only pair survives: docs 0 and 2 share ONLY the
    # boilerplate shingles, which the cut removed
    assert not any(i1 < 2000 and i2 < 2000 for i1, i2 in got)

    # the cut itself is the fan-out bound: post-cut, no shingle has
    # df > cutoff, so per-shingle candidate fan-out is C(cutoff, 2) max
    sets = shingle_sets(docs)
    hot_df = (
        sets.groupBy("h").count().agg(F.max("count").alias("m")).collect()[0].m
    )
    assert hot_df >= 1000  # the plant really is pathological


def test_collate_drop_group_and_keep_some(spark):
    """matric step 0 (drop EMPTY) + the filter composition."""
    from matric_spark.operators.collate import sim_collate
    from matric_spark.operators.pairs import all_pairs
    from matric_spark.operators.sim_filter import filter_all_same_keep_some

    rows = [
        (1, 0, 0, False, "EMPTY"), (2, 0, 0, False, "ok"),
        (3, 0, 1, False, "ok"), (4, 0, 1, True, "ok"),
        (5, 1, 0, False, "ok"), (6, 1, 0, False, "ok"),
    ]
    meta = spark.createDataFrame(
        rows, "id long, label int, batch int, is_ref boolean, well string"
    )
    spec = spark.createDataFrame([("EMPTY",)], "well string")
    coll = sim_collate(
        meta,
        reference=F.col("is_ref"),
        all_same_cols_ref=["batch"],
        all_same_cols_rep=["label"],
        all_same_cols_non_rep=["batch"],
        any_different_cols_non_rep=["label"],
        drop_group_spec=spec,
    )
    ids = {r.id1 for r in coll.collect()} | {r.id2 for r in coll.collect()}
    assert 1 not in ids  # EMPTY row gone from every subset, both sides

    # composition: pairs same-batch whose id2 is the reference, id1 not
    kept = filter_all_same_keep_some(
        all_pairs(meta), meta, ["batch"],
        keep_spec=spark.createDataFrame([(True,)], "is_ref boolean"),
        drop_spec=spark.createDataFrame([(True,)], "is_ref boolean"),
    )
    got = {(r.id1, r.id2) for r in kept.collect()}
    assert got == {(3, 4)}  # only batch-1 non-ref × ref pair survives
