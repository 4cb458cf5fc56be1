"""Resume/checkpoint differential tests (SURVEY §5 technique 3, applied
to the state layer): crash-resume ≡ fresh ≡ one-shot batch suite."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from matric_spark.checks.suite import SuiteConfig, run_verdicts
from matric_spark.state import StateStore, input_fingerprint, run_incremental


def _rows(df):
    return sorted(
        (r.part, r.check_id, round(r.metric, 9), r.status) for r in df.collect()
    )


@pytest.fixture()
def cfg():
    return SuiteConfig()


def test_fresh_incremental_equals_batch(spark, tiny_transcripts, tmp_path, cfg):
    out = run_incremental(
        spark, tiny_transcripts, str(tmp_path / "state"), "run1", "fp1", cfg
    )
    assert _rows(out) == _rows(run_verdicts(tiny_transcripts, cfg))


def test_crash_resume_equals_fresh(spark, tiny_transcripts, tmp_path, cfg):
    sd = str(tmp_path / "state")
    # crash after the first partition
    partial = run_incremental(
        spark, tiny_transcripts, sd, "run1", "fp1", cfg, fail_after_partitions=1
    )
    assert {r.part for r in partial.select("part").distinct().collect()} == {1}
    # resume finishes the rest; result equals the batch suite
    out = run_incremental(spark, tiny_transcripts, sd, "run2", "fp1", cfg)
    assert _rows(out) == _rows(run_verdicts(tiny_transcripts, cfg))


def test_crash_before_log_commit_resumes(
    spark, tiny_transcripts, tmp_path, cfg, monkeypatch
):
    """A crash in the gap between a run's state appends and its log
    append (the commit point) leaves state rows that no log row commits.
    The partitions stay incomplete, the resume recomputes them under its
    own run_id, and the assembly counts only committed rows."""
    sd = str(tmp_path / "state")
    append = StateStore._append

    def crash_on_log(self, df, name, fingerprint):
        if name == "log":
            raise RuntimeError("crash before commit")
        append(self, df, name, fingerprint)

    monkeypatch.setattr(StateStore, "_append", crash_on_log)
    with pytest.raises(RuntimeError, match="crash before commit"):
        run_incremental(spark, tiny_transcripts, sd, "run1", "fp1", cfg)
    monkeypatch.setattr(StateStore, "_append", append)

    store = StateStore(spark, sd)
    assert store.completed_partitions("fp1") == []
    assert store._read("local").count() == 2  # uncommitted, not pruned
    out = run_incremental(spark, tiny_transcripts, sd, "run2", "fp1", cfg)
    assert _rows(out) == _rows(run_verdicts(tiny_transcripts, cfg))


def test_resume_skips_completed_partitions(spark, tiny_transcripts, tmp_path, cfg):
    sd = str(tmp_path / "state")
    run_incremental(spark, tiny_transcripts, sd, "run1", "fp1", cfg)
    store = StateStore(spark, sd)
    log_before = store._read("log").count()
    # nothing remaining → no new log rows
    run_incremental(spark, tiny_transcripts, sd, "run2", "fp1", cfg)
    assert store._read("log").count() == log_before
    assert sorted(store.completed_partitions("fp1")) == [1, 2]


def test_changed_fingerprint_revalidates(spark, tiny_transcripts, tmp_path, cfg):
    sd = str(tmp_path / "state")
    run_incremental(spark, tiny_transcripts, sd, "run1", "fpA", cfg)
    store = StateStore(spark, sd)
    assert store.completed_partitions("fpB") == []  # new lineage → all redo
    out = run_incremental(spark, tiny_transcripts, sd, "run2", "fpB", cfg)
    assert _rows(out) == _rows(run_verdicts(tiny_transcripts, cfg))


def test_cross_partition_duplicates_found_incrementally(spark, tmp_path, cfg):
    """A key duplicated ACROSS partitions (one row in each) must still be
    flagged when the partitions were validated in separate runs — the
    key-index merge, not any single scan, finds it."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("X", 0, "user", "a", None, t0, 1),
        ("X", 0, "user", "b", None, t0, 2),  # same key, other partition
        ("Y", 0, "user", "c", None, t0, 2),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp, part_month int",
    )
    sd = str(tmp_path / "state")
    run_incremental(spark, df, sd, "r1", "fp", cfg, fail_after_partitions=1)
    out = run_incremental(spark, df, sd, "r2", "fp", cfg)
    uniq = {r.part: r.metric for r in out.filter(F.col("check_id") == "uniqueness").collect()}
    assert uniq == {1: 1.0, 2: 1.0}  # both halves of the dup pair flagged
    assert _rows(out) == _rows(run_verdicts(df, cfg))


def test_degenerate_rows_agree_across_paths(spark, tmp_path, cfg):
    """One definition per row check: on NULL role/tool/text/ts, a NULL
    turn_idx pair, a real duplicate key and NULL-conv_id rows out of
    order ACROSS two partitions, the batch verdicts, the quarantine
    summary and a crash-after-one-partition resume report the same
    count for every check and partition, and each violation-row set
    has as many rows as its verdicts sum to."""
    import datetime as dt

    from matric_spark.checks.quarantine import quarantine_summary
    from matric_spark.checks.suite import run_violations

    t0 = dt.datetime(2024, 1, 1)

    def r(conv, idx, role, text, tool, sec, part):
        ts = None if sec is None else t0 + dt.timedelta(seconds=sec)
        return (conv, idx, role, text, tool, ts, part)

    rows = [
        r("A", 0, "system", "s", None, 0, 1),
        r("A", 1, None, "u", None, 10, 1),  # NULL role
        r("A", 2, "assistant", None, None, 20, 1),  # NULL text
        r("A", 3, "tool", "o", "telnet", None, 1),  # bad tool, NULL ts
        r("D", 0, "user", "d1", None, 0, 1),  # real duplicate key
        r("D", 0, "user", "d2", None, 1, 1),
        r("E", None, "user", "e1", None, 0, 1),  # NULL turn_idx pair
        r("E", None, "user", "e2", None, 1, 1),
        r(None, 0, "user", "n0", None, 100, 1),  # NULL conv_id ...
        r(None, 1, "user", "n1", None, 50, 2),  # ... backwards in part 2
        r("B", 0, "user", "b", None, 0, 2),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, part_month int",
    )

    # row check -> its quarantine reason
    reason = {
        "ref_role": "bad_role", "ref_tool": "bad_tool",
        "null_text": "null_text", "null_ts": "null_ts",
        "uniqueness": "dup_key", "seq_order": "ooo",
    }

    def metrics(verdicts):
        return {
            (r.part, r.check_id): r.metric
            for r in verdicts.collect()
            if r.check_id in reason
        }

    batch = metrics(run_verdicts(df, cfg))
    sd = str(tmp_path / "state")
    run_incremental(spark, df, sd, "r1", "fp", cfg, fail_after_partitions=1)
    resumed = metrics(run_incremental(spark, df, sd, "r2", "fp", cfg))
    quarantined = {
        (s.part, c): float(s[f"n_{q}"])
        for s in quarantine_summary(df, cfg).collect()
        for c, q in reason.items()
    }
    assert batch.keys() == quarantined.keys() == resumed.keys()
    disagree = {
        k: (batch[k], quarantined[k], resumed[k])
        for k in batch
        if not batch[k] == quarantined[k] == resumed[k]
    }
    assert disagree == {}  # (batch, quarantine, resume) per (part, check)
    assert batch[(1, "ref_role")] == 1 and batch[(2, "seq_order")] == 1
    assert batch[(1, "uniqueness")] == 2  # the NULL-key pair is excluded
    for check, viol in run_violations(df, cfg).items():
        total = sum(m for (_, c), m in batch.items() if c == check)
        assert viol.count() == total, check


def test_input_fingerprint_changes_with_data(tmp_path):
    d = tmp_path / "data"
    d.mkdir()
    (d / "a.parquet").write_bytes(b"aaa")
    f1 = input_fingerprint(str(d))
    assert f1 == input_fingerprint(str(d))
    (d / "a.parquet").write_bytes(b"aaab")
    assert input_fingerprint(str(d)) != f1


# ------------------------------------------------------- Iceberg backend


def _iceberg_jars_present() -> bool:
    from matric_spark.session import _iceberg_available

    return _iceberg_available()


@pytest.mark.skipif(
    not _iceberg_jars_present(),
    reason="iceberg-spark-runtime jar not on the classpath (sandbox); the "
    "parquet backend covers the same logic path — only _read/_append "
    "differ (state.StateStore docstring)",
)
def test_resume_on_iceberg(spark, tiny_transcripts, tmp_path, cfg):
    """Crash-resume ≡ batch with REAL Iceberg state tables: state lives
    in graft.<ns>.{local,key_index,sketch,log} (hadoop catalog, tmpdir
    warehouse), appended via writeTo().append(), partitioned by
    fingerprint. Runs green when the runtime jar is present; gracefully
    skipped in jar-less sandboxes."""
    assert spark.conf.get("spark.sql.catalog.graft", None), (
        "session factory must register the graft catalog when jars exist"
    )
    sd = str(tmp_path / "ice_state")
    partial = run_incremental(
        spark, tiny_transcripts, sd, "run1", "fp1", cfg,
        fail_after_partitions=1, catalog="iceberg",
    )
    assert {r.part for r in partial.select("part").distinct().collect()} == {1}
    out = run_incremental(
        spark, tiny_transcripts, sd, "run2", "fp1", cfg, catalog="iceberg"
    )
    assert _rows(out) == _rows(run_verdicts(tiny_transcripts, cfg))
    # the state really is Iceberg: snapshot metadata is queryable and the
    # snapshot-id fingerprint helper returns the latest commit
    store = StateStore(spark, sd, catalog="iceberg")
    from matric_spark.state import iceberg_snapshot_fingerprint

    fp = iceberg_snapshot_fingerprint(spark, f"{store.ns}.log")
    assert fp not in ("", "empty-table")


def test_state_store_rejects_unknown_catalog(spark, tmp_path):
    with pytest.raises(ValueError):
        StateStore(spark, str(tmp_path), catalog="delta")


def test_schema_evolution_vs_recorded(spark, tmp_path):
    """Schema drift vs the PREVIOUS run's recorded snapshot: added,
    removed, and retyped columns all surface; latest snapshot wins."""
    from matric_spark.state import StateStore, schema_drift_vs_recorded

    store = StateStore(spark, str(tmp_path / "state"))
    assert store.last_schema() is None
    assert schema_drift_vs_recorded(spark, None, store) is None  # first run

    v1 = spark.createDataFrame([("a", 1, 1.0)], "conv_id string, turn_idx int, score double")
    store.record_schema(v1, "fp1", seq=1)

    # run 2: score retyped to string, turn_idx dropped, tool added
    v2 = spark.createDataFrame([("a", "1.0", "bash")], "conv_id string, score string, tool string")
    drift = {r.col: r.status for r in
             schema_drift_vs_recorded(spark, v2, store).collect()}
    assert drift == {
        "conv_id": "ok",
        "score": "type_mismatch",
        "turn_idx": "missing",
        "tool": "extra",
    }

    # record v2 as the new snapshot: latest wins, drift-vs-self is clean
    store.record_schema(v2, "fp2", seq=2)
    clean = schema_drift_vs_recorded(spark, v2, store)
    assert all(r.status == "ok" for r in clean.collect())
    # and the v1 snapshot is still addressable for audits (before_seq)
    old = {r.col: r.status for r in
           schema_drift_vs_recorded(spark, v2, store, before_seq=2).collect()}
    assert old["turn_idx"] == "missing"


def test_extended_crash_resume_equals_batch(spark, tiny_transcripts, tmp_path):
    """Extended suite through the state store: crash after the first
    partition, resume, and the assembled table must equal the one-shot
    run_verdicts_extended emission exactly (rule/FD from per-partition
    state, volume from the completion log)."""
    from matric_spark.checks.suite import SuiteConfig, run_verdicts_extended
    from matric_spark.state import run_incremental

    sd = str(tmp_path / "state_ext")
    run_incremental(
        spark, tiny_transcripts, sd, "r1", "fp",
        fail_after_partitions=1, extended=True,
    )
    resumed = run_incremental(
        spark, tiny_transcripts, sd, "r2", "fp", extended=True
    )
    batch = run_verdicts_extended(tiny_transcripts, SuiteConfig())

    def rows(df):
        return sorted(
            (r.part, r.check_id,
             None if r.metric is None else round(r.metric, 9), r.status)
            for r in df.collect()
        )

    assert rows(resumed) == rows(batch)


def test_metric_history_drift(spark, tiny_transcripts, tmp_path):
    """Run-over-run regression: a second input version with extra
    null-text rows must surface as a positive null_text rate_delta,
    while untouched checks stay flat."""
    import datetime as dt

    from pyspark.sql import functions as F

    from matric_spark.state import StateStore, metric_history_drift, run_incremental

    sd = str(tmp_path / "state_hist")
    run_incremental(spark, tiny_transcripts, sd, "r1", "fp_v1")

    # v2 of the input: part 1 gains two null-text user turns
    t0 = dt.datetime(2024, 1, 2)
    extra = spark.createDataFrame(
        [("D", 0, "user", None, None, t0, 1), ("D", 1, "user", None, None, t0, 1)],
        tiny_transcripts.schema,
    )
    v2 = tiny_transcripts.union(extra)
    run_incremental(spark, v2, sd, "r2", "fp_v2")

    store = StateStore(spark, sd)
    drift = {(r.part, r.metric): r for r in
             metric_history_drift(store, "fp_v2", "fp_v1").collect()}
    nt = drift[(1, "null_text")]
    assert nt.rate_delta > 0  # 1/8 -> 3/10
    assert abs(nt.rate_now - 0.3) < 1e-6 and abs(nt.rate_prev - 0.125) < 1e-6
    assert drift[(2, "null_text")].rate_delta == 0.0
    # part 1 has zero role violations in both versions: rates 0 -> 0
    assert drift[(1, "ref_role")].rate_delta == 0.0
    import pytest

    with pytest.raises(ValueError):
        metric_history_drift(store, "fp_v2", "fp_missing")
