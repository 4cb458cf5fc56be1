"""Streaming validation tests: micro-batch ingestion through the shared
state store must reproduce the batch suite verdicts (the streaming
analog of the resumed ≡ fresh differential), plus the watermarked
window monitor."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from matric_spark.checks.suite import SuiteConfig, run_verdicts
from matric_spark.streaming.validate import await_or_raise


def _rows(df):
    return sorted(
        (r.part, r.check_id, round(r.metric, 9), r.status) for r in df.collect()
    )


@pytest.fixture()
def staged_stream_dir(spark, tiny_transcripts, tmp_path):
    """Write the fixture as 3 parquet files, each holding COMPLETE
    conversations (micro-batch = conversation-complete file; the
    documented precondition for streaming sequence checks)."""
    d = str(tmp_path / "incoming")
    (
        tiny_transcripts.repartition(F.crc32(F.col("conv_id")) % 3)
        .write.mode("overwrite")
        .parquet(d)
    )
    return d


def test_streaming_equals_batch_verdicts(spark, tiny_transcripts, staged_stream_dir, tmp_path):
    from matric_spark.streaming.validate import stream_verdicts, validated_stream

    q = validated_stream(
        spark,
        staged_stream_dir,
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    await_or_raise(q, 120)
    out = stream_verdicts(spark, str(tmp_path / "state"))
    assert _rows(out) == _rows(run_verdicts(tiny_transcripts, SuiteConfig()))


def test_streaming_batch_retry_collapses(
    spark, tiny_transcripts, staged_stream_dir, tmp_path
):
    """foreachBatch may run a batch again under the same batch id. Re-
    append batch 0's four relations as such a retry would: the commit
    rule collapses the replay on (run_id, key), so the verdicts still
    equal the batch suite."""
    from matric_spark.state import StateStore
    from matric_spark.streaming.validate import stream_verdicts, validated_stream

    sd = str(tmp_path / "state")
    q = validated_stream(
        spark,
        staged_stream_dir,
        state_dir=sd,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    await_or_raise(q, 120)
    store = StateStore(spark, sd)
    n_log = store._read("log").count()
    for name in ["local", "key_index", "sketch", "log"]:
        first = store._for(name, "stream").filter(F.col("run_id") == "stream-0")
        replay = spark.createDataFrame(first.collect(), first.schema)
        assert replay.count() > 0
        store._append(replay, name, "stream")
    assert store._read("log").count() > n_log
    out = stream_verdicts(spark, sd)
    assert _rows(out) == _rows(run_verdicts(tiny_transcripts, SuiteConfig()))


def test_streaming_cross_batch_duplicate_key_fails_uniqueness(spark, tmp_path):
    """Regression: a duplicate (conv_id, turn_idx) SPLIT ACROSS two
    micro-batches must be reported exactly like the batch suite reports
    it (uniqueness=2/fail), and sketch counts must sum across batches
    when a data partition spans them. Deduping state on natural keys
    alone silently false-passed this."""
    import datetime as dt

    from matric_spark.streaming.validate import stream_verdicts, validated_stream

    t0 = dt.datetime(2024, 1, 1)
    ddl = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, part_month int"
    )
    # same (conv_id, turn_idx) in both batches; same text length so the
    # sketch rows collide on (p, v) too; a second partition so drift has
    # a complement cohort
    b1 = spark.createDataFrame(
        [
            ("D", 0, "user", "xx", None, t0, 1),
            ("E", 0, "user", "yyyy", None, t0, 2),
        ],
        ddl,
    )
    b2 = spark.createDataFrame(
        [("D", 0, "user", "zz", None, t0 + dt.timedelta(seconds=5), 1)], ddl
    )
    d = str(tmp_path / "incoming2")
    b1.coalesce(1).write.mode("append").parquet(d)
    b2.coalesce(1).write.mode("append").parquet(d)

    q = validated_stream(
        spark,
        d,
        state_dir=str(tmp_path / "state2"),
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    await_or_raise(q, 120)
    out = stream_verdicts(spark, str(tmp_path / "state2"))
    got = {(r.part, r.check_id): (r.metric, r.status) for r in out.collect()}
    assert got[(1, "uniqueness")] == (2.0, "fail")
    # full equivalence with the one-shot batch suite (covers the sketch
    # fold: KS/PSI values differ if cross-batch counts are collapsed)
    batch = run_verdicts(b1.unionByName(b2), SuiteConfig())
    assert _rows(out) == _rows(batch)


def test_stream_sessionize_matches_batch(spark, tmp_path):
    """Differential: the applyInPandasWithState gap sessionizer emits
    exactly the batch sessions (operators/events.sessionize) that are
    provably closed. Every session followed by a later session of the
    same user (closed by gap — deterministic, no timeout reliance) must
    be emitted with identical (start, end, n_events, total_value);
    nothing outside the batch result may ever be emitted."""
    import datetime as dt

    from matric_spark.operators.events import sessionize
    from matric_spark.streaming.sessionize import stream_events, stream_sessionize

    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)

    def ev(eid, user, minutes, value):
        return (eid, t0 + dt.timedelta(minutes=minutes), user, "click", value, "{}")

    ddl = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    # user 1: three sessions (gaps at 40 and 95 min); user 2: two
    # sessions split ACROSS files (cross-batch gap closure); user 3: one
    # session whose events span files (cross-batch continuation)
    batches = [
        [ev(1, 1, 0, 1.0), ev(2, 1, 10, 2.0), ev(3, 2, 0, 5.0), ev(4, 3, 5, 7.0)],
        [ev(5, 1, 50, 3.0), ev(6, 3, 20, 7.5), ev(7, 2, 90, 5.5)],
        [ev(8, 1, 145, 4.0), ev(9, 3, 40, 8.0), ev(10, 2, 100, 6.0)],
    ]
    d = str(tmp_path / "events_in")
    for rows in batches:  # time-ordered files = ordered micro-batches
        spark.createDataFrame(rows, ddl).coalesce(1).write.mode("append").parquet(d)

    stream = stream_events(spark, d)
    q = (
        stream_sessionize(stream, gap_minutes=30, watermark="1 minute")
        .writeStream.format("memory")
        .queryName("sessions_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q, 120)
    got = {
        (r.user_id, r.session_start): (r.session_end, r.n_events, r.total_value)
        for r in spark.sql("select * from sessions_test").collect()
    }

    all_events = spark.createDataFrame(
        [e for rows in batches for e in rows], ddl
    )
    batch = sessionize(all_events, gap_minutes=30).collect()
    want = {
        (r.user_id, r.session_start): (r.session_end, r.n_events, r.total_value)
        for r in batch
    }
    # nothing invented, values exact
    for k, v in got.items():
        assert want[k] == v
    # every gap-closed session must have been emitted
    last_start = {}
    for r in batch:
        cur = last_start.get(r.user_id)
        if cur is None or r.session_start > cur:
            last_start[r.user_id] = r.session_start
    closed = {k for k in want if k[1] < last_start[k[0]]}
    assert closed <= set(got)
    assert len(closed) >= 3  # the fixture plants at least 3 gap closures


def test_windowed_rates_monitor(spark, staged_stream_dir):
    from matric_spark.streaming.validate import stream_transcripts, windowed_rates

    rates = windowed_rates(
        stream_transcripts(spark, staged_stream_dir), window="1 hour"
    )
    q = (
        rates.writeStream.format("memory")
        .queryName("rates_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q, 120)
    got = spark.sql("select * from rates_test").collect()
    assert sum(r.n_turns for r in got) == 10  # every fixture row counted
    assert sum(r.null_text for r in got) == 1
    assert sum(r.bad_role for r in got) == 1
    assert all(r.window.start is not None for r in got)


def test_stream_dedup_first_arrival(spark, tmp_path):
    """Differential: streaming within-watermark dedup keeps exactly the
    batch exact-dedup representatives — first arrival per content
    fingerprint — across micro-batch boundaries."""
    import datetime as dt

    from matric_spark.streaming.dedup import stream_dedup

    t0 = dt.datetime(2024, 5, 1, 9, 0, 0)

    def doc(i, minutes, text):
        return (i, t0 + dt.timedelta(minutes=minutes), text)

    ddl = "doc_id long, ts timestamp, text string"
    batches = [
        [doc(1, 0, "alpha beta"), doc(2, 1, "gamma delta"),
         doc(3, 2, "  Alpha   BETA ")],          # 3 dups 1 after normalize
        [doc(4, 3, "alpha beta"),                 # cross-batch dup of 1
         doc(5, 4, "epsilon zeta")],
        [doc(6, 5, "gamma delta"), doc(7, 6, "eta theta")],  # dup of 2
    ]
    d = str(tmp_path / "docs_in")
    for rows in batches:
        spark.createDataFrame(rows, ddl).coalesce(1).write.mode("append").parquet(d)

    stream = (
        spark.readStream.schema(ddl)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    q = (
        stream_dedup(stream, watermark="1 hour")
        .writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q, 120)
    got = sorted(
        r.doc_id for r in spark.sql("select doc_id from dedup_test").collect()
    )
    assert got == [1, 2, 5, 7]
    # fingerprints in the output match the batch operator's keys
    fps = {r.doc_id: r.content_fp
           for r in spark.sql("select * from dedup_test").collect()}
    from matric_spark.operators.dedup import exact_dedup

    all_rows = spark.createDataFrame(
        [x for rows in batches for x in rows], ddl
    )
    batch_kept = sorted(r.doc_id for r in exact_dedup(all_rows).collect())
    assert got == batch_kept


def test_stream_rule_violations_match_batch(spark, tiny_transcripts, staged_stream_dir):
    """The rule pack is stateless (narrow map), so streaming it in
    append mode must emit exactly the batch violation multiset."""
    from matric_spark.checks.constraints import (
        default_transcript_rules,
        rule_violations,
    )
    from matric_spark.streaming.validate import TRANSCRIPT_DDL

    stream = (
        spark.readStream.schema(TRANSCRIPT_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged_stream_dir)
    )
    q = (
        rule_violations(stream, default_transcript_rules())
        .writeStream.format("memory")
        .queryName("rule_viol")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q, 120)
    got = sorted(
        (r.rule, r.conv_id, r.turn_idx)
        for r in spark.sql("SELECT * FROM rule_viol").collect()
    )
    want = sorted(
        (r.rule, r.conv_id, r.turn_idx)
        for r in rule_violations(
            tiny_transcripts, default_transcript_rules()
        ).collect()
    )
    assert got == want and len(got) > 0


def test_stream_payload_violations_match_batch(spark, tmp_path):
    """The JSON payload contract is stateless (one codegen scan), so
    streaming it in append mode must emit exactly the batch violation
    multiset — including malformed/missing/not-int tiers split across
    micro-batches."""
    from matric_spark.checks.payload import json_payload_violations

    rows = [
        (0, "a", '{"k": 5}'),
        (1, "a", '{"k": 95}'),
        (2, "b", "{bad"),
        (3, "b", '{"j": 1}'),
        (4, "c", '{"k": 1.5}'),
        (5, "c", None),
    ]
    ddl = "event_id long, event_type string, props string"
    batch = spark.createDataFrame(rows, ddl)
    src = str(tmp_path / "payload_stream")
    # one file per row -> six micro-batches
    batch.repartition(6, "event_id").write.parquet(src)
    stream = (
        spark.readStream.schema(ddl).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        json_payload_violations(stream, "props", "k", 0, 90)
        .writeStream.format("memory")
        .queryName("payload_viol")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q, 120)
    got = sorted(
        (r.reason, r.event_id)
        for r in spark.sql("SELECT * FROM payload_viol").collect()
    )
    want = sorted(
        (r.reason, r.event_id)
        for r in json_payload_violations(batch, "props", "k", 0, 90).collect()
    )
    assert got == want == [
        ("malformed_json", 2),
        ("malformed_json", 5),
        ("missing_key", 3),
        ("not_int", 4),
        ("out_of_range", 1),
    ]
