"""Streaming validation: file-source micro-batches → the batch check
suite → the state store, plus watermarked arrival-rate monitors.

Design (Spark-first, SURVEY §1.3 note that resumability is state-table
based, not streaming-state based):

- `stream_transcripts` reads a directory as a file-source stream with
  the transcript schema (new parquet files = new micro-batches; on a
  cluster this is an Iceberg/Kafka source).
- `validated_stream` runs EVERY micro-batch through the same state
  builder as `state.run_incremental` (`state.partition_state`: row-check
  counts, key index, drift sketch, completion log keyed by batch),
  and `stream_verdicts` reads it back through the same commit rule and
  assembly, so a streaming deployment and a batch backfill share one
  state table and one verdict semantics — the batch/streaming
  differential test asserts exactly that equivalence.
- `windowed_rates` is the genuinely-streaming piece: event-time windows
  + watermark for late data, counting turns and violation candidates
  per (window, partition) — built-in windowed aggregation (the checks
  themselves need no custom stateful operator; the one semantics that
  does — per-user gap sessions — lives in streaming/sessionize.py on
  applyInPandasWithState).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matric_spark.checks.suite import SuiteConfig, row_local_flags

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp, part_month int"
)


def await_or_raise(query, timeout_s: int) -> None:
    """awaitTermination with the timeout made LOUD: a still-running
    stream past the deadline raises instead of letting the caller read
    a partial sink/state (which surfaces later as a nondeterministic
    value mismatch that looks like an engine-parity bug). The stream is
    stopped before raising so the session isn't left with a zombie
    query holding the checkpoint lock."""
    if not query.awaitTermination(timeout_s):
        try:
            query.stop()
        finally:
            raise TimeoutError(
                f"streaming query {query.name or query.id} still running "
                f"after {timeout_s}s; refusing to read partial output"
            )


def stream_transcripts(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over a transcript directory (parquet)."""
    return (
        spark.readStream.schema(TRANSCRIPT_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def windowed_rates(
    stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    cfg: SuiteConfig | None = None,
) -> DataFrame:
    """Event-time windowed monitor: turns, null-text and bad-role counts
    per (window, partition), tolerating `watermark` of lateness. The
    predicates are the suite's row-local flags (a NULL role is bad)."""
    cfg = cfg or SuiteConfig()
    flags = row_local_flags(cfg)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col(cfg.partition_col).alias("part"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(flags["null_text"].cast("long")).alias("null_text"),
            F.sum(flags["ref_role"].cast("long")).alias("bad_role"),
        )
    )


def validated_stream(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    fingerprint: str = "stream",
    cfg: SuiteConfig | None = None,
    max_files_per_trigger: int = 1,
):
    """Start a foreachBatch query appending per-micro-batch check state.

    Each batch goes through `state.partition_state`, the builder
    `state.run_incremental` uses (row-check counts, key index, drift
    sketch, completion log), under run_id
    `stream-<batchId>` and into the SAME StateStore layout; final
    verdicts come from `stream_verdicts`, i.e. `state.assemble_verdicts`,
    so streaming ingestion and batch backfill are interchangeable
    (differential-tested). Exactly-once: foreachBatch may retry a batch,
    which re-appends under the same batch id; the commit rule
    (`StateStore.committed`) collapses such replays on (run_id, key),
    while a key that recurs in a later batch is new data and is summed.
    """
    cfg = cfg or SuiteConfig()
    from pyspark import StorageLevel

    from matric_spark.state import StateStore, partition_state

    store = StateStore(spark, state_dir)

    def process(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        # the state appends are separate jobs over this micro-batch;
        # persist once so the batch source (and any upstream projection)
        # is scanned a single time instead of once per append — at bench
        # scale this is most of the per-batch fixed cost beyond the
        # constraint suite itself
        batch.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            # conversation-complete batches: the batch is its own
            # conversation superset
            for name, df in partition_state(
                batch, batch, cfg, f"stream-{batch_id}"
            ):
                store._append(df, name, fingerprint)
        finally:
            batch.unpersist(blocking=False)

    src = stream_transcripts(spark, input_dir, max_files_per_trigger)
    return (
        src.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_verdicts(
    spark: SparkSession,
    state_dir: str,
    fingerprint: str = "stream",
    cfg: SuiteConfig | None = None,
) -> DataFrame:
    """Assemble the verdict table from streaming-appended state: the
    same `state.assemble_verdicts` as a batch resume. Its commit rule
    (`StateStore.committed`) collapses foreachBatch retries and sums a
    partition, or a duplicate key, split across micro-batches. Sequence
    ordering is validated within each micro-batch (cross-batch
    reordering needs event-time windows — `windowed_rates` — or the
    batch path)."""
    from matric_spark.state import StateStore, assemble_verdicts

    return assemble_verdicts(
        StateStore(spark, state_dir), fingerprint, cfg or SuiteConfig()
    )

