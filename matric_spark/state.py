"""Checkpointed validation runs: per-partition lineage + metric state,
resume-without-recompute (SURVEY §7.2 M5; north-rule requirement).

matric carries lineage in fragile data-frame attributes and restores
them by hand (`sim_restore`, R/sim_construct-validate.R:83-140). Here
lineage is a first-class STATE TABLE (partitioned parquet in the
sandbox; 1:1 `writeTo(...).append()` on Iceberg, with the snapshot id
as the fingerprint):

    state/local/      per-partition verdicts for PARTITION-LOCAL checks
                      (ref_role, ref_tool, null_text, null_ts, seq_order)
    state/key_index/  (conv_id, turn_idx, part, cnt) — per-partition key
                      counts; cross-partition uniqueness is an aggregate
                      of this index, never a re-scan. On a cluster this
                      table is bucketed by key so the merge is
                      shuffle-free.
    state/sketch/     (p, v, c) value-counts sketch — KS and PSI for
                      EVERY partition are recomputed from the merged
                      sketch each run (sketch-sized work), because each
                      partition's drift baseline is the complement of
                      the whole table and so changes as partitions land.
    state/local_ext/  per-partition rule/FD metrics (extended runs only)
    state/log/        (part, run_id, n_rows) completion log

Every row also carries `fingerprint` and the `run_id` of the append
that wrote it (`stream-<batchId>` for micro-batches).

ONE builder writes the state: `partition_state` turns the partitions in
hand into the appends above, log last; `run_incremental` (remaining
partitions) and `streaming.validate.validated_stream` (each
micro-batch) both call it.

Check taxonomy that makes resume correct:
- row-local checks → attributable to a partition outright.
- conversation-local checks (turn ordering): a conversation may span
  partitions, so new partitions pull their conversations IN FULL via a
  semi-join before the window — a bounded boundary re-read; verdicts
  are then attributed to rows' own partitions.
- global checks (uniqueness, drift) → derived from merged state
  aggregates, O(state) not O(data).

A partition is COMPLETE for an input `fingerprint` iff a log row exists;
completed partitions are pruned from the scan by a partition-column
predicate (partition pruning on Iceberg). If the input changes, the
fingerprint changes and everything re-validates (SURVEY §7.3e).

ONE commit rule reads it (`StateStore.committed`): a state row counts
only if the log committed its (part, run_id); replays of one append
collapse on (run_id, key); the rest is summed across run_ids. That
covers a crash between the state appends and the log append (the rows
are never committed; the resume rewrites them under its own run_id), a
retried foreachBatch (same batch id, collapsed) and a stream that
splits one partition or repeats one key across batches (summed); a
batch run commits each partition under one run_id, so its sum is the
identity. Differential guarantee (tests/test_state.py,
tests/test_streaming.py): crash-resume ≡ fresh ≡ streamed ≡ the
one-shot batch suite.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matric_spark.checks.constraints import default_transcript_rules
from matric_spark.checks.drift import counts_sketch
from matric_spark.checks.suite import (
    ROW_CHECKS,
    SuiteConfig,
    check_counts,
    core_rows,
    extended_partition_metrics,
)

_LOG_SCHEMA = "part int, run_id string, n_rows long, fingerprint string"


def input_fingerprint(path: str) -> str:
    """Lineage id of the input: hash of the recursive file listing
    (name, size, mtime) — the parquet stand-in for an Iceberg snapshot id
    (`iceberg_snapshot_fingerprint` below when the catalog is live)."""
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            p = os.path.join(root, f)
            st = os.stat(p)
            h.update(f"{p}|{st.st_size}|{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def iceberg_snapshot_fingerprint(spark: SparkSession, table: str) -> str:
    """Resume fingerprint of an Iceberg input table = its current
    snapshot id (read from the `.snapshots` metadata table). Any commit
    to the input produces a new snapshot id, so completed-partition state
    keyed on it invalidates exactly when the data changes — the real
    form of what `input_fingerprint` approximates with file stats."""
    rows = spark.sql(
        f"SELECT snapshot_id FROM {table}.snapshots "
        "ORDER BY committed_at DESC LIMIT 1"
    ).collect()
    return str(rows[0][0]) if rows else "empty-table"


def _catalog_from_env() -> str | None:
    return os.environ.get("SPARK_GRAFT_CATALOG") or None


class StateStore:
    """State-table accessor with two interchangeable backends:

    - parquet (default): `state_dir/<name>` partition-appended files;
      fingerprint rides as a literal column.
    - iceberg (``catalog='iceberg'`` or env SPARK_GRAFT_CATALOG=iceberg,
      requires the `graft` catalog registered by session.get_spark when
      the runtime jar is present): each state relation is a real Iceberg
      table `graft.<ns>.<name>` (namespace derived from state_dir),
      created partitioned-by-fingerprint on first append and extended
      with atomic `writeTo(...).append()` — append atomicity is what
      makes crash-resume safe against torn state on a real cluster,
      and the fingerprint partition key gives O(1) pruning of stale
      lineage. Readers/writers share one code path; only _read/_append
      differ (pytest exercises it end-to-end when jars are present:
      tests/test_state.py::test_resume_on_iceberg).
    """

    def __init__(
        self, spark: SparkSession, state_dir: str, catalog: str | None = None
    ) -> None:
        self.spark = spark
        self.dir = state_dir
        self.catalog = catalog or _catalog_from_env()
        if self.catalog not in (None, "iceberg"):
            raise ValueError(f"unknown state catalog {self.catalog!r}")
        if self.catalog == "iceberg":
            ns = hashlib.sha256(state_dir.encode()).hexdigest()[:12]
            self.ns = f"graft.state_{ns}"

    def _path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def _read(self, name: str, schema: str | None = None) -> DataFrame | None:
        try:
            if self.catalog == "iceberg":
                return self.spark.read.table(f"{self.ns}.{name}")
            r = self.spark.read
            if schema:
                r = r.schema(schema)
            return r.parquet(self._path(name))
        except Exception:
            return None

    def _append(self, df: DataFrame, name: str, fingerprint: str) -> None:
        out = df.withColumn("fingerprint", F.lit(fingerprint))
        if self.catalog == "iceberg":
            tbl = f"{self.ns}.{name}"
            # Decide create-vs-append from the catalog, not by swallowing
            # append() failures: a bare try/append-except/create would mask
            # real append errors (schema drift, commit conflict) behind a
            # confusing "table already exists" from the fallback create.
            self.spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {self.ns}")
            if self.spark.catalog.tableExists(tbl):
                out.writeTo(tbl).append()
            else:
                # first write: create the table partitioned by lineage id
                out.writeTo(tbl).using("iceberg").partitionedBy(
                    F.col("fingerprint")
                ).create()
            return
        out.write.mode("append").parquet(self._path(name))

    def _for(self, name: str, fingerprint: str) -> DataFrame | None:
        df = self._read(name, _LOG_SCHEMA if name == "log" else None)
        if df is None:
            return None
        return df.filter(F.col("fingerprint") == fingerprint).drop("fingerprint")

    def completed_partitions(self, fingerprint: str) -> list[int]:
        log = self._for("log", fingerprint)
        if log is None:
            return []
        return [r.part for r in log.select("part").distinct().collect()]

    def committed(
        self, name: str, fingerprint: str, keys: list[str], commits: DataFrame
    ) -> DataFrame | None:
        """The rows of relation `name` that count, folded per `keys`
        (keys[0] names the relation's partition column) — None if the
        relation was never written. THE one read rule for every state
        relation, batch, resume and stream alike:

        - a row counts only if the log committed its (part, run_id) —
          `commits` is this fingerprint's log, semi-joined as a broadcast
          on an expression condition, so every relation of one assembly
          reuses one broadcast exchange (a distinct() or aliased log
          would give each relation its own);
        - replays of one append (a retried foreachBatch reuses its batch
          id; a crash between a state append and its log append leaves
          rows no log row commits) collapse on (run_id, keys);
        - the rest is summed per key across run_ids: a stream may split
          one partition, or repeat one key, across batches.

        One repartition by `keys` serves both the dedup and the sum."""
        df = self._for(name, fingerprint)
        if df is None:
            return None
        log = F.broadcast(commits)
        ok = df.join(
            log,
            (df[keys[0]] == log["part"]) & (df["run_id"] == log["run_id"]),
            "left_semi",
        )
        values = [c for c in df.columns if c not in (*keys, "run_id")]
        return (
            ok.repartition(*keys)
            .dropDuplicates([*keys, "run_id"])
            .groupBy(*keys)
            .agg(*[F.sum(c).alias(c) for c in values])
        )

    # ------------------------------------------------- schema evolution

    def record_schema(self, df: DataFrame, fingerprint: str, seq: int) -> None:
        """Append the table's (col, dtype) snapshot to the schema log.

        ``seq`` is the caller's monotonically increasing run sequence —
        an explicit ordinal instead of a wall-clock stamp so replays and
        backfills stay deterministic (the state-table convention).
        """
        rows = [(seq, c, t) for c, t in df.dtypes]
        snap = self.spark.createDataFrame(
            rows, "seq int, col string, dtype string"
        )
        self._append(snap, "schema_log", fingerprint)

    def last_schema(self, before_seq: int | None = None) -> list[tuple[str, str]] | None:
        """The most recent recorded schema (optionally strictly before
        ``before_seq``), as [(col, dtype)] — None if never recorded.

        Reads across fingerprints ON PURPOSE: schema history spans input
        versions (yesterday's run had a different snapshot id — that is
        exactly the schema you want to drift against). Like every other
        relation in this store, the schema log therefore assumes ONE
        logical table per state_dir. Crash-replayed appends (same seq
        re-recorded) dedup on (col, dtype); the same (seq, col) recorded
        with CONFLICTING dtypes means two tables were pointed at one
        state_dir and raises rather than silently unioning their columns.
        """
        log = self._read("schema_log", "seq int, col string, dtype string, fingerprint string")
        if log is None:
            return None
        if before_seq is not None:
            log = log.filter(F.col("seq") < before_seq)
        rows = log.collect()  # schema log: O(runs × columns) rows, tiny
        if not rows:
            return None
        top = max(r.seq for r in rows)
        snap: dict[str, str] = {}
        for r in rows:
            if r.seq != top:
                continue
            if r.col in snap and snap[r.col] != r.dtype:
                raise ValueError(
                    f"schema log seq {top} records column {r.col!r} with "
                    f"conflicting dtypes ({snap[r.col]!r} vs {r.dtype!r}): "
                    "a state_dir serves ONE logical table — use separate "
                    "state dirs per table."
                )
            snap[r.col] = r.dtype
        return list(snap.items())


def schema_drift_vs_recorded(
    spark: SparkSession,
    df: DataFrame,
    store: "StateStore",
    before_seq: int | None = None,
) -> DataFrame | None:
    """Schema EVOLUTION check: today's table vs the schema the previous
    run recorded in the state log — added / removed / retyped columns
    surface as extra / missing / type_mismatch rows.

    schema_conformance validates against a DECLARED contract; this
    validates against HISTORY (the silent-upstream-migration detector:
    nobody re-declares the contract when a producer adds a column).
    Pure reuse — the recorded snapshot becomes schema_conformance's
    expected side. Returns None when no prior schema is recorded (first
    run: nothing to drift from).
    """
    from matric_spark.checks.schema_check import schema_conformance

    prev = store.last_schema(before_seq=before_seq)
    if prev is None:
        return None
    return schema_conformance(spark, df, prev)


def partition_state(
    rows: DataFrame,
    conv_rows: DataFrame,
    cfg: SuiteConfig,
    run_id: str,
    extended: bool = False,
) -> list[tuple[str, DataFrame]]:
    """The state appends for the partitions in `rows`, as (relation,
    DataFrame) pairs in COMMIT ORDER — the log comes last, because a
    partition is complete iff its log row exists, so every other
    relation must be durable before it. The one builder behind both
    `run_incremental` and `streaming.validate.validated_stream`.

    `conv_rows` holds the whole conversations of `rows` (a superset of
    it, NULL conv_ids included — they form one conversation, as in the
    batch suite): the sequence check needs full conversations, which
    may span partitions. `local` is the batch suite's own check_counts
    over `conv_rows`, semi-joined to the log's parts, so each verdict is
    attributed to its row's own partition and only the partitions of
    `rows` are written; its uniqueness column is dropped (assembly folds
    that from `key_index`). Every row carries `run_id`. The
    partition-sized relations are written as one file each (otherwise
    every append leaves shuffle-partitions-many KB-sized files, and a
    micro-batched run reads hundreds of them at assembly); the key
    index keeps the shuffle's partitioning. `extended=True` adds the
    partition-local rule/FD metrics (`local_ext`)."""
    p = cfg.partition_col
    part = F.col(p).alias("part")
    log = (
        rows.groupBy(part)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select("part", F.lit(run_id).alias("run_id"), "n_rows")
    )
    local = (
        check_counts(conv_rows, cfg)
        .drop("uniqueness")
        .join(log.select("part"), "part", "left_semi")
    )
    appends = [
        ("local", local.coalesce(1)),
        # per-partition key counts: uniqueness merges these
        (
            "key_index",
            rows.groupBy(*cfg.key, part).agg(F.count(F.lit(1)).alias("cnt")),
        ),
        ("sketch", counts_sketch(rows, p, F.length("text")).coalesce(1)),
    ]
    if extended:
        ext = extended_partition_metrics(
            rows, cfg, default_transcript_rules(), ["text", "role"]
        )
        appends.append(("local_ext", ext.coalesce(1)))
    tagged = [(n, df.withColumn("run_id", F.lit(run_id))) for n, df in appends]
    return [*tagged, ("log", log.coalesce(1))]


def run_incremental(
    spark: SparkSession,
    transcripts: DataFrame,
    state_dir: str,
    run_id: str,
    fingerprint: str,
    cfg: SuiteConfig | None = None,
    fail_after_partitions: int | None = None,
    catalog: str | None = None,
    extended: bool = False,
) -> DataFrame:
    """Validate partitions not yet completed for `fingerprint`, append
    their state, and return the full verdict table (identical to
    `run_verdicts(transcripts)` once all partitions are complete).

    `fail_after_partitions=k` simulates a mid-job crash: only the first
    k remaining partitions are processed before 'dying'. `catalog`
    selects the state backend (None = parquet, 'iceberg' = Iceberg state
    tables; defaults to SPARK_GRAFT_CATALOG). `extended=True` also
    checkpoints the declarative families (rule pack, intra-partition FD
    conflicts) per partition — they are partition-local, so they resume
    exactly like the scalar metrics — and assembles the extended verdict
    table (≡ run_verdicts_extended once complete); the volume check is
    derived at assemble time from the completion log's per-partition row
    counts, no extra scan.
    """
    cfg = cfg or SuiteConfig()
    p = cfg.partition_col
    store = StateStore(spark, state_dir, catalog=catalog)

    done = store.completed_partitions(fingerprint)
    remaining = transcripts.filter(~F.col(p).isin(done)) if done else transcripts
    if fail_after_partitions is not None:
        parts = [
            r[0] for r in remaining.select(p).distinct().orderBy(p).collect()
        ][:fail_after_partitions]
        remaining = remaining.filter(F.col(p).isin(parts))

    if remaining.select(p).limit(1).count() > 0:
        # whole conversations of the new partitions: a bounded boundary
        # re-read via semi-join (they may span partitions); null-safe,
        # so the NULL-conv_id rows stay one conversation as in the batch
        convs = remaining.select(F.col("conv_id").alias("_conv")).distinct()
        full_convs = transcripts.join(
            convs, F.col("conv_id").eqNullSafe(F.col("_conv")), "left_semi"
        )
        for name, df in partition_state(
            remaining, full_convs, cfg, run_id, extended
        ):
            store._append(df, name, fingerprint)

    if extended:
        return assemble_verdicts_extended(store, fingerprint, cfg)
    return assemble_verdicts(store, fingerprint, cfg)


def assemble_verdicts(
    store: StateStore, fingerprint: str, cfg: SuiteConfig
) -> DataFrame:
    """Full verdict table from committed state only — no data re-scan.

    Global checks: uniqueness folds the key index (keys duplicated
    ANYWHERE → per-partition participating-row counts); KS/PSI and the
    unpivot are the batch suite's own `core_rows`."""
    commits = store._for("log", fingerprint)
    assert commits is not None, "no completed partitions in state"
    local = store.committed("local", fingerprint, ["part"], commits)

    key_index = store.committed(
        "key_index", fingerprint, ["part", *cfg.key], commits
    )
    glob = key_index.groupBy(*cfg.key).agg(F.sum("cnt").alias("_g"))
    dup_keys = glob.filter(F.col("_g") > 1).select(*cfg.key)
    uniq = (
        key_index.join(dup_keys, cfg.key, "left_semi")
        .groupBy("part")
        .agg(F.sum("cnt").alias("uniqueness"))
    )
    local = local.join(uniq, "part", "left").fillna(0, subset=["uniqueness"])
    sketch = store.committed("sketch", fingerprint, ["p", "v"], commits)
    return core_rows(local, sketch, cfg)


def assemble_verdicts_extended(
    store: StateStore,
    fingerprint: str,
    cfg: SuiteConfig,
    volume_abs_delta: float = 0.5,
) -> DataFrame:
    """Extended verdict table from committed state only — the resumable
    emission of checks/suite.run_verdicts_extended.

    Rule/FD metrics come from the per-partition `local_ext` appends; the
    volume check derives from the completion log's per-partition row
    counts via the SAME volume_profile stage the batch operator uses,
    and the verdict rows are built by the SAME _extended_rows unpivot —
    so the batch and resumed emissions cannot diverge.
    """
    from matric_spark.checks.column_stats import volume_profile
    from matric_spark.checks.suite import _extended_rows

    core = assemble_verdicts(store, fingerprint, cfg)

    commits = store._for("log", fingerprint)
    ext = store.committed("local_ext", fingerprint, ["part"], commits)
    if ext is None:
        raise ValueError(
            "no extended state for this fingerprint: its partitions were "
            "completed by non-extended runs, and the completion log bars "
            "them from re-scanning. Re-validate under a fresh state_dir "
            "or fingerprint with extended=True."
        )

    # every completed partition must have extended state (a fingerprint
    # partly completed by non-extended runs would otherwise silently
    # lose its rule/FD/volume verdict rows while keeping core rows)
    log = store.committed("log", fingerprint, ["part"], commits)
    missing = sorted(
        r.part for r in log.join(ext, "part", "left_anti").select("part").collect()
    )
    if missing:
        raise ValueError(
            f"extended state missing for completed partitions {missing}: "
            "mixed extended/non-extended runs under one fingerprint are "
            "not assemblable. Re-validate under a fresh state_dir or "
            "fingerprint with extended=True throughout."
        )

    vol = volume_profile(log, "part").select("part", "delta_pct", "gap_months")
    wide = ext.join(vol, "part", "left")
    return core.unionByName(
        _extended_rows(wide, default_transcript_rules(), volume_abs_delta)
    )


def metric_history_drift(
    store: StateStore,
    fingerprint_now: str,
    fingerprint_prev: str,
) -> DataFrame:
    """Run-over-run metric regression report from state ONLY: for each
    (partition, scalar check) present in both runs' `local` state,
    compare violation RATES (count / n_rows — volume-independent, so a
    bigger ingest doesn't masquerade as a quality regression) →
    (part, metric, rate_now, rate_prev, rate_delta).

    The temporal companion of schema_drift_vs_recorded: schema history
    says the COLUMNS changed, this says the VIOLATION PROFILE changed —
    yesterday's run passed with 0.1% null text, today's 4% at the same
    schema is the upstream bug this catches. No data re-scan: both
    sides are completed-run state reads.
    """
    # uniqueness is a global check, folded at assembly: the `local`
    # state has no column for it
    checks = [c for c in ROW_CHECKS if c != "uniqueness"]

    def rates(fp: str, tag: str) -> DataFrame:
        commits = store._for("log", fp)
        # unknown fingerprint = readable log, zero rows — both are "no
        # completed state" (the head(1) probe is log-sized)
        if commits is None or not commits.head(1):
            raise ValueError(f"no completed state for fingerprint {fp!r}")
        local = store.committed("local", fp, ["part"], commits)
        packed = local.select(
            "part",
            *[
                (
                    F.round(
                        F.col(c) / F.col("n_rows").cast("double"), 6
                    )
                    + F.lit(0.0)
                ).alias(c)
                for c in checks
            ],
        )
        return packed.unpivot(
            ids=["part"],
            values=checks,
            variableColumnName="metric",
            valueColumnName=f"rate_{tag}",
        )

    now = rates(fingerprint_now, "now")
    prev = rates(fingerprint_prev, "prev")
    return now.join(prev, ["part", "metric"]).select(
        "part",
        "metric",
        "rate_now",
        "rate_prev",
        (
            F.round(F.col("rate_now") - F.col("rate_prev"), 6) + F.lit(0.0)
        ).alias("rate_delta"),
    )
