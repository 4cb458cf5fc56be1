"""The benchmark's workloads: inputs, set-up, one operation, and checks.

Each workload is a single-client closed loop: the next operation starts
when the previous one has returned. Inputs come from ``gen`` and reach
the engine only as parquet paths passed to its public functions.

Interface (``run.py`` calls these in order):

- ``generate(seed)`` writes the inputs and the reference outputs
  (untimed: identical on both sides of any comparison);
- ``setup(spark, tr)`` is the engine-side preparation before the first
  timed operation (timed together with ``get_spark`` as ``setup_s``);
- ``measure(spark, tr, seconds, min_ops)`` runs operations for
  ``seconds`` and at least ``min_ops`` of them (the workload's
  ``min_ops`` in untraced runs), and returns one ``Op`` per operation,
  each already checked;
- ``finish(spark, tr, ops)`` runs the once-per-run checks (and may mark
  every operation failed) and returns layer figures the event log does
  not carry.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen

#: input sizes, fixed for every seed
BATCH_TURNS = 60_000
STREAM_TURNS = 60_000
STREAM_FILES = 24
STREAM_FILES_PER_QUERY = 3
POPULATION = 400
EMBEDDING_DIM = 64
PVALUE_PERMUTATIONS = 1_000
#: ``checks.suite.SuiteConfig`` defaults: a drift check fails above these
DRIFT_KS_FAIL = 0.15
DRIFT_PSI_FAIL = 0.25


@dataclass
class Op:
    seconds: float
    cpu_s: float
    rows: int
    ok: bool


_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, CPU ticks: user + system, reaped children
    included) of every process on the machine."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        f = s[s.rindex(")") + 2:].split()
        table[int(d)] = (int(f[1]), sum(map(int, f[11:15])))
    return table


def descendants(table: dict[int, tuple[int, int]] | None = None) -> list[int]:
    """This process and every live descendant: the Python driver, the
    Spark driver JVM and its Python workers."""
    table = table or _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, [])
    return out


def tree_cpu_s() -> float:
    """CPU seconds of ``descendants``. Time the hypervisor steals from
    the machine is not in it, so it moves far less than wall time when
    the host is busy."""
    table = _proc_table()
    return sum(table[p][1] for p in descendants(table) if p in table) / _TICK


class Clock:
    """Wall and CPU (``tree_cpu_s``) time of a ``with`` block."""

    def __enter__(self):
        self.c0, self.w0 = tree_cpu_s(), time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self.w0
        self.cpu = tree_cpu_s() - self.c0


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _dir_size(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            files += 1
            size += os.path.getsize(os.path.join(d, f))
    return files, size


def closed_loop(op, seconds: float, min_ops: int) -> list[Op]:
    """Run ``op(i)`` back to back for ``seconds`` and at least
    ``min_ops`` times. An operation that raises counts as failed."""

    def attempt(i: int) -> Op:
        t0 = time.perf_counter()
        try:
            return op(i)
        except Exception:
            traceback.print_exc()
            return Op(time.perf_counter() - t0, 0.0, 0, False)

    ops: list[Op] = []
    deadline = time.monotonic() + seconds
    while len(ops) < min_ops or time.monotonic() < deadline:
        ops.append(attempt(len(ops)))
    return ops


def _verdict_map(rows) -> dict[tuple[int, str], tuple[float, str]]:
    """(part, check) -> (metric, status); metrics to 9 decimals, as the
    engine's own batch-vs-streaming tests compare them."""
    return {
        (int(r.part), r.check_id): (None if r.metric is None else round(r.metric, 9), r.status)
        for r in rows
    }


def verdict_errors(got: dict, truth: dict) -> list[str]:
    """Differences between a verdict table (``_verdict_map``) and the
    generator's truth: exact counts, drift statistics to 1e-8, and every
    status."""
    parts = truth["parts"]
    thresholds = {"drift_ks": DRIFT_KS_FAIL, "drift_psi": DRIFT_PSI_FAIL}
    bad = []
    if len(got) != 8 * len(parts):
        bad.append(f"{len(got)} verdict rows for {len(parts)} partitions")
    for p, want in parts.items():
        for c in ("ref_role", "ref_tool", "null_text", "null_ts", "uniqueness", "seq_order",
                  "drift_ks", "drift_psi"):
            m, s = got.get((int(p), c), (None, None))
            fail = want[c] > thresholds.get(c, 0)
            if m is None or abs(m - want[c]) > 1e-8 or s != ("fail" if fail else "pass"):
                bad.append(f"{p}/{c}: {m} {s}, want {want[c]}")
    return bad


class Workload:
    name = ""
    #: the fewest operations an untraced run makes
    min_ops = 1

    def __init__(self, work: str) -> None:
        self.work = work
        self.data = os.path.join(work, "data")
        os.makedirs(self.data, exist_ok=True)


# ------------------------------------------------------------- batch


class BatchValidate(Workload):
    """One op: the nightly batch quality pass, every output materialised.

    - Over the seeded transcript table: the constraint suite
      (``run_verdicts`` and every ``run_violations`` set), column
      statistics, and the t-digest / HLL sketches per ``part_month``.
    - Over the seeded population (``embeddings.parquet`` read through
      ``population_view.population_df``): the matric metrics path,
      ``sim_collate`` -> ``attach_sim`` -> ``sim_annotate`` ->
      ``sim_metrics`` (level-1_0, written to parquet, the engine's own
      reuse pattern) -> ``aggregate_level`` and permutation p-values.

    A run's first op is what a nightly job pays (a fresh JVM: JIT and
    code generation included); it is measured, not discarded."""

    name = "batch_validate"

    def generate(self, seed: int) -> dict:
        import duckdb

        from matric_spark import duck_oracle

        table, self.truth = gen.transcripts(seed, gen.TranscriptSpec(BATCH_TURNS))
        self.path = os.path.join(self.data, "transcripts")
        gen.write_partitioned(table, self.path)
        gen.write_json(self.truth, os.path.join(self.data, "truth.json"))
        self.pop_dir = os.path.join(self.data, "population")
        os.makedirs(self.pop_dir)
        emb = os.path.join(self.pop_dir, "embeddings.parquet")
        pq.write_table(gen.population(seed, POPULATION, EMBEDDING_DIM), emb)
        self.input_bytes = _dir_size(self.path)[1] + os.path.getsize(emb)
        self.n_rows = self.truth["n_rows"]
        con = duckdb.connect()
        try:
            con.execute("SET threads = 1")
            con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{emb}')")
            self.oracle = con.execute(duck_oracle.sim_metrics_level10_sql()).df()
        finally:
            con.close()
        self.digest = None
        return {"turns": self.n_rows, "partitions": len(self.truth["parts"]),
                "conversations": self.truth["n_convs"], "vectors": POPULATION,
                "dim": EMBEDDING_DIM, "input_mb": self.input_bytes / 2**20}

    def setup(self, spark, tr) -> None:
        from matric_spark.sources.population_view import population_df

        with tr.span("sources.scan"):
            self.t = spark.read.parquet(self.path)
            self.t.count()
            self.pop = population_df(spark, self.pop_dir)
            self.pop.count()

    def measure(self, spark, tr, seconds: float, min_ops: int) -> list[Op]:
        from pyspark.sql import functions as F

        from matric_spark.checks.column_stats import column_stats
        from matric_spark.checks.suite import run_verdicts, run_violations
        from matric_spark.operators.collate import sim_collate
        from matric_spark.operators.metrics import aggregate_level, sim_annotate, sim_metrics
        from matric_spark.operators.pairs import attach_sim
        from matric_spark.operators.signif import attach_ap_pvalues
        from matric_spark.operators.sketches import hll_distinct, tdigest_quantiles

        t, pop = self.t, self.pop

        def op(i: int) -> Op:
            out = os.path.join(self.work, f"level10-{i}")
            with Clock() as c:
                with tr.span("checks.verdicts"):
                    verdicts = run_verdicts(t).collect()
                    spark.catalog.clearCache()
                with tr.span("checks.violations"):
                    violations = {k: v.count() for k, v in run_violations(t).items()}
                with tr.span("checks.colstats"):
                    stats = column_stats(
                        t, "part_month", columns=["text", "tool", "ts", "turn_idx"],
                        distinct_cols=["conv_id"],
                    ).collect()
                with tr.span("sketches.quantiles"):
                    quant = tdigest_quantiles(
                        t.withColumn("text_len", F.length("text")),
                        ["part_month"], "text_len", [0.5, 0.9],
                    ).collect()
                with tr.span("sketches.distinct"):
                    distinct = hll_distinct(t, ["part_month"], "conv_id").collect()
                with tr.span("operators.collate"):
                    coll = sim_collate(
                        pop, reference=F.col("is_ref"), all_same_cols_ref=["batch"],
                        all_same_cols_rep=["label"], all_same_cols_non_rep=["batch"],
                        any_different_cols_non_rep=["label"],
                    )
                with tr.span("operators.attach_sim"):
                    sims = attach_sim(coll, pop, kernel="cosine", vec_col="embedding",
                                      keep_cols=["type"])
                with tr.span("operators.sim_metrics"):
                    ann = sim_annotate(sims, pop, ["label"], side="both")
                    sim_metrics(ann, ["id1", "label1"]).write.parquet(out)
                    level10 = spark.read.parquet(out)
                with tr.span("operators.aggregate"):
                    level1 = aggregate_level(level10, ["label1"]).collect()
                with tr.span("operators.pvalues"):
                    pvals = attach_ap_pvalues(level10, nn=PVALUE_PERMUTATIONS).collect()
                spark.catalog.clearCache()
            bad = self.check_suite(verdicts, violations, stats, quant, distinct)
            bad += self.check_metrics(level10, level1, pvals)
            shutil.rmtree(out, ignore_errors=True)
            for b in bad[:5]:
                _log(f"{self.name} check failed: {b}")
            return Op(c.wall, c.cpu, self.n_rows, not bad)

        return closed_loop(op, seconds, min_ops)

    def check_suite(self, verdicts, violations, stats, quant, distinct) -> list[str]:
        parts = self.truth["parts"]
        bad = verdict_errors(_verdict_map(verdicts), self.truth)
        for c in ("ref_role", "ref_tool", "null_text", "uniqueness", "seq_order"):
            want = sum(v[c] for v in parts.values())
            if violations[c] != want:
                bad.append(f"violations {c}: {violations[c]} != {want}")
        for r in stats:
            want = parts.get(str(r.part_month))
            if want is None or r.n_rows != want["n_rows"] or r.text_nulls != want["null_text"]:
                bad.append(f"column_stats {r.part_month}")
        for r in quant:
            want = parts[str(r.part_month)]["text_len_q50"]
            if abs(r.q_50 - want) > 0.05 * want + 1:
                bad.append(f"tdigest q50 {r.part_month}: {r.q_50} vs {want}")
        for r in distinct:
            want = parts[str(r.part_month)]["conv_distinct"]
            if abs(r.approx_distinct - want) > 0.05 * want:
                bad.append(f"hll {r.part_month}: {r.approx_distinct} vs {want}")
        if len(stats) != len(parts) or len(quant) != len(parts) or len(distinct) != len(parts):
            bad.append("per-partition outputs miss partitions")
        return bad

    def check_metrics(self, level10, level1, pvals) -> list[str]:
        """The first op's level-1_0 table must equal the DuckDB oracle
        (6 dp, as the engine's gate compares); every op's matric outputs
        must hash like the first op's."""
        from pyspark.sql import functions as F

        from matric_spark.duck_oracle import LEVEL10_METRIC_COLS

        dbl = [c for c in LEVEL10_METRIC_COLS if not c.startswith("sim_stat_")]
        l10 = level10.select(
            "id1", "label1",
            *[(F.round(F.col(c).cast("double"), 6) + F.lit(0.0)).alias(c) if c in dbl
              else F.col(c) for c in LEVEL10_METRIC_COLS],
        ).toPandas().sort_values("id1").reset_index(drop=True)
        self.pairs = int(
            l10["sim_stat_signal_n_non_rep_i"].sum() + l10["sim_stat_background_n_non_rep_i"].sum()
        )
        h = hashlib.sha256(l10.to_csv(index=False).encode())
        for rows in (level1, pvals):
            for r in sorted(rows, key=lambda r: tuple(str(v) for v in r)):
                h.update(repr([round(v, 6) if isinstance(v, float) else v for v in r]).encode())
        digest = h.hexdigest()
        if self.digest is not None:
            return [] if digest == self.digest else ["matric output hash differs from the first op's"]
        ref = self.oracle.sort_values("id1").reset_index(drop=True)
        if list(ref.columns) != list(l10.columns) or len(ref) != len(l10):
            return ["level-1_0 shape differs from the DuckDB oracle"]
        bad = [f"level-1_0 {c} differs from the DuckDB oracle" for c in l10.columns
               if not np.array_equal(l10[c].to_numpy(dtype="float64"),
                                     ref[c].to_numpy(dtype="float64"), equal_nan=True)]
        if not bad:
            self.digest = digest
        return bad

    def finish(self, spark, tr, ops: list[Op]) -> dict:
        return {"table_bytes": self.input_bytes, "pairs": self.pairs}


# ------------------------------------------------------------ stream


class StreamIngest(Workload):
    """One op: one micro-batch of ``streaming.validate.validated_stream``
    (one conversation-complete file per trigger), timed by the query's
    own ``durationMs.triggerExecution``. Files are staged
    ``STREAM_FILES_PER_QUERY`` at a time (the first group by set-up) and
    each group is drained by one ``availableNow`` query on the same
    checkpoint, for the run's seconds and at least ``min_ops`` batches.
    A query's CPU time, its start and stop included, is shared out
    evenly over its batches. The figures cover every batch of the run,
    the first query's JVM warm-up (JIT of the per-batch plans) included:
    the warm-up's total work is steady, the moment it lands in is not."""

    name = "stream_ingest"
    min_ops = 2 * STREAM_FILES_PER_QUERY

    def generate(self, seed: int) -> dict:
        table, self.truth = gen.transcripts(seed, gen.TranscriptSpec(STREAM_TURNS))
        self.files_dir = os.path.join(self.data, "files")
        rows = gen.write_stream_files(table, self.files_dir, STREAM_FILES)
        self.file_rows = dict(zip(sorted(os.listdir(self.files_dir)), rows))
        return {"turns": self.truth["n_rows"], "files": STREAM_FILES,
                "turns_per_file": int(np.median(rows))}

    def setup(self, spark, tr) -> None:
        run = os.path.join(self.work, "stream")
        shutil.rmtree(run, ignore_errors=True)
        self.input = os.path.join(run, "input")
        self.state = os.path.join(run, "state")
        self.ckpt = os.path.join(run, "checkpoint")
        os.makedirs(self.input)
        self.staged = 0
        with tr.span("sources.stage"):
            self.pending = self._stage()

    def _stage(self) -> list[int]:
        """Copy the next group of files into the input directory; returns
        their row counts."""
        group = list(self.file_rows)[self.staged:self.staged + STREAM_FILES_PER_QUERY]
        for f in group:
            shutil.copyfile(os.path.join(self.files_dir, f), os.path.join(self.input, f))
        self.staged += len(group)
        return [self.file_rows[f] for f in group]

    def measure(self, spark, tr, seconds: float, min_ops: int) -> list[Op]:
        from matric_spark.streaming.validate import await_or_raise, validated_stream

        self.progress: list[dict] = []
        ops: list[Op] = []
        pending = self.pending
        deadline = time.monotonic() + seconds
        while pending:
            with Clock() as c, tr.span("streaming.query") as s:
                q = validated_stream(spark, self.input, self.state, self.ckpt)
                tr.attach_stream(str(q.runId), s)
                await_or_raise(q, 150)
            self.progress += q.recentProgress
            batches = self._batches(q.recentProgress, pending)
            for o in batches:
                o.cpu_s = c.cpu / len(batches)
            ops += batches
            if len(ops) >= min_ops and time.monotonic() >= deadline:
                break
            pending = self._stage()
        return ops

    def _batches(self, progress, staged: list[int]) -> list[Op]:
        """One op per non-empty micro-batch. Its rows are the rows the
        batch appended to the state's completion log, which must match
        one staged file each (``numInputRows`` also counts the engine's
        emptiness probe, so it is not the batch size)."""
        log = pq.read_table(os.path.join(self.state, "log")).to_pandas()
        rows = log.groupby("run_id")["n_rows"].sum().to_dict()
        left = list(staged)
        ops = []
        for p in sorted(progress, key=lambda p: p["batchId"]):
            if p["numInputRows"] == 0:
                continue
            n = int(rows.get(f"stream-{p['batchId']}", -1))
            ok = n in left
            if ok:
                left.remove(n)
            else:
                _log(f"{self.name}: batch {p['batchId']} logged {n} rows; staged files {staged}")
            ops.append(Op(p["durationMs"]["triggerExecution"] / 1000.0, 0.0, max(n, 0), ok))
        if left:
            _log(f"{self.name}: staged files with {left} rows were not processed")
            for o in ops:
                o.ok = False
        return ops

    def finish(self, spark, tr, ops: list[Op]) -> dict:
        """Assemble the verdicts once. They must match the generator's
        truth for the staged files; a traced run also holds them to the
        engine's batch = streaming contract: equal to ``run_verdicts``
        over the same files (metrics to 9 decimals)."""
        import pyarrow as pa

        from matric_spark.checks.suite import run_verdicts
        from matric_spark.streaming.validate import stream_verdicts

        with tr.span("streaming.verdicts"):
            got = _verdict_map(stream_verdicts(spark, self.state).collect())
        staged = pa.concat_tables(
            pq.read_table(os.path.join(self.input, f)) for f in sorted(os.listdir(self.input))
        )
        bad = verdict_errors(got, gen.truth(staged, self.truth["drift_part"]))
        if tr.enabled:
            want = _verdict_map(run_verdicts(spark.read.parquet(self.input)).collect())
            spark.catalog.clearCache()
            bad += [f"{k} differs from run_verdicts" for k in sorted(want.keys() | got.keys())
                    if got.get(k) != want.get(k)]
        if bad:
            _log(f"{self.name}: stream verdicts wrong: {bad[:5]}")
            for o in ops:
                o.ok = False
        files, size = _dir_size(self.state)
        return {
            "state_files": files,
            "state_bytes": size,
            "input_bytes": _dir_size(self.input)[1],
            "progress": self.progress,
        }


WORKLOADS = {w.name: w for w in (BatchValidate, StreamIngest)}
