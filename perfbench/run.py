"""Benchmark of the transcript-validation engine: seeded workloads, timed
end to end (untraced) and layer by layer (traced).

    python3 perfbench/run.py --workload batch_validate --seed 1 --seconds 8 --trace 0

Run it from the repository root. It generates the workload's inputs from
``--seed``, starts Spark through ``matric_spark.session.get_spark`` on
``local[<cores>]``, sets the workload up ``SETUPS`` times (``setup_s`` is
the median), runs a single-client closed loop of operations for
``--seconds`` and at least the workload's ``min_ops``, checks every
output, and prints as the last line of standard output one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run repeats the
loop with spans, job groups and Spark's event log on, and the metrics
are the per-layer ones (see README.md). The lines before it name the host,
the input sizes and every figure with its unit. All files it writes stay
under ``.perfbench/`` in the repository; a JSON report of each run (spans
included) is kept in ``.perfbench/reports/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 3
DRIVER_MEMORY = "2g"
TAIL_PERCENTILES = (99, 95, 90, 75)

# name -> unit, in output order: the end-to-end metrics BENCHMARK.json
# bounds, then those printed on every run but not bounded (wall-clock
# figures move with the CPU time the host steals; the last two can read 0)
END_TO_END = {
    "setup_s": "s",
    "op_cpu_s": "s",
    "peak_rss_mb": "MB",
}
PRINTED = {
    "setup_wall_s": "s",
    "op_s_p50": "s",
    "op_s_tail": "s",
    "rows_per_s": "rows/s",
    "state_mb": "MB",
    "error_rate": "ratio",
}
PER_LAYER = {
    "session.launch_s": "s",
    "session.start_s": "s",
    "sources.bytes_read": "B",
    "sources.rows_read": "rows",
    "sources.files_read": "count",
    "sources.pruned_ratio": "ratio",
    "checks.verdicts_s": "s",
    "checks.violations_s": "s",
    "checks.colstats_s": "s",
    "checks.jobs": "count",
    "checks.stages": "count",
    "checks.tasks": "count",
    "checks.planning_s": "s",
    "checks.driver_idle_s": "s",
    "checks.task_run_s": "s",
    "checks.task_cpu_s": "s",
    "checks.shuffle_bytes": "B",
    "checks.spill_bytes": "B",
    "sketches.s": "s",
    "sketches.jobs": "count",
    "sketches.task_run_s": "s",
    "sketches.python_bytes": "B",
    "state.assemble_s": "s",
    "state.jobs": "count",
    "state.driver_idle_s": "s",
    "state.files_written": "count",
    "state.bytes_written": "B",
    "state.files_read": "count",
    "state.rows_read": "rows",
    "state.read_per_new_row": "ratio",
    "state.write_amp": "ratio",
    "state.dir_mb": "MB",
    "streaming.batches": "count",
    "streaming.empty_batches": "count",
    "streaming.rows_per_batch": "rows",
    "streaming.batch_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.commit_s": "s",
    "streaming.verdicts_s": "s",
    "operators.collate_s": "s",
    "operators.attach_sim_s": "s",
    "operators.sim_metrics_s": "s",
    "operators.aggregate_s": "s",
    "operators.pvalues_s": "s",
    "operators.pairs": "count",
    "operators.python_bytes": "B",
    "operators.jobs": "count",
    "operators.shuffle_bytes": "B",
    "operators.task_cpu_s": "s",
    "spark.tasks_failed": "count",
    "spark.tasks_retried": "count",
    "spark.tasks": "count",
    "spark.gc_s": "s",
    "spark.executor_util": "ratio",
    "spark.cpu_per_run": "ratio",
    "trace.overhead": "ratio",
}
#: spans outside the timed operations (set-up and once-per-run assembly)
_NOT_OP_SPANS = ("sources.scan", "sources.stage", "streaming.verdicts")


def steal_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks of the machine since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return sum(v), v[7]


def _alive(pid: int) -> bool:
    """The process exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return False
    return s[s.rindex(")") + 2] != "Z"


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def tail(samples: list[float]) -> tuple[float, int]:
    """The highest listed percentile with at least ten samples beyond it,
    else the median: (value, percentile)."""
    xs = sorted(samples)
    for q in TAIL_PERCENTILES:
        k = int(len(xs) * q / 100)
        if len(xs) - k - 1 >= 10:
            return xs[k], q
    return statistics.median(xs), 50


class Session:
    """Owns the Spark driver JVM this process launches. ``start`` makes a
    fresh SparkContext (the first call also launches the JVM);
    ``close`` stops it and waits for the JVM to exit."""

    def __init__(self, cores: int, base_conf: dict[str, str]) -> None:
        self.cores = cores
        self.base_conf = base_conf
        self.spark = None
        self.jvm = None

    def start(self, extra: dict[str, str] | None = None):
        """A fresh session, and the ``Clock`` of its ``get_spark``."""
        from matric_spark.session import get_spark
        from perfbench.workloads import Clock

        if self.spark is not None:
            self.spark.stop()
        with Clock() as c:
            self.spark = get_spark(
                app_name="perfbench", cpus=self.cores,
                extra_conf={**self.base_conf, **(extra or {})},
            )
        self.jvm = self.spark.sparkContext._gateway.proc
        return self.spark, c

    def peak_rss_mb(self) -> float:
        return (_vm_hwm_kb(self.jvm.pid) + _vm_hwm_kb("self")) / 1024.0

    def close(self) -> None:
        """Stop the context and the JVM, then wait for every process the
        run started (Python workers included) to end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        from perfbench.workloads import descendants

        started = [p for p in descendants() if p != os.getpid()]
        try:
            self.spark.stop()
            SparkContext._gateway.shutdown()
        finally:
            SparkContext._gateway = None
            SparkContext._jvm = None
            self.spark = None
            self.jvm.stdin.close()
            try:
                self.jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.jvm.kill()
                self.jvm.wait(timeout=30)
            deadline = time.monotonic() + 30
            while (left := [p for p in started if _alive(p)]) and time.monotonic() < deadline:
                time.sleep(0.1)
            for p in left:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)


def host_record(spark, cores: int) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "cores_used": cores,
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "local_dir": spark.conf.get("spark.local.dir"),
        "driver_memory": spark.conf.get("spark.driver.memory"),
    }


def untraced_phase(session, wl, seconds: float, phases: dict):
    """Launch, set up once untimed and then ``SETUPS`` times timed, each
    time on a fresh SparkContext, and run the closed loop untraced."""
    from perfbench.trace import Tracer
    from perfbench.workloads import Clock

    t0 = time.perf_counter()
    spark, launch = session.start()
    off = Tracer()
    # the first set-up on a cold JVM (class loading, JIT) is untimed: it
    # is part of the launch, which session.launch_s reports
    wl.setup(spark, off)
    setups = []
    for _ in range(SETUPS):
        spark, start = session.start()
        with Clock() as c:
            wl.setup(spark, off)
        setups.append((start.cpu + c.cpu, start.wall + c.wall))
    t1 = time.perf_counter()
    ops = wl.measure(spark, off, seconds, wl.min_ops)
    t2 = time.perf_counter()
    extra = wl.finish(spark, off, ops)
    phases.update(launch_setup=t1 - t0, measure=t2 - t1, finish=time.perf_counter() - t2)
    return spark, launch.wall, setups, ops, extra


def traced_phase(session, wl, seconds: float, events_dir: str):
    """A fresh SparkContext with the event log on; spans and job groups
    around every call into a layer."""
    from perfbench.trace import Tracer, digest, read_event_log

    os.makedirs(events_dir)
    spark, start = session.start({
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + events_dir,
        "spark.eventLog.compress": "true",
        "spark.eventLog.compression.codec": "zstd",
        "spark.eventLog.rolling.enabled": "false",
    })
    tr = Tracer(spark.sparkContext, enabled=True)
    wl.setup(spark, tr)
    ops = wl.measure(spark, tr, seconds, 1)
    extra = wl.finish(spark, tr, ops)
    spark.stop()
    (log,) = os.listdir(events_dir)
    stats = digest(read_event_log(os.path.join(events_dir, log)), tr.stream_groups)
    return start.wall, tr, ops, extra, stats


def layer_metrics(tr, ops, extra, stats, cores: int) -> dict[str, float]:
    """Per-layer figures of the traced phase, per operation where the
    figure is a total."""
    from perfbench.trace import GroupStats, busy_ms

    n = max(len(ops), 1)

    def spans(prefix: str):
        return [s for s in tr.spans if s.name == prefix or s.name.startswith(prefix + ".")]

    def total(ss) -> GroupStats:
        out = GroupStats()
        for s in ss:
            g = stats.get(s.id)
            if g is None:
                continue
            for k, v in vars(g).items():
                if k == "job_intervals":
                    out.job_intervals += v
                else:
                    setattr(out, k, getattr(out, k) + v)
        return out

    def secs(ss) -> float:
        return sum(s.seconds for s in ss)

    def planning_idle(ss) -> tuple[float, float]:
        plan = idle = 0.0
        for s in ss:
            iv = (stats.get(s.id) or GroupStats()).job_intervals
            if iv:
                plan += max(0.0, min(a for a, _ in iv) - s.start_ms) / 1e3
            idle += (s.end_ms - s.start_ms - busy_ms(iv, s.start_ms, s.end_ms)) / 1e3
        return plan, idle

    op_spans = [s for s in tr.spans if s.name not in _NOT_OP_SPANS]
    op_all = total(op_spans)
    m = dict.fromkeys(PER_LAYER, 0.0)
    m["sources.bytes_read"] = op_all.input_bytes / n
    m["sources.rows_read"] = op_all.input_rows / n
    m["sources.files_read"] = op_all.files_read / n
    per_op_bytes = extra.get("table_bytes") or extra.get("input_bytes", 0) / n
    m["sources.pruned_ratio"] = m["sources.bytes_read"] / per_op_bytes if per_op_bytes else 0.0

    chk = spans("checks")
    if chk:
        g = total(chk)
        plan, idle = planning_idle(chk)
        for name in ("verdicts", "violations", "colstats"):
            m[f"checks.{name}_s"] = secs(spans(f"checks.{name}")) / n
        m.update({
            "checks.jobs": g.jobs / n, "checks.stages": g.stages / n,
            "checks.tasks": g.tasks / n, "checks.planning_s": plan / n,
            "checks.driver_idle_s": idle / n, "checks.task_run_s": g.task_run_s / n,
            "checks.task_cpu_s": g.task_cpu_s / n, "checks.shuffle_bytes": g.shuffle_bytes / n,
            "checks.spill_bytes": g.spill_bytes / n,
        })
    sk = spans("sketches")
    if sk:
        g = total(sk)
        m.update({
            "sketches.s": secs(sk) / n, "sketches.jobs": g.jobs / n,
            "sketches.task_run_s": g.task_run_s / n, "sketches.python_bytes": g.python_bytes / n,
        })
    ver = spans("streaming.verdicts")
    if ver:
        g = total(ver)
        new_rows = sum(o.rows for o in ops)
        m.update({
            "state.assemble_s": secs(ver), "state.jobs": g.jobs,
            "state.driver_idle_s": planning_idle(ver)[1],
            "state.files_written": extra["state_files"], "state.bytes_written": extra["state_bytes"],
            "state.files_read": g.files_read, "state.rows_read": g.input_rows,
            "state.read_per_new_row": g.input_rows / new_rows if new_rows else 0.0,
            "state.write_amp": extra["state_bytes"] / extra["input_bytes"],
            "state.dir_mb": extra["state_bytes"] / 2**20,
            "streaming.verdicts_s": secs(ver),
        })
        prog = extra["progress"]
        full = [p for p in prog if p["numInputRows"] > 0]
        med = lambda k: statistics.median(p["durationMs"].get(k, 0) for p in full) / 1e3  # noqa: E731
        m.update({
            "streaming.batches": len(full),
            "streaming.empty_batches": len(prog) - len(full),
            "streaming.rows_per_batch": statistics.mean(o.rows for o in ops),
            "streaming.batch_s": med("triggerExecution"),
            "streaming.add_batch_s": med("addBatch"),
            "streaming.query_planning_s": med("queryPlanning"),
            "streaming.commit_s": statistics.median(
                p["durationMs"].get("walCommit", 0) + p["durationMs"].get("commitOffsets", 0)
                for p in full) / 1e3,
        })
    opr = spans("operators")
    if opr:
        g = total(opr)
        for name in ("collate", "attach_sim", "sim_metrics", "aggregate", "pvalues"):
            m[f"operators.{name}_s"] = secs(spans(f"operators.{name}")) / n
        m.update({
            "operators.pairs": extra["pairs"],
            "operators.python_bytes": g.python_bytes / n, "operators.jobs": g.jobs / n,
            "operators.shuffle_bytes": g.shuffle_bytes / n, "operators.task_cpu_s": g.task_cpu_s / n,
        })
    every = total(tr.spans)
    op_wall = sum(o.seconds for o in ops)
    m.update({
        "spark.tasks_failed": every.tasks_failed, "spark.tasks_retried": every.tasks_retried,
        "spark.tasks": every.tasks, "spark.gc_s": op_all.gc_s / n,
        "spark.executor_util": op_all.task_run_s / (op_wall * cores) if op_wall else 0.0,
        "spark.cpu_per_run": op_all.task_cpu_s / op_all.task_run_s if op_all.task_run_s else 0.0,
    })
    return m


def run(args, work: str) -> tuple[dict, list[str], dict]:
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload](work)
    t0 = time.perf_counter()
    sizes = wl.generate(args.seed)
    phases = {"generate": time.perf_counter() - t0}
    session = Session(cores, {
        # a fixed-size heap: G1 heap resizing otherwise adds run-to-run
        # variance to every timing and to peak_rss_mb; no hsperfdata file
        # in the system's temporary directory
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -Xms{DRIVER_MEMORY} -XX:-UsePerfData",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    })
    st0 = steal_ticks()
    try:
        spark, launch_s, setups, ops, extra = untraced_phase(session, wl, args.seconds, phases)
        st1 = steal_ticks()
        host = host_record(spark, cores)
        rss = session.peak_rss_mb()
        samples = [o.seconds for o in ops]
        tail_s, tail_q = tail(samples)
        all_ops = list(ops)
        e2e = {
            "setup_s": statistics.median(cpu for cpu, _ in setups),
            "op_cpu_s": sum(o.cpu_s for o in ops) / len(ops),
            "peak_rss_mb": rss,
            "setup_wall_s": statistics.median(wall for _, wall in setups),
            "op_s_p50": statistics.median(samples),
            "op_s_tail": tail_s,
            "rows_per_s": sum(o.rows for o in ops) / sum(samples),
            "state_mb": extra.get("state_bytes", 0) / 2**20,
        }
        info = {
            "sizes": sizes, "ops": len(ops), "tail_percentile": tail_q,
            "beyond_tail": sum(s > tail_s for s in samples), "setups_s": setups,
            "phases_s": phases,
            "host_steal": (st1[1] - st0[1]) / max(st1[0] - st0[0], 1),
        }
        report = {"untraced_ops": [vars(o) for o in ops]}
        if args.trace:
            # trace.overhead compares warm ops on both sides
            base = ops[1:]
            if not base:
                base = wl.measure(spark, Tracer(), 0, 1)
                all_ops += base
            start_s, tr, t_ops, t_extra, stats = traced_phase(
                session, wl, args.seconds / 2, os.path.join(work, "events"))
            all_ops += t_ops
            metrics = layer_metrics(tr, t_ops, t_extra, stats, cores)
            metrics["session.launch_s"] = launch_s
            metrics["session.start_s"] = start_s
            metrics["trace.overhead"] = (statistics.median(o.seconds for o in t_ops)
                                         / statistics.median(o.seconds for o in base))
            units = PER_LAYER
            report.update(
                spans=tr.to_json(), traced_ops=[vars(o) for o in t_ops],
                job_groups={g: {k: v for k, v in vars(st).items() if k != "job_intervals"}
                            for g, st in stats.items()},
            )
        else:
            metrics, units = e2e, END_TO_END
    finally:
        session.close()
    failed = sum(not o.ok for o in all_ops)
    e2e["error_rate"] = failed / len(all_ops)
    result = {
        "correct": failed == 0,
        "attempted": len(all_ops),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    lines = [
        "host " + json.dumps(host, sort_keys=True),
        "workload " + json.dumps({"name": args.workload, "seed": args.seed, **info}, sort_keys=True),
        *(f"{k} {e2e[k]:.6g} {u}" for k, u in {**END_TO_END, **PRINTED}.items()),
    ]
    report.update(host=host, workload=info, result=result, e2e=e2e)
    return result, lines, report


def prepare(work: str) -> None:
    """Create the run's work directory and point every scratch location
    of Python, the JVM and the engine into it."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "local"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    })
    for k in ("SPARK_GRAFT_TRANSCRIPTS_PARQUET", "SPARK_GRAFT_CATALOG", "PYSPARK_GATEWAY_PORT"):
        os.environ.pop(k, None)
    tempfile.tempdir = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # Spark and the JVM print to stdout; keep it for the result alone
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)

    if not os.path.isdir(os.path.join(ROOT, "matric_spark")):
        print(f"perfbench: no matric_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.gen import write_json
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare(work)
    try:
        result, lines, report = run(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(base, "reports"), exist_ok=True)
    write_json(report, os.path.join(
        base, "reports", f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"))
    out.write("\n".join(lines + [json.dumps(result)]) + "\n")
    out.flush()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
