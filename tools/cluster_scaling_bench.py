"""N -> 4N EXECUTOR scaling on a real Spark standalone cluster.

The north rule asks for throughput scaling efficiency >= 0.8 going from
N to 4N executors, run via `spark-submit --py-files` on a multi-executor
cluster. `tools/scaling_bench.py` evidences the criterion with local[N]
thread parallelism; this tool closes the remaining gap to the rule's
letter: it boots a real standalone master + worker (the /opt/spark
distribution), then submits the SAME job (`tools/cluster_scaling_job.py`,
imports resolved through dist/matric_spark.zip) twice —

  low  level: spark.cores.max=4   -> 1 executor  x 4 cores
  high level: spark.cores.max=16  -> 4 executors x 4 cores

Per-executor shape (4 cores / fixed heap) is held constant, so the two
levels differ ONLY in executor count: separate executor JVMs, real netty
shuffle between processes, real standalone scheduling — the closest this
single host gets to two cluster sizes. 1->4 executors = 4->16 cores also
keeps both levels in the same clock regime (see BASELINE.md "Why 4->16":
32-thread load trips turbo throttling on this host).

Methodology mirrors scaling_bench.py: materialized many-file input,
interleaved levels, best-of-inner warm reps per fresh driver JVM. Host
contention is not probed here; perfbench records CPU steal per run
(`host_steal`).

Usage: python tools/cluster_scaling_bench.py [--copies 64] [--runs 2]
       [--low-cores-max 4] [--high-cores-max 16] [--executor-cores 4]
Prints one JSON line; results recorded in BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_HOME = os.environ.get("SPARK_HOME", "/opt/spark")
MASTER_URL = "spark://127.0.0.1:7077"

sys.path.insert(0, os.path.join(REPO, "tools"))
from scaling_bench import _PREPARE, _run  # noqa: E402


def _daemon_env() -> dict:
    env = dict(
        os.environ,
        SPARK_LOG_DIR="/tmp/spark-cluster-logs",
        SPARK_PID_DIR="/tmp/spark-cluster-pids",
        # executors inherit the worker's local dirs: tmpfs, same as the
        # local bench (session.py spark.local.dir rationale)
        SPARK_LOCAL_DIRS="/dev/shm/spark-local",
    )
    # spark-daemon.sh treats SPARK_NO_DAEMONIZE as a flag (+set test):
    # even an empty value forces foreground mode and start-*.sh never
    # returns — it must be absent entirely
    env.pop("SPARK_NO_DAEMONIZE", None)
    return env


def start_cluster(worker_cores: int, worker_mem: str) -> None:
    env = _daemon_env()
    subprocess.run(
        [os.path.join(SPARK_HOME, "sbin", "start-master.sh"),
         "--host", "127.0.0.1", "--port", "7077", "--webui-port", "8099"],
        env=env, check=True, capture_output=True, text=True,
    )
    wenv = dict(env, SPARK_WORKER_CORES=str(worker_cores),
                SPARK_WORKER_MEMORY=worker_mem)
    subprocess.run(
        [os.path.join(SPARK_HOME, "sbin", "start-worker.sh"),
         MASTER_URL, "--webui-port", "8098"],
        env=wenv, check=True, capture_output=True, text=True,
    )
    time.sleep(5)  # registration


def stop_cluster() -> None:
    env = _daemon_env()
    for script in ("stop-worker.sh", "stop-master.sh"):
        subprocess.run([os.path.join(SPARK_HOME, "sbin", script)],
                       env=env, capture_output=True, text=True)


def submit(cores_max: int, executor_cores: int, executor_mem: str,
           input_dir: str, inner: int) -> dict:
    """One fresh driver JVM against the running cluster; parse CSJ line."""
    zpath = os.path.join(REPO, "dist", "matric_spark.zip")
    cmd = [
        os.path.join(SPARK_HOME, "bin", "spark-submit"),
        "--master", MASTER_URL,
        "--py-files", zpath,
        "--driver-memory", "8g",
        "--conf", f"spark.executor.cores={executor_cores}",
        "--conf", f"spark.executor.memory={executor_mem}",
        "--conf", f"spark.cores.max={cores_max}",
        "--conf", f"spark.pyspark.python={sys.executable}",
        os.path.join(REPO, "tools", "cluster_scaling_job.py"),
        "--input", input_dir, "--inner", str(inner),
    ]
    env = dict(os.environ)
    # imports must resolve through the zip, not the checkout
    env["PYTHONPATH"] = ""
    # shuffle partitions track total cores, as in the local bench
    env["SPARK_GRAFT_CPUS"] = str(cores_max)
    out = subprocess.run(cmd, env=env, cwd="/tmp", capture_output=True,
                         text=True, timeout=3600)
    if out.returncode != 0:
        raise RuntimeError(
            f"spark-submit failed:\n{out.stdout[-1500:]}\n{out.stderr[-3000:]}"
        )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("CSJ ")]
    return json.loads(lines[-1][4:])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--copies", type=int, default=64)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--inner", type=int, default=2)
    ap.add_argument("--executor-cores", type=int, default=4)
    ap.add_argument("--executor-mem", default="7g")
    ap.add_argument("--low-cores-max", type=int, default=4)
    ap.add_argument("--high-cores-max", type=int, default=16)
    ap.add_argument("--files", type=int, default=96)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--input-dir", default=None)
    args = ap.parse_args()
    if args.input_dir is None:
        args.input_dir = f"/tmp/graft_scaling_input_x{args.copies}"

    # materialize input (shared with scaling_bench.py runs)
    env = dict(os.environ, SB_COPIES=str(args.copies),
               SB_SF_DIR=args.sf_dir, SB_INPUT=args.input_dir,
               SB_FILES=str(args.files))
    if not os.path.exists(os.path.join(args.input_dir, "_SUCCESS")):
        _run(_PREPARE, env)

    subprocess.run(["sh", os.path.join(REPO, "tools", "package.sh")],
                   check=True, capture_output=True, text=True)

    worker_cores = args.high_cores_max
    # worker capacity identical for both levels: the grant differs only
    # through spark.cores.max
    n_exec_high = args.high_cores_max // args.executor_cores
    mem = re.fullmatch(r"(\d+)\s*([gGmM])b?", args.executor_mem.strip())
    if not mem:
        ap.error("--executor-mem must be like '7g' or '7168m'")
    heap_gb = (int(mem.group(1)) if mem.group(2).lower() == "g"
               else -(-int(mem.group(1)) // 1024))  # ceil MB -> GB
    worker_mem = f"{n_exec_high * heap_gb + 2}g"

    low_n = args.low_cores_max // args.executor_cores
    levels: dict[int, dict] = {}
    history: list[dict] = []
    stop_cluster()  # stale daemons from a crashed run
    try:
        # inside the try so a failed start-worker.sh (check=True) still
        # reaps the already-running master — stop_cluster is idempotent
        start_cluster(worker_cores, worker_mem)
        for i in range(args.runs):
            for cores_max in (args.low_cores_max, args.high_cores_max):
                rep = submit(cores_max, args.executor_cores,
                             args.executor_mem, args.input_dir, args.inner)
                history.append({"interleave": i, **rep})
                best = levels.get(cores_max)
                if best is None or rep["sec"] < best["sec"]:
                    levels[cores_max] = rep
    finally:
        stop_cluster()

    lo, hi = levels[args.low_cores_max], levels[args.high_cores_max]
    ratio = hi["executors"] / lo["executors"]
    eff = (lo["sec"] / hi["sec"]) / ratio
    print(json.dumps({
        "metric": "executor_scaling_efficiency",
        "mode": "standalone-cluster",
        "executor_cores": args.executor_cores,
        "low": lo, "high": hi,
        "executor_ratio": ratio,
        "speedup": round(lo["sec"] / hi["sec"], 3),
        "efficiency": round(eff, 3),
        "history": history,
        "sf": args.sf_dir, "copies": args.copies,
        "expected_executors": {"low": low_n, "high": n_exec_high},
    }))


if __name__ == "__main__":
    main()
