"""spark-submit job: the verdicts suite on a cluster master.

Runs the full constraint-suite pass (the `verdicts` flagship,
checks/suite.run_verdicts) over a pre-materialized transcript parquet
table and prints one `CSJ {...}` JSON line with the best warm wall time.
Submitted with `--py-files dist/matric_spark.zip` against a cluster
master, so every import resolves through the shipped zip exactly as a
cluster deployment would; tests/test_packaging.py submits it to a
two-executor local-cluster and checks the executors it reports.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--inner", type=int, default=2,
                    help="back-to-back reps in this driver; best kept")
    args = ap.parse_args()

    from matric_spark.checks.suite import SuiteConfig, run_verdicts
    from matric_spark.session import get_spark

    # get_spark respects the spark-submit-provided master and applies the
    # same AQE/skew/arrow/UTC configs the local bench runs under.
    spark = get_spark(app_name="cluster_scaling_job")
    t = spark.read.parquet(args.input)
    n_turns = t.count()  # warm scan + JIT, untimed

    best = None
    for _ in range(args.inner):
        t0 = time.time()
        run_verdicts(t, SuiteConfig()).write.format("noop").mode(
            "overwrite"
        ).save()
        dt = time.time() - t0
        best = dt if best is None or dt < best else best

    # executor JVM count as the cluster actually granted it; the status
    # tracker's list includes the driver, so subtract it
    # (getExecutorMemoryStatus is driver-only under Spark 4)
    n_exec = (
        len(spark.sparkContext._jsc.sc().statusTracker().getExecutorInfos())
        - 1
    )
    print("CSJ " + json.dumps({
        "master": spark.conf.get("spark.master"),
        "executors": n_exec,
        "n_turns": n_turns,
        "sec": round(best, 2),
        "turns_per_sec": round(n_turns / best, 1),
        "default_parallelism": spark.sparkContext.defaultParallelism,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
