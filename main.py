"""spark-submit entry point for the validation engine.

Cluster usage (north rule: spark-submit --py-files on a multi-executor
cluster):

    tools/package.sh                         # builds dist/matric_spark.zip
    spark-submit --master spark://<master>:7077 \
        --py-files dist/matric_spark.zip \
        --conf spark.executor.cores=4 --conf spark.executor.memory=7g \
        --conf spark.cores.max=<4 x executors> \
        --conf spark.driver.defaultJavaOptions=-XX:TieredStopAtLevel=1 \
        main.py \
        --input  <transcript table path or sf dir> \
        --state  s3://bucket/state \
        --run-id run-$(date +%s) \
        [--partitions 202401,202402] [--output <verdicts path>]

(The defaultJavaOptions line makes the driver JVM compile with C1 only,
the policy get_spark applies when it launches the JVM itself; under
spark-submit the driver JVM starts before get_spark runs, so it goes on the
command line. A cluster driver only plans: the row loops run in the
executors, which keep the default tiered JIT. See session.py.)

(The cluster-provided master is respected — get_spark only forces
local[N] when the process was launched outside spark-submit; see
session.py, and tests/test_packaging.py, which spark-submits the suite
(tools/cluster_scaling_job.py) to a two-executor local-cluster.)

The job validates only partitions not yet completed for the input's
lineage fingerprint (resume-without-recompute), appends per-partition
state, and writes/prints the full verdict table. `--partitions` adds an
explicit partition-pruning predicate on top of the resume filter.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser(description="transcript validation suite")
    ap.add_argument("--input", required=True,
                    help="transcript parquet/Iceberg path, or a testdata sf dir")
    ap.add_argument("--state", required=True, help="state-table directory")
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--partitions", default=None,
                    help="comma-separated part_month values to restrict to")
    ap.add_argument("--output", default=None,
                    help="write verdicts parquet here (default: print)")
    ap.add_argument("--fingerprint", default=None,
                    help="override lineage fingerprint (default: file listing hash)")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from matric_spark.checks.suite import SuiteConfig
    from matric_spark.session import get_spark
    from matric_spark.state import input_fingerprint, run_incremental

    # shared session factory: applies the UTC pin (oracle parity), AQE +
    # skew-join, arrow batching, and shuffle-dir tuning that tests and
    # bench run under; a cluster-provided master (spark-submit) is
    # respected — get_spark only forces local[...] when none is set.
    spark = get_spark(app_name="transcript-validate")

    if os.path.isfile(os.path.join(args.input, "lineitem.parquet")):
        from matric_spark.sources.transcripts_view import transcript_df

        t = transcript_df(spark, args.input)
    else:
        t = spark.read.parquet(args.input)

    cfg = SuiteConfig()
    if args.partitions:
        parts = [int(p) for p in args.partitions.split(",")]
        t = t.filter(F.col(cfg.partition_col).isin(parts))

    fp = args.fingerprint or input_fingerprint(args.input)
    verdicts = run_incremental(
        spark, t, args.state, run_id=args.run_id, fingerprint=fp, cfg=cfg
    )
    if args.output:
        verdicts.write.mode("overwrite").parquet(args.output)
    else:
        for r in verdicts.orderBy("part", "check_id").collect():
            print(f"{r.part}\t{r.check_id}\t{r.metric}\t{r.status}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
