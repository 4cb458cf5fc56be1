"""AQE skew-join evidence: measure the same hot-key join with
spark.sql.adaptive.skewJoin enabled vs disabled.

The repo's skew story (hot LSH buckets, Zipfian conv_id fan-in) leans on
AQE's skew-join splitting as the production lever (session.py enables it
globally). This bench demonstrates the lever actually works on this
host: it plants a single key carrying ~10% of all rows in a join whose
other keys are uniform, sizes the shuffle so the hot partition exceeds
the skew threshold, and times the join+aggregate twice.

Workload: transcripts at $SPARK_GRAFT_SF_DIR (default sf0.1, 600k turns)
amplified AMPLIFY× via explode (default 64 → 38.4M rows), conv_id
rewritten so 10% of rows share one conv; joined (sort-merge, broadcast
disabled) against the per-conv turn-count relation, then aggregated.
Both runs share one JVM/session; only the skewJoin flag differs, and the
skewed run goes second so JIT warm-up biases AGAINST the lever.

Usage: python tools/skew_bench.py   # prints one JSON line
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
AMPLIFY = int(os.environ.get("SPARK_GRAFT_AMPLIFY", "64"))
HOT_FRACTION = 0.10


def build_inputs(spark, tmp: str) -> tuple[str, str]:
    """Materialize the skewed fact table and the per-key dim relation to
    parquet so both timed runs read identical bytes (no lineage reuse)."""
    from matric_spark.sources.transcripts_view import transcript_df

    t = transcript_df(spark, SF_DIR).select("conv_id", "turn_idx", "ts")
    fact = (
        t.withColumn("_rep", F.explode(F.array([F.lit(i) for i in range(AMPLIFY)])))
        .withColumn(
            "conv_id",
            # ~10% of rows funnel into ONE key; the rest keep their
            # (conv_id, replica) spread so non-hot keys stay uniform
            F.when(
                (F.hash("conv_id", "_rep") % 100 + 100) % 100
                < int(HOT_FRACTION * 100),
                F.lit("HOT_CONV"),
            ).otherwise(F.concat_ws("#", "conv_id", "_rep")),
        )
        .select("conv_id", "turn_idx", "ts")
    )
    fact_path = f"{tmp}/fact.parquet"
    fact.write.mode("overwrite").parquet(fact_path)

    dim = (
        spark.read.parquet(fact_path)
        .groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("conv_turns"))
    )
    dim_path = f"{tmp}/dim.parquet"
    dim.write.mode("overwrite").parquet(dim_path)
    return fact_path, dim_path


def timed_join(spark, fact_path: str, dim_path: str, skew_on: bool) -> float:
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", str(skew_on).lower())
    # force the sort-merge path: a broadcast would dodge the skew
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1"
    )
    # thresholds sized for this dataset (hot partition ~0.4 GB):
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64m"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32m")
    fact = spark.read.parquet(fact_path)
    dim = spark.read.parquet(dim_path)
    t0 = time.time()
    out = (
        fact.join(dim, "conv_id")
        .withColumn("_w", F.col("turn_idx") * F.col("conv_turns"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_w").alias("w"),
        )
        .collect()[0]
    )
    dt = time.time() - t0
    assert out["n"] > 0
    return dt


def main() -> None:
    import shutil
    import tempfile

    from matric_spark.session import get_spark

    spark = get_spark(cpus=CPUS)
    spark.conf.set("spark.sql.shuffle.partitions", str(max(CPUS * 4, 128)))
    tmp = tempfile.mkdtemp(prefix="graft_skewbench_")
    try:
        fact_path, dim_path = build_inputs(spark, tmp)
        n_rows = spark.read.parquet(fact_path).count()
        hot = (
            spark.read.parquet(fact_path)
            .filter(F.col("conv_id") == "HOT_CONV")
            .count()
        )
        # warm-up: touch both inputs through the join path once
        timed_join(spark, fact_path, dim_path, skew_on=True)
        t_off = timed_join(spark, fact_path, dim_path, skew_on=False)
        t_on = timed_join(spark, fact_path, dim_path, skew_on=True)
        print(
            json.dumps(
                {
                    "metric": "aqe_skew_join_sec",
                    "rows": n_rows,
                    "hot_rows": hot,
                    "hot_fraction": round(hot / n_rows, 4),
                    "skew_join_off_sec": round(t_off, 3),
                    "skew_join_on_sec": round(t_on, 3),
                    "speedup": round(t_off / t_on, 3),
                    "cpus": CPUS,
                    "amplify": AMPLIFY,
                }
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
