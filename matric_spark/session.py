"""SparkSession factory tuned for the validation engine.

Design notes (scale-first):
- AQE on, with skew-join handling: conversation length is Zipfian, so any
  per-conv shuffle can produce hot partitions; AQE splits them at runtime.
- Arrow enabled: every custom kernel in this engine is a vectorized
  pandas/Arrow UDF (no per-row Python anywhere).
- Session timezone pinned to UTC so results compare bit-for-bit with the
  DuckDB oracle (duckdb timestamps are UTC-naive).
- shuffle partitions default to the core count locally; on a real cluster
  AQE coalesces from a deliberately-large initial number, so we set
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum`` high and
  let AQE shrink — this is the setting that survives a 100x scale-up.
- Iceberg: if the runtime jar is on the classpath we register a hadoop
  catalog (``spark.sql.catalog.graft``); otherwise the sources layer falls
  back to partitioned Parquet with identical semantics.
- Driver JIT budget: the driver JVM starts with ``-XX:CICompilerCount=2``
  (one C1 and one C2 thread under tiered compilation). A validation pass
  is dozens of small Spark jobs, so the driver's own planning code, not
  the data, dominates. Per-thread ``/proc`` sampling of one nightly
  ``batch_validate`` pass on a 4-core host (local[4], default compiler
  count) found the C2 threads at 35.5 s of 80.4 s process-tree CPU, plus
  6.1 s of C1, against 14.7 s in task threads. A JFR compilation record
  of the same pass split C2's work into Janino 27 %, JDK classes 14 %,
  Catalyst 14 %, Java serialization 9 %, ``spark.sql.execution`` 9 %,
  Scala collections 6 %, and only 9.6 % for the generated per-row code.
  With a single C2 thread the tiered policy compiles the hottest methods
  first and drops stale queued ones, so the row loops still reach C2
  while most lukewarm planner code never does. The cap is set on the
  driver only: in ``local[N]`` the tasks run in that JVM, while cluster
  executors do real row work and keep the JVM's default. C1-only
  (``-XX:TieredStopAtLevel=1``) cuts more CPU on small passes but slows
  large inputs (a warm 2 M-turn verdicts + t-digest probe ran ~10 % more
  CPU and ~23 % more wall), because the row loops never reach C2. The
  cap's own price on that probe is a slower warm-up: the first warm reps
  wait longer for C2 (median +5 % CPU over reps 2-4), later reps match.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def _iceberg_available() -> bool:
    """True when an iceberg-spark-runtime jar is importable by the JVM."""
    try:
        import importlib.util  # noqa: F401
        import pyspark

        jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        return any("iceberg-spark-runtime" in j for j in os.listdir(jars))
    except OSError:
        return False


#: driver JVM flag bounding the JIT compiler threads (module docstring)
JIT_CAP = "-XX:CICompilerCount=2"


def _driver_default_java_options() -> str:
    """``spark.driver.defaultJavaOptions`` with the JIT cap appended.

    A ``SparkSession.builder`` setting replaces the
    ``spark-defaults.conf`` value, so a value set there is read here and
    kept ahead of the cap; one that already sets ``CICompilerCount`` is
    left alone. Spark prepends these
    options to ``spark.driver.extraJavaOptions``, so callers that pass
    their own extra options keep the cap."""
    from pyspark.find_spark_home import _find_spark_home

    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(
        _find_spark_home(), "conf"
    )
    opts = ""
    try:
        with open(os.path.join(conf_dir, "spark-defaults.conf")) as f:
            for line in f:
                # java.util.Properties syntax: key, then "=", ":" or blanks
                m = re.match(r"\s*spark\.driver\.defaultJavaOptions\s*[=:\s]\s*(.*)", line)
                if m:
                    opts = m.group(1).strip()
    except OSError:
        pass
    if "-XX:CICompilerCount=" in opts:
        return opts
    return f"{opts} {JIT_CAP}".strip()


def get_spark(
    app_name: str = "matric_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    warehouse: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cpus`` controls local parallelism (``local[cpus]``); defaults to the
    ``SPARK_GRAFT_CPUS`` env var, then ``local[*]``. On a real cluster this
    function is a no-op passthrough to whatever ``spark-submit`` provided —
    all configs below are safe cluster-side too.

    Under ``spark-submit`` (detected via ``PYSPARK_GATEWAY_PORT``) the
    submitted ``--master`` always wins and ``cpus`` only sizes shuffle
    partitions. A spark-submit run that OMITS ``--master`` falls to
    spark-submit's own ``local[*]`` default, i.e. every core of the
    host, which ``SPARK_GRAFT_CPUS`` cannot bound from here; so when that
    env var is set and the master is ``local[*]``, the session is stopped
    and a ``ValueError`` asks for ``--master local[N]`` instead of
    silently running on every core.

    The driver JIT cap (``JIT_CAP``) only applies when this call
    launches the JVM; under ``spark-submit`` put
    ``--conf spark.driver.defaultJavaOptions=-XX:CICompilerCount=2`` on
    the submit command line (see ``main.py``).
    """
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus is None:
        cpus = int(env) if env else None
    n_shuffle = shuffle_partitions or (cpus or os.cpu_count() or 8)

    b = SparkSession.builder.appName(app_name)
    # Respect a cluster-provided master; force local[...] only when the
    # process was launched directly (tests/bench), so main.py can share
    # this factory with spark-submit deployments. Two signals, either
    # sufficient: PYSPARK_GATEWAY_PORT marks a python process started by
    # spark-submit's PythonRunner (whose gateway JVM already carries the
    # submitted config — under Spark 4 the submitted master is NOT
    # mirrored into JVM system properties, so the SparkConf probe alone
    # misses it and would silently downgrade a standalone-cluster submit
    # to local mode; pinned by tests/test_packaging.py), and the
    # SparkConf probe covers an explicitly pre-set spark.master property.
    from pyspark import SparkConf

    under_spark_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    if not under_spark_submit and not SparkConf(loadDefaults=True).contains(
        "spark.master"
    ):
        b = b.master(f"local[{cpus}]" if cpus else "local[*]")
    b = (
        b
        # --- determinism / oracle parity ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- adaptive execution: the scale story ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        # --- vectorized python boundary ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- scan sizing: keep file-split tasks balanced ---
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # --- shuffle spill dir: this host's disk is ~300 MB/s shared
        # across all writers, which serializes shuffle-heavy stages at
        # high core counts; tmpfs restores the per-node NVMe bandwidth a
        # real cluster has. Override with SPARK_GRAFT_LOCAL_DIR.
        .config(
            "spark.local.dir",
            os.environ.get(
                "SPARK_GRAFT_LOCAL_DIR",
                "/dev/shm/spark-local"
                if os.path.isdir("/dev/shm")
                else "/tmp",
            ),
        )
        # quieter local runs
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.driver.defaultJavaOptions", _driver_default_java_options())
    )
    if _iceberg_available():
        wh = warehouse or os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/graft_warehouse")
        b = (
            b.config(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
            )
            .config("spark.sql.catalog.graft", "org.apache.iceberg.spark.SparkCatalog")
            .config("spark.sql.catalog.graft.type", "hadoop")
            .config("spark.sql.catalog.graft.warehouse", wh)
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    if under_spark_submit and env and spark.sparkContext.master == "local[*]":
        spark.stop()
        raise ValueError(
            f"SPARK_GRAFT_CPUS={env} cannot bound parallelism under "
            "spark-submit, whose master here is local[*] (every core): "
            f"pass --master local[{env}] to spark-submit"
        )
    spark.sparkContext.setLogLevel("WARN")
    # WindowExec warns "No Partition Defined" once per plan of each global
    # (un-partitioned) window. The engine's three are deliberate and small:
    # metrics.bh_adjust ranks a metric-level table (one row per (row,
    # group)); column_stats.volume_profile and text_analysis.vocab_drift
    # lag one row per partition.
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec",
        jvm.org.apache.logging.log4j.Level.ERROR,
    )
    return spark
