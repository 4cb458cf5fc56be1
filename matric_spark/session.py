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
- Driver JIT: the driver JVM starts with ``-XX:TieredStopAtLevel=1``, so
  it compiles with C1 only. A validation pass is dozens of small Spark
  jobs, so the driver's own planning code, not the data, dominates, and
  almost none of it stays hot long enough to repay C2. Per-thread
  ``/proc`` CPU of one cold ``batch_validate`` pass (4-core host,
  local[4], after the benchmark's set-ups) with C2 capped at one thread
  (``-XX:CICompilerCount=2``): C2 22.9 CPU-s of 65.8 process-tree CPU-s,
  C1 6.5, task threads 16.8. With C1 only: C2 0, C1 2.0, task threads
  14.2, 4.5 in JVM threads that ended during the pass, process tree 36.3
  (the task threads drop because code no longer waits in profiled tier-3
  code behind a saturated C2 queue; raising only the Tier4 thresholds x3
  or x30 saved nothing). A JFR compilation record of such a pass (default
  compiler count) put only 9.6 % of C2's work on the generated per-row
  code; the rest went to Janino, JDK classes, Catalyst, Java serialization
  and Scala collections. Where C2 pays is a long-lived JVM whose row loops
  run over large inputs. ``perfbench.gen`` seed 11, one ``run_verdicts`` +
  ``tdigest_quantiles`` per pass, local[4], 4 GB heap, CPU-s per pass (two
  JVMs per side):

  ============  ===========  ===========  =============  =============
  turns         cold, C2     cold, C1     warm, C2       warm, C1
  ============  ===========  ===========  =============  =============
  2 M           52.5 / 54.2  39.7 / 41.9  20.9-25.9      28.7-34.2
  6 M           81.4 / 82.8  84.4 / 96.4  52.5 / 55.1    79.9 / 95.0
  ============  ===========  ===========  =============  =============

  (2 M warm: passes 3-5; 6 M warm: the second pass.) So C1 wins the first
  pass up to ~2 M turns and loses every warm pass, by ~35 % at 2 M and
  ~60 % at 6 M. The traffic this engine's drivers see is on the C1 side of
  that crossover: the nightly pass (``main.py``, ``batch_validate``) is
  one cold pass per JVM; Tier-1, ``bench.py`` and ``check_oracle.py`` are
  long-lived JVMs over small inputs, where planning outweighs the row
  loops; and a cluster driver only plans, its row loops run in the
  executors, which keep the JVM's default tiered JIT (the flag is set on
  the driver only). A long-lived local driver over multi-million-turn
  inputs is the exception: give it its own
  ``spark.driver.defaultJavaOptions`` in ``spark-defaults.conf`` (e.g.
  ``-XX:CICompilerCount=2``), which ``get_spark`` keeps.
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


#: driver JVM flag: compile with C1 only (module docstring)
JIT_CAP = "-XX:TieredStopAtLevel=1"


def _driver_default_java_options() -> str:
    """``spark.driver.defaultJavaOptions`` with the JIT cap appended.

    A ``SparkSession.builder`` setting replaces the
    ``spark-defaults.conf`` value, so a value set there is read here and
    kept ahead of the cap; one that already sets ``TieredStopAtLevel`` or
    ``CICompilerCount`` (its own JIT choice) is left alone. Spark prepends these
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
    if re.search(r"-XX:(TieredStopAtLevel|CICompilerCount)=", opts):
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
    ``--conf spark.driver.defaultJavaOptions=-XX:TieredStopAtLevel=1`` on
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
