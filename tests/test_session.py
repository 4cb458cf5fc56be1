"""Session-factory policy: the driver JVM's JIT compiler budget."""

from __future__ import annotations

from matric_spark.session import JIT_CAP, _driver_default_java_options


def test_driver_jvm_runs_with_jit_cap(spark):
    """The fixture's driver JVM was launched by get_spark with C1 only."""
    args = (
        spark.sparkContext._jvm.java.lang.management.ManagementFactory
        .getRuntimeMXBean().getInputArguments()
    )
    assert "-XX:TieredStopAtLevel=1" in list(args)


def test_driver_jvm_reports_c1_only(spark):
    """The running JVM took the flag (not just received it)."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    assert bean.getVMOption("TieredStopAtLevel").getValue() == "1"


def test_jit_cap_appended_to_spark_defaults(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    assert _driver_default_java_options() == JIT_CAP

    conf = tmp_path / "spark-defaults.conf"
    conf.write_text(
        "# site defaults\n"
        "spark.driver.memory 4g\n"
        "spark.driver.defaultJavaOptions   -Dfoo=1 -XX:+UseG1GC\n"
    )
    assert _driver_default_java_options() == f"-Dfoo=1 -XX:+UseG1GC {JIT_CAP}"

    conf.write_text("spark.driver.defaultJavaOptions=-Dfoo=2\n")
    assert _driver_default_java_options() == f"-Dfoo=2 {JIT_CAP}"

    # a site that already chose its own JIT keeps it, with no cap added
    for site in ("-XX:CICompilerCount=3", "-Dfoo=1 -XX:TieredStopAtLevel=4"):
        conf.write_text(f"spark.driver.defaultJavaOptions {site}\n")
        assert _driver_default_java_options() == site
