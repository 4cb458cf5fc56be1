"""The north rule ships the job via `spark-submit --py-files
matric_spark.zip main.py`: the package must import standalone from the
zip (no repo checkout, no data files, no relative-path tricks). This
builds the zip exactly as tools/package.sh does and imports every
module from it in a clean subprocess whose cwd is elsewhere."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _build_zip(path: str) -> None:
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        pkg = os.path.join(REPO, "matric_spark")
        for root, _, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    z.write(p, os.path.relpath(p, REPO))


def test_zip_imports_standalone(tmp_path):
    zpath = str(tmp_path / "matric_spark.zip")
    _build_zip(zpath)
    code = """
import pkgutil, sys, importlib
sys.path.insert(0, sys.argv[1])
import matric_spark
assert matric_spark.__file__.startswith(sys.argv[1]), matric_spark.__file__
n = 0
for m in pkgutil.walk_packages(matric_spark.__path__, "matric_spark."):
    importlib.import_module(m.name)
    n += 1
assert n >= 25, f"only {n} modules found in the zip"
print("imported", n, "modules from zip")
"""
    out = subprocess.run(
        [sys.executable, "-c", code, zpath],
        cwd=str(tmp_path),  # NOT the repo: the checkout must not leak in
        env={**os.environ, "PYTHONPATH": ""},
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert "imported" in out.stdout


def test_spark_submit_end_to_end(tmp_path):
    """Run the job the way the north rule ships it: a fresh
    `spark-submit --py-files matric_spark.zip main.py` driver JVM, with
    main.py copied OUT of the checkout so every import must resolve
    through the zip. Asserts the verdict table lands with the full
    (partition x check) grid, then re-submits against the same state dir
    and asserts the resumed run reproduces it byte-for-byte (the CLI
    resume contract, not just the library one)."""
    import shutil

    import pyspark

    sf_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_dir):
        import pytest

        pytest.skip("testdata sf0.001 not present")

    zpath = str(tmp_path / "matric_spark.zip")
    _build_zip(zpath)
    shutil.copy(os.path.join(REPO, "main.py"), tmp_path / "main.py")
    spark_submit = os.path.join(
        os.path.dirname(pyspark.__file__), "bin", "spark-submit"
    )
    state = str(tmp_path / "state")
    outs = [str(tmp_path / "verdicts1"), str(tmp_path / "verdicts2")]
    env = {**os.environ, "PYTHONPATH": ""}
    for run_id, out_dir in zip(["r1", "r2"], outs):
        r = subprocess.run(
            [
                spark_submit,
                "--master", "local[4]",
                "--py-files", zpath,
                str(tmp_path / "main.py"),
                "--input", sf_dir,
                "--state", state,
                "--run-id", run_id,
                "--fingerprint", "fp-e2e",
                "--output", out_dir,
            ],
            cwd=str(tmp_path),
            env=env,
            capture_output=True,
            text=True,
            timeout=300,
        )
        assert r.returncode == 0, (r.stdout[-2000:], r.stderr[-4000:])

    import pyarrow.dataset as ds

    t1 = ds.dataset(outs[0]).to_table().to_pandas()
    t2 = ds.dataset(outs[1]).to_table().to_pandas()
    checks = {
        "ref_role", "ref_tool", "null_text", "null_ts",
        "uniqueness", "seq_order", "drift_ks", "drift_psi",
    }
    assert set(t1["check_id"]) == checks
    n_parts = t1["part"].nunique()
    assert n_parts >= 2 and len(t1) == n_parts * len(checks)
    assert set(t1["status"]) <= {"pass", "fail"}
    key = ["part", "check_id"]
    a = t1.sort_values(key).reset_index(drop=True)
    b = t2.sort_values(key).reset_index(drop=True)
    assert a.equals(b), "resumed CLI run diverged from the first run"
    # the second submit must have resumed, not recomputed: every
    # partition was already complete for this fingerprint, so the
    # completion log gains no rows under the second run_id
    comp = ds.dataset(os.path.join(state, "log")).to_table().to_pandas()
    assert set(comp["run_id"]) == {"r1"}, sorted(set(comp["run_id"]))


def test_spark_submit_cluster_master_respected(tmp_path):
    """Regression for a silent cluster-mode downgrade: under Spark 4's
    spark-submit the submitted master is NOT mirrored into JVM system
    properties, so session.get_spark's SparkConf probe alone missed it
    and forced local[N] — a spark-submit against a real standalone
    master would quietly run single-process (zero executors) while
    reporting success. get_spark now also detects the PythonRunner
    gateway (PYSPARK_GATEWAY_PORT). Pin it the way it failed: submit
    tools/cluster_scaling_job.py against local-cluster[2,1,1024] (two
    REAL executor JVMs, no daemons needed) and assert the job saw the
    cluster master and both executors."""
    import json
    import shutil

    import pyspark

    sf_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_dir):
        import pytest

        pytest.skip("testdata sf0.001 not present")

    # tiny parquet input for the job (it reads a plain transcript table)
    inp = str(tmp_path / "turns")
    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "from matric_spark.session import get_spark\n"
        "from matric_spark.sources.transcripts_view import transcript_df\n"
        "transcript_df(get_spark(cpus=2), %r).coalesce(2)"
        ".write.parquet(%r)\n" % (REPO, sf_dir, inp)
    )
    r = subprocess.run([sys.executable, "-c", code], capture_output=True,
                       text=True, timeout=180)
    assert r.returncode == 0, r.stderr[-2000:]

    zpath = str(tmp_path / "matric_spark.zip")
    _build_zip(zpath)
    shutil.copy(os.path.join(REPO, "tools", "cluster_scaling_job.py"),
                tmp_path / "job.py")
    spark_submit = os.path.join(
        os.path.dirname(pyspark.__file__), "bin", "spark-submit"
    )
    r = subprocess.run(
        [
            spark_submit,
            "--master", "local-cluster[2,1,1024]",
            "--py-files", zpath,
            "--conf", "spark.driver.memory=2g",
            str(tmp_path / "job.py"),
            "--input", inp, "--inner", "1",
        ],
        cwd=str(tmp_path),
        env={**os.environ, "PYTHONPATH": "",
             "SPARK_GRAFT_DRIVER_MEM": "2g", "SPARK_GRAFT_CPUS": "2"},
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert r.returncode == 0, (r.stdout[-2000:], r.stderr[-4000:])
    rep = json.loads(
        [ln for ln in r.stdout.splitlines() if ln.startswith("CSJ ")][-1][4:]
    )
    assert rep["master"].startswith("local-cluster"), rep
    assert rep["executors"] == 2, rep


def test_spark_submit_local_star_refuses_graft_cpus(tmp_path):
    """Regression for a silent parallelism leak: spark-submit without
    --master runs local[*], every core of the host, and used to ignore
    SPARK_GRAFT_CPUS. get_spark now stops the session and raises a
    ValueError naming the --master local[N] fix."""
    import pyspark

    job = tmp_path / "job.py"
    job.write_text(
        "import sys; sys.path.insert(0, %r)\n"
        "from matric_spark.session import get_spark\n"
        "get_spark()\n" % REPO
    )
    spark_submit = os.path.join(
        os.path.dirname(pyspark.__file__), "bin", "spark-submit"
    )
    r = subprocess.run(
        [spark_submit, "--conf", "spark.driver.memory=1g", str(job)],
        cwd=str(tmp_path),
        env={**os.environ, "PYTHONPATH": "", "SPARK_GRAFT_CPUS": "2"},
        capture_output=True,
        text=True,
        timeout=300,
    )
    # spark-submit's PythonRunner merges the job's stderr into stdout
    out = r.stdout + r.stderr
    assert r.returncode != 0, out[-2000:]
    assert "ValueError" in out and "--master local[2]" in out, out[-4000:]


def test_bench_compact_line_fits_driver_tail_window():
    """BENCH_r03.json recorded `parsed: null`: the driver json-parses the
    last line of a ~2000-char output tail, and a 100+-entry `queries`
    dict overflows it. compact_line must stay under budget for any suite
    size, keep the headline fields verbatim, always include the flagship
    `verdicts` timing, and pack the most expensive queries first."""
    import json

    import bench

    times = {f"query_with_a_long_name_{i:03d}": round(0.1 * i, 3) for i in range(150)}
    times["verdicts"] = 0.05  # cheap flagship: must survive packing anyway
    out = {
        "metric": "full_constraint_suite_sec",
        "value": 0.05,
        "unit": "sec",
        "queries": times,
        "sf": "/root/testdata/sf0.1",
        "n_turns": 600000,
        "turns_per_sec": 12000000.0,
        "verdicts_warm_sec": 0.04,
        "turns_per_sec_warm": 15000000.0,
        "total_sec": round(sum(times.values()), 3),
        "cpus": "32",
        "bus_ceiling_pre": 1.0,
        "bus_ceiling_post": 0.9,
    }
    line = bench.compact_line(out, budget=1800)
    assert len(line) <= 1800
    assert "\n" not in line
    parsed = json.loads(line)
    assert parsed["value"] == 0.05
    assert parsed["total_sec"] == out["total_sec"]
    assert parsed["n_queries"] == 151
    assert parsed["queries_detail"] == "BENCH_DETAIL.json"
    assert "verdicts" in parsed["queries"]
    kept = set(parsed["queries"]) - {"verdicts"}
    dropped = set(times) - set(parsed["queries"])
    if kept and dropped:  # most-expensive-first: every kept >= every dropped
        assert min(times[k] for k in kept) >= max(times[k] for k in dropped)
    # small suites serialize whole
    small = {"queries": {"a": 1.0, "b": 2.0}, "value": 1.0}
    assert json.loads(bench.compact_line(small))["queries"] == {"a": 1.0, "b": 2.0}
