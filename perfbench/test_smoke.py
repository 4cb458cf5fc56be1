"""Tiny-size smoke test of the benchmark.

    python3 -m pytest perfbench/test_smoke.py -q

- the generator is deterministic per seed and plants the same rates for
  every seed;
- every workload runs its operations at a tiny size, passes its own
  checks, and reports every end-to-end and per-layer metric by name.
"""

from __future__ import annotations

import argparse
import os

import pytest

from perfbench import gen, run, workloads

TINY = {
    "BATCH_TURNS": 20_000,
    "STREAM_TURNS": 16_000,
    "STREAM_FILES": 8,
    "POPULATION": 200,
}


def _inputs(seed: int, root: str) -> tuple[str, dict]:
    table, truth = gen.transcripts(seed, gen.TranscriptSpec(5_000))
    gen.write_partitioned(table, os.path.join(root, "table"))
    gen.write_stream_files(table, os.path.join(root, "files"), 4)
    os.makedirs(os.path.join(root, "pop"))
    import pyarrow.parquet as pq

    pq.write_table(gen.population(seed, 200), os.path.join(root, "pop", "embeddings.parquet"))
    return gen.tree_digest(root), truth


def _rates(truth: dict) -> dict[str, float]:
    n = truth["n_rows"]
    return {
        c: sum(p[c] for p in truth["parts"].values()) / n
        for c in ("ref_role", "ref_tool", "null_text", "uniqueness", "seq_order")
    }


def test_generator_is_seeded(tmp_path):
    a, truth_a = _inputs(1, str(tmp_path / "a"))
    b, _ = _inputs(1, str(tmp_path / "b"))
    c, truth_c = _inputs(2, str(tmp_path / "c"))
    assert a == b
    assert a != c
    ra, rc = _rates(truth_a), _rates(truth_c)
    for k, want in gen.RATES.items():
        got = "uniqueness" if k == "dup_key" else k
        # a duplicated key makes two violating rows; copies of planted
        # rows add a little on top
        scale = 2 if k == "dup_key" else 1
        assert ra[got] == pytest.approx(scale * want, rel=0.35), (k, ra)
        assert rc[got] == pytest.approx(ra[got], rel=0.35), (k, ra, rc)
    assert sum(p["n_rows"] for p in truth_a["parts"].values()) == truth_a["n_rows"]
    assert len(truth_a["parts"]) == 24


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_workload_reports_every_metric(name, tmp_path, monkeypatch):
    for k, v in TINY.items():
        monkeypatch.setattr(workloads, k, v)
    work = str(tmp_path / "work")
    saved = dict(os.environ)
    try:
        run.prepare(work)
        args = argparse.Namespace(workload=name, seed=5, seconds=1.0, trace=1)
        result, lines, report = run.run(args, work)
    finally:
        os.environ.clear()
        os.environ.update(saved)
    assert result["correct"], report
    assert result["attempted"] >= 3 and result["failed"] == 0
    assert set(result["metrics"]) == set(run.PER_LAYER)
    assert all(m["unit"] == run.PER_LAYER[k] for k, m in result["metrics"].items())
    printed = {line.split()[0] for line in lines}
    assert set(run.END_TO_END) | set(run.PRINTED) | {"host"} <= printed
    assert report["e2e"]["op_s_p50"] > 0
