"""Adjudicate per-query BENCH regressions with interleaved warm probes.

BENCH_r04 recorded three queries >1.9x slower than BENCH_r03
(dedup_clusters 2.95->7.57 s, conv_token_stats 1.62->3.35 s,
decontaminate 0.73->1.43 s) under a badly-contended bus window
(bus_stream_sec_post 4.63 s vs the 2-4 s clean band). This tool applies
the repo's adjudication protocol (BASELINE.md): wait for a clean bus
window, then in ONE fresh JVM interleave warm probes of each suspect
against control queries from the same family that were untouched between
rounds. Reporting min-of-reps per query kills the per-round contention
noise; the suspect/control RATIO vs r03's ratio separates a real
deterministic regression from uniform window inflation.

Usage: python tools/adjudicate_bench.py [--reps 3] [--wait-clean 0.85]
Prints one JSON line (plus per-rep stderr progress).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

from scaling_bench import _stream_ceiling, wait_clean  # noqa: E402

#: suspects and same-family controls, with their BENCH_r03 seconds
#: (sf0.1, local[32]) for the ratio comparison
R03 = {
    "dedup_clusters": 2.951,
    "conv_token_stats": 1.616,
    "decontaminate": 0.732,
    "conv_fingerprint": 1.498,   # control: transcript-tape family
    "doc_repetition": 1.805,     # control: document-scan family
    "cluster_stats": 2.373,      # control: shares ngram_jaccard+CC stages
}
SUSPECTS = ("dedup_clusters", "conv_token_stats", "decontaminate")
CONTROLS = ("conv_fingerprint", "doc_repetition", "cluster_stats")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--wait-clean", type=float, default=0.85)
    ap.add_argument("--wait-timeout", type=float, default=5400.0)
    args = ap.parse_args()
    # R03 holds sf0.1 seconds: any other scale makes every vs_r03 ratio
    # and regression verdict meaningless
    if os.path.basename(os.path.normpath(args.sf_dir)) != "sf0.1":
        ap.error(
            f"--sf-dir {args.sf_dir!r} is not an sf0.1 directory; the "
            "BENCH_r03 baseline seconds in R03 were measured at sf0.1 "
            "(local[32]), so ratios against any other scale are meaningless"
        )

    if args.wait_clean > 0:
        pre = wait_clean(2, 8, args.wait_clean, args.wait_timeout)
    else:
        pre = _stream_ceiling(2, 8)

    from bench import run_once, setup_transcripts
    import __spark_entry__ as e
    from matric_spark.session import get_spark

    spark = get_spark(app_name="matric_spark_adjudicate")
    setup_transcripts(spark, args.sf_dir)

    qs = e.queries()
    names = [n for pair in zip(SUSPECTS, CONTROLS) for n in pair]
    # one unrecorded warm pass (scan caches, JVM JIT), then the probes
    for n in names:
        run_once(qs[n], spark, args.sf_dir)
        spark.catalog.clearCache()
    reps: dict[str, list[float]] = {n: [] for n in names}
    for r in range(args.reps):
        for n in names:
            sec = round(run_once(qs[n], spark, args.sf_dir), 3)
            reps[n].append(sec)
            print(json.dumps({"rep": r, "query": n, "sec": sec}),
                  file=sys.stderr)
            spark.catalog.clearCache()
    post = _stream_ceiling(2, 8)

    best = {n: min(v) for n, v in reps.items()}
    verdicts = {}
    ctl_infl = [best[c] / R03[c] for c in CONTROLS]
    ctl_med = sorted(ctl_infl)[len(ctl_infl) // 2]
    for s in SUSPECTS:
        infl = best[s] / R03[s]
        # real regression = suspect inflated well beyond what the
        # co-measured controls read in the SAME window
        verdicts[s] = {
            "r03_sec": R03[s],
            "best_sec": best[s],
            "vs_r03": round(infl, 3),
            "vs_r03_window_normalized": round(infl / ctl_med, 3),
            "real_regression": infl / ctl_med > 1.3,
        }
    print(json.dumps({
        "metric": "bench_regression_adjudication",
        "sf": args.sf_dir,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
        "reps": reps,
        "best": best,
        "control_inflation_vs_r03": {
            c: round(best[c] / R03[c], 3) for c in CONTROLS
        },
        "control_inflation_median": round(ctl_med, 3),
        "verdicts": verdicts,
        "bus_pre": pre, "bus_post": post,
    }))


if __name__ == "__main__":
    main()
