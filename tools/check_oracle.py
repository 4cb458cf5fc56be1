"""Local replica of the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() on DuckDB over the same sf dir;
compare row count, column names, and an order-insensitive value hash.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if str(s.dtype).startswith("datetime"):
            df[c] = s.astype("datetime64[us]").astype(str)
        elif s.dtype == object:
            df[c] = s.astype(str).where(~s.isna(), "<NULL>")
        elif str(s.dtype).startswith("float"):
            # NO re-round here: the queries/oracles own the 6dp-rounding
            # (and signed-zero normalization) contract; re-rounding would
            # mask contract violations the driver's hash catches.
            df[c] = s.astype("float64")
        elif str(s.dtype) in ("int32", "int64", "uint32", "uint64", "Int32", "Int64"):
            df[c] = s.astype("int64")
        elif str(s.dtype) == "bool":
            df[c] = s
        elif str(s.dtype) == "boolean":
            df[c] = s.astype("object").astype(str)
    return df.sort_values(list(df.columns), na_position="last").reset_index(drop=True)


def frame_hash(df: pd.DataFrame) -> str:
    """Byte-strict value hash of a canonicalized frame (the driver's gate
    hashes values after sorting columns by name — this must be at least as
    strict: -0.0 vs +0.0, NaN-payloads, and any representation-level
    divergence all change the digest)."""
    h = hashlib.sha256()
    for c in df.columns:
        s = df[c]
        h.update(c.encode())
        if str(s.dtype).startswith("float"):
            v = s.to_numpy(dtype="float64")
            # canonicalize NaN payload only (NaN==NaN for the gate), keep
            # signed zero distinct
            v = np.where(np.isnan(v), np.float64("nan"), v)
            h.update(v.tobytes())
        elif str(s.dtype) in ("int64", "bool"):
            h.update(s.to_numpy().tobytes())
        else:
            h.update("\x1f".join(s.astype(str).tolist()).encode())
    return h.hexdigest()


def compare(name: str, sp: pd.DataFrame, dk: pd.DataFrame) -> bool:
    ok = True
    if sorted(sp.columns) != sorted(dk.columns):
        print(f"  [{name}] SCHEMA mismatch: spark={sorted(sp.columns)} duck={sorted(dk.columns)}")
        return False
    if len(sp) != len(dk):
        print(f"  [{name}] ROWCOUNT mismatch: spark={len(sp)} duck={len(dk)}")
        ok = False
    a, b = canon(sp), canon(dk)
    if len(a) == len(b):
        for c in a.columns:
            if a[c].dtype != b[c].dtype and not (
                str(a[c].dtype).startswith("float") and str(b[c].dtype).startswith("float")
            ):
                try:
                    b[c] = b[c].astype(a[c].dtype)
                except (ValueError, TypeError):
                    print(f"  [{name}] dtype mismatch col {c}: {a[c].dtype} vs {b[c].dtype}")
                    ok = False
                    continue
        if ok and frame_hash(a) != frame_hash(b):
            ok = False
            # byte-level diagnosis: find the first column whose bytes differ
            diagnosed = False
            for c in a.columns:
                if str(a[c].dtype).startswith("float"):
                    va = a[c].to_numpy(dtype="float64")
                    vb = b[c].to_numpy(dtype="float64")
                    neq = np.frombuffer(va.tobytes(), dtype="uint64") != np.frombuffer(
                        vb.tobytes(), dtype="uint64"
                    )
                    both_nan = np.isnan(va) & np.isnan(vb)
                    neq = neq & ~both_nan
                else:
                    neq = (a[c].astype(str) != b[c].astype(str)).to_numpy()
                if neq.any():
                    i = int(np.argmax(neq))
                    print(
                        f"  [{name}] HASH mismatch col {c}: {int(neq.sum())} rows "
                        f"bitwise-unequal, e.g. row {i}: {a[c].iloc[i]!r} vs {b[c].iloc[i]!r}"
                    )
                    diagnosed = True
            if not diagnosed:
                print(f"  [{name}] HASH mismatch (row-order/encoding level)")
    return ok


def check_sketch_bounds(sp: pd.DataFrame, con) -> bool:
    """Approximate sketches get a BOUNDS oracle instead of a value hash:
    DuckDB computes exact per-partition quantiles / distinct counts and
    the `percentile_approx` quantiles / DataSketches HLL (lg K = 12)
    distinct counts of operators/sketches.py must land within the
    documented envelopes (5% of the value spread for quantiles, 5%
    relative for distinct — the same bounds tests/test_sketches.py pins
    on synthetic data, here enforced against the real table inside the
    gate)."""
    from matric_spark.sources.transcripts_view import TRANSCRIPT_VIEW_SQL

    exact = con.execute(
        f"""WITH transcripts AS ({TRANSCRIPT_VIEW_SQL})
SELECT part_month,
       quantile_cont(length(text), 0.5)  FILTER (text IS NOT NULL) AS q50,
       quantile_cont(length(text), 0.95) FILTER (text IS NOT NULL) AS q95,
       min(length(text)) AS lo, max(length(text)) AS hi,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS nd
FROM transcripts GROUP BY 1"""
    ).fetch_df().set_index("part_month")
    ok = True
    for _, r in sp.iterrows():
        e = exact.loc[r["part_month"]]
        spread = max(e["hi"] - e["lo"], 1.0)
        for approx_col, exact_col in (("q_50", "q50"), ("q_95", "q95")):
            err = abs(r[approx_col] - e[exact_col]) / spread
            if err >= 0.05:
                print(
                    f"  [sketch_stats] {approx_col} out of bounds at part "
                    f"{r['part_month']}: {r[approx_col]} vs exact "
                    f"{e[exact_col]} (rel spread err {err:.4f})"
                )
                ok = False
        rel = abs(r["approx_distinct"] - e["nd"]) / max(e["nd"], 1)
        if rel >= 0.05:
            print(
                f"  [sketch_stats] approx_distinct out of bounds at part "
                f"{r['part_month']}: {r['approx_distinct']} vs {e['nd']} "
                f"(rel {rel:.4f})"
            )
            ok = False
    return ok


def check_ivf_containment(sp: pd.DataFrame, con, k: int = 5) -> bool:
    """Containment oracle for the rows-only IVF entry: emitted cosines
    must equal DuckDB's recomputed exact cosines byte-for-byte (6dp),
    with at most k rows per qid and rank = (cosine desc, vec_id asc)
    order within the emitted set."""
    from matric_spark.duck_oracle import _NORM_E

    scored = con.execute(
        f"""WITH {_NORM_E},
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10)
SELECT q.qid, e.vec_id, (round(list_dot_product(q.qv, e.v), 6) + 0) AS cosine
FROM q CROSS JOIN e WHERE q.qid <> e.vec_id"""
    ).fetch_df()
    merged = sp.merge(scored, on=["qid", "vec_id"], how="left", suffixes=("", "_ex"))
    import numpy as np

    ok = True
    sp_bits = merged["cosine"].to_numpy("float64").view("uint64")
    ex_bits = merged["cosine_ex"].fillna(np.nan).to_numpy("float64").view("uint64")
    if (sp_bits != ex_bits).any():
        n = int((sp_bits != ex_bits).sum())
        print(f"  [ann_topk_ivf] {n} cosines differ from DuckDB exact recompute")
        ok = False
    sizes = sp.groupby("qid").size()
    if (sizes > k).any():
        print(f"  [ann_topk_ivf] >k rows for qids {sizes[sizes > k].index.tolist()}")
        ok = False
    ranked = sp.sort_values(["qid", "cosine", "vec_id"], ascending=[True, False, True])
    expect = ranked.groupby("qid").cumcount() + 1
    if (ranked["rank"].to_numpy() != expect.to_numpy()).any():
        print("  [ann_topk_ivf] rank column inconsistent with (cosine desc, vec_id) order")
        ok = False
    return ok


def duck_views(sf_dir: str):
    """A DuckDB connection with one view per parquet table in sf_dir."""
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


# Entries checked by a dedicated oracle instead of a value hash: the
# approximate sketches against DuckDB's exact values, the IVF top-k by
# containment in DuckDB's exact cosines.
SPECIAL = {
    "sketch_stats": ("bounds oracle", check_sketch_bounds),
    "ann_topk_ivf": ("containment oracle", check_ivf_containment),
}


def check_one(name: str, fn, spark, con, sf_dir: str, oracle: str | None) -> bool:
    """Run one queries() entry on Spark and check it: with its SPECIAL
    oracle if it has one, else against `oracle` (its oracle_sql() twin)
    on DuckDB; a rows-only entry (oracle None) only has to execute.
    Prints one report line, which carries the first 16 hex digits of the
    Spark rows' `frame_hash` (so two runs diff row-for-row); returns
    False on a failed check."""
    t0 = time.time()
    sp = fn(spark, sf_dir).toPandas()
    spark.catalog.clearCache()  # release per-query persist()s
    t1 = time.time()
    h = f"spark#{frame_hash(canon(sp))[:16]}"
    if name in SPECIAL:
        kind, fn_check = SPECIAL[name]
        good = fn_check(sp, con)
        print(
            f"{'PASS' if good else 'FAIL'} {name} ({kind}): "
            f"{len(sp)} rows {h}, {t1-t0:.1f}s"
        )
        return good
    if oracle is None:
        print(f"  [{name}] no oracle (rows-only): {len(sp)} rows {h}, {t1-t0:.1f}s")
        return True
    dk = con.execute(oracle).fetch_df()
    good = compare(name, sp, dk)
    print(
        f"{'PASS' if good else 'FAIL'} {name}: {len(sp)} rows {h}  "
        f"spark={t1-t0:.1f}s duck={time.time()-t1:.1f}s"
    )
    return good


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as e
    from matric_spark.session import get_spark

    spark = get_spark(cpus=None, shuffle_partitions=8)
    con = duck_views(sf_dir)

    oq = e.oracle_sql()
    failures = []
    for name, fn in e.queries().items():
        if only and name not in only:
            continue
        if not check_one(name, fn, spark, con, sf_dir, oq.get(name)):
            failures.append(name)
    print("FAILURES:", failures or "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
