"""Seeded input generator for the benchmark (numpy + pyarrow, no Spark).

Every table is a pure function of ``(seed, size)``: the same seed gives
byte-identical parquet files, a new seed gives different rows at the same
planted rates. Next to each transcript table the generator writes a
ground-truth sidecar (``truth.json``): per partition, the planted
violation counts as each check defines them (recomputed from the final
rows by ``truth``, an implementation independent of the engine) and the
drifted cohort, so the benchmark can verify the engine's verdicts
without trusting the engine.

Transcript table (the schema of ``matric_spark.schema.TRANSCRIPT_SCHEMA``
plus the ``part_month`` partition column):

- Zipf-skewed conversation lengths, each conversation inside one month;
- ``n_months`` monthly partitions;
- planted violations at fixed rates: out-of-domain role and tool, NULL
  text, duplicated ``(conv_id, turn_idx)`` keys, out-of-order timestamps;
- one drifted cohort (a whole month) whose text is twice as long.

Population table: ``vec_id``, 64-dim float32 ``embedding`` and ``label``,
the columns ``sources.population_view.population_df`` reads; replicates
of a label cluster around the label's centroid, label 0 is the reference.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROLES = np.array(["system", "user", "assistant", "tool"])
TOOLS = np.array(["bash", "search", "browser", "python"])
BAD_ROLE = "moderator"
BAD_TOOL = "telnet"
#: the engine's default referential domains (``matric_spark.schema``)
ROLE_DOMAIN = ["system", "user", "assistant", "tool"]
TOOL_DOMAIN = ["bash", "search", "browser", "python", "none"]

#: planted violation rates (share of rows), identical for every seed
RATES = {
    "ref_role": 0.002,
    "ref_tool": 0.002,
    "null_text": 0.003,
    "dup_key": 0.002,
    "seq_order": 0.001,
}

_EPOCH_MONTH = (2022, 1)
_MONTH_S = 28 * 86400  # every conversation fits in the first 28 days
_WORDS = 2048
_TEXT_POOL = 1 << 15


@dataclass(frozen=True)
class TranscriptSpec:
    n_turns: int
    n_months: int = 24
    zipf_a: float = 1.6
    max_turns: int = 200


def _month_code(i: int) -> int:
    y, m = divmod(_EPOCH_MONTH[1] - 1 + i, 12)
    return (_EPOCH_MONTH[0] + y) * 100 + m + 1


def _month_start_s(i: int) -> int:
    import datetime as dt

    code = _month_code(i)
    d = dt.datetime(code // 100, code % 100, 1, tzinfo=dt.timezone.utc)
    return int(d.timestamp())


def _text_pool(rng: np.random.Generator) -> np.ndarray:
    """Pool of distinct token strings; rows draw text from it by index."""
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    wl = rng.integers(2, 9, _WORDS)
    words = [
        letters[rng.integers(0, 26, n)].tobytes().decode() for n in wl
    ]
    lengths = np.clip(rng.lognormal(2.8, 0.5, _TEXT_POOL).astype(int), 3, 120)
    picks = rng.integers(0, _WORDS, int(lengths.sum()))
    out, o = [], 0
    for n in lengths:
        out.append(" ".join(words[j] for j in picks[o:o + n]))
        o += n
    return np.array(out, dtype=object)


def transcripts(seed: int, spec: TranscriptSpec) -> tuple[pa.Table, dict]:
    """The seeded transcript table and its ground truth."""
    rng = np.random.default_rng([seed, 1])
    pool = _text_pool(rng)

    # conversations until the turn budget is met
    lens = np.clip(rng.zipf(spec.zipf_a, spec.n_turns), 1, spec.max_turns)
    n_conv = int(np.searchsorted(np.cumsum(lens), spec.n_turns)) + 1
    lens = lens[:n_conv].astype(np.int64)
    n = int(lens.sum())
    conv = np.repeat(np.arange(n_conv), lens)
    starts = np.cumsum(lens) - lens
    turn = np.arange(n) - np.repeat(starts, lens)

    month = rng.integers(0, spec.n_months, n_conv)
    drift_month = int(rng.integers(0, spec.n_months))
    conv_start = (
        np.array([_month_start_s(i) for i in range(spec.n_months)])[month]
        + 86400
        + rng.integers(0, _MONTH_S - 3 * 86400, n_conv)
    )
    gaps = rng.integers(1, 600, n)
    gaps[starts] = 0
    offs = np.cumsum(gaps)
    offs -= np.repeat(offs[starts], lens)
    ts = np.repeat(conv_start, lens) + offs

    role = np.where(turn == 0, 0, 1 + (turn - 1) % 3)
    role_s = ROLES[role].astype(object)
    tool_s = np.full(n, None, dtype=object)
    is_tool = role == 3
    tool_s[is_tool] = TOOLS[rng.integers(0, len(TOOLS), int(is_tool.sum()))]
    text = pool[rng.integers(0, _TEXT_POOL, n)]
    drifted = np.repeat(month == drift_month, lens)
    text[drifted] = [f"{t} {t}" for t in text[drifted]]

    # planted violations
    def pick(rate: float, mask: np.ndarray | None = None) -> np.ndarray:
        cand = np.flatnonzero(mask) if mask is not None else np.arange(n)
        k = int(round(rate * n))
        return np.sort(rng.choice(cand, size=min(k, len(cand)), replace=False))

    role_s[pick(RATES["ref_role"])] = BAD_ROLE
    tool_s[pick(RATES["ref_tool"], is_tool)] = BAD_TOOL
    text[pick(RATES["null_text"])] = None
    late = pick(RATES["seq_order"], turn > 0)
    ts[late] = ts[late - 1] - rng.integers(1, 300, len(late))

    conv_ids = np.char.add("c", np.char.zfill(conv.astype(str), 8)).astype(object)
    codes = np.array([_month_code(i) for i in range(spec.n_months)])
    part = codes[np.repeat(month, lens)].astype(np.int32)

    # duplicated keys: exact copies of sampled rows, placed after them
    order = np.sort(np.concatenate([np.arange(n), pick(RATES["dup_key"])]), kind="stable")
    table = pa.table(
        {
            "conv_id": pa.array(conv_ids[order], pa.string()),
            "turn_idx": pa.array(turn[order], pa.int32()),
            "role": pa.array(role_s[order], pa.string()),
            "text": pa.array(text[order], pa.string()),
            "tool": pa.array(tool_s[order], pa.string()),
            "ts": pa.array(ts[order] * 1_000_000, pa.timestamp("us", tz="UTC")),
            "part_month": pa.array(part[order], pa.int32()),
        }
    )
    return table, truth(table, int(codes[drift_month]))


def truth(table: pa.Table, drift_part: int) -> dict:
    """Per-partition verdict metrics of a transcript table, computed with
    numpy and pandas from each check's definition (``null_ts`` is
    counted; the sequence rule assumes no NULL ``ts``, which the
    generator never writes). Works on any set of whole conversations,
    such as a subset of the stream files. ``drift_part`` is recorded as
    the planted cohort; the drift statuses follow from the computed
    statistics."""
    df = table.to_pandas()
    _, conv = np.unique(df["conv_id"].to_numpy(), return_inverse=True)
    part = df["part_month"].to_numpy()
    turn = df["turn_idx"].to_numpy().astype(np.int64)
    ts = table.column("ts").cast(pa.int64()).to_numpy(zero_copy_only=False)
    role_bad = (df["role"].notna() & ~df["role"].isin(ROLE_DOMAIN)).to_numpy()
    tool_bad = (df["tool"].notna() & ~df["tool"].isin(TOOL_DOMAIN)).to_numpy()
    null_text = df["text"].isna().to_numpy()
    null_ts = df["ts"].isna().to_numpy()
    text_len = df["text"].str.len().to_numpy()

    # uniqueness: rows whose (conv, turn) key occurs more than once
    _, inv, cnt = np.unique(conv.astype(np.int64) * (turn.max() + 1) + turn,
                            return_inverse=True, return_counts=True)
    dup_rows = cnt[inv] > 1

    # seq_order: ts strictly below the max ts of the conversation's
    # earlier rows ordered by (turn_idx, ts); offsetting each
    # conversation above the previous one lets one running max serve all
    o = np.lexsort((ts, turn, conv))
    c_o, t_o = conv[o], ts[o] - ts.min()
    shifted = t_o + c_o.astype(np.int64) * (int(t_o.max()) + 1)
    prev_max = np.concatenate([[-1], np.maximum.accumulate(shifted)[:-1]])
    first = np.concatenate([[True], c_o[1:] != c_o[:-1]])
    late = np.zeros(len(df), dtype=bool)
    late[o] = (~first) & (shifted < prev_max)

    has_text = ~null_text
    codes, p_idx = np.unique(part[has_text], return_inverse=True)
    ks, psi = _drift(p_idx, text_len[has_text].astype(np.int64), len(codes))
    drift = {int(c): (float(k), float(q)) for c, k, q in zip(codes, ks, psi)}

    parts = {}
    for p in np.unique(part):
        m = part == p
        parts[str(int(p))] = {
            "drift_ks": drift[int(p)][0],
            "drift_psi": drift[int(p)][1],
            "n_rows": int(m.sum()),
            "ref_role": int((m & role_bad).sum()),
            "ref_tool": int((m & tool_bad).sum()),
            "null_text": int((m & null_text).sum()),
            "null_ts": int((m & null_ts).sum()),
            "uniqueness": int((m & dup_rows).sum()),
            "seq_order": int((m & late).sum()),
            "conv_distinct": int(len(np.unique(conv[m]))),
            "text_len_q50": float(np.quantile(text_len[m & ~null_text], 0.5)),
        }
    return {
        "n_rows": len(df),
        "n_convs": int(conv.max()) + 1,
        "drift_part": drift_part,
        "parts": parts,
    }


def _drift(p_idx: np.ndarray, v: np.ndarray, n_parts: int) -> tuple[np.ndarray, np.ndarray]:
    """KS distance and PSI of each partition's values against all other
    partitions', as ``checks/drift.py`` defines them: KS is the largest
    ECDF gap over the observed values; PSI runs over 50-wide buckets
    capped at 20, with add-0.5 smoothing over the observed buckets."""

    def counts(vals: np.ndarray) -> np.ndarray:
        _, v_idx = np.unique(vals, return_inverse=True)
        c = np.zeros((n_parts, v_idx.max() + 1))
        np.add.at(c, (p_idx, v_idx), 1)
        return c

    c = counts(v)
    n_p = c.sum(axis=1)[:, None]
    n_rest = c.sum() - n_p
    cum = np.cumsum(c, axis=1)
    ks = np.abs(cum / n_p - (np.cumsum(c.sum(axis=0)) - cum) / n_rest).max(axis=1)
    b = counts(np.minimum(v // 50, 19))
    eps = 0.5 * b.shape[1]
    pa = (b + 0.5) / (n_p + eps)
    pb = (b.sum(axis=0) - b + 0.5) / (n_rest + eps)
    return ks, ((pa - pb) * np.log(pa / pb)).sum(axis=1)


def write_partitioned(table: pa.Table, out_dir: str) -> list[str]:
    """Hive-partitioned parquet (``part_month=<code>/part-0.parquet``),
    one file per partition, rows in generation order. Returns the
    partition codes in ascending order."""
    parts = sorted(set(table.column("part_month").to_pylist()))
    body = table.drop(["part_month"])
    pm = table.column("part_month").to_numpy()
    for p in parts:
        d = os.path.join(out_dir, f"part_month={p}")
        os.makedirs(d, exist_ok=True)
        idx = np.flatnonzero(pm == p)
        pq.write_table(body.take(idx), os.path.join(d, "part-0.parquet"))
    return parts


def write_stream_files(table: pa.Table, out_dir: str, n_files: int) -> list[int]:
    """Split the table into ``n_files`` conversation-complete parquet
    files (``batch-<i>.parquet``, ``part_month`` kept as a column) of
    near-equal row counts: conversations go, longest first, to the file
    with the fewest rows. Returns the row count of each file."""
    os.makedirs(out_dir, exist_ok=True)
    _, conv, lens = np.unique(
        table.column("conv_id").to_numpy(zero_copy_only=False),
        return_inverse=True, return_counts=True,
    )
    owner = np.empty(len(lens), dtype=np.int64)
    load = np.zeros(n_files, dtype=np.int64)
    for c in np.argsort(-lens, kind="stable"):
        f = int(np.argmin(load))
        owner[c] = f
        load[f] += lens[c]
    bucket = owner[conv]
    rows = []
    for i in range(n_files):
        idx = np.flatnonzero(bucket == i)
        pq.write_table(table.take(idx), os.path.join(out_dir, f"batch-{i:04d}.parquet"))
        rows.append(len(idx))
    return rows


def population(seed: int, n_vectors: int, dim: int = 64, n_labels: int = 10) -> pa.Table:
    """Seeded population: label-clustered float32 embeddings. Every
    (label, batch) cell holds the same number of vectors (``batch`` is
    ``vec_id % 4`` in ``population_df``), so the pair counts, and with
    them the work, are the same for every seed."""
    cells = 4 * n_labels
    if n_vectors % cells:
        raise ValueError(f"n_vectors must be a multiple of {cells}")
    rng = np.random.default_rng([seed, 2])
    label = np.empty(n_vectors, dtype=np.int32)
    for b in range(4):
        label[b::4] = rng.permutation(np.repeat(np.arange(n_labels), n_vectors // cells))
    centroid = rng.normal(0.0, 1.0, (n_labels, dim))
    emb = (centroid[label] * 0.6 + rng.normal(0.0, 1.0, (n_vectors, dim))).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vectors, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), dim).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(label),
        }
    )


def write_json(obj: dict, path: str) -> None:
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True, default=str)


def tree_digest(root: str) -> str:
    """sha256 over every file's relative path and bytes under ``root``."""
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
