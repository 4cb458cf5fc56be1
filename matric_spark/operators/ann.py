"""Similarity search over embedding columns (`array<float>`).

Exact and blocked tiers, per the standard scale playbook:
- **brute-force cosine** — exact, O(N·Q) (top-k) or O(N²) (near-dup):
  the correctness baseline and the oracle-checked path. All math is
  Column expressions (codegen; no Python).
- **blocked near-dup** — the 100 TB path, one pipeline whatever the
  blocks: unit rows (`_unit_rows`) → block keys → ONE ids-only
  candidate equi-join (dedup.candidate_pairs, shared with MinHash) →
  ONE verify that re-joins the unit vectors and keeps the exact cosine
  (`_verified`). The block keys are either
  - hyperplane LSH: n_bands·band_bits deterministic random hyperplanes
    (default 12×16 = 192) → per-band sign-bit values (vectorized Arrow
    UDF, one numpy matmul per batch), keyed on (band_idx, band_val).
    Bucket cardinality per band is 2^band_bits (65,536 at the default),
    so the expected random-pair candidate count is
    n_bands·N²/2^(band_bits+1) ≈ N²/10,900, while 12 bands keep recall
    ≥ 0.9 at cosine 0.95 (per-band collide prob (1−θ/π)^16 ≈ 0.18,
    1−(1−0.18)^12 ≈ 0.91; higher cosine → higher recall); or
  - IVF cells: spherical k-means centroids, multi-probe cell ids
    (SemDeDup), self or cross-set.
  Recall is differential-tested against brute force on planted
  near-dups (tests/test_ops.py); precision is exact by construction and
  soundness-gated, and the deterministic LSH pipeline is also
  value-gated against its DuckDB replay.

Reference lineage: matric's cosine kernel is row-normalize + tcrossprod
(R/sim_calculate.R:126-128, R/sparse.R:186-190); its blocked sparse
pairwise (R/sparse.R:20-48) is the same candidates-then-verify shape used
here, with LSH buckets replacing hand-rolled id2-list blocks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from matric_spark.functions.vector import dot
from matric_spark.operators.dedup import candidate_pairs


def _lcg_planes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic hyperplanes, components uniform in [-1, 1] via the
    same LCG family as functions/hashing.py (no RNG library)."""
    state = seed & 0xFFFFFFFF
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (1664525 * state + 1013904223) & 0xFFFFFFFF
            row.append(state / 2147483647.5 - 1.0)
        planes.append(row)
    return planes


def _as_double(col: str = "embedding") -> F.Column:
    return F.col(col).cast("array<double>")


def _normalized(
    df: DataFrame, id_col: str, vec_col: str, id_out: str, v_out: str
) -> DataFrame:
    """Pre-normalize rows in STAGED projections (norm as its own column;
    see pairs._preprocess_features for why nesting the aggregate inside
    the transform lambda explodes codegen). Cosine then becomes one dot
    per pair — a third of the inline-norms work. v is NULL unless the
    norm is finite and positive: Spark orders NaN above +inf, so the
    upper bound also drops NaN norms, whose all-NaN rows would otherwise
    pass every `cosine >= t` filter."""
    return (
        df.select(F.col(id_col).alias(id_out), _as_double(vec_col).alias(v_out))
        .withColumn(
            "_nrm",
            F.sqrt(F.aggregate(v_out, F.lit(0.0), lambda a, x: a + x * x)),
        )
        .withColumn(
            v_out,
            F.when(
                (F.col("_nrm") > 0) & (F.col("_nrm") < float("inf")),
                F.transform(v_out, lambda x: x / F.col("_nrm")),
            ),
        )
        .drop("_nrm")
    )


def _unit_rows(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(vec_id, v) unit rows of the vectors that can score at all: a
    NULL, zero, NaN or inf norm leaves v NULL in `_normalized`, and such
    a row could never verify above any threshold — and the probe/assign
    UDFs' np.stack would crash on its None."""
    return _normalized(emb, id_col, vec_col, "vec_id", "v").filter(
        F.col("v").isNotNull()
    )


def _verified(
    cand: DataFrame,
    x: DataFrame,
    y: DataFrame | None,
    names: tuple[str, str],
    threshold: float,
) -> DataFrame:
    """The verify every blocked near-dup shares: re-join the normalized
    (vec_id, v) rows of `x` and `y` (`y=None`: `x`) to the ids-only
    candidate list from dedup.candidate_pairs, take the exact cosine
    (one dot of unit rows) and keep cosine >= threshold. Blocking can
    only drop pairs, never invent one or change a cosine, so precision
    is exact and only recall is probabilistic."""
    a, b = names
    y = x if y is None else y
    return (
        cand.join(x.select(F.col("vec_id").alias(a), F.col("v").alias("v1")), a)
        .join(y.select(F.col("vec_id").alias(b), F.col("v").alias("v2")), b)
        .select(a, b, dot("v1", "v2").alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


# Hard ceiling on candidate pairs the exact (cartesian) baselines will
# generate before refusing to run. 1e8 pairs ≈ minutes on one host and
# covers every test/gate fixture (≤ 2e6 pairs at sf0.1) with two orders
# of margin; any real corpus slice blows past it immediately, which is
# the point — the production paths are the LSH/IVF twins below.
MAX_EXACT_PAIRS = 100_000_000


def _guard_pair_budget(
    n_pairs: int, op: str, twin: str, max_pairs: "int | None"
) -> None:
    if max_pairs is not None and n_pairs > max_pairs:
        raise ValueError(
            f"{op}: exact baseline would generate {n_pairs:,} candidate "
            f"pairs (> max_pairs={max_pairs:,}). This path is O(N²)/O(N·M) "
            f"by construction and exists as the oracle/soundness baseline "
            f"for {twin} — use that for production data, or pass "
            f"max_pairs=None to run the exact scan anyway."
        )


def ann_topk_bruteforce(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_pairs: "int | None" = MAX_EXACT_PAIRS,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    `queries` is small (it is broadcast); the big side streams through a
    broadcast-nested-loop with the dot product in codegen. Deterministic
    tie-break: (cosine desc, vec_id asc). Rows whose vector has no
    finite, positive norm (see `_normalized`) are neither queries nor
    candidates.

    `max_pairs` bounds |emb|·|queries| (one count per side at call time,
    negligible vs the scan it authorizes); None skips the check.
    """
    from pyspark.sql.window import Window

    if max_pairs is not None:
        _guard_pair_budget(
            emb.count() * queries.count(),
            "ann_topk_bruteforce",
            "ann_topk_ivf",
            max_pairs,
        )
    q = _normalized(queries, id_col, vec_col, "qid", "qv")
    e = _normalized(emb, id_col, vec_col, "vec_id", "v")
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("qid") != F.col("vec_id"))
        .select("qid", "vec_id", dot("qv", "v").alias("cosine"))
        .filter(F.col("cosine").isNotNull())
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def embedding_near_dup(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_pairs: "int | None" = MAX_EXACT_PAIRS,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold (the oracle baseline).

    O(N²) by construction — correct at test scale; the LSH variant below
    is the same operator with candidate pruning for production scale.
    `max_pairs` (default 1e8) makes that contract enforced rather than
    advisory: the call refuses to build a cartesian bigger than the
    budget (None opts out).
    """
    if max_pairs is not None:
        n = emb.count()
        _guard_pair_budget(
            n * (n - 1) // 2,
            "embedding_near_dup",
            "embedding_near_dup_lsh / embedding_near_dup_ivf",
            max_pairs,
        )
    e1 = _normalized(emb, id_col, vec_col, "id1", "v1")
    e2 = _normalized(emb, id_col, vec_col, "id2", "v2")
    return (
        e1.crossJoin(e2)
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", dot("v1", "v2").alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def ivf_centroids(
    emb: DataFrame,
    n_centroids: int = 64,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Spherical k-means centroids (numpy (k, d), unit rows) for the IVF
    index. Deterministic throughout: seeds are the `n_centroids` vectors
    with the smallest xxhash64(id) (a hash-sample, no RNG), then `iters`
    Lloyd rounds — assign = one argmax matmul per Arrow batch, update =
    groupBy(cell).avg. Each round collects exactly k×d floats of model
    state to the driver (k=64, d=64 → 32 KB) — model state, not data;
    the data-side work is one scan per round.
    """
    import numpy as np

    normed = _unit_rows(emb, id_col, vec_col)
    w_seed = F.xxhash64(F.col("vec_id").cast("string"))
    seeds = (
        normed.withColumn("_h", w_seed)
        .orderBy("_h")
        .limit(n_centroids)
        .select("v")
        .collect()
    )
    cent = np.stack([np.asarray(r.v, dtype=np.float64) for r in seeds])
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)

    from matric_spark.functions.udfs import make_centroid_assign_udf

    for _ in range(iters):
        assign = make_centroid_assign_udf(cent)
        cells = normed.select(assign(F.col("v")).alias("cell"), "v")
        agg = (
            cells.select(
                "cell", F.posexplode(F.col("v")).alias("i", "x")
            )
            .groupBy("cell", "i")
            .agg(F.sum("x").alias("s"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "s"))),
                    lambda t: t["s"],
                ).alias("mean_v")
            )
            .collect()
        )
        new = cent.copy()  # empty cells keep their old centroid
        for r in agg:
            new[r.cell] = np.asarray(r.mean_v, dtype=np.float64)
        norms = np.linalg.norm(new, axis=1, keepdims=True)
        cent = np.where(norms > 0, new / norms, cent)
    return cent


def ann_topk_ivf(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 64,
    nprobe: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_queries: bool = True,
    centroids=None,
) -> DataFrame:
    """IVF top-k: the scale path for `ann_topk_bruteforce`.

    Index: every vector is assigned to its nearest spherical-k-means
    centroid (one argmax matmul pass). Search: each query probes its
    `nprobe` nearest cells, so it scans ~nprobe/n_centroids of the
    corpus instead of all of it — the brute-force crossJoin's O(N·Q)
    becomes O(N·Q·nprobe/k_cells). The cell join's physical strategy is
    `broadcast_queries`: True (default) replicates the exploded query
    side (|Q|·nprobe rows — right for the common small-query-batch case,
    and the corpus side never shuffles at all); False leaves a plain
    equi-join on `cell` for LARGE query sets, where Catalyst/AQE pick
    shuffle-hash and skewed cells fall to AQE skew-join (session.py).
    Same output contract as brute force: (qid, vec_id, cosine, rank),
    deterministic tie-break (cosine desc, vec_id asc). Recall is
    probabilistic (differential-tested on planted clusters); precision
    within scanned cells is exact and soundness-gated
    (`ivf_soundness_violations` below; `ann_ivf_soundness` in the
    driver gate).
    """
    from pyspark.sql.window import Window

    from matric_spark.functions.udfs import (
        make_centroid_assign_udf,
        make_centroid_probe_udf,
    )

    # `centroids` lets callers reuse one fit across related queries (the
    # index is fit once per ingest epoch in production; the entry-point
    # cache in __spark_entry__ mirrors that)
    cent = (
        centroids
        if centroids is not None
        else ivf_centroids(
            emb,
            n_centroids=n_centroids,
            iters=iters,
            id_col=id_col,
            vec_col=vec_col,
        )
    )
    assign = make_centroid_assign_udf(cent)
    probe = make_centroid_probe_udf(cent, nprobe)

    # rows that cannot score never reach the assign/probe UDFs
    # (`_unit_rows`)
    e = _unit_rows(emb, id_col, vec_col).withColumn("cell", assign(F.col("v")))
    q = (
        _normalized(queries, id_col, vec_col, "qid", "qv")
        .filter(F.col("qv").isNotNull())
        .select("qid", "qv", F.explode(probe(F.col("qv"))).alias("cell"))
    )
    scored = (
        e.join(F.broadcast(q) if broadcast_queries else q, "cell")
        .filter(F.col("qid") != F.col("vec_id"))
        .select("qid", "vec_id", dot("qv", "v").alias("cosine"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def embedding_near_dup_lsh(
    emb: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_bands: int = 12,
    band_bits: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-dup pairs via banded-signature blocking + exact verification
    (candidates-then-verify, the shape of R/sparse.R:20-48 with LSH
    buckets as the blocks — same as dedup.minhash_lsh_pairs).

    Defaults (12 bands × 16 bits = 192 planes) target near-dup recall
    ≥ 0.9 at cosine ≥ 0.95 with ~N²/10,900 random-pair candidates; for
    LOWER thresholds trade bits for bands (e.g. 16 × 8 recalls ~1/3 of
    cosine-0.4 pairs at ~N²/32 candidates). Verification re-joins the
    normalized vectors to the id-only candidate list and keeps exact
    cosine ≥ threshold, so precision is always exact; only recall is
    probabilistic.

    Candidates are the ids-only equi-join on (band_idx, band_val)
    (dedup.candidate_pairs): the exchange never carries the embedding,
    which would otherwise be shuffled n_bands× before any pruning.
    """
    import numpy as np

    from matric_spark.functions.udfs import make_hyperplane_bands_udf

    planes = np.array(
        _lcg_planes(n_bands * band_bits, dim, seed=seed), dtype=np.float64
    )
    bands_udf = make_hyperplane_bands_udf(planes, n_bands, band_bits)
    unit = _unit_rows(emb, id_col, vec_col)
    banded = unit.select(
        "vec_id",
        F.posexplode(bands_udf(F.col("v"))).alias("band_idx", "band_val"),
    )
    names = ("id1", "id2")
    cand = candidate_pairs(banded, None, ["band_idx", "band_val"], names, "vec_id")
    return _verified(cand, unit, None, names, threshold)


def embedding_near_dup_ivf(
    emb: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 64,
    nprobe: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
) -> DataFrame:
    """SemDeDup-shaped near-dup (Abbas et al. 2023, arXiv:2303.09540):
    cluster the corpus with spherical k-means, then generate candidate
    pairs only WITHIN clusters and verify with the exact cosine — the
    third blocking family next to hyperplane LSH (random projections)
    and MinHash (token sets), and the one that adapts to the data's own
    density: clustered regions (where the near-dups are) land in the
    same cell by construction.

    Recall lever: each vector indexes into its `nprobe` nearest cells
    (multi-probe), so a pair straddling a k-means boundary still meets
    in the runner-up cell; recall is differential-tested on planted
    clusters, soundness (pairs ⊆ exact result, identical cosine) is
    oracle-gated via lsh_soundness_violations — verification recomputes
    the true dot, so blocking can only drop pairs, never invent one.

    Scale shape: candidates come from a self-equi-join on `cell`
    carrying IDS ONLY; expected candidate count is Σ_c C(n_c·p, 2) —
    N²·p²/n_centroids for balanced cells — vs the exact O(N²). Centroid
    fitting moves k×d floats of model state per round; the corpus is
    scanned, never collected. Skewed (dense) cells fall to AQE
    skew-join; raising n_centroids is the structural lever.
    """
    # `centroids` shares one fit across related queries (see ann_topk_ivf)
    cent = (
        centroids
        if centroids is not None
        else ivf_centroids(
            emb,
            n_centroids=n_centroids,
            iters=iters,
            id_col=id_col,
            vec_col=vec_col,
        )
    )
    from matric_spark.functions.udfs import make_centroid_probe_udf

    probe = make_centroid_probe_udf(cent, nprobe)
    unit = _unit_rows(emb, id_col, vec_col)
    cells = unit.select("vec_id", F.explode(probe(F.col("v"))).alias("cell"))
    names = ("id1", "id2")
    cand = candidate_pairs(cells, None, ["cell"], names, "vec_id")
    return _verified(cand, unit, None, names, threshold)


def embedding_near_dup_against(
    new_emb: DataFrame,
    ref_emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_pairs: "int | None" = MAX_EXACT_PAIRS,
) -> DataFrame:
    """Exact cross-set near-dup: for each NEW embedding, the REFERENCE
    embeddings with cosine >= threshold → [new_id, ref_id, cosine] —
    the embedding-space twin of dedup.minhash_lsh_pairs_against (drop
    fresh items that near-duplicate the existing corpus semantically).

    O(|new|·|ref|) by construction: the oracle baseline and soundness
    reference for `embedding_near_dup_against_ivf`, which is the same
    operator with IVF-cell blocking for production scale. `max_pairs`
    enforces that contract at call time (None opts out).
    """
    if max_pairs is not None:
        _guard_pair_budget(
            new_emb.count() * ref_emb.count(),
            "embedding_near_dup_against",
            "embedding_near_dup_against_ivf",
            max_pairs,
        )
    a = _normalized(new_emb, id_col, vec_col, "new_id", "v1")
    b = _normalized(ref_emb, id_col, vec_col, "ref_id", "v2")
    return (
        a.crossJoin(b)
        .select("new_id", "ref_id", dot("v1", "v2").alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def embedding_near_dup_against_ivf(
    new_emb: DataFrame,
    ref_emb: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 64,
    nprobe: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cross-set near-dup with IVF-cell blocking — the per-ingest-batch
    production path: spherical k-means is fit on the REFERENCE corpus
    (the index is a pure function of the corpus — at scale it is fit
    once per ingest epoch and its cell assignment written alongside the
    embeddings, exactly like the banded-signature note on
    minhash_lsh_pairs_against), each reference vector lives in its one
    nearest cell, and the (small) new batch probes its `nprobe` nearest
    cells. Candidates exchange IDS ONLY; the exact-cosine verify joins
    the normalized vectors back, so precision is exact and only recall
    is probabilistic (differential-tested on planted cross-set dups).
    """
    from matric_spark.functions.udfs import (
        make_centroid_assign_udf,
        make_centroid_probe_udf,
    )

    cent = ivf_centroids(
        ref_emb, n_centroids=n_centroids, iters=iters,
        id_col=id_col, vec_col=vec_col,
    )
    assign = make_centroid_assign_udf(cent)
    probe = make_centroid_probe_udf(cent, nprobe)
    new = _unit_rows(new_emb, id_col, vec_col)
    ref = _unit_rows(ref_emb, id_col, vec_col)
    names = ("new_id", "ref_id")
    cand = candidate_pairs(
        new.select("vec_id", F.explode(probe(F.col("v"))).alias("cell")),
        ref.select("vec_id", assign(F.col("v")).alias("cell")),
        ["cell"],
        names,
        "vec_id",
    )
    return _verified(cand, new, ref, names, threshold)


# ------------------------------------------------------- soundness gates
#
# LSH/IVF *recall* is probabilistic and cannot have an exact oracle; their
# *soundness* (precision side) can, and gets one. Each function below
# materializes the violation rows of a containment invariant — the result
# must be EMPTY, which an equality-hash gate can check against an
# empty-set oracle. Cross-engine value verification is transitive: the
# exact operators these compare against (`embedding_near_dup`,
# `ann_topk_bruteforce`) are themselves hash-gated against DuckDB's
# recomputed cosines, so `lsh ⊆ spark_exact ≡ duckdb_exact`.


def lsh_soundness_violations(
    lsh_pairs: DataFrame, exact_pairs: DataFrame
) -> DataFrame:
    """Rows of the LSH near-dup output that are NOT in the exact all-pairs
    result with an identical (6dp-rounded) cosine. Sound LSH ⇒ empty:
    blocking can only drop pairs, never invent one or change a cosine,
    because verification re-joins the true vectors and computes the exact
    dot (embedding_near_dup_lsh's verify step). Expects both inputs
    already rounded to the comparison precision."""
    return lsh_pairs.join(exact_pairs, ["id1", "id2", "cosine"], "left_anti")


def ivf_soundness_violations(
    ivf_out: DataFrame,
    emb: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Violation rows of the three IVF output invariants that hold no
    matter which cells were probed:

    - `bad_cosine`: the emitted cosine must equal the exact cosine of
      (qid, vec_id) recomputed from the vectors (6dp);
    - `over_k`: at most k rows per qid;
    - `bad_rank`: ranks per qid must be exactly 1..n, and walking them in
      order the (6dp-rounded) cosines must be non-increasing. Rank was
      assigned on the UNROUNDED cosine, so two rows that tie only after
      rounding may sit in either order — a strict re-rank on the rounded
      value would flag false violations; monotonicity-at-6dp is the
      invariant that survives the rounding contract.

    Returns DataFrame[qid, vec_id, cosine, reason]; empty ⇔ sound.
    """
    from pyspark.sql.window import Window

    e = _normalized(emb, id_col, vec_col, "vec_id", "v")
    q = e.select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"))
    checked = (
        ivf_out.join(e, "vec_id")
        .join(q, "qid")
        .withColumn(
            "_exact", F.round(dot("qv", "v"), 6) + F.lit(0.0)
        )
    )
    w = Window.partitionBy("qid").orderBy(F.asc("rank"), F.asc("vec_id"))
    checked = (
        checked.withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy("qid")))
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("_prev_cos", F.lag("cosine").over(w))
    )
    return checked.select(
        "qid",
        "vec_id",
        "cosine",
        F.when(F.col("cosine") != F.col("_exact"), F.lit("bad_cosine"))
        .when(F.col("_n") > k, F.lit("over_k"))
        .when(
            (F.col("rank") != F.col("_rn"))
            | (F.col("_prev_cos") < F.col("cosine")),
            F.lit("bad_rank"),
        )
        .alias("reason"),
    ).filter(F.col("reason").isNotNull())
