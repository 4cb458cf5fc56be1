"""Corpus-curation operators a large-scale training-data pipeline needs
beyond pair-level dedup: benchmark decontamination, canonical-document
selection over dup clusters, and deterministic sequence packing.

All three are pure DataFrame compositions (codegen expressions + joins +
windows — no Python in the hot path) and have exact DuckDB oracle twins
(duck_oracle.contamination_sql / cluster_canonical_sql / pack_chunks_sql).

Reference lineage: matric has none of these (its populations are
pre-curated); the shapes are the standard public constructions —
n-gram-overlap decontamination (GPT-3 appendix C / Dolma's
train-test-overlap tooling), keep-best-representative dedup (every
near-dup pipeline), and concat-and-chop packing (GPT-style pretraining
batch prep).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from matric_spark.functions.text import bpe_token_count, quality_score
from matric_spark.operators.dedup import shingle_sets_wide


def contamination_flags(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    min_overlap: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
) -> DataFrame:
    """Training docs sharing >= `min_overlap` distinct word n-gram
    shingles with any benchmark document ->
    DataFrame[doc_id, bench_id, n_shared].

    Scale shape: both sides shingle to (id, ~60-bit hash) pairs
    (dedup.shingle_sets_wide — membership is decided by hash equality
    with no verify step, and against a billion-doc corpus a 31-bit
    space would mint ~|doc|×|bench| / 2^31 false shared shingles per
    doc); the benchmark side (eval sets: thousands of docs, not
    billions) is BROADCAST, so the corpus side never shuffles — the
    scan streams through a broadcast hash join and only the tiny
    flagged set aggregates. Shingle normalization and the md5-per-token
    stage are shared with the dedup suite.
    """
    s_docs = shingle_sets_wide(docs, id_col=id_col, text_col=text_col, n=n)
    s_bench = shingle_sets_wide(
        benchmark, id_col=bench_id_col, text_col=text_col, n=n
    ).withColumnRenamed("doc_id", "bench_id")
    return (
        s_docs.join(F.broadcast(s_bench), "hw")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_overlap)
    )


def cluster_canonical(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Resolve dup-pair clusters and pick ONE canonical doc per cluster:
    highest quality_score, doc_id ascending as the deterministic
    tie-break -> DataFrame[doc_id, cluster_id, quality, is_canonical].

    The keep-best step every near-dup pipeline needs after clustering:
    `filter(is_canonical)` is the deduplicated corpus; the non-canonical
    rows carry their cluster_id for lineage. Window is per cluster_id
    (dup clusters are small by construction; a pathological giant
    cluster is already the upstream connected-components' problem).
    """
    from matric_spark.operators.graph import dedup_clusters

    clusters = dedup_clusters(pairs)
    scored = clusters.join(
        docs.select(
            F.col(id_col).alias("doc_id"),
            quality_score(text_col).alias("quality"),
        ),
        "doc_id",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return scored.select(
        "doc_id",
        "cluster_id",
        "quality",
        (F.row_number().over(w) == 1).alias("is_canonical"),
    )


def pack_chunks(
    docs: DataFrame,
    budget: int = 512,
    group_cols: list[str] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Concat-and-chop sequence packing: within each group, documents in
    deterministic id order are laid end-to-end on a token tape and the
    tape is chopped every `budget` tokens; each doc is tagged with the
    chunk its FIRST token lands in ->
    DataFrame[*group_cols, doc_id, n_tokens, offset, chunk_id].

    This is the GPT-style pretraining packing discipline (docs straddle
    chunk boundaries; no padding waste) — and unlike first/next-fit bin
    packing it is a pure window cumsum, so it stays one shuffle on the
    group key with NO sequential driver dependency, and is exactly
    reproducible by the SQL oracle. Token counts use the BPE-ish
    pre-tokenizer (functions.text.bpe_token_count).
    """
    group_cols = group_cols or []
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks = docs.select(
        *group_cols,
        F.col(id_col).alias("doc_id"),
        bpe_token_count(text_col).alias("n_tokens"),
    )
    return toks.withColumn(
        "offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    ).withColumn(
        "chunk_id", F.floor(F.col("offset") / budget)
    )


def ingest_gate(
    new_docs: DataFrame,
    ref_docs: DataFrame,
    new_emb: DataFrame | None = None,
    ref_emb: DataFrame | None = None,
    *,
    jaccard_candidate: float = 0.1,
    jaccard_drop: float = 0.5,
    cosine_candidate: float = 0.4,
    cosine_drop: float = 0.45,
    novelty_floor: float = 0.2,
    semantic_path: str = "ivf",
    ivf_opts: dict | None = None,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    emb_id_col: str = "vec_id",
) -> DataFrame:
    """The composed per-ingest-batch admission gate — the operator a
    pipeline owner actually calls on every fresh crawl batch: textual
    near-dup vs the corpus (MinHash-LSH, dedup.minhash_lsh_pairs_against),
    semantic near-dup vs the corpus embeddings
    (ann.embedding_near_dup_against[_ivf]), shingle novelty vs the corpus
    (dedup.shingle_novelty), and a deterministic routing decision per new
    document -> DataFrame[doc_id, max_jaccard, max_cosine, novelty,
    decision].

    Routing precedence (first match wins, all comparisons on the
    6dp-rounded signals so the decision is engine-exact):
      quarantine_no_text      text IS NULL (no shingle signals exist)
      drop_text_dup           max cross-set jaccard >= jaccard_drop
      drop_semantic_dup       max cross-set cosine  >= cosine_drop
      quarantine_low_novelty  novelty <= novelty_floor (stitched
                              boilerplate: passes pairwise checks but is
                              assembled from corpus fragments)
      keep                    otherwise
    A missing signal (no LSH candidate, no embedding row for the doc)
    is NULL and never triggers its clause — absence of evidence routes
    toward keep, matching SQL CASE semantics.

    `semantic_path`: 'ivf' (default) blocks the cosine scan with the
    IVF/SemDeDup cells — the production path at corpus scale, recall
    soundness-gated by emb_ivf_soundness; 'exact' uses the O(|new|x|ref|)
    baseline, which keeps the whole gate exactly DuckDB-reproducible
    (that is what the gated `ingest_gate` entry runs at test scale).

    Embedding ids must live in the document id space (`emb_id_col` values
    == `id_col` values); docs without an embedding row simply skip the
    semantic clause.

    Scale shape: every reference-side relation is a pure function of the
    corpus — banded MinHash signatures, the distinct shingle-hash set,
    IVF centroids + cell assignments — computed once per ingest epoch and
    materialized bucketed on its join key (see the notes on
    minhash_lsh_pairs_against / shingle_novelty / embedding_near_dup_
    against_ivf); the batch side is small. The three signal aggregates
    are keyed on the new-batch id, so the final assembly is a few
    small-side joins; nothing here is O(|new| x |ref|) except the
    deliberately-exact 'exact' semantic path. Reference lineage: matric
    gates populations by filter specs before pairing
    (R/sim_collate.R:246-258); this is that admission-control idea
    re-targeted at corpus ingest.
    """
    from matric_spark.operators.ann import (
        embedding_near_dup_against,
        embedding_near_dup_against_ivf,
    )
    from pyspark import StorageLevel

    from matric_spark.operators.dedup import (
        _cached,
        _staged_md,
        minhash_lsh_pairs_against,
        shingle_hash_arrays,
        shingle_novelty,
    )

    def r6(c: F.Column) -> F.Column:
        return F.round(c, 6) + F.lit(0.0)

    base = new_docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).isNotNull().alias("_has_text"),
    )
    nd = new_docs.filter(F.col(text_col).isNotNull())
    rd = ref_docs.filter(F.col(text_col).isNotNull())
    # ONE md5-per-token stage per side, shared by the near-dup band pass
    # + exact-Jaccard verify (31-bit shingle arrays — the minhash
    # permutation space) AND the novelty anti-join (wide
    # shingle_sets_wide — membership needs the ~60-bit envelope). The
    # persisted stage holds token-hash arrays; both relations are pure
    # arithmetic over it, so neither re-scans the text.
    staged_new = _staged_md(nd, id_col, text_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    staged_ref = _staged_md(rd, id_col, text_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    tj = (
        minhash_lsh_pairs_against(
            nd, rd, threshold=jaccard_candidate,
            num_hashes=num_hashes, bands=bands, n=n,
            sets_new=_cached(shingle_hash_arrays(staged=staged_new, n=n)),
            sets_ref=_cached(shingle_hash_arrays(staged=staged_ref, n=n)),
        )
        .groupBy(F.col("new_id").alias("doc_id"))
        .agg(r6(F.max("jaccard")).alias("max_jaccard"))
    )
    nv = shingle_novelty(
        nd,
        rd,
        n=n,
        sets_new=shingle_sets_wide(staged=staged_new, n=n),
        sets_ref=shingle_sets_wide(staged=staged_ref, n=n),
    ).select("doc_id", "novelty")
    out = base.join(tj, "doc_id", "left").join(nv, "doc_id", "left")
    if new_emb is not None and ref_emb is not None:
        if semantic_path == "exact":
            pairs = embedding_near_dup_against(
                new_emb, ref_emb, cosine_candidate, id_col=emb_id_col
            )
        else:
            pairs = embedding_near_dup_against_ivf(
                new_emb, ref_emb, cosine_candidate, id_col=emb_id_col,
                **(ivf_opts or {}),
            )
        ce = pairs.groupBy(F.col("new_id").alias("doc_id")).agg(
            r6(F.max("cosine")).alias("max_cosine")
        )
        out = out.join(ce, "doc_id", "left")
    else:
        out = out.withColumn("max_cosine", F.lit(None).cast("double"))
    decision = (
        F.when(~F.col("_has_text"), F.lit("quarantine_no_text"))
        .when(F.col("max_jaccard") >= jaccard_drop, F.lit("drop_text_dup"))
        .when(F.col("max_cosine") >= cosine_drop, F.lit("drop_semantic_dup"))
        .when(
            F.col("novelty") <= novelty_floor,
            F.lit("quarantine_low_novelty"),
        )
        .otherwise(F.lit("keep"))
    )
    return out.select(
        "doc_id",
        "max_jaccard",
        "max_cosine",
        "novelty",
        decision.alias("decision"),
    )
