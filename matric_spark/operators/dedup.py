"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale design (the part that matters at 100 TB):
- exact: one salted two-phase hash aggregate over a 60-bit content hash —
  never shuffles the text itself, only (hash, count). Identical shape to
  the uniqueness check (checks/uniqueness.py).
- n-gram Jaccard: candidate generation is an equi-join on shingle hash
  (shuffle keyed by shingle), NOT an O(N²) cross join; the count of
  candidate pairs is sum_sh C(df_sh, 2), controlled by dropping ultra-hot
  shingles (`max_df`) — the classic stop-shingle cut that also kills skew.
- MinHash+LSH: per-doc signatures + band hashes from ONE vectorized
  Arrow pass over the staged shingle-hash arrays (banded_minhash_arrays;
  bounded per-row memory via shingle-axis chunking — the sole Python
  stage on this hot path, chosen over 125 JVM array_min/transform
  columns whose CodegenFallback lambdas and plan-compile latency were
  measured slower); candidates come from equi-joins on band_hash
  (band_idx folded into the Horner band hash), so the shuffle key is
  the band bucket — tiny and uniform. Verification joins only the
  candidate set back to shingle sets.
- hashing: one md5 per TOKEN, then pure int64 Horner combines for
  shingle/window/band hashes (functions/hashing.shingle_hashes_of) —
  mirrored bit-for-bit by the DuckDB oracle; no per-shingle string
  allocation anywhere in the dedup scans.
- SimHash: per-bit majority vote is a map-side-combinable sum aggregate;
  pair generation joins on 15-bit chunks (Hamming-distance pigeonhole).
- embedding near-dup: exact variant blocks by a coarse quantization of
  the first principal dims; LSH variant in operators/ann.py.

Reference lineage: matric's pair machinery generates within-partition
pairs by per-group self-joins instead of N² (R/sim_calculate.R:162-301);
every candidate-generation join here follows that exact pattern with a
hash-derived partition key. Dedup itself mirrors matric's `distinct`
discipline before fan-out joins (R/sim_calculate.R:293-299).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from matric_spark.functions.hashing import (
    HASH_PRIME,
    SHINGLE_K,
    md5_long,
    minhash_params,
)

SIMHASH_BITS = 60  # md5_long yields 60 usable bits


def normalized_text(col: str = "text") -> F.Column:
    """lower + trim + collapse whitespace: the canonical dedup key."""
    return F.regexp_replace(F.lower(F.trim(F.col(col))), r"\s+", " ")


# --------------------------------------------------------------- exact


def exact_duplicates(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Content hashes occurring >1× → DataFrame[content_fp, n_dups].

    A plain hash aggregate on purpose: count is map-side combinable, so
    Spark's partial aggregation already collapses a pathologically
    common document (crawl boilerplate) to one row per input partition
    BEFORE the shuffle — an explicit spark_partition_id salt would just
    re-implement that partial-combine phase by hand. A hash-first
    pre-count (checks/uniqueness.duplicate_keys) earns its keep only
    where wide key tuples would otherwise cross the wire; here the key
    already is one 60-bit hash.

    content_fp is a single 60-bit half because it IS the report key
    (output schema): at 10^12 rows expect ~N²/2^61 ≈ 4×10^5 spurious
    fp-groups — fine for a duplicate-mass REPORT, not for deletion.
    The destructive twin `exact_dedup` keys on the 120-bit md5 pair.
    """
    hashed = df.select(md5_long(normalized_text(text_col)).alias("content_fp"))
    return (
        hashed.groupBy("content_fp")
        .agg(F.count(F.lit(1)).alias("n_dups"))
        .filter(F.col("n_dups") > 1)
    )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_cols: list[str] | None = None
) -> DataFrame:
    """Keep one representative row per content hash (min of id_cols order).

    Window-free formulation: groupBy(hash).agg(min_by(struct(ids))) keeps
    the aggregate map-side combinable instead of sorting every group.

    The group key is the 120-bit md5 pair (md5_long, md5_long2), not a
    single 60-bit half: this operator DELETES rows, and one 60-bit hash
    at 10^12 rows produces ~N²/2^61 ≈ 4×10^5 false merges — each a
    unique row silently dropped. Two longs on the wire (16 bytes) is
    the cheapest collision-free-in-practice key.
    """
    from matric_spark.functions.hashing import md5_long2

    id_cols = id_cols or ["doc_id"]
    norm = normalized_text(text_col)
    hashed = df.withColumn("_fp", md5_long(norm)).withColumn(
        "_fp2", md5_long2(norm)
    )
    keep = hashed.groupBy("_fp", "_fp2").agg(
        F.min(F.struct(*id_cols)).alias("_keep")
    ).select("_fp", "_fp2", F.col("_keep.*"))
    return hashed.join(
        keep, on=["_fp", "_fp2", *id_cols], how="left_semi"
    ).drop("_fp", "_fp2")


def cross_group_duplicates(
    df: DataFrame,
    group_col: str = "conv_id",
    text_col: str = "text",
    min_groups: int = 2,
) -> DataFrame:
    """Boilerplate detector: content repeated across ≥ min_groups groups.

    Exact dedup counts copies; this counts DISTINCT CONTAINERS — text
    that recurs across many conversations (canned system prompts, tool
    headers, crawl chrome) is boilerplate a training pipeline usually
    wants weighted down even when within-conversation repeats are fine.
    Returns (content_fp, n_groups, n_rows) for hashes crossing the bar.

    Scale shape: hash-first like exact_duplicates — the shuffle carries
    (60-bit content hash, group id) pairs only, never text, and Spark
    plans the count-distinct as the standard expand + two-phase
    aggregate, so per-partition (fp, group) repeats collapse map-side.
    Same 60-bit report-key envelope note as exact_duplicates.
    """
    hashed = df.filter(F.col(text_col).isNotNull()).select(
        md5_long(normalized_text(text_col)).alias("content_fp"),
        F.col(group_col).alias("_g"),
    )
    return (
        hashed.groupBy("content_fp")
        .agg(
            F.countDistinct("_g").alias("n_groups"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .filter(F.col("n_groups") >= min_groups)
    )


# ------------------------------------------------------ shingle sets


def _staged_toks(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, _toks) staging shared by the shingle builders: the
    normalize+split runs once per row, not once per shingle."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(normalized_text(text_col), " ").alias("_toks"),
    )


def _staged_th(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, _th) staging for the numeric shingle-hash builders: the
    per-token md5 runs once per row (own projection), so downstream
    shingle hashes are pure arithmetic over the staged array."""
    from matric_spark.functions.hashing import token_hashes

    staged = _staged_toks(docs, id_col, text_col)
    return staged.select("doc_id", token_hashes(F.col("_toks")).alias("_th"))


def _staged_md(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, _th, _thh) staging for builders that need BOTH Horner
    chains (the ~60-bit wide window/membership hashes): one md5 per
    token, split into the independent low-31/high-29 bit halves. A
    consumer that reads only `_th` gets `_thh`'s transform pruned by
    Catalyst, so this can serve as the shared stage for a lo-only and a
    wide relation derived from one persisted frame (ingest_gate)."""
    from matric_spark.functions.hashing import (
        token_hashes_hi,
        token_hashes_lo,
        token_md5s,
    )

    staged = _staged_toks(docs, id_col, text_col)
    return staged.select(
        "doc_id", token_md5s(F.col("_toks")).alias("_md")
    ).select(
        "doc_id",
        token_hashes_lo(F.col("_md")).alias("_th"),
        token_hashes_hi(F.col("_md")).alias("_thh"),
    )


def shingle_sets(
    docs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    staged: DataFrame | None = None,
) -> DataFrame:
    """Exploded distinct (id, shingle-hash) pairs; hash < HASH_PRIME.

    Token hashes are STAGED as their own projection (one md5 per token,
    once per row) and shingle hashes are the numeric Horner combine —
    see functions/hashing.shingle_hashes_of for the construction and its
    DuckDB mirror. The 31-bit space is the DESIGN here: these hashes
    feed the minhash permutation family ((a*h+b) mod P needs h < 2^31
    to stay inside int64) and per-pair-verified jaccard, where
    collisions only perturb one pair's sets. Membership-by-equality
    consumers must use `shingle_sets_wide` instead.

    `staged` (a `_staged_md`/`_staged_th` frame) lets a caller share
    one md5-per-token pass between this and the wide relation."""
    from matric_spark.functions.hashing import shingle_hashes_of

    if staged is None:
        staged = _staged_th(docs, id_col, text_col)
    return staged.select(
        "doc_id",
        F.explode(
            F.array_distinct(shingle_hashes_of(F.col("_th"), n))
        ).alias("h"),
    )


def shingle_sets_wide(
    docs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    staged: DataFrame | None = None,
) -> DataFrame:
    """Exploded distinct (id, ~60-bit shingle-hash) pairs ->
    DataFrame[doc_id, hw] — the membership-grade twin of
    `shingle_sets`, for operators that decide by hash equality ALONE
    with no pairwise verify step (shingle_novelty's corpus anti-join,
    corpus.contamination_flags). A 31-bit space saturates against a
    web-corpus reference side (~10^9-10^10 distinct shingles): every
    probe collides with SOMETHING, novelty reads ~0 and contamination
    overcounts — invisible to the parity gate because both engines
    would share the weak hash. Two Horner chains over independent md5
    bit-halves (hashing.wide_combine) restore a ~2^-60 per-probe
    false-hit rate. Mirrored by duck_oracle._shingle_sets_wide_sql."""
    from matric_spark.functions.hashing import shingle_hashes_of, wide_combine

    if staged is None:
        staged = _staged_md(docs, id_col, text_col)
    return staged.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                wide_combine(
                    shingle_hashes_of(F.col("_th"), n),
                    shingle_hashes_of(F.col("_thh"), n),
                )
            )
        ).alias("hw"),
    )


def shingle_hash_arrays(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-doc ARRAY of distinct shingle hashes -> DataFrame[doc_id, harr].

    Identical hash values to `shingle_sets` (explode(harr) == the exploded
    relation), but kept row-per-doc so a persist caches ~|docs| compact
    array rows instead of ~|shingles| exploded rows — at sf0.1 conversation
    tapes that is 147k arrays vs 40M rows, and re-reading the cache for the
    signature build and the Jaccard verify costs ~4x less. Narrow (no
    shuffle): the whole relation is one projection over the scan."""
    from matric_spark.functions.hashing import shingle_hashes_of

    staged = _staged_th(docs, id_col, text_col)
    return staged.select(
        "doc_id",
        F.array_distinct(shingle_hashes_of(F.col("_th"), n)).alias("harr"),
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.1,
    n: int = 3,
    max_df: int | None = None,
    max_df_frac: float | None = 0.05,
    min_df_floor: int = 100,
) -> DataFrame:
    """All pairs with shingle-set Jaccard >= threshold.

    Candidates = docs sharing ≥1 shingle (equi-join on shingle hash).
    A shingle present in k docs yields C(k,2) candidate rows, so ONE
    boilerplate shingle in a crawl corpus is a quadratic blowup — the
    stop-shingle cut is therefore ON BY DEFAULT: shingles appearing in
    more than max(`max_df_frac` · n_docs, `min_df_floor`) docs are
    dropped before the join (the relative form survives a scale-up; the
    floor keeps small corpora exact — C(100,2) candidate rows per
    shingle is harmless, so only genuinely hot shingles are cut).
    `max_df` (absolute) overrides both. Dropped shingles also leave the
    intersection counts, so jaccard is a (slightly low) approximation
    for affected pairs; pass max_df=None, max_df_frac=None for the
    exact unbounded join. tests/test_skew.py stress-tests the
    50%-boilerplate case.
    """
    # `sets` feeds two consumers (candidate build + sizes); persist so
    # the shingle explode + md5 runs once, not per branch. Long-lived
    # sessions: release after materializing (spark.catalog.clearCache();
    # bench.py and tools/check_oracle.py do this between queries).
    from pyspark import StorageLevel

    sets = shingle_sets(docs, n=n).persist(StorageLevel.MEMORY_AND_DISK)
    bounded = max_df is not None or max_df_frac is not None
    if bounded:
        # Candidate pairs straight from per-shingle doc LISTS: one
        # groupBy(h) shuffle replaces the two-sided self-join + separate
        # df count (3 shuffles of the shingle relation → 1). The
        # collect_list is bounded by the cutoff, the pair fan-out
        # (C(k,2) structs) is generated JVM-side from the sorted list,
        # and df==1 shingles — the vast majority of a real corpus —
        # never leave the aggregate. Dropping them is EXACT (a shingle
        # in one doc shares nothing); only the df>cutoff cut
        # approximates.
        grouped = sets.groupBy("h").agg(
            F.array_sort(F.collect_list("doc_id")).alias("ds")
        )
        if max_df is not None:
            cutoff = F.lit(float(max_df))
        else:
            n_docs = docs.agg(F.count(F.lit(1)).alias("_n"))
            cutoff = F.greatest(
                F.lit(max_df_frac) * F.col("_n"),
                F.lit(float(min_df_floor)),
            )
            grouped = grouped.crossJoin(F.broadcast(n_docs))
        grouped = grouped.filter(
            (F.size("ds") >= 2) & (F.size("ds") <= cutoff)
        )
        # two chained explodes, NOT one flattened O(k²) struct array: a
        # shingle at the df cutoff (k=737 on templated transcript tapes)
        # would otherwise materialize C(k,2) ≈ 271k structs as a single
        # row value before exploding — GC-heavy and memory-spiky. Each
        # chained step only ever holds an O(k) slice per row, streams
        # through codegen, and yields the identical (ds[i], ds[j]) i<j
        # pair set. (Measured 29 s → 3 s on the conv-tape workload.)
        e1 = grouped.select("ds", F.posexplode("ds").alias("i", "id1"))
        cand = e1.select(
            "id1",
            F.explode(
                F.slice(F.col("ds"), F.col("i") + 2, F.size("ds"))
            ).alias("id2"),
        )
    else:
        # exact unbounded mode: self-equi-join (collect_list would be
        # unbounded on a hot shingle)
        a = sets.select(F.col("doc_id").alias("id1"), "h")
        b = sets.select(F.col("doc_id").alias("id2"), "h")
        cand = a.join(b, "h").filter(F.col("id1") < F.col("id2"))
    # shared-shingle counts fall straight out of the candidate rows — one
    # aggregation, no distinct, no re-join of the shingle sets (which
    # would cost |candidates| × |shingles per doc| intermediate rows)
    shared = cand.groupBy("id1", "id2").agg(F.count(F.lit(1)).alias("shared"))
    sizes = sets.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    return (
        shared.join(sizes.withColumnsRenamed({"doc_id": "id1", "n": "n1"}), "id1")
        .join(sizes.withColumnsRenamed({"doc_id": "id2", "n": "n2"}), "id2")
        .select(
            "id1",
            "id2",
            (
                F.col("shared")
                / (F.col("n1") + F.col("n2") - F.col("shared"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def shingle_novelty(
    new_docs: DataFrame,
    ref_docs: DataFrame,
    n: int = 3,
    sets_new: DataFrame | None = None,
    sets_ref: DataFrame | None = None,
) -> DataFrame:
    """Per NEW doc, the fraction of its n-gram shingles unseen anywhere
    in the REFERENCE corpus → DataFrame[doc_id, n_shingles, n_novel,
    novelty] (one row per new doc with non-NULL text).

    The ingest-time novelty metric that complements cross-set near-dup
    (`minhash_lsh_pairs_against`): near-dup answers "is this almost a
    copy of ONE existing doc", novelty answers "how much of this is new
    AT ALL" — boilerplate stitched from many corpus fragments scores
    near-zero novelty while passing every pairwise check.

    Scale shape: the reference side reduces to a DISTINCT shingle-hash
    relation — a pure function of the corpus, computed once per ingest
    epoch (materialize it bucketed by hw, like the banded-signature note
    on minhash_lsh_pairs_against) — and the new batch anti-joins it
    keyed on hw. Ids and ~60-bit hashes only (`shingle_sets_wide` — a
    31-bit space would saturate against a web-corpus reference side and
    read novelty ~0; see its docstring); nothing is O(|new|×|ref|).
    """
    from pyspark import StorageLevel

    # NULL-text docs carry no shingles on either engine (Spark's
    # concat_ws('') fallback would otherwise mint an ''-shingle the
    # DuckDB list comprehension never produces); `sets_new` feeds two
    # consumers (sizes + anti-join), so persist like
    # minhash_lsh_pairs_against does for the same shape. Callers that
    # already hold the WIDE (doc_id, hw) relations (ingest_gate shares
    # one staged md5 pass across all its text signals) pass them via
    # sets_new/sets_ref and own the NULL-text filtering + persist —
    # passing the 31-bit (doc_id, h) relation here is a schema error by
    # construction (no hw column).
    if sets_new is None:
        sets_new = shingle_sets_wide(
            new_docs.filter(F.col("text").isNotNull()), n=n
        ).persist(StorageLevel.MEMORY_AND_DISK)
    ref_h = (
        (
            shingle_sets_wide(ref_docs.filter(F.col("text").isNotNull()), n=n)
            if sets_ref is None
            else sets_ref
        )
        .select("hw")
        .distinct()
    )
    sizes = sets_new.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    novel = (
        sets_new.join(ref_h, "hw", "left_anti")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return sizes.join(novel, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
        (
            F.round(
                F.coalesce("n_novel", F.lit(0))
                / F.col("n_shingles").cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("novelty"),
    )


# ------------------------------------------------- duplicated spans


def duplicated_spans(
    docs: DataFrame,
    window: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document duplicated token-window coverage — the
    exact-substring dedup signal of "Deduplicating Training Data Makes
    Language Models Better" (Lee et al. 2022, arXiv:2107.06499),
    re-shaped from suffix arrays to a fixed-width rolling window so the
    whole computation is hash aggregates + one semi-join + one
    per-doc window (no global sort, no suffix structure).

    A width-`window` token window is DUPLICATED when its content hash
    occurs at more than one (doc, position) globally — across documents
    or repeated inside one. Overlapping/adjacent duplicated windows are
    merged into maximal covered runs per doc (window-function island
    merge) so each token is counted once. Docs shorter than `window`
    tokens contribute one whole-text window (shingles_of fallback), so
    short exact duplicates still surface.

    Returns one row per input doc with non-NULL text (zero-filled when
    clean): DataFrame[doc_id, n_tokens, n_dup_windows, dup_tokens,
    dup_frac]. NULL-text docs are excluded — they have no tokens, and
    the concat_ws('') fallback shingle would otherwise make every pair
    of NULL-text docs flag each other as duplicates (the DuckDB oracle
    mirrors the exclusion).

    Scale shape: windows hash to 60-bit longs; the duplicated-hash set
    comes from ONE map-side-combinable count aggregate keyed on the
    hash, so a boilerplate window shared by millions of docs collapses
    per input partition before the shuffle. Position flagging is a LEFT
    SEMI join on the hash — no fan-out however hot the hash. The island
    merge partitions by doc_id, bounded by each doc's own token count.
    The text column never crosses a shuffle.

    Reference lineage: matric has no substring machinery; this is new
    corpus-prep engineering following its distinct-before-fanout
    discipline (R/sim_calculate.R:293-299).
    """
    from pyspark import StorageLevel

    from matric_spark.functions.hashing import (
        shingle_hashes_of,
        token_hashes_hi,
        token_hashes_lo,
        token_md5s,
        wide_combine,
    )

    # window hashes must be ~60-bit: duplication is decided by hash
    # EQUALITY alone (no verify step), and a single 31-bit Horner chain
    # birthday-saturates around ~10^5 windows — at corpus scale that
    # mints false duplicate spans between unrelated docs. Two Horner
    # chains over independent md5 bit-halves (one md5 per token, staged)
    # combine to lo*2^31 + hi, restoring the md5_long(window) envelope
    # this operator shipped with before the token-Horner rewrite.
    staged = (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("doc_id"),
            F.split(normalized_text(text_col), " ").alias("_toks"),
        )
        .select("doc_id", token_md5s(F.col("_toks")).alias("_md"))
        .select(
            "doc_id",
            token_hashes_lo(F.col("_md")).alias("_th"),
            token_hashes_hi(F.col("_md")).alias("_thh"),
        )
    )
    base = staged.select(
        "doc_id", F.size("_th").cast("long").alias("n_tokens"), "_th", "_thh"
    )
    # `wins` feeds three consumers (dup-hash counts, position flagging,
    # doc sizes); persist so the upstream — potentially an expensive
    # derived relation like conversation tapes — is built ONCE. Every
    # doc has >= 1 window (whole-text fallback), so per-doc sizes come
    # from wins itself and the upstream is never re-scanned.
    wins = base.select(
        "doc_id",
        "n_tokens",
        F.posexplode(
            wide_combine(
                shingle_hashes_of(F.col("_th"), window),
                shingle_hashes_of(F.col("_thh"), window),
            )
        ).alias("pos", "h"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # eager fill: the three consumer branches below land in ONE action,
    # and AQE submits their exchange jobs concurrently — with a lazy
    # persist each branch races to compute `wins` (and its whole tape/
    # shingle upstream) before the cache lands. Same fix as
    # minhash_lsh_pairs; one serialized pass buys back 2x duplicate CPU
    # (interleaved A/B at sf0.1: wall-neutral, 22.0/20.6 s eager vs
    # 21.4/19.7 s lazy under 0.65-0.78 ceilings).
    wins.count()
    sizes = wins.groupBy("doc_id").agg(F.max("n_tokens").alias("n_tokens"))
    dup_h = (
        wins.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .select("h")
    )
    flagged = wins.join(dup_h, "h", "left_semi").withColumn(
        # end-exclusive token index; clipped for the short-doc
        # whole-text fallback window
        "_end",
        F.least(F.col("pos") + F.lit(window), F.col("n_tokens")),
    )
    from pyspark.sql import Window

    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # a new covered run starts iff this window begins past everything
    # covered so far (pos == prev max end means adjacent → same run)
    flagged = flagged.withColumn(
        "_new",
        (
            F.col("pos") > F.coalesce(F.max("_end").over(w_prev), F.lit(-1))
        ).cast("int"),
    ).withColumn("_run", F.sum("_new").over(w_run))
    runs = flagged.groupBy("doc_id", "_run").agg(
        F.min("pos").alias("_s"),
        F.max("_end").alias("_e"),
        F.count(F.lit(1)).alias("_k"),
    )
    per_doc = runs.groupBy("doc_id").agg(
        F.sum("_k").alias("n_dup_windows"),
        F.sum(F.col("_e") - F.col("_s")).alias("dup_tokens"),
    )
    return (
        sizes.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias(
                "n_dup_windows"
            ),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            (
                F.round(
                    F.coalesce("dup_tokens", F.lit(0))
                    / F.col("n_tokens").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("dup_frac"),
        )
    )


# ----------------------------------------------------------- MinHash


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 32,
    n: int = 3,
    seed: int = 42,
    sets: DataFrame | None = None,
) -> DataFrame:
    """DataFrame[doc_id, mh_0..mh_{k-1}]: classic Broder signatures.

    One aggregation computes every permutation's min — the shingle explode
    is shuffled once, grouped by doc, with map-side partial mins.
    `sets` lets callers share a persisted shingle relation.
    """
    if sets is None:
        sets = shingle_sets(docs, n=n)
    params = minhash_params(num_hashes, seed=seed)
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % HASH_PRIME).alias(f"mh_{i}")
        for i, (a, b) in enumerate(params)
    ]
    return sets.groupBy("doc_id").agg(*aggs)


def banded_minhash_arrays(
    harr_df: DataFrame, num_hashes: int = 32, bands: int = 8, seed: int = 42
) -> DataFrame:
    """DataFrame[doc_id, band_hash] in ONE vectorized Arrow pass over the
    shingle-hash arrays — value-identical to
    ``_banded(minhash_signatures(...))`` over the same shingle sets
    (differential-tested, and byte-equal to the DuckDB mirror in
    duck_oracle.minhash_lsh_sql):
    per permutation i, mh_i = min((a_i*h + b_i) % P) over the row's
    distinct shingle hashes; per band b, band_hash = Horner(b, mh_{b*r}..
    mh_{b*r+r-1}) mod P.

    Why a pandas UDF and not 125 JVM ``array_min(transform(...))``
    columns: higher-order functions are CodegenFallback, so the column
    form pays interpreted per-element lambda dispatch at runtime AND —
    measured on the 147k-tape near-dup at sf0.1 — ~10 s of driver-side
    optimizer/codegen latency for the 125-column plan before the first
    task launches (a fixed CPU cost that dominated the query in-suite).
    Here the whole signature+banding is |harr|·k int64 numpy ops per row
    batch, the plan is scan → ArrowEval → explode, and both engines'
    values are unchanged because the arithmetic is the same
    ((a*h+b) < 2^62 and acc*K + mh < 2^52: no int64 overflow).

    A row with an empty hash array emits no bands (the exploded groupBy
    path emits no signature row for a shingle-less doc; parity)."""
    assert num_hashes % bands == 0
    rows = num_hashes // bands
    from pyspark.sql.functions import pandas_udf

    params = minhash_params(num_hashes, seed=seed)
    a_vec = np.array([a for a, _ in params], dtype=np.int64)[:, None]
    b_vec = np.array([b for _, b in params], dtype=np.int64)[:, None]

    # per-slice working set: num_hashes × _MINHASH_CHUNK int64s (~4 MB at
    # 125 hashes) regardless of document length — a 1M-shingle outlier
    # doc must not allocate a (num_hashes × 1e6) matrix in the worker
    _MINHASH_CHUNK = 4096

    @pandas_udf("array<long>")
    def _band_hashes(col: pd.Series) -> pd.Series:
        out: list = []
        for arr in col:
            # NULL harr (a NULL-text row: split/transform propagate NULL)
            # emits no bands, matching the exploded path where a NULL
            # array explodes to zero rows
            if arr is None:
                out.append([])
                continue
            hv = np.asarray(arr, dtype=np.int64)
            if hv.size == 0:
                out.append([])
                continue
            mins = np.full(num_hashes, np.iinfo(np.int64).max, dtype=np.int64)
            for s in range(0, hv.size, _MINHASH_CHUNK):
                seg = hv[None, s : s + _MINHASH_CHUNK]
                np.minimum(
                    mins,
                    ((a_vec * seg + b_vec) % HASH_PRIME).min(axis=1),
                    out=mins,
                )
            m = mins.reshape(bands, rows)  # row b = mh_{b*rows}..mh_{b*rows+rows-1}
            acc = np.arange(bands, dtype=np.int64)  # polynomial leads with band_idx
            for r in range(rows):
                acc = (acc * SHINGLE_K + m[:, r]) % HASH_PRIME
            out.append(acc.tolist())
        return pd.Series(out)

    return harr_df.select(
        "doc_id", F.explode(_band_hashes("harr")).alias("band_hash")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.1,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """LSH-banded candidate generation + exact-Jaccard verification.

    bands=8 × rows=4 over 32 hashes → collision prob ≈ 1-(1-j^4)^8; at
    j=0.5 that's 0.46, at j=0.9 it's 1.0 — tuned for near-dup recall.
    Pair shuffle is keyed on band_hash: uniform tiny buckets (band_idx
    is folded into the Horner band hash, see banded_minhash_arrays).

    The shingle relation is persisted in ARRAY form (one row per doc) and
    shared by the signature+banding pass and the verification join; the
    banded relation (doc_id, band_hash — tiny rows) is persisted too, so
    the x/y candidate self-join reads one materialization instead of
    computing the signatures twice. Both persists are filled EAGERLY
    (count()): the final plan fans the cached relations into four
    branches (x, y, h1, h2), and lazily-filled caches race there — each
    branch recomputes the tape/shingle pipeline concurrently before the
    cache lands (measured: 4 duplicate ~6 s stages on the 147k-tape
    near-dup at sf0.1, plus the same work again on the verify sides).
    Signatures+bands come from one vectorized Arrow pass
    (banded_minhash_arrays — see its docstring for why not 125 JVM
    array_min/transform columns). The verify joins each candidate pair
    to its two cached arrays and takes size(array_intersect(h1, h2))
    JVM-side — value-identical to counting shared exploded hashes
    (arrays are distinct by construction), but with no 40M-row explode
    and no count shuffle.
    Per-candidate memory is two shingle arrays (~8 B × tokens/doc);
    candidates are near-dup-banded, so no hot row fans out. The `i >= 1`
    filter reproduces the exploded path's inner-join semantics (a
    zero-overlap band collision emits nothing, not jaccard=0) so any
    threshold, including 0, gives identical output.
    """
    assert num_hashes % bands == 0
    from pyspark import StorageLevel

    # shared by the signature build AND the verification join
    harr = shingle_hash_arrays(docs, n=n).persist(StorageLevel.MEMORY_AND_DISK)
    harr.count()
    banded = banded_minhash_arrays(
        harr, num_hashes=num_hashes, bands=bands, seed=seed
    ).persist(StorageLevel.MEMORY_AND_DISK)
    banded.count()
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band_hash"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("id1"), F.col("y.doc_id").alias("id2")
        )
        .distinct()
    )
    h1 = harr.select(F.col("doc_id").alias("id1"), F.col("harr").alias("h1"))
    h2 = harr.select(F.col("doc_id").alias("id2"), F.col("harr").alias("h2"))
    return (
        cand.join(h1, "id1")
        .join(h2, "id2")
        .select(
            "id1",
            "id2",
            F.size(F.array_intersect("h1", "h2")).cast("long").alias("i"),
            F.size("h1").cast("long").alias("n1"),
            F.size("h2").cast("long").alias("n2"),
        )
        .filter(F.col("i") >= 1)
        .select(
            "id1",
            "id2",
            (F.col("i") / (F.col("n1") + F.col("n2") - F.col("i"))).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _banded(sig: DataFrame, rows: int, bands: int) -> DataFrame:
    """DataFrame[doc_id, band_idx, band_hash] from an mh_* signature.

    band_hash is the numeric Horner combine of (band_idx, that band's
    mh values) — band_idx leads the polynomial so the SAME row values in
    DIFFERENT bands hash apart, letting callers key the candidate join
    on band_hash alone (one join column, no per-band md5/concat; a
    cross-band collision mod 2^31 merely adds one exact-verified
    candidate, identically on both engines)."""
    from matric_spark.functions.hashing import horner_hash

    band_hashes = F.array(
        *[
            horner_hash(
                [F.lit(b)]
                + [F.col(f"mh_{b * rows + r}") for r in range(rows)]
            )
            for b in range(bands)
        ]
    )
    return sig.select(
        "doc_id", F.posexplode(band_hashes).alias("band_idx", "band_hash")
    )


def minhash_lsh_pairs_against(
    new_docs: DataFrame,
    ref_docs: DataFrame,
    threshold: float = 0.1,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    seed: int = 42,
    sets_new: DataFrame | None = None,
    sets_ref: DataFrame | None = None,
) -> DataFrame:
    """Incremental (cross-set) near-dup: for each NEW doc, the REFERENCE
    docs with shingle Jaccard >= threshold → [new_id, ref_id, jaccard].

    The op a crawl pipeline runs on every ingest batch: drop fresh
    documents that near-duplicate the existing training corpus. Exact
    duplicates come out for free at jaccard 1.0 (identical text →
    identical signature → every band collides).

    Scale shape: the reference side's banded relation is a pure function
    of the corpus — at 100 TB it is computed ONCE, written bucketed by
    band_hash, and every ingest batch equi-joins its (small)
    banded signatures against it; candidates exchange only id pairs, and
    the exact-Jaccard verify joins just the candidate set back to the
    two shingle relations. Nothing is O(|new| x |ref|).

    Id spaces are the caller's concern: a doc present on both sides
    under the same id will be reported as its own near-dup.
    """
    assert num_hashes % bands == 0
    rows = num_hashes // bands
    from pyspark import StorageLevel

    # callers sharing one shingle build across signals (ingest_gate)
    # pass sets_new/sets_ref and own the persist
    if sets_new is None:
        sets_new = shingle_sets(new_docs, n=n).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    if sets_ref is None:
        sets_ref = shingle_sets(ref_docs, n=n).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    sig_new = minhash_signatures(
        new_docs, num_hashes=num_hashes, n=n, seed=seed, sets=sets_new
    )
    sig_ref = minhash_signatures(
        ref_docs, num_hashes=num_hashes, n=n, seed=seed, sets=sets_ref
    )
    cand = (
        _banded(sig_new, rows, bands)
        .withColumnRenamed("doc_id", "new_id")
        .join(
            _banded(sig_ref, rows, bands).withColumnRenamed("doc_id", "ref_id"),
            ["band_hash"],
        )
        .select("new_id", "ref_id")
        .distinct()
    )
    sizes_new = sets_new.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n1"))
    sizes_ref = sets_ref.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n2"))
    shared = (
        cand.join(sets_new.withColumnsRenamed({"doc_id": "new_id"}), "new_id")
        .join(
            sets_ref.withColumnsRenamed({"doc_id": "ref_id"}),
            ["ref_id", "h"],
        )
        .groupBy("new_id", "ref_id")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.join(sizes_new.withColumnRenamed("doc_id", "new_id"), "new_id")
        .join(sizes_ref.withColumnRenamed("doc_id", "ref_id"), "ref_id")
        .select(
            "new_id",
            "ref_id",
            (
                F.col("shared")
                / (F.col("n1") + F.col("n2") - F.col("shared"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ----------------------------------------------------------- SimHash


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """60-bit SimHash per doc: per-bit majority vote over token hashes.

    explode(tokens) → 60 map-side-combinable ±1 sums per doc → recompose.
    The sums are ordinary hash-agg columns, so this is one shuffle of
    (doc_id, 60 ints) — no Python, no per-row work.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(normalized_text(text_col), r"\s+")).alias("tok"),
    ).select("doc_id", md5_long(F.col("tok")).alias("th"))
    bit_sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.shiftright(F.col("th"), j).bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"b{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    fp = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1).cast("long") * (1 << j)).otherwise(
            F.lit(0).cast("long")
        )
        fp = term if fp is None else fp + term
    return bit_sums.select("doc_id", fp.alias("simhash"))


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 12, chunks: int = 4
) -> DataFrame:
    """Pairs with Hamming(simhash) <= max_hamming.

    Pigeonhole blocking: split 60 bits into `chunks` 15-bit pieces; any
    pair within distance < chunks must agree on ≥1 piece, so candidates
    come from equi-joins on (chunk_idx, chunk_value) — never a cross join.
    (For max_hamming ≥ chunks the block is a recall-oriented prefilter,
    exact for distance < chunks; raise `chunks` for exactness.)
    """
    width = SIMHASH_BITS // chunks
    fps = simhash(docs)
    chunk_arr = F.array(
        *[
            F.shiftright(F.col("simhash"), c * width).bitwiseAND(
                F.lit((1 << width) - 1)
            )
            for c in range(chunks)
        ]
    )
    chunked = fps.select(
        "doc_id",
        "simhash",
        F.posexplode(chunk_arr).alias("chunk_idx", "chunk_val"),
    )
    return (
        chunked.alias("x")
        .join(chunked.alias("y"), ["chunk_idx", "chunk_val"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("id1"),
            F.col("y.doc_id").alias("id2"),
            F.bit_count(
                F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def dedup_impact(
    df: DataFrame,
    partition_col: str = "part_month",
    text_col: str = "text",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Per-partition duplicate-mass report: what exact dedup would delete.

    exact_duplicates says WHICH hashes repeat; this says WHAT IT COSTS,
    attributed to the partition each redundant copy lives in — the
    number a storage/training-budget owner acts on. Keeps the first copy
    per content hash under a deterministic total order (order_cols, with
    the partition key and a tiebreak baked in) and counts everything
    after it as deletable. Returns (partition, n_text_rows, n_dup_rows,
    dup_pct, bytes_total, bytes_dup).

    Scale shape: one row_number window keyed by the 60-bit content hash
    — the shuffle carries (hash, ids, length), never text; group width
    is the duplicate multiplicity (crawl boilerplate ≈ thousands), far
    below window-skew territory, and a pathological hash flood is
    exactly the case the stop-shingle/salting levers upstream exist for.
    """
    order_cols = order_cols or ["conv_id", "turn_idx"]
    from pyspark.sql import Window

    # _rawfp (hash of the RAW text) is the final tiebreak: rows can tie
    # on every id/partition/ts column while their raw texts differ yet
    # normalize to the same _fp ('a b' vs 'a  b') — without it rn
    # assignment, hence bytes_dup, would be nondeterministic. Residual
    # ties after _rawfp are byte-identical rows: same length, counts
    # unaffected.
    # two-half 120-bit dedup key, like exact_dedup: the keep/delete
    # accounting must not merge distinct texts on a 60-bit collision
    from matric_spark.functions.hashing import md5_long2

    h = df.filter(F.col(text_col).isNotNull()).select(
        partition_col,
        *order_cols,
        "ts",
        md5_long(normalized_text(text_col)).alias("_fp"),
        md5_long2(normalized_text(text_col)).alias("_fp2"),
        md5_long(F.col(text_col)).alias("_rawfp"),
        F.length(text_col).alias("_len"),
    )
    w = Window.partitionBy("_fp", "_fp2").orderBy(
        *[F.asc_nulls_first(c) for c in order_cols],
        F.asc_nulls_first(partition_col),
        F.asc_nulls_first("ts"),
        F.asc_nulls_first("_rawfp"),
    )
    r = h.withColumn("_rn", F.row_number().over(w))
    dup = (F.col("_rn") > 1).cast("long")
    return r.groupBy(partition_col).agg(
        F.count(F.lit(1)).alias("n_text_rows"),
        F.sum(dup).alias("n_dup_rows"),
        (
            F.round(F.sum(dup) / F.count(F.lit(1)).cast("double"), 6)
            + F.lit(0.0)
        ).alias("dup_pct"),
        F.sum("_len").alias("bytes_total"),
        F.sum(F.when(F.col("_rn") > 1, F.col("_len")).otherwise(0)).alias(
            "bytes_dup"
        ),
    )
