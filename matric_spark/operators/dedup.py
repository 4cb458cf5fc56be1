"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale design (the part that matters at 100 TB):
- exact: one salted two-phase hash aggregate over a 60-bit content hash —
  never shuffles the text itself, only (hash, count). Identical shape to
  the uniqueness check (checks/uniqueness.py).
- n-gram Jaccard: candidate pairs come from per-shingle doc lists (one
  groupBy on shingle hash), NOT an O(N²) cross join; the count of
  candidate pairs is sum_sh C(df_sh, 2), bounded by dropping ultra-hot
  shingles (`max_df_frac`) — the classic stop-shingle cut that also
  kills skew.
- one token staging: every shingle/window builder reads `_staged_md`
  (normalize + split + one md5 per TOKEN, split into its low-31 and
  high-29 bit halves); shingle/window/band hashes are pure int64 Horner combines
  over it (functions/hashing.shingle_hashes_of) — mirrored bit-for-bit
  by the DuckDB oracle; no per-shingle string allocation anywhere in
  the dedup scans.
- MinHash+LSH, self and cross-set alike: per-doc signatures + band
  hashes from ONE vectorized Arrow pass over the cached shingle-hash
  arrays (banded_minhash_arrays; bounded per-row memory via
  shingle-axis chunking), candidates from one ids-only equi-join on
  band_hash (`candidate_pairs`, shared with operators/ann.py), and one
  array_intersect verify on the candidate set only (_minhash_jaccard).
- SimHash: per-bit majority vote is a map-side-combinable sum aggregate;
  pair generation joins on 15-bit chunks (Hamming-distance pigeonhole).
- embedding near-dup: operators/ann.py (exact, hyperplane-LSH and IVF;
  the blocked variants reuse `candidate_pairs`).

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


def _staged_md(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, _th, _thh) token-hash staging, the one stage every
    shingle builder reads: the normalize+split and one md5 per token
    run once per row (own projections), split into the independent
    low-31/high-29 bit halves, so shingle/window hashes downstream are
    pure arithmetic over the staged arrays. A consumer that reads only
    `_th` (the 31-bit `shingle_hash_arrays`) gets `_thh`'s transform
    pruned by Catalyst (one md5, no shiftright: plan-pinned), so one
    persisted frame can serve a lo-only and a wide relation
    (ingest_gate)."""
    from matric_spark.functions.hashing import (
        token_hashes_hi,
        token_hashes_lo,
        token_md5s,
    )

    return (
        docs.select(
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


def shingle_hash_arrays(
    docs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    staged: DataFrame | None = None,
) -> DataFrame:
    """Per-doc ARRAY of distinct 31-bit shingle hashes ->
    DataFrame[doc_id, harr]; every hash < HASH_PRIME.

    Shingle hashes are the numeric Horner combine over the staged token
    hashes — see functions/hashing.shingle_hashes_of for the
    construction and its DuckDB mirror. The 31-bit space is the DESIGN
    here: these hashes feed the minhash permutation family ((a*h+b) mod
    P needs h < 2^31 to stay inside int64) and the per-pair Jaccard
    verify, where collisions only perturb one pair's sets.
    Membership-by-equality consumers must use `shingle_sets_wide`.

    Row-per-doc so a persist caches ~|docs| compact array rows instead of
    ~|shingles| exploded rows — at sf0.1 conversation tapes that is 147k
    arrays vs 40M rows, and re-reading the cache for the band pass and
    the Jaccard verify costs ~4x less. Narrow (no shuffle): one
    projection over the scan. A NULL text gives a NULL harr.

    `staged` (a `_staged_md` frame) lets a caller share one
    md5-per-token pass between this and the wide relation."""
    from matric_spark.functions.hashing import shingle_hashes_of

    if staged is None:
        staged = _staged_md(docs, id_col, text_col)
    return staged.select(
        "doc_id",
        F.array_distinct(shingle_hashes_of(F.col("_th"), n)).alias("harr"),
    )


def shingle_sets(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Exploded distinct (id, shingle-hash) pairs -> DataFrame[doc_id, h]:
    the elements of `shingle_hash_arrays`, one row each.

    The explode takes the array EXPRESSION, not a projected `harr`
    column: Catalyst infers `size(x) > 0 AND isnotnull(x)` for an
    explode of a column and pushes it below the projections, re-inlining
    the whole shingle build (md5s included) once per token reference in
    the filter — measured 30x slower on dedup_ngram_jaccard at sf0.01."""
    from matric_spark.functions.hashing import shingle_hashes_of

    return _staged_md(docs, id_col, text_col).select(
        "doc_id",
        F.explode(F.array_distinct(shingle_hashes_of(F.col("_th"), n))).alias("h"),
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


def _cached(df: DataFrame) -> DataFrame:
    """Persist and fill EAGERLY. A relation read by several branches of
    one action must be materialized before that action: AQE submits the
    branches' exchange jobs concurrently, and with a lazy persist each
    one races to compute the relation (and its whole tape/shingle
    upstream) before the cache lands — measured as 4 duplicate ~6 s
    stages on the 147k-tape near-dup at sf0.1. Long-lived sessions
    release the cache after materializing (spark.catalog.clearCache();
    bench.py and tools/check_oracle.py do this between queries)."""
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    return df


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.1,
    n: int = 3,
    max_df_frac: float = 0.05,
    min_df_floor: int = 100,
) -> DataFrame:
    """All pairs with shingle-set Jaccard >= threshold.

    Candidates = docs sharing ≥1 shingle. A shingle present in k docs
    yields C(k,2) candidate rows, so ONE boilerplate shingle in a crawl
    corpus is a quadratic blowup — the stop-shingle cut is therefore
    always on: shingles appearing in more than max(`max_df_frac` ·
    n_docs, `min_df_floor`) docs are dropped before pairing (the
    relative form survives a scale-up; the floor keeps small corpora
    exact — C(100,2) candidate rows per shingle is harmless, so only
    genuinely hot shingles are cut). Dropped shingles also leave the
    intersection counts, so jaccard is a (slightly low) approximation
    for affected pairs. tests/test_skew.py stress-tests the
    50%-boilerplate case.

    Candidate pairs come straight from per-shingle doc LISTS: one
    groupBy(h) shuffle instead of a two-sided self-join + separate df
    count (3 shuffles of the shingle relation → 1). The collect_list is
    bounded by the cutoff, the pair fan-out (C(k,2) structs) is
    generated JVM-side from the sorted list, and df==1 shingles — the
    vast majority of a real corpus — never leave the aggregate.
    Dropping them is EXACT (a shingle in one doc shares nothing); only
    the df>cutoff cut approximates.
    """
    from pyspark import StorageLevel

    # `sets` feeds two consumers (candidate build + sizes); persist so
    # the shingle explode + md5 runs once, not per branch
    sets = shingle_sets(docs, n=n).persist(StorageLevel.MEMORY_AND_DISK)
    n_docs = docs.agg(F.count(F.lit(1)).alias("_n"))
    cutoff = F.greatest(
        F.lit(max_df_frac) * F.col("_n"), F.lit(float(min_df_floor))
    )
    grouped = (
        sets.groupBy("h")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .crossJoin(F.broadcast(n_docs))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= cutoff))
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
        F.explode(F.slice(F.col("ds"), F.col("i") + 2, F.size("ds"))).alias(
            "id2"
        ),
    )
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
    from matric_spark.functions.hashing import shingle_hashes_of, wide_combine

    # window hashes must be ~60-bit: duplication is decided by hash
    # EQUALITY alone (no verify step), and a single 31-bit Horner chain
    # birthday-saturates around ~10^5 windows — at corpus scale that
    # mints false duplicate spans between unrelated docs. Two Horner
    # chains over independent md5 bit-halves (one md5 per token, staged)
    # combine to lo*2^31 + hi, restoring the md5_long(window) envelope
    # this operator shipped with before the token-Horner rewrite.
    staged = _staged_md(docs.filter(F.col(text_col).isNotNull()), id_col, text_col)
    # `wins` feeds three consumers (dup-hash counts, position flagging,
    # doc sizes), so it is cached eagerly (`_cached`) and the upstream —
    # potentially an expensive derived relation like conversation tapes
    # — is built ONCE. Every doc has >= 1 window (whole-text fallback),
    # so per-doc sizes come from wins itself and the upstream is never
    # re-scanned. (The eager fill buys back 2x duplicate CPU; interleaved
    # A/B at sf0.1 was wall-neutral: 22.0/20.6 s eager vs 21.4/19.7 s lazy.)
    base = staged.select(
        "doc_id", F.size("_th").cast("long").alias("n_tokens"), "_th", "_thh"
    )
    wins = _cached(
        base.select(
            "doc_id",
            "n_tokens",
            F.posexplode(
                wide_combine(
                    shingle_hashes_of(F.col("_th"), window),
                    shingle_hashes_of(F.col("_thh"), window),
                )
            ).alias("pos", "h"),
        )
    )
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


def banded_minhash_arrays(
    harr_df: DataFrame, num_hashes: int = 32, bands: int = 8, seed: int = 42
) -> DataFrame:
    """DataFrame[doc_id, band_hash] in ONE vectorized Arrow pass over the
    shingle-hash arrays — byte-equal to the DuckDB mirror
    (duck_oracle._minhash_bands_sql, differential-tested): per
    permutation i, mh_i = min((a_i*h + b_i) % P) over the row's distinct
    shingle hashes; per band b, band_hash = Horner(b, mh_{b*r}..
    mh_{b*r+r-1}) mod P. band_idx leads the polynomial, so the SAME row
    values in DIFFERENT bands hash apart and the candidate join keys on
    band_hash alone (a cross-band collision mod 2^31 merely adds one
    exact-verified candidate, identically on both engines).

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

    A NULL or empty hash array emits no bands (a shingle-less doc has no
    signature on either engine)."""
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


def candidate_pairs(
    x: DataFrame,
    y: DataFrame | None,
    key: list[str],
    names: tuple[str, str],
    id_col: str = "doc_id",
) -> DataFrame:
    """The blocked candidate join every near-dup operator shares
    (MinHash bands here, hyperplane bands and IVF cells in
    operators/ann.py) -> DataFrame[names[0], names[1]], distinct.

    `x`/`y` carry (id_col, *key) — ids and block keys ONLY, so the
    exchange before the join never moves the text or vector payload
    (tests/test_plans.py pins this); verification re-joins the payload
    to the deduplicated candidate list. `y=None` is the self-join of
    `x`, which keeps id1 < id2; a cross-set join keeps every (x, y)
    pair, so an id present on both sides reports itself. The shuffle
    key is the block bucket; bucket skew on real (clustered) data falls
    to AQE skew-join (session.py)."""
    a, b = names
    cand = x.alias("x").join((x if y is None else y).alias("y"), key)
    if y is None:
        cand = cand.filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
    return cand.select(
        F.col(f"x.{id_col}").alias(a), F.col(f"y.{id_col}").alias(b)
    ).distinct()


def _minhash_jaccard(
    x: DataFrame,
    y: DataFrame | None,
    names: tuple[str, str],
    threshold: float,
    num_hashes: int,
    bands: int,
    seed: int,
) -> DataFrame:
    """Band-hash candidates + exact-Jaccard verify over cached
    shingle-array relations (`y=None`: pairs within `x`). The verify joins
    each candidate pair to its two arrays and takes
    size(array_intersect(h1, h2)) JVM-side — arrays are distinct by
    construction, so that IS the shared-shingle count, with no
    |shingles|-row explode and no count shuffle. Per-candidate memory is
    two shingle arrays (~8 B × tokens/doc); candidates are
    near-dup-banded, so no hot row fans out. `i >= 1` keeps inner-join
    semantics (a zero-overlap band collision emits nothing, not
    jaccard=0), so any threshold, including 0, is exact."""
    a, b = names

    def bands_of(harr: DataFrame) -> DataFrame:
        return banded_minhash_arrays(harr, num_hashes, bands, seed)

    if y is None:
        # both sides of the self-join read one materialization
        cand = candidate_pairs(_cached(bands_of(x)), None, ["band_hash"], names)
        y = x
    else:
        cand = candidate_pairs(bands_of(x), bands_of(y), ["band_hash"], names)
    h1 = x.select(F.col("doc_id").alias(a), F.col("harr").alias("h1"))
    h2 = y.select(F.col("doc_id").alias(b), F.col("harr").alias("h2"))
    return (
        cand.join(h1, a)
        .join(h2, b)
        .select(
            a,
            b,
            F.size(F.array_intersect("h1", "h2")).cast("long").alias("i"),
            F.size("h1").cast("long").alias("n1"),
            F.size("h2").cast("long").alias("n2"),
        )
        .filter(F.col("i") >= 1)
        .select(
            a,
            b,
            (F.col("i") / (F.col("n1") + F.col("n2") - F.col("i"))).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.1,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """LSH-banded candidate generation + exact-Jaccard verification →
    DataFrame[id1, id2, jaccard], id1 < id2.

    bands=8 × rows=4 over 32 hashes → collision prob ≈ 1-(1-j^4)^8; at
    j=0.5 that's 0.46, at j=0.9 it's 1.0 — tuned for near-dup recall.
    Pair shuffle is keyed on band_hash: uniform tiny buckets.

    The shingle relation is cached in ARRAY form (one row per doc) and
    shared by the band pass and the verify join; the banded relation
    (doc_id, band_hash — tiny rows) is cached too, so both sides of the
    candidate self-join read one materialization instead of computing
    the signatures twice (`_cached` for why both fill eagerly).
    """
    assert num_hashes % bands == 0
    harr = _cached(shingle_hash_arrays(docs, n=n))
    return _minhash_jaccard(
        harr, None, ("id1", "id2"), threshold, num_hashes, bands, seed
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
    The same pipeline as `minhash_lsh_pairs`, joined across the split.

    The op a crawl pipeline runs on every ingest batch: drop fresh
    documents that near-duplicate the existing training corpus. Exact
    duplicates come out for free at jaccard 1.0 (identical text →
    identical signature → every band collides).

    Scale shape: the reference side's banded relation is a pure function
    of the corpus — at 100 TB it is computed ONCE, written bucketed by
    band_hash, and every ingest batch equi-joins its (small)
    banded signatures against it; candidates exchange only id pairs, and
    the exact-Jaccard verify joins just the candidate set back to the
    two shingle-array relations. Nothing is O(|new| x |ref|).

    Id spaces are the caller's concern: a doc present on both sides
    under the same id will be reported as its own near-dup.

    `sets_new`/`sets_ref`: (doc_id, harr) relations
    (`shingle_hash_arrays`) a caller already holds cached — ingest_gate
    shares one staged md5 pass across all its text signals and owns
    those caches.
    """
    assert num_hashes % bands == 0
    if sets_new is None:
        sets_new = _cached(shingle_hash_arrays(new_docs, n=n))
    if sets_ref is None:
        sets_ref = _cached(shingle_hash_arrays(ref_docs, n=n))
    return _minhash_jaccard(
        sets_new, sets_ref, ("new_id", "ref_id"), threshold, num_hashes, bands, seed
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
