"""DuckDB-dialect oracle SQL builders for the operator suite.

Each builder returns SQL that recomputes the corresponding Spark operator
bit-for-bit on the pre-registered parquet views (`documents`,
`embeddings`, ...). Hash parity: Spark
`cast(conv(substr(md5(x),1,15),16,10) as bigint)` == DuckDB
`CAST('0x'||substr(md5(x),1,15) AS BIGINT)`. MinHash/SimHash oracles are
generated from the same parameter constants the Spark side uses
(functions/hashing.py) and replicate the *full* algorithm including LSH
banding — so even recall misses must match exactly.
"""

from __future__ import annotations

from matric_spark.functions.hashing import (
    HASH_PRIME,
    SHINGLE_K,
    minhash_params,
)
from matric_spark.functions.text import LANG_MARKERS, STOPWORDS
from matric_spark.operators.dedup import SIMHASH_BITS

# shared fragments ---------------------------------------------------------

NORM = r"regexp_replace(lower(trim({col})), '\s+', ' ', 'g')"
TOKS = r"regexp_split_to_array(trim({col}), '\s+')"


def hexbig(expr: str) -> str:
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


def hexbig2(expr: str) -> str:
    """functions/hashing.md5_long2: hex digits 16..30 of the same md5."""
    return f"CAST('0x' || substr(md5({expr}), 16, 15) AS BIGINT)"


def _sql_list(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def _shingles(toks: str, n: int = 3) -> str:
    """DuckDB list comprehension mirroring functions/hashing.word_shingles:
    n-word space-joined shingles, whole-text fallback for short docs."""
    return (
        f"[array_to_string({toks}[i:i+{n - 1}], ' ') "
        f"for i in range(1, greatest(len({toks}) - {n - 1}, 1) + 1)]"
    )


def _token_h_sql(toks: str) -> str:
    """Per-token 31-bit hash list mirroring functions/hashing.token_hashes_lo
    over token_md5s: md5 % HASH_PRIME."""
    return f"list_transform({toks}, t -> {hexbig('t')} % {HASH_PRIME})"


def _token_md5_sql(toks: str) -> str:
    """Raw 60-bit per-token md5 list mirroring functions/hashing.token_md5s."""
    return f"list_transform({toks}, t -> {hexbig('t')})"


_WIDE_SHIFT = 2147483648  # 2^31, == functions/hashing.WIDE_SHIFT


def _wide_shingle_hashes_sql(thl: str, thh: str, n: int) -> str:
    """Positional ~60-bit window-hash list mirroring
    functions/hashing.wide_combine(shingle_hashes_of(lo),
    shingle_hashes_of(hi)) bit-for-bit: two Horner chains over the
    md5's low-31/high-29 token bit-halves, combined lo*2^31 + hi
    (< 4.62e18, no int64 overflow). Used where window equality alone
    decides duplication — see wide_combine's docstring."""

    def _pair(lo_terms: list[str], hi_terms: list[str]) -> str:
        return (
            f"({_horner_sql(lo_terms)}) * {_WIDE_SHIFT} "
            f"+ ({_horner_sql(hi_terms)})"
        )

    full = _pair(
        [f"{thl}[i]" if j == 0 else f"{thl}[i+{j}]" for j in range(n)],
        [f"{thh}[i]" if j == 0 else f"{thh}[i+{j}]" for j in range(n)],
    )
    cases = [
        f"CASE WHEN len({thl}) >= {n} THEN "
        f"[{full} for i in range(1, len({thl}) - {n - 1} + 1)]"
    ]
    for kk in range(n - 1, 0, -1):
        h = _pair(
            [f"{thl}[{j}]" for j in range(1, kk + 1)],
            [f"{thh}[{j}]" for j in range(1, kk + 1)],
        )
        cases.append(f"WHEN len({thl}) = {kk} THEN [{h}]")
    return " ".join(cases) + " END"


def _horner_sql(terms: list[str]) -> str:
    acc = terms[0]
    for t in terms[1:]:
        acc = f"(({acc}) * {SHINGLE_K} + {t}) % {HASH_PRIME}"
    return acc


def _shingle_hashes_sql(th: str, n: int) -> str:
    """Positional numeric shingle-hash list mirroring
    functions/hashing.shingle_hashes_of bit-for-bit: Horner polynomial
    over n staged token hashes per position, whole-doc fallback hash for
    docs shorter than n tokens. All int64 arithmetic — acc < HASH_PRIME
    (2^31) times SHINGLE_K (< 2^20) never overflows in either engine."""
    full = _horner_sql(
        [f"{th}[i]" if j == 0 else f"{th}[i+{j}]" for j in range(n)]
    )
    cases = [
        f"CASE WHEN len({th}) >= {n} THEN "
        f"[{full} for i in range(1, len({th}) - {n - 1} + 1)]"
    ]
    for kk in range(n - 1, 0, -1):
        h = _horner_sql([f"{th}[{j}]" for j in range(1, kk + 1)])
        cases.append(f"WHEN len({th}) = {kk} THEN [{h}]")
    return " ".join(cases) + " END"


# text analysis ------------------------------------------------------------


def doc_text_stats_sql() -> str:
    toks = TOKS.format(col="text")
    stop = _sql_list(STOPWORDS)
    q = QUALITY_EXPR.format(toks="toks", stop=stop, col="text")
    return f"""
WITH t AS (
  SELECT doc_id, text, {toks} AS toks FROM documents
), m AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(regexp_extract_all(text, {BPE_REGEXP})) AS BIGINT)
           AS n_bpe_tokens,
         CAST(length(text) AS BIGINT) AS n_chars,
         list_sum(list_transform(toks, x -> CAST(length(x) AS DOUBLE))) / len(toks) AS avg_token_len,
         len(list_filter(toks, x -> list_contains({stop}, x))) / len(toks) AS stopword_ratio,
         CASE WHEN length(text) > 0 THEN
           (length(text) - length(regexp_replace(text, '[.,;:!?''"()\\-]', '', 'g'))) / length(text)
         ELSE 0.0 END AS punct_ratio,
         {q} AS quality
  FROM t)
SELECT doc_id, n_tokens, n_bpe_tokens, n_chars,
       (round(avg_token_len, 6) + 0) AS avg_token_len,
       (round(stopword_ratio, 6) + 0) AS stopword_ratio,
       (round(punct_ratio, 6) + 0) AS punct_ratio,
       (round(quality, 6) + 0) AS quality
FROM m"""


def doc_langid_sql() -> str:
    toks = TOKS.format(col="text")
    langs = sorted(LANG_MARKERS)
    score_exprs = ",\n         ".join(
        f"len(list_filter(toks, x -> list_contains({_sql_list(LANG_MARKERS[lang])}, x)))"
        f" / CAST(len(toks) AS DOUBLE) AS score_{lang}"
        for lang in langs
    )
    best = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    case = " ".join(
        f"WHEN score_{lang} = {best} THEN '{lang}'" for lang in langs
    )
    rounded = ", ".join(f"(round(score_{lang}, 6) + 0) AS score_{lang}" for lang in langs)
    return f"""
WITH t AS (SELECT doc_id, lang, {toks} AS toks FROM documents),
s AS (SELECT doc_id, lang,
         {score_exprs}
      FROM t)
SELECT doc_id, lang, {rounded}, CASE {case} END AS pred_lang FROM s"""


def doc_fingerprint_sql(n: int = 3) -> str:
    norm = NORM.format(col="text")
    return f"""
WITH t AS (
  SELECT doc_id, {norm} AS norm FROM documents
), s AS (
  SELECT doc_id, norm, string_split(norm, ' ') AS toks FROM t)
SELECT doc_id,
       {hexbig('norm')} AS content_fp,
       list_min(list_transform({_shingles('toks', n)},
                               s -> {hexbig('s')})) AS min_shingle_fp
FROM s"""


def corpus_quality_sql() -> str:
    toks = TOKS.format(col="text")
    stop = _sql_list(STOPWORDS)
    q = QUALITY_EXPR.format(toks="toks", stop=stop, col="text")
    return f"""
WITH t AS (SELECT lang, source, text, {toks} AS toks FROM documents),
m AS (SELECT lang, source,
        CAST(len(toks) AS BIGINT) AS n_tokens,
        {q} AS quality
      FROM t)
SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       (round(avg(quality), 6) + 0) AS avg_quality,
       (round(min(quality), 6) + 0) AS min_quality,
       (round(max(quality), 6) + 0) AS max_quality
FROM m GROUP BY lang, source"""


# dedup --------------------------------------------------------------------

_SHINGLE_SETS = """
toks AS (SELECT doc_id, string_split({norm}, ' ') AS t FROM {src}),
tkh AS (SELECT doc_id, {token_h} AS th FROM toks),
sets AS (
  SELECT doc_id, unnest(list_distinct({shingle_hashes})) AS h FROM tkh
)"""


def _shingle_sets_sql(n: int = 3, src: str = "documents") -> str:
    """Distinct (doc_id, h) shingle-hash pairs mirroring
    operators/dedup.shingle_sets: one md5 per token, numeric Horner
    shingle combine (_shingle_hashes_sql)."""
    return _SHINGLE_SETS.format(
        norm=NORM.format(col="text"),
        token_h=_token_h_sql("t"),
        shingle_hashes=_shingle_hashes_sql("th", n),
        src=src,
    )


_SHINGLE_SETS_WIDE = """
toks AS (SELECT doc_id, string_split({norm}, ' ') AS t FROM {src}),
tkm AS (SELECT doc_id, {token_md} AS md FROM toks),
tkw AS (SELECT doc_id,
               list_transform(md, x -> x % {prime}) AS thl,
               list_transform(md, x -> x // {shift}) AS thh
        FROM tkm),
wsets AS (
  SELECT doc_id, unnest(list_distinct({wide_hashes})) AS hw FROM tkw
)"""


def _shingle_sets_wide_sql(n: int = 3, src: str = "documents") -> str:
    """Distinct (doc_id, hw) ~60-bit shingle-hash pairs mirroring
    operators/dedup.shingle_sets_wide — the membership-grade relation
    (novelty anti-join, contamination broadcast join), where equality
    alone decides and a 31-bit space saturates against a web-scale
    reference side. CTE is `wsets` so it composes next to `sets`."""
    return _SHINGLE_SETS_WIDE.format(
        norm=NORM.format(col="text"),
        token_md=_token_md5_sql("t"),
        prime=HASH_PRIME,
        shift=_WIDE_SHIFT,
        wide_hashes=_wide_shingle_hashes_sql("thl", "thh", n),
        src=src,
    )


_JACCARD_VERIFY = """
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) n FROM sets GROUP BY 1),
shared AS (
  SELECT c.id1, c.id2, CAST(count(*) AS BIGINT) shared
  FROM cand c JOIN sets a ON a.doc_id = c.id1 JOIN sets b ON b.doc_id = c.id2 AND b.h = a.h
  GROUP BY 1, 2),
jac AS (
  SELECT s.id1, s.id2, s.shared / CAST(x.n + y.n - s.shared AS DOUBLE) AS jaccard
  FROM shared s JOIN sizes x ON x.doc_id = s.id1 JOIN sizes y ON y.doc_id = s.id2)"""


def ngram_jaccard_sql(
    threshold: float = 0.1,
    n: int = 3,
    max_df_frac: float = 0.05,
    min_df_floor: int = 100,
    src: str = "documents",
    extra_ctes: str = "",
) -> str:
    """Mirrors ngram_jaccard_pairs' stop-shingle cut: shared counts from
    the CUT sets (hot shingles leave the intersection), set sizes from
    the FULL sets. `src` retargets the shingle source to any
    (doc_id, text)-shaped CTE supplied via `extra_ctes` (e.g.
    conversation tapes)."""
    return f"""
WITH {extra_ctes}{_shingle_sets_sql(n, src)},
hot AS (SELECT h FROM sets GROUP BY h
        HAVING count(*) > greatest({max_df_frac} * (SELECT count(*) FROM {src}),
                                   {float(min_df_floor)})),
cut AS (SELECT s.* FROM sets s ANTI JOIN hot USING (h)),
shared AS (
  SELECT a.doc_id id1, b.doc_id id2, CAST(count(*) AS BIGINT) shared
  FROM cut a JOIN cut b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) n FROM sets GROUP BY 1),
jac AS (
  SELECT s.id1, s.id2, s.shared / CAST(x.n + y.n - s.shared AS DOUBLE) AS jaccard
  FROM shared s JOIN sizes x ON x.doc_id = s.id1 JOIN sizes y ON y.doc_id = s.id2)
SELECT id1, id2, (round(jaccard, 6) + 0) AS jaccard FROM jac WHERE jaccard >= {threshold}"""


def _minhash_bands_sql(num_hashes: int, bands: int, seed: int) -> str:
    """`sig`/`banded` CTEs over `sets`: the (doc_id, band_hash) relation
    of operators/dedup.banded_minhash_arrays — per permutation the min
    of (a*h + b) % P over the doc's shingle hashes, per band the Horner
    combine led by the band index."""
    params = minhash_params(num_hashes, seed=seed)
    rows = num_hashes // bands
    mins = ",\n         ".join(
        f"min(({a} * h + {b}) % {HASH_PRIME}) AS mh_{i}"
        for i, (a, b) in enumerate(params)
    )
    band_cols = ", ".join(
        _horner_sql(
            [str(b)] + [f"mh_{b * rows + r}" for r in range(rows)]
        )
        for b in range(bands)
    )
    return f"""sig AS (SELECT doc_id,
         {mins}
        FROM sets GROUP BY doc_id),
banded AS (
  SELECT doc_id, unnest([{band_cols}]) AS band_hash
  FROM sig)"""


def minhash_lsh_sql(
    threshold: float = 0.1,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    seed: int = 42,
    src: str = "documents",
    extra_ctes: str = "",
) -> str:
    return f"""
WITH {extra_ctes}{_shingle_sets_sql(n, src)},
{_minhash_bands_sql(num_hashes, bands, seed)},
cand AS (
  SELECT DISTINCT x.doc_id id1, y.doc_id id2
  FROM banded x JOIN banded y
    ON x.band_hash = y.band_hash
   AND x.doc_id < y.doc_id),
{_JACCARD_VERIFY}
SELECT id1, id2, (round(jaccard, 6) + 0) AS jaccard FROM jac WHERE jaccard >= {threshold}"""


def minhash_lsh_cross_sql(
    threshold: float,
    new_pred: str,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    seed: int = 42,
    src: str = "documents",
) -> str:
    """Cross-set twin of minhash_lsh_sql: docs satisfying `new_pred` (a
    predicate on doc_id) vs the rest. Mirrors
    operators/dedup.minhash_lsh_pairs_against — same signatures, same
    band hashes, candidates only across the split."""
    return f"""
WITH {_shingle_sets_sql(n, src)},
{_minhash_bands_sql(num_hashes, bands, seed)},
cand AS (
  SELECT DISTINCT x.doc_id new_id, y.doc_id ref_id
  FROM banded x JOIN banded y
    ON x.band_hash = y.band_hash
  WHERE (x.{new_pred}) AND NOT (y.{new_pred})),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) n FROM sets GROUP BY 1),
shared AS (
  SELECT c.new_id, c.ref_id, CAST(count(*) AS BIGINT) shared
  FROM cand c JOIN sets a ON a.doc_id = c.new_id
              JOIN sets b ON b.doc_id = c.ref_id AND b.h = a.h
  GROUP BY 1, 2),
jac AS (
  SELECT s.new_id, s.ref_id,
         s.shared / CAST(x.n + y.n - s.shared AS DOUBLE) AS jaccard
  FROM shared s JOIN sizes x ON x.doc_id = s.new_id
                JOIN sizes y ON y.doc_id = s.ref_id)
SELECT new_id, ref_id, (round(jaccard, 6) + 0) AS jaccard
FROM jac WHERE jaccard >= {threshold}"""


def simhash_pairs_sql(max_hamming: int = 12, chunks: int = 4) -> str:
    norm = NORM.format(col="text")
    bit_sums = ",\n         ".join(
        f"sum(CAST((th >> {j}) & 1 AS BIGINT) * 2 - 1) AS b{j}"
        for j in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"CASE WHEN b{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END"
        for j in range(SIMHASH_BITS)
    )
    width = SIMHASH_BITS // chunks
    chunk_cols = ", ".join(
        f"(simhash >> {c * width}) & {(1 << width) - 1}" for c in range(chunks)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({norm}, ' ')) AS tok FROM documents),
th AS (SELECT doc_id, {hexbig('tok')} AS th FROM toks),
bits AS (SELECT doc_id,
         {bit_sums}
        FROM th GROUP BY doc_id),
fps AS (SELECT doc_id, {fp} AS simhash FROM bits),
chunked AS (
  SELECT doc_id, simhash, unnest(range({chunks})) AS chunk_idx,
         unnest([{chunk_cols}]) AS chunk_val
  FROM fps)
SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2,
       CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
FROM chunked x JOIN chunked y
  ON x.chunk_idx = y.chunk_idx AND x.chunk_val = y.chunk_val
 AND x.doc_id < y.doc_id
WHERE bit_count(xor(x.simhash, y.simhash)) <= {max_hamming}"""


# embeddings ---------------------------------------------------------------

_COS = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


# rows with a finite, positive norm: the rows operators/ann._normalized
# keeps (it leaves v NULL for NULL, zero, NaN and inf norms). Without the
# filter x/0 and NaN norms put NULL/NaN list elements into list_dot_product,
# which errors on NULLs where Spark drops the row.
_NORM_OK = """embedding IS NOT NULL
         AND isfinite(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
         AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0"""

# normalized-rows CTE mirroring operators/ann._normalized op-for-op
_NORM_E = f"""
e AS (SELECT vec_id,
             list_transform(embedding::DOUBLE[],
               x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
                                              embedding::DOUBLE[]))) AS v
      FROM embeddings
      WHERE {_NORM_OK})"""


def embedding_near_dup_sql(threshold: float = 0.4) -> str:
    return f"""
WITH {_NORM_E}
SELECT a.vec_id AS id1, b.vec_id AS id2,
       (round(list_dot_product(a.v, b.v), 6) + 0) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v) >= {threshold}"""


def embedding_near_dup_lsh_sql(
    dim: int = 64,
    threshold: float = 0.4,
    n_bands: int = 16,
    band_bits: int = 8,
    seed: int = 42,
) -> str:
    """Full value-hash mirror of ann.embedding_near_dup_lsh — the LSH
    pipeline is deterministic end to end, so "recall misses are
    inherent" does NOT preclude an oracle: both engines must miss the
    SAME pairs. The hyperplanes come from the fixed LCG
    (ann._lcg_planes, seeded), inlined here as double literals (repr
    round-trips exactly); a sign bit is scale-invariant, so the oracle
    reads it from the RAW embedding dot (one sequential
    list_dot_product per (vector, plane)) while Spark's Arrow UDF uses
    a normalized-matrix matmul — the decisions agree because the
    testdata's minimum |normalized dot| margin is ~2.7e-6 across sf0.001
    /0.01/0.1 (measured) vs ~1e-15 float64 summation slop, nine orders
    of headroom (verified as part of promoting this entry; a corpus
    with adversarially axis-orthogonal vectors would need integer-lift
    planes instead). Band values are exact integers; candidates are the
    distinct (band_idx, band_val) equi-join; verification reuses the
    exact normalized cosine of embedding_near_dup_sql (already
    bit-stable vs Spark's sequential fold). NaN-bearing embeddings are
    excluded explicitly (_NORM_OK, in both nz and e): DuckDB orders NaN
    above every value (NaN > 0 and NaN >= t are TRUE), while Spark's
    _normalized drops NaN-norm rows — without the guard the oracle would emit
    phantom all-bits-set signatures and NaN-cosine pairs (a
    CLAUDE.md-class parity trap, latent because the testdata has no NaN
    embeddings)."""
    from matric_spark.operators.ann import _lcg_planes

    planes = _lcg_planes(n_bands * band_bits, dim, seed=seed)
    rows = ",\n".join(
        f"({p}, [{', '.join(repr(w) for w in plane)}])"
        for p, plane in enumerate(planes)
    )
    return f"""
WITH {_NORM_E},
wl(p, pw) AS (VALUES
{rows}),
nz AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       WHERE {_NORM_OK}),
sigs AS (
    SELECT vec_id, p // {band_bits} AS band_idx,
           SUM(CASE WHEN list_dot_product(nz.v, wl.pw) >= 0
                    THEN CAST(1 AS BIGINT) << (p % {band_bits})
                    ELSE 0 END) AS band_val
    FROM nz CROSS JOIN wl
    GROUP BY vec_id, p // {band_bits}
),
cand AS (
    SELECT DISTINCT x.vec_id AS id1, y.vec_id AS id2
    FROM sigs x JOIN sigs y
      ON x.band_idx = y.band_idx AND x.band_val = y.band_val
    WHERE x.vec_id < y.vec_id
)
SELECT c.id1, c.id2,
       (round(list_dot_product(a.v, b.v), 6) + 0) AS cosine
FROM cand c
JOIN e a ON a.vec_id = c.id1
JOIN e b ON b.vec_id = c.id2
WHERE list_dot_product(a.v, b.v) >= CAST({threshold} AS DOUBLE)"""


# matric-parity sim suite ---------------------------------------------------

_POP = """
pop AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v,
               list_transform(embedding::DOUBLE[],
                 x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
                                                embedding::DOUBLE[]))) AS nv,
               label, label % 5 AS gene, vec_id % 4 AS batch,
               (label = 0) AS is_ref
        FROM embeddings)"""

_COLLATE = """
coll AS (
  SELECT DISTINCT id1, id2, type FROM (
    SELECT a.id AS id1, b.id AS id2, 'ref' AS type
    FROM pop a JOIN pop b ON a.batch = b.batch AND a.id <> b.id
    WHERE NOT a.is_ref AND b.is_ref
    UNION ALL
    SELECT a.id, b.id, 'rep'
    FROM pop a JOIN pop b ON a.label = b.label AND a.id <> b.id
    WHERE NOT a.is_ref AND NOT b.is_ref
    UNION ALL
    SELECT a.id, b.id, 'rep'
    FROM pop a JOIN pop b ON a.label = b.label AND a.id <> b.id
    WHERE a.is_ref AND b.is_ref
    UNION ALL
    SELECT a.id, b.id, 'non_rep'
    FROM pop a JOIN pop b
      ON a.batch = b.batch AND a.label <> b.label AND a.id <> b.id
    WHERE NOT a.is_ref AND NOT b.is_ref
  ) z)"""

# cosine as a dot of pre-normalized rows — mirrors the Spark kernel's
# preprocessing (operators/pairs._preprocess_features) op-for-op
_SIM_COS = "list_dot_product(a.nv, b.nv)"

_SIMS = f"""
sims AS (SELECT c.id1, c.id2, c.type, {_SIM_COS} AS sim
         FROM coll c JOIN pop a ON a.id = c.id1 JOIN pop b ON b.id = c.id2)"""


def sim_strata_sql(kernel: str = "cosine") -> str:
    """Within-label pairwise similarity (sim_calculate strata path)."""
    if kernel == "cosine":
        body = f"SELECT a.id AS id1, b.id AS id2, (round({_SIM_COS}, 6) + 0) AS sim"
        src = "pop a JOIN pop b ON a.label = b.label AND a.id <> b.id"
        return f"WITH {_POP}\n{body} FROM {src}"
    if kernel == "pearson":
        return f"""
WITH {_POP},
cpop AS (SELECT id, label,
                list_transform(v, x -> x - list_sum(v) / len(v)) AS cv
         FROM pop),
npop AS (SELECT id, label,
                list_transform(cv,
                  x -> x / sqrt(list_dot_product(cv, cv))) AS cnv
         FROM cpop)
SELECT a.id AS id1, b.id AS id2,
       (round(list_dot_product(a.cnv, b.cnv), 6) + 0) AS sim
FROM npop a JOIN npop b ON a.label = b.label AND a.id <> b.id"""
    if kernel == "euclidean":
        return f"""
WITH {_POP}
SELECT a.id AS id1, b.id AS id2, (round(list_distance(a.v, b.v), 6) + 0) AS sim
FROM pop a JOIN pop b ON a.label = b.label AND a.id <> b.id"""
    if kernel == "spearman":
        # average-tie rank per row element (exact rationals — window
        # formula mirrors operators/pairs.rank_transform bit-for-bit),
        # then the pearson chain over the rank vectors
        return f"""
WITH {_POP},
ex AS (SELECT id, label, unnest(v) AS x, generate_subscripts(v, 1) AS i
       FROM pop),
rk AS (SELECT id, label, i,
         count(*) OVER (PARTITION BY id ORDER BY x
           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         - (count(*) OVER (PARTITION BY id, x) - 1) / 2.0 AS r
       FROM ex),
rv AS (SELECT id, any_value(label) AS label, list(r ORDER BY i) AS v
       FROM rk GROUP BY id),
cpop AS (SELECT id, label,
                list_transform(v, x -> x - list_sum(v) / len(v)) AS cv
         FROM rv),
npop AS (SELECT id, label,
                list_transform(cv,
                  x -> x / sqrt(list_dot_product(cv, cv))) AS cnv
         FROM cpop)
SELECT a.id AS id1, b.id AS id2,
       (round(list_dot_product(a.cnv, b.cnv), 6) + 0) AS sim
FROM npop a JOIN npop b ON a.label = b.label AND a.id <> b.id"""
    if kernel == "kendall":
        # tau-b term-for-term with sparse.kendall_rows: over index pairs
        # i<j, num = Σ sign(xi−xj)·sign(yi−yj); tie-corrected denominator
        # sqrt(#(xi≠xj) · #(yi≠yj)). All counts exact integers; the one
        # float op order (sqrt then divide) matches the numpy kernel.
        return f"""
WITH {_POP},
d AS (SELECT len(v) AS d FROM pop LIMIT 1),
ip AS (SELECT ii.i AS i, jj.j AS j
       FROM (SELECT unnest(range(1, (SELECT d FROM d) + 1)) AS i) ii,
            (SELECT unnest(range(1, (SELECT d FROM d) + 1)) AS j) jj
       WHERE ii.i < jj.j),
prs AS (SELECT a.id AS id1, b.id AS id2, a.v AS va, b.v AS vb
        FROM pop a JOIN pop b ON a.label = b.label AND a.id <> b.id),
terms AS (SELECT id1, id2,
                 sign(va[i] - va[j]) * sign(vb[i] - vb[j]) AS t,
                 CASE WHEN va[i] <> va[j] THEN 1 ELSE 0 END AS cx,
                 CASE WHEN vb[i] <> vb[j] THEN 1 ELSE 0 END AS cy
          FROM prs CROSS JOIN ip)
SELECT id1, id2,
       (round(sum(t) / sqrt(CAST(sum(cx) AS DOUBLE) * CAST(sum(cy) AS DOUBLE)),
             6) + 0) AS sim
FROM terms GROUP BY id1, id2"""
    raise ValueError(kernel)


def sim_pearson_complete_sql() -> str:
    """pairwise.complete.obs pearson with deterministic NaN injection —
    mirrors __spark_entry__.q_sim_pearson_complete_strata: coordinate i
    (1-based) of vector `id` is NULLed when (id*131 + i) % 7 == 0, then
    each pair correlates over its common non-NULL support only, with the
    numpy kernel's float op order (sparse.pearson_pairwise_complete_rows:
    per-pair mean = masked-sum/n, centered sums, num / sqrt(va·vb); NULL
    when n < 2 or zero variance on the support). Pairs enumerate from
    pop directly (LEFT JOIN) so a hypothetical zero-overlap pair still
    emits its NULL row, matching the Spark side's pair-first shape."""
    return f"""
WITH {_POP},
ex AS (SELECT id, label, unnest(v) AS x, generate_subscripts(v, 1) AS i
       FROM pop),
mx AS (SELECT id, label, i,
              CASE WHEN (id * 131 + i) % 7 = 0 THEN NULL ELSE x END AS x
       FROM ex),
cp AS (SELECT a.id AS id1, b.id AS id2, a.x AS xa, b.x AS xb
       FROM mx a JOIN mx b
         ON a.label = b.label AND a.i = b.i AND a.id <> b.id
       WHERE a.x IS NOT NULL AND b.x IS NOT NULL),
m AS (SELECT id1, id2, count(*) AS n,
             sum(xa) / count(*) AS ma, sum(xb) / count(*) AS mb
      FROM cp GROUP BY 1, 2),
ag AS (SELECT c.id1, c.id2, any_value(m.n) AS n,
              sum((c.xa - m.ma) * (c.xb - m.mb)) AS num,
              sum((c.xa - m.ma) * (c.xa - m.ma)) AS va,
              sum((c.xb - m.mb) * (c.xb - m.mb)) AS vb
       FROM cp c JOIN m ON c.id1 = m.id1 AND c.id2 = m.id2
       GROUP BY 1, 2),
pr AS (SELECT a.id AS id1, b.id AS id2
       FROM pop a JOIN pop b ON a.label = b.label AND a.id <> b.id)
SELECT pr.id1, pr.id2,
       (round(CASE WHEN ag.n >= 2 AND ag.va * ag.vb > 0
                   THEN ag.num / sqrt(ag.va * ag.vb) END, 6) + 0) AS sim
FROM pr LEFT JOIN ag ON pr.id1 = ag.id1 AND pr.id2 = ag.id2"""


def sim_collate_sql(non_rep_alldiff_gene: bool = False) -> str:
    """Typed collated pairs with cosine sim. With `non_rep_alldiff_gene`
    the non_rep arm additionally requires gene to differ — the
    all_different_cols_non_rep path (R/sim_collate.R:419-438,
    fetch_non_rep gate at :231-234)."""
    collate = _COLLATE
    if non_rep_alldiff_gene:
        collate = collate.replace(
            "ON a.batch = b.batch AND a.label <> b.label AND a.id <> b.id",
            "ON a.batch = b.batch AND a.gene <> b.gene"
            " AND a.label <> b.label AND a.id <> b.id",
        )
    return f"""
WITH {_POP},
{collate},
{_SIMS}
SELECT id1, id2, type, (round(sim, 6) + 0) AS sim FROM sims"""


#: rep_group arm appended to the collate union for the level_2_1 oracle
#: (R/sim_collate.R:460-478: same group, different perturbation)
_COLLATE_GROUP_ARM = """
    UNION ALL
    SELECT a.id, b.id, 'rep_group'
    FROM pop a JOIN pop b
      ON a.gene = b.gene AND a.label <> b.label AND a.id <> b.id
    WHERE NOT a.is_ref AND NOT b.is_ref"""


def _metrics_core(
    signal: str = "rep", ann: str = "label", bg: str = "non_rep", ident: str = "i"
) -> str:
    """Windows/aggregates CTE chain mirroring operators/metrics.sim_metrics
    for any (signal type, annotation column, background, identifier)."""
    a1 = f"{ann}1"
    raw_sfx = f"_{ident}"
    bg_sfx = f"_{bg}_{ident}"
    return f"""
ann AS (SELECT s.id1, p.{ann} AS {a1}, s.id2, s.type, s.sim
        FROM sims s JOIN pop p ON p.id = s.id1),
u AS (SELECT id1, {a1} AS label1, sim,
             CASE WHEN type = '{signal}' THEN 1 ELSE 0 END AS is_sig
      FROM ann WHERE type IN ('{signal}', '{bg}')),""" + _METRICS_TAIL.format(
        a1=a1, raw=raw_sfx, bg=bg_sfx
    )


_METRICS_TAIL = """
sc AS (SELECT *,
              sum(is_sig) OVER g AS m,
              sum(1 - is_sig) OVER g AS nbg,
              sum(1 - is_sig) OVER (PARTITION BY id1 ORDER BY sim
                RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cle
       FROM u WINDOW g AS (PARTITION BY id1)),
scf AS (SELECT * FROM sc WHERE m > 0 AND nbg > 0),
bgs AS (SELECT id1, avg(sim) AS mean_stat, stddev_samp(sim) AS sd_stat
        FROM scf WHERE is_sig = 0 GROUP BY id1),
sig AS (SELECT s.*, least(1.0, (1 + s.nbg - s.cle) / CAST(s.nbg AS DOUBLE)) AS relrank,
               CASE WHEN b.sd_stat <> 0
                    THEN (s.sim - b.mean_stat) / b.sd_stat END AS sim_scaled
        FROM scf s JOIN bgs b ON b.id1 = s.id1 WHERE s.is_sig = 1),
agg AS (SELECT s.id1, any_value(s.label1) AS label1,
               avg(s.sim_scaled) AS v_scaled_mean,
               quantile_cont(s.sim_scaled, 0.5) AS v_scaled_median,
               avg(s.relrank) AS v_relrank_mean,
               quantile_cont(s.relrank, 0.5) AS v_relrank_median,
               avg(s.sim) AS v_sim_mean,
               quantile_cont(s.sim, 0.5) AS v_sim_median,
               any_value(b.mean_stat) AS v_mean_stat,
               any_value(b.sd_stat) AS v_sd_stat,
               CAST(max(s.m) AS BIGINT) AS v_m,
               CAST(max(s.nbg) AS BIGINT) AS v_nbg
        FROM sig s JOIN bgs b ON b.id1 = s.id1 GROUP BY s.id1),
byval AS (SELECT id1, sim, sum(is_sig) AS sig_v, sum(1 - is_sig) AS bg_v,
                 max(m) AS m
          FROM scf GROUP BY id1, sim),
curve AS (SELECT *, sum(sig_v) OVER w AS tp, sum(bg_v) OVER w AS fp
          FROM byval WINDOW w AS (PARTITION BY id1 ORDER BY sim DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
ap AS (SELECT id1, sum((sig_v / CAST(m AS DOUBLE)) * (tp / CAST(tp + fp AS DOUBLE))) AS v_ap
       FROM curve GROUP BY id1),
rp AS (SELECT id1, sum(is_sig) / CAST(max(m) AS DOUBLE) AS v_rp
       FROM (SELECT *, row_number() OVER (PARTITION BY id1
               ORDER BY sim DESC, is_sig DESC) AS rn FROM scf) x
       WHERE rn <= m GROUP BY id1),
level10 AS (
  SELECT a.id1, a.label1 AS {a1},
         a.v_scaled_mean AS sim_scaled_mean{bg},
         a.v_scaled_median AS sim_scaled_median{bg},
         a.v_relrank_mean AS sim_ranked_relrank_mean{bg},
         a.v_relrank_median AS sim_ranked_relrank_median{bg},
         a.v_sim_mean AS sim_mean{raw},
         a.v_sim_median AS sim_median{raw},
         a.v_mean_stat AS sim_mean_stat{bg},
         a.v_sd_stat AS sim_sd_stat{bg},
         a.v_m AS sim_stat_signal_n{bg},
         a.v_nbg AS sim_stat_background_n{bg},
         ap.v_ap AS sim_retrieval_average_precision{bg},
         rp.v_rp AS sim_retrieval_r_precision{bg}
  FROM agg a JOIN ap ON ap.id1 = a.id1 JOIN rp ON rp.id1 = a.id1)"""


def metric_cols(bg: str = "non_rep", ident: str = "i") -> list[str]:
    """Level-1_0 metric column names in output order, following the
    reference naming grammar (R/sim_metrics.R:533-554)."""
    b, r = f"_{bg}_{ident}", f"_{ident}"
    return [
        f"sim_scaled_mean{b}",
        f"sim_scaled_median{b}",
        f"sim_ranked_relrank_mean{b}",
        f"sim_ranked_relrank_median{b}",
        f"sim_mean{r}",
        f"sim_median{r}",
        f"sim_mean_stat{b}",
        f"sim_sd_stat{b}",
        f"sim_stat_signal_n{b}",
        f"sim_stat_background_n{b}",
        f"sim_retrieval_average_precision{b}",
        f"sim_retrieval_r_precision{b}",
    ]


#: metric columns of level10 in output order (shared by level-1 builder)
LEVEL10_METRIC_COLS = metric_cols()

_DOUBLE_METRIC_COLS = [
    c for c in LEVEL10_METRIC_COLS if not c.startswith("sim_stat_")
]


def _metrics_prefix(
    signal: str = "rep",
    ann: str = "label",
    bg: str = "non_rep",
    ident: str = "i",
    with_group: bool = False,
) -> str:
    collate = (
        _COLLATE.replace("  ) z)", _COLLATE_GROUP_ARM + "\n  ) z)")
        if with_group
        else _COLLATE
    )
    core = _metrics_core(signal, ann, bg, ident)
    return f"WITH {_POP},\n{collate},\n{_SIMS},\n{core}"


def sim_metrics_level10_sql() -> str:
    rounded = ", ".join(
        f"(round({c}, 6) + 0) AS {c}" if c in _DOUBLE_METRIC_COLS else c
        for c in LEVEL10_METRIC_COLS
    )
    return f"{_metrics_prefix()}\nSELECT id1, label1, {rounded} FROM level10"


def sim_metrics_level21_sql() -> str:
    """Level-2_1 (R/sim_metrics.R:256-284): signal=rep_group vs
    non_rep background, grouped by gene, identifier 'g'."""
    cols = metric_cols(ident="g")
    rounded = ", ".join(
        f"(round({c}, 6) + 0) AS {c}" if not c.startswith("sim_stat_") else c
        for c in cols
    )
    prefix = _metrics_prefix(
        signal="rep_group", ann="gene", ident="g", with_group=True
    )
    return f"{prefix}\nSELECT id1, gene1, {rounded} FROM level10"


def sim_metrics_level1_sql() -> str:
    aggs = ", ".join(
        f"(round(avg({c}), 6) + 0) AS {c}_mean_i, "
        f"(round(quantile_cont({c}, 0.5), 6) + 0) AS {c}_median_i"
        for c in LEVEL10_METRIC_COLS
    )
    return f"{_metrics_prefix()}\nSELECT label1, {aggs} FROM level10 GROUP BY label1"


def sim_bh_sql() -> str:
    return f"""{_metrics_prefix()},
t AS (SELECT id1, label1,
             sim_ranked_relrank_mean_non_rep_i AS p_value FROM level10),
r AS (SELECT *, max(rn) OVER (PARTITION BY p_value) AS rnk,
             count(*) OVER () AS n
      FROM (SELECT *, row_number() OVER (ORDER BY p_value) AS rn FROM t) x)
SELECT id1, label1, (round(p_value, 6) + 0) AS p_value,
       (round(least(1.0, min(p_value * n / rnk) OVER (ORDER BY p_value DESC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) + 0) AS q_value
FROM r"""


def ann_topk_sql(k: int = 5, n_queries: int = 10) -> str:
    return f"""
WITH {_NORM_E},
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {n_queries}),
s AS (SELECT q.qid, e.vec_id, list_dot_product(q.qv, e.v) AS cosine
      FROM q CROSS JOIN e WHERE q.qid <> e.vec_id),
r AS (SELECT qid, vec_id, cosine,
             row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
      FROM s)
SELECT qid, vec_id, (round(cosine, 6) + 0) AS cosine, CAST(rank AS INT) AS rank
FROM r WHERE rank <= {k}"""


# graph / sampling / temporal ----------------------------------------------


def _cc_over_pairs_sql(pairs_sql: str) -> str:
    """Connected components over any (id1, id2)-shaped pair query via a
    recursive CTE (min reachable id = cluster id) — tractable at oracle
    scale; the Spark side uses pointer-jumped label propagation."""
    return f"""
WITH RECURSIVE
pairs AS ({pairs_sql}),
edges AS (SELECT id1 AS s, id2 AS d FROM pairs
          UNION SELECT id2, id1 FROM pairs),
nodes AS (SELECT DISTINCT s AS v FROM edges),
walk(v, l) AS (
  SELECT v, v FROM nodes
  UNION
  SELECT e.d, w.l FROM walk w JOIN edges e ON e.s = w.v),
cc AS (SELECT v AS doc_id, min(l) AS cluster_id FROM walk GROUP BY v),
sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
       FROM cc GROUP BY 1)
SELECT cc.doc_id, cc.cluster_id, sz.cluster_size
FROM cc JOIN sz USING (cluster_id)"""


def dedup_clusters_sql(
    threshold: float = 0.1,
    n: int = 3,
    max_df_frac: float = 0.05,
    min_df_floor: int = 100,
) -> str:
    return _cc_over_pairs_sql(
        ngram_jaccard_sql(threshold, n, max_df_frac, min_df_floor)
    )


def emb_dedup_clusters_sql(threshold: float = 0.4) -> str:
    """Duplicate clusters over EXACT embedding-cosine near-dup pairs:
    the similarity-space twin of dedup_clusters (text shingles)."""
    return _cc_over_pairs_sql(embedding_near_dup_sql(threshold))


def contamination_sql(
    bench_pred: str, n: int = 3, min_overlap: int = 2
) -> str:
    """Mirrors operators/corpus.contamination_flags: shared normalized
    WIDE word-shingle hashes (_shingle_sets_wide_sql — membership by
    equality, no verify step) between documents and the benchmark
    subset (`bench_pred` selects benchmark rows of the documents
    view)."""
    return f"""
WITH {_shingle_sets_wide_sql(n)},
bench AS (SELECT doc_id AS bench_id, hw FROM wsets
          WHERE bench_id IN (SELECT doc_id FROM documents WHERE {bench_pred}))
SELECT s.doc_id, b.bench_id, CAST(count(*) AS BIGINT) AS n_shared
FROM wsets s JOIN bench b USING (hw)
WHERE s.doc_id <> b.bench_id
GROUP BY 1, 2 HAVING count(*) >= {min_overlap}"""


QUALITY_EXPR = """
least(1.0, len({toks}) / 50.0)
  * (1.0 - abs(len(list_filter({toks}, x -> list_contains({stop}, x)))
               / len({toks}) - 0.2))
  * (1.0 - least(0.5, CASE WHEN length({col}) > 0 THEN
       (length({col}) - length(regexp_replace({col}, '[.,;:!?''"()\\-]', '', 'g')))
       / length({col})
     ELSE 0.0 END))"""


def filter_report_sql(
    min_tokens: int = 5,
    max_tokens: int = 5000,
    token_len_range: tuple[float, float] = (2.0, 12.0),
    max_punct: float = 0.3,
    min_ttr: float = 0.2,
    min_quality: float = 0.2,
) -> str:
    """Mirrors operators/text_analysis.filter_report: same signal
    expressions (identical float op order), same fixed rule order,
    concat_ws skipping non-fired rules on both engines."""
    toks = TOKS.format(col="text")
    q = QUALITY_EXPR.format(toks="toks", stop=_sql_list(STOPWORDS), col="text")
    lo, hi = token_len_range
    return f"""
WITH t AS (SELECT doc_id, text, {toks} AS toks FROM documents
           WHERE text IS NOT NULL),
m AS (SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             list_sum(list_transform(toks, x -> CAST(length(x) AS DOUBLE)))
               / len(toks) AS avg_len,
             len(list_distinct(toks)) / len(toks) AS ttr,
             CASE WHEN length(text) > 0 THEN
               (length(text) - length(regexp_replace(text, '[.,;:!?''"()\\-]', '', 'g')))
               / length(text)
             ELSE 0.0 END AS pr,
             {q} AS quality
      FROM t),
r AS (SELECT doc_id, n_tokens, ttr,
             concat_ws(',',
                 CASE WHEN n_tokens < {min_tokens} THEN 'too_short' END,
                 CASE WHEN n_tokens > {max_tokens} THEN 'too_long' END,
                 CASE WHEN avg_len < {lo} OR avg_len > {hi} THEN 'token_len' END,
                 CASE WHEN pr > {max_punct} THEN 'punct' END,
                 CASE WHEN ttr < {min_ttr} THEN 'repetitive' END,
                 CASE WHEN quality < {min_quality} THEN 'low_quality' END
             ) AS reasons
      FROM m)
SELECT doc_id, n_tokens, (round(ttr, 6) + 0) AS ttr,
       reasons = '' AS kept, reasons
FROM r"""


def cluster_canonical_sql(threshold: float = 0.1, n: int = 3) -> str:
    """Mirrors operators/corpus.cluster_canonical over the ngram-Jaccard
    clusters: per cluster, best quality wins (doc_id asc tie-break)."""
    clusters = dedup_clusters_sql(threshold, n)
    q = QUALITY_EXPR.format(
        toks=TOKS.format(col="text"), stop=_sql_list(STOPWORDS), col="text"
    )
    # window ordering uses FULL-precision quality (matching the Spark
    # side); rounding happens only on the output column
    return f"""
WITH cc AS ({clusters}),
scored AS (
  SELECT cc.doc_id, cc.cluster_id, {q} AS quality
  FROM cc JOIN documents d ON d.doc_id = cc.doc_id)
SELECT doc_id, cluster_id, (round(quality, 6) + 0) AS quality,
       row_number() OVER (PARTITION BY cluster_id
                          ORDER BY quality DESC, doc_id) = 1 AS is_canonical
FROM scored"""


BPE_REGEXP = (
    "'''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]{1,3}| ?[^\\sA-Za-z0-9]+'"
)


def pack_chunks_sql(budget: int = 512, group_col: str = "lang") -> str:
    """Mirrors operators/corpus.pack_chunks: concat-and-chop packing on
    the BPE-ish token tape, per group in doc_id order."""
    return f"""
WITH t AS (
  SELECT {group_col}, doc_id,
         CAST(len(regexp_extract_all(text, {BPE_REGEXP})) AS BIGINT) AS n_tokens
  FROM documents),
o AS (
  SELECT {group_col}, doc_id, n_tokens,
         CAST(COALESCE(sum(n_tokens) OVER (
             PARTITION BY {group_col} ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS "offset"
  FROM t)
SELECT {group_col}, doc_id, n_tokens, "offset",
       CAST(floor("offset" / {float(budget)}) AS BIGINT) AS chunk_id
FROM o"""


def doc_repetition_sql(ns: tuple[int, ...] = (1, 2, 3)) -> str:
    """Mirrors operators/text_analysis.doc_repetition: per-doc n-gram
    repetition fractions over normalized text, one arm per n."""
    norm = NORM.format(col="text")
    arms = []
    for n in ns:
        arms.append(
            f"SELECT doc_id, {n} AS n, unnest({_shingles('t', n)}) AS gram FROM toks"
        )
    union = "\n  UNION ALL ".join(arms)
    return f"""
WITH toks AS (SELECT doc_id, string_split({norm}, ' ') AS t
              FROM documents WHERE text IS NOT NULL),
g AS (
  {union}
),
c AS (SELECT doc_id, n, gram, count(*) AS c FROM g GROUP BY 1, 2, 3)
SELECT doc_id, n,
       CAST(sum(c) AS BIGINT) AS total_ngrams,
       CAST(count(*) AS BIGINT) AS n_distinct,
       (round(max(c) / sum(c), 6) + 0) AS top_frac,
       (round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) / sum(c), 6) + 0)
         AS dup_frac
FROM c GROUP BY 1, 2"""


#: SQL twins of operators/text_analysis.PII_* (same source strings; SQL
#: standard literals do not process backslashes, so they paste verbatim).
_PII_EMAIL_SQL = "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'"
_PII_IP_SQL = "'\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b'"
_PII_PHONE_SQL = "'\\+?[0-9][0-9()\\- ]{6,}[0-9]'"

#: Deterministic PII planting for the gate query (the synthetic corpus has
#: none): appended spans keyed on doc_id, mirrored exactly in Spark by
#: __spark_entry__.q_pii_scrub.
PII_PLANT_SQL = """
SELECT doc_id,
  text || CASE WHEN doc_id % 7 = 0
    THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
    ELSE '' END
       || CASE WHEN doc_id % 11 = 0
    THEN ' node 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
    ELSE '' END
       || CASE WHEN doc_id % 13 = 0
    THEN ' call +1 (555) 010-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
    ELSE '' END AS text
FROM documents"""


def pii_scrub_sql(plant: bool = True) -> str:
    """Mirrors operators/text_analysis.pii_scrub: pattern counts on the
    original text, then sequential email -> ip -> phone redaction."""
    src = f"({PII_PLANT_SQL})" if plant else "documents"
    red = (
        f"regexp_replace(regexp_replace(regexp_replace(text, "
        f"{_PII_EMAIL_SQL}, '[EMAIL]', 'g'), "
        f"{_PII_IP_SQL}, '[IP]', 'g'), "
        f"{_PII_PHONE_SQL}, '[PHONE]', 'g')"
    )
    return f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, {_PII_EMAIL_SQL})) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, {_PII_IP_SQL})) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(text, {_PII_PHONE_SQL})) AS BIGINT) AS n_phones,
       {red} AS text_redacted
FROM {src} p"""


def term_df_sql(min_df: int = 2) -> str:
    """Mirrors operators/text_analysis.term_df: per-token document
    frequency + total term frequency over normalized tokens."""
    norm = NORM.format(col="text")
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({norm}, ' ')) AS token FROM documents),
pd AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2)
SELECT token, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS total_tf
FROM pd GROUP BY 1 HAVING count(*) >= {min_df}"""


def tfidf_topk_sql(k: int = 5, min_df: int = 1) -> str:
    """Mirrors operators/text_analysis.tfidf_topk: log-free idf ratio
    (exact-integer product + one IEEE division) so score order is
    bitwise-reproducible across engines."""
    norm = NORM.format(col="text")
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({norm}, ' ')) AS token FROM documents),
pd AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
dfx AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM pd GROUP BY 1
        HAVING count(*) >= {min_df}),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
s AS (SELECT pd.doc_id, pd.token, pd.tf, dfx.df,
             (pd.tf * (nd.n_docs + 1)) / (dfx.df + 1) AS score
      FROM pd JOIN dfx USING (token) CROSS JOIN nd),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
            ORDER BY score DESC, token) AS "rank" FROM s)
SELECT doc_id, token, tf, df, (round(score, 6) + 0) AS score,
       CAST("rank" AS BIGINT) AS "rank"
FROM r WHERE "rank" <= {k}"""


def doc_lm_score_sql() -> str:
    """Mirrors operators/text_analysis.doc_lm_score: add-one-smoothed
    corpus-unigram p(t), per-doc mean log-prob. Single long/long division
    cast to double then ln() — the same op sequence Spark emits, so the
    6dp round only has to absorb ln's ≤1-ulp libm-vs-JVM spread."""
    norm = NORM.format(col="text")
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({norm}, ' ')) AS token FROM documents),
pd AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
ctf AS (SELECT token, CAST(sum(tf) AS BIGINT) AS ctf FROM pd GROUP BY 1),
tv AS (SELECT CAST(sum(ctf) AS BIGINT) AS t_total,
              CAST(count(*) AS BIGINT) AS vocab FROM ctf)
SELECT pd.doc_id, CAST(sum(pd.tf) AS BIGINT) AS n_tokens,
       (round(sum(pd.tf * ln((ctf.ctf + 1) / CAST(tv.t_total + tv.vocab AS DOUBLE)))
              / sum(pd.tf), 6) + 0) AS lm_logprob
FROM pd JOIN ctf USING (token) CROSS JOIN tv
GROUP BY 1"""


def hash_uniform_sql(id_exprs: list[str], salt: str) -> str:
    """Mirrors operators/sampling.hash_uniform bit-for-bit: salted
    \\x1f-joined key (NULL components coalesced to the \\x1enull
    sentinel, since concat_ws skips NULLs on both engines) -> 60-bit
    md5 -> /2^60 (exact double literal)."""
    keys = ", ".join(
        f"coalesce(CAST({e} AS VARCHAR), chr(30) || 'null')" for e in id_exprs
    )
    key = f"concat_ws(chr(31), '{salt}', {keys})"
    return f"({hexbig(key)} / 1152921504606846976.0)"


def hash_split_sql(
    id_exprs: list[str],
    splits: dict[str, float],
    salt: str = "split-v1",
) -> str:
    """CASE expression replicating hash_split's threshold accumulation
    with IDENTICAL float ops (same Python accumulation, repr-embedded
    literals), so 0.9 + 0.05 -> 0.9500000000000001 on both engines."""
    total = sum(splits.values())
    u = hash_uniform_sql(id_exprs, salt)
    names = list(splits)
    acc = 0.0
    whens = []
    for name in names[:-1]:
        acc += splits[name] / total
        whens.append(f"WHEN {u} < {acc!r} THEN '{name}'")
    return f"CASE {' '.join(whens)} ELSE '{names[-1]}' END"


def duplicated_spans_sql(
    window: int = 8, src: str = "documents", extra_ctes: str = ""
) -> str:
    """Mirrors operators/dedup.duplicated_spans: width-`window` token
    windows hashed with the wide two-chain Horner construction
    (_wide_shingle_hashes_sql); hashes occurring at
    >1 (doc, position) flag their positions; flagged windows merge into
    maximal covered runs per doc via the identical island-merge window
    (pos is unique per doc, so no ORDER BY tie semantics to align).
    `src`/`extra_ctes` retarget the scan to any (doc_id, text)-shaped
    CTE (e.g. conversation tapes), like ngram_jaccard_sql."""
    norm = NORM.format(col="text")
    w = window
    return f"""
WITH {extra_ctes}t AS (SELECT doc_id, string_split({norm}, ' ') AS toks
     FROM {src} WHERE text IS NOT NULL),
tkm AS (SELECT doc_id, {_token_md5_sql('toks')} AS md FROM t),
tkh AS (SELECT doc_id,
               list_transform(md, x -> x % {HASH_PRIME}) AS thl,
               list_transform(md, x -> x // {_WIDE_SHIFT}) AS thh
        FROM tkm),
base AS (SELECT doc_id, CAST(len(thl) AS BIGINT) AS n_tokens,
                {_wide_shingle_hashes_sql('thl', 'thh', w)} AS sh
         FROM tkh),
wins AS (
  SELECT doc_id, n_tokens, i - 1 AS pos, sh[i] AS h
  FROM (SELECT doc_id, n_tokens, sh,
               unnest(range(1, len(sh) + 1)) AS i
        FROM base) u),
dup AS (SELECT h FROM wins GROUP BY h HAVING count(*) > 1),
f AS (SELECT w.doc_id, w.pos, least(w.pos + {w}, w.n_tokens) AS e
      FROM wins w SEMI JOIN dup USING (h)),
m AS (SELECT *, CASE WHEN pos > coalesce(
           max(e) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           -1) THEN 1 ELSE 0 END AS nw
      FROM f),
isl AS (SELECT *, sum(nw) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
        FROM m),
runs AS (SELECT doc_id, g, min(pos) AS s, max(e) AS e, count(*) AS k
         FROM isl GROUP BY 1, 2),
per AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_dup_windows,
               CAST(sum(e - s) AS BIGINT) AS dup_tokens
        FROM runs GROUP BY 1)
SELECT b.doc_id, b.n_tokens,
       CAST(coalesce(p.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
       CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       (round(coalesce(p.dup_tokens, 0) / CAST(b.n_tokens AS DOUBLE), 6) + 0)
         AS dup_frac
FROM base b LEFT JOIN per p USING (doc_id)"""


def heavy_hitters_sql(columns: list[str], k: int = 10) -> str:
    """Mirrors checks/column_stats.heavy_hitters over the `transcripts`
    CTE (caller prefixes the transcript WITH-clause). NULL values stay a
    real NULL group; tie-break on the value string NULLS FIRST matches
    Spark's asc_nulls_first default."""
    pairs = "\n  UNION ALL ".join(
        f"SELECT '{c}' AS col_name, CAST({c} AS VARCHAR) AS value FROM transcripts"
        for c in columns
    )
    return f"""
, pairs AS (
  {pairs}),
g AS (SELECT col_name, value, CAST(count(*) AS BIGINT) AS n
      FROM pairs GROUP BY 1, 2),
r AS (SELECT col_name, value, n,
             CAST(row_number() OVER (
               PARTITION BY col_name
               ORDER BY n DESC, value ASC NULLS FIRST) AS BIGINT) AS rnk,
             sum(n) OVER (PARTITION BY col_name) AS tot
      FROM g)
SELECT col_name, value, n,
       (round(n / CAST(tot AS DOUBLE), 6) + 0) AS frac, rnk
FROM r WHERE rnk <= {k}"""


def weighted_sample_sql(
    fraction: float, salt: str = "wsample-v1"
) -> str:
    """Mirrors operators/sampling.weighted_hash_sample on `documents`
    with weight = n_chars: identical IEEE op order
    ((fraction * w) * n) / sum_w against the shared md5 uniform draw, so
    the SELECTION (not just the reported prob) is bit-identical. The
    fraction literal MUST be cast to DOUBLE: DuckDB types `0.2` as
    DECIMAL(2,1) and would compute (0.2 * w) * n in exact decimal with
    ONE rounding to double, while Spark rounds after each multiply —
    a last-ulp keep_prob gap that flips the u < p selection for draws
    landing inside it."""
    u = hash_uniform_sql(["doc_id"], salt)
    return f"""
WITH tot AS (SELECT CAST(sum(n_chars) AS BIGINT) AS sum_w,
                    CAST(count(*) AS BIGINT) AS n FROM documents),
p AS (SELECT d.doc_id, d.n_chars,
             least(1.0, (CAST({fraction!r} AS DOUBLE) * d.n_chars) * t.n
                        / CAST(t.sum_w AS DOUBLE))
               AS keep_prob
      FROM documents d CROSS JOIN tot t)
SELECT doc_id, n_chars, (round(keep_prob, 6) + 0) AS keep_prob
FROM p WHERE {u} < keep_prob"""


def shingle_novelty_sql(n: int = 3) -> str:
    """Mirrors operators/dedup.shingle_novelty for the entry split
    (doc_id % 5 == 0 plays the fresh ingest batch, the rest the existing
    corpus), over the WIDE distinct-shingle-hash construction
    (_shingle_sets_wide_sql — membership by equality needs the ~60-bit
    envelope). NULL-text docs are excluded on both engines (see
    shingle_novelty)."""
    return f"""
WITH docs_nn AS (SELECT * FROM documents WHERE text IS NOT NULL),
{_shingle_sets_wide_sql(n, src='docs_nn')},
new_sets AS (SELECT * FROM wsets WHERE doc_id % 5 = 0),
ref_h AS (SELECT DISTINCT hw FROM wsets WHERE doc_id % 5 <> 0),
novel AS (SELECT s.doc_id FROM new_sets s ANTI JOIN ref_h USING (hw)),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
          FROM new_sets GROUP BY 1),
nv AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_novel
       FROM novel GROUP BY 1)
SELECT s.doc_id, s.n_shingles,
       CAST(coalesce(nv.n_novel, 0) AS BIGINT) AS n_novel,
       (round(coalesce(nv.n_novel, 0) / CAST(s.n_shingles AS DOUBLE), 6) + 0)
         AS novelty
FROM sizes s LEFT JOIN nv USING (doc_id)"""


def zipf_fit_sql(top_n: int = 500) -> str:
    """Mirrors operators/text_analysis.zipf_fit: per-lang OLS of
    ln(total tf) on ln(rank) over the top_n vocabulary, with the
    identical float op ORDER in slope/intercept/r2 (per-term sums are
    engine-order floating sums; round6 absorbs the ~1e-12 associativity
    spread, as in psi/lm_score). Degenerate-group guards use the same
    INTEGER predicates as the Spark side (n > 1, tf_min < tf_max) —
    float-zero tests on cancellation residuals would be
    summation-order dependent and could disagree between engines."""
    norm = NORM.format(col="text")
    slope = "(sxy - sx*sy/n) / (sxx - sx*sx/n)"
    return f"""
WITH pd AS (
  SELECT lang AS g, unnest(string_split({norm}, ' ')) AS token
  FROM documents),
vocab AS (SELECT g, token, CAST(count(*) AS BIGINT) tf
          FROM pd GROUP BY 1, 2),
ranked AS (
  SELECT g, tf, ln(CAST(r AS DOUBLE)) AS x, ln(CAST(tf AS DOUBLE)) AS y
  FROM (SELECT g, tf,
               row_number() OVER (PARTITION BY g
                                  ORDER BY tf DESC, token ASC) AS r
        FROM vocab) z
  WHERE r <= {top_n}),
s AS (SELECT g, CAST(count(*) AS BIGINT) n,
             min(tf) tf_min, max(tf) tf_max,
             sum(x) sx, sum(y) sy, sum(x*y) sxy,
             sum(x*x) sxx, sum(y*y) syy
      FROM ranked GROUP BY 1)
SELECT g AS lang, n AS n_terms,
       (round(CASE WHEN n > 1 THEN {slope} END, 6) + 0) AS slope,
       (round(CASE WHEN n > 1
              THEN (sy - ({slope}) * sx) / n END, 6) + 0) AS intercept,
       (round(CASE WHEN n > 1 AND tf_min < tf_max
              THEN (sxy - sx*sy/n) * (sxy - sx*sy/n)
                   / ((sxx - sx*sx/n) * (syy - sy*sy/n)) END, 6) + 0) AS r2
FROM s"""


def embedding_near_dup_cross_sql(threshold: float = 0.4) -> str:
    """Mirrors operators/ann.embedding_near_dup_against for the entry
    split (vec_id % 5 == 0 plays the fresh batch)."""
    return f"""
WITH {_NORM_E},
n AS (SELECT * FROM e WHERE vec_id % 5 = 0),
r AS (SELECT * FROM e WHERE vec_id % 5 <> 0)
SELECT n.vec_id AS new_id, r.vec_id AS ref_id,
       (round(list_dot_product(n.v, r.v), 6) + 0) AS cosine
FROM n CROSS JOIN r
WHERE list_dot_product(n.v, r.v) >= {threshold}"""


def ingest_gate_sql(
    jaccard_drop: float = 0.5,
    cosine_drop: float = 0.45,
    novelty_floor: float = 0.2,
) -> str:
    """Mirrors operators/corpus.ingest_gate for the entry split
    (doc_id/vec_id % 5 == 0 plays the fresh batch) with the exact
    semantic path: compose the three already-gated signal kernels
    (minhash_lsh_cross_sql / embedding_near_dup_cross_sql /
    shingle_novelty_sql) as subqueries, aggregate each to a per-new-doc
    max, and apply the identical CASE routing on the 6dp-rounded values.
    The kernel outputs are already round(...,6)+0; max() of rounded
    non-negative values preserves the normalization, so the outer
    re-round is the same idempotent op the Spark side applies
    (round6(max(...)) == max(round6(...)) by monotonicity). Threshold
    literals are CAST AS DOUBLE — DuckDB types bare 0.45 as DECIMAL and
    a DECIMAL/DOUBLE compare in the CASE would promote differently than
    Spark's double compare."""
    # NULL-text docs are excluded from the text signals on BOTH engines
    # (the Spark side filters before shingling; Spark's concat_ws('')
    # shingle fallback vs DuckDB's never-joining NULL hash would
    # otherwise diverge — same trap as shingle_novelty/duplicated_spans)
    tj = minhash_lsh_cross_sql(
        0.1, "doc_id % 5 = 0",
        src="(SELECT * FROM documents WHERE text IS NOT NULL) dnn",
    )
    ce = embedding_near_dup_cross_sql(0.4)
    nv = shingle_novelty_sql(n=3)
    return f"""
WITH tj AS (
  SELECT new_id AS doc_id, (round(max(jaccard), 6) + 0) AS max_jaccard
  FROM ({tj}) q GROUP BY 1),
ce AS (
  SELECT new_id AS doc_id, (round(max(cosine), 6) + 0) AS max_cosine
  FROM ({ce}) q GROUP BY 1),
nv AS (SELECT doc_id, novelty FROM ({nv}) q),
base AS (
  SELECT doc_id, text IS NOT NULL AS has_text
  FROM documents WHERE doc_id % 5 = 0)
SELECT b.doc_id, tj.max_jaccard, ce.max_cosine, nv.novelty,
       CASE WHEN NOT b.has_text THEN 'quarantine_no_text'
            WHEN tj.max_jaccard >= CAST({jaccard_drop} AS DOUBLE)
              THEN 'drop_text_dup'
            WHEN ce.max_cosine >= CAST({cosine_drop} AS DOUBLE)
              THEN 'drop_semantic_dup'
            WHEN nv.novelty <= CAST({novelty_floor} AS DOUBLE)
              THEN 'quarantine_low_novelty'
            ELSE 'keep' END AS decision
FROM base b
LEFT JOIN tj USING (doc_id)
LEFT JOIN ce USING (doc_id)
LEFT JOIN nv USING (doc_id)"""
