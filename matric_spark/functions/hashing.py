"""Deterministic hashing primitives shared by dedup / fingerprint operators.

All hashes root in md5 so that the DuckDB oracle can recompute them
bit-for-bit: Spark `conv(substr(md5(x),1,15),16,10)::bigint` equals DuckDB
`CAST('0x'||substr(md5(x),1,15) AS BIGINT)` (15 hex digits < 2^60, so no
sign issues in either engine). Hot dedup paths md5 each TOKEN once and
derive shingle/window/band hashes from the token hashes by pure int64
Horner arithmetic (`shingle_hashes_of`) — ~2x cheaper than
md5-per-shingle at sf0.1 and equally mirrorable
(duck_oracle._shingle_hashes_sql/_horner_sql).

Reference lineage: matric fingerprints nothing (its ids are positional,
R/utils.R:37); content hashing is new Spark-native engineering for the
training-data dedup suite. The MinHash permutation family
((a*h + b) mod P) follows the classic Broder construction; parameters are
generated by a fixed LCG so both engines and every test run agree.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Mersenne prime 2^31-1: keeps a*h+b < 2^62 (no int64 overflow in Spark
#: or DuckDB when a,b < 2^31 and h = H mod P).
HASH_PRIME = 2147483647


def md5_long(col: Column | str) -> Column:
    """60-bit non-negative bigint content hash of a string column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def md5_long2(col: Column | str) -> Column:
    """The OTHER 60 bits of the same md5 (hex digits 16..30). Pair with
    `md5_long` as a two-column group key where a single 60-bit space
    birthday-saturates: exact-dedup keep-decisions at 10^12 rows see
    ~N²/2^61 ≈ 4×10^5 false merges on one hash — each a wrongly deleted
    unique row — vs ~0 on the 120-bit pair. Codegen's subexpression
    elimination computes the underlying md5 once when both halves
    appear in one projection. Mirrored by duck_oracle.hexbig2."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 16, 15), 16, 10).cast("long")


def minhash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the permutation family
    h_i(x) = (a_i * x + b_i) mod HASH_PRIME, a_i != 0.

    Plain LCG (numerical-recipes constants) so the sequence is reproducible
    from `seed` alone — no RNG library dependence on either engine.
    """
    params: list[tuple[int, int]] = []
    state = seed & 0xFFFFFFFF
    while len(params) < num_hashes:
        state = (1664525 * state + 1013904223) & 0xFFFFFFFF
        a = state % (HASH_PRIME - 1) + 1  # in [1, P-1]
        state = (1664525 * state + 1013904223) & 0xFFFFFFFF
        b = state % HASH_PRIME
        params.append((a, b))
    return params


#: Horner multiplier for numeric shingle hashes: small enough that
#: acc*K + token_hash stays < 2^52 (acc < 2^31, K < 2^20 — no int64
#: overflow in Spark or DuckDB), prime so multiplication mod HASH_PRIME
#: is a bijection.
SHINGLE_K = 1000003


#: 2^31 — positional weight combining two independent 31-bit Horner
#: chains into one ~60-bit value: lo*WIDE_SHIFT + hi < (P-1)*2^31 + P
#: ≈ 4.62e18 < int64 max on both engines.
WIDE_SHIFT = 2147483648


def token_md5s(toks: Column) -> Column:
    """Array of raw 60-bit per-token md5 hashes — the shared stage for
    deriving BOTH token-hash component arrays (`token_hashes_lo`/`_hi`)
    with one md5 per token. Stage the result as a projected column, and
    stage each component array too before feeding it to
    `shingle_hashes_of` (same rule as `shingles_of`'s token staging), so
    the per-token md5 runs once per row, not once per shingle reference."""
    return F.transform(toks, md5_long)


def token_hashes_lo(md: Column) -> Column:
    """Low 31-bit token-hash components from a staged `token_md5s` array:
    md5 % HASH_PRIME, the token hashes every shingle hash is built from."""
    return F.transform(md, lambda x: x % HASH_PRIME)


def token_hashes_hi(md: Column) -> Column:
    """High-bit token-hash components from a staged `token_md5s` array:
    md5 >> 31 (bits 31..59 — independent of the `_lo` bits, which is
    what makes the combined chain's collision envelope multiply)."""
    return F.transform(md, lambda x: F.shiftright(x, 31))


def wide_combine(lo_hashes: Column, hi_hashes: Column) -> Column:
    """Elementwise ~60-bit combine of two positional 31-bit hash arrays
    (each a `shingle_hashes_of` over the lo/hi token components):
    lo*2^31 + hi. Used where window EQUALITY alone decides duplication
    (operators/dedup.duplicated_spans) — a single 31-bit chain
    birthday-saturates around ~10^5 windows, minting false duplicate
    spans at corpus scale. Mirrored by duck_oracle._wide_shingle_hashes_sql."""
    return F.zip_with(
        lo_hashes, hi_hashes, lambda lo, hi: lo * F.lit(WIDE_SHIFT) + hi
    )


def _horner(cols: list[Column]) -> Column:
    """Combine 31-bit hash columns into one value mod HASH_PRIME via the
    Horner polynomial sum(cols[j] * K^(n-1-j)); pure int64 arithmetic,
    mirrored bit-for-bit by duck_oracle._horner_sql."""
    acc = cols[0]
    for c in cols[1:]:
        acc = (acc * SHINGLE_K + c) % HASH_PRIME
    return acc


def shingle_hashes_of(th: Column, n: int = 3) -> Column:
    """Positional array of n-token shingle hashes from a PRE-STAGED
    token-hash array (`token_hashes_lo`/`_hi`): element i is the Horner polynomial
    sum(th[i+j] * K^(n-1-j)) mod HASH_PRIME over the n tokens starting at
    i — one hash per shingle position, positions matching `shingles_of`,
    including its whole-text fallback (a doc with k < n tokens yields ONE
    hash over all k tokens).

    This replaces the concat-shingle-string + md5-per-shingle
    construction: each token is md5-hashed ONCE and shingle hashes are
    pure int64 arithmetic, which halves the shingle-relation build on
    sf0.1 conversation tapes (13.6 s -> 6.5 s for the distinct-hash
    arrays) and removes |shingles| string allocations from every dedup
    scan. The DuckDB oracle mirrors the identical polynomial
    (duck_oracle._shingle_hashes_sql), so hash values — hence minhash
    signatures, band buckets, and emitted pairs — stay bit-equal across
    engines. Collision envelope matches the previous
    md5_long(shingle) % HASH_PRIME at the shingle-SET call sites
    (minhash input, jaccard sets, novelty membership), where a 31-bit
    space was always the design. Call sites where window equality ALONE
    decides duplication need the wider `wide_combine` of two chains —
    see its docstring.
    """
    k = F.size(th)
    full = F.transform(
        F.sequence(F.lit(1), k - F.lit(n - 1)),
        lambda i: _horner(
            [F.element_at(th, (i + F.lit(j)).cast("int")) for j in range(n)]
        ),
    )
    # short-doc fallback: CASE branches are evaluated lazily per row, so
    # the fixed-index element_at chains never see an out-of-range index
    expr = F.when(k >= F.lit(n), full)
    for kk in range(n - 1, 0, -1):
        expr = expr.when(
            k == F.lit(kk),
            F.array(
                _horner([F.element_at(th, F.lit(j)) for j in range(1, kk + 1)])
            ),
        )
    return expr


def shingles_of(toks: Column, n: int = 3) -> Column:
    """Array of n-word shingles (space-joined) from a PRE-SPLIT token
    array column.

    The caller MUST stage `toks` as its own projected column (a select/
    withColumn alias), not pass an inline split(...) expression: an
    expression captured by the transform lambda is re-evaluated once per
    output shingle, turning shingling into O(words²) per row — 60 s vs
    ~5 s on 300-word conversation tapes at sf0.01. A staged alias is
    referenced more than once (size + slice), so CollapseProject keeps
    the projection boundary and the split runs once per row.

    Texts shorter than n words yield a single shingle of the whole text
    so every non-empty doc has >= 1 shingle.
    """
    k = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Inline-split variant of shingles_of — convenient for SHORT texts
    only (the split re-evaluates per shingle inside the lambda; see
    shingles_of for the staged formulation hot paths must use)."""
    t = F.col(text) if isinstance(text, str) else text
    return shingles_of(F.split(F.trim(t), r"\s+"), n)
