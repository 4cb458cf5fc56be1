"""Unit tests for the training-data pipeline operators (dedup / ANN /
text analysis), mirroring the reference's closed-form-fixture strategy
(tests/testthat/test-sim_calculate.R:5-103 builds tiny populations with
hand-computable answers)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def tiny_docs(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, base, "en", "s0"),
        (1, base, "en", "s0"),                       # exact dup of 0
        (2, base + " extra", "en", "s1"),            # near-dup of 0
        (3, "completely different words entirely here now", "en", "s1"),
        (4, "  Alpha  beta gamma delta epsilon zeta eta theta iota kappa ",
         "en", "s2"),                                # dup of 0 after normalize
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )


def test_exact_duplicates_and_dedup(spark, tiny_docs):
    from matric_spark.operators.dedup import exact_dedup, exact_duplicates

    dups = exact_duplicates(tiny_docs).collect()
    assert len(dups) == 1 and dups[0].n_dups == 3  # docs 0, 1, 4 collide

    kept = exact_dedup(tiny_docs)
    assert sorted(r.doc_id for r in kept.collect()) == [0, 2, 3]


def test_ngram_jaccard_closed_form(spark, tiny_docs):
    from matric_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {
        (r.id1, r.id2): r.jaccard
        for r in ngram_jaccard_pairs(tiny_docs, threshold=0.05).collect()
    }
    # identical docs → jaccard exactly 1
    assert pairs[(0, 1)] == pytest.approx(1.0)
    assert pairs[(0, 4)] == pytest.approx(1.0)
    # doc 2 = doc 0 + one word: 8 shared 3-shingles of 0's 8, 2 has 9
    assert pairs[(0, 2)] == pytest.approx(8 / 9)
    # unrelated doc shares nothing
    assert (0, 3) not in pairs and (2, 3) not in pairs


def test_minhash_lsh_finds_near_dups(spark, tiny_docs):
    from matric_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    exact = {(r.id1, r.id2) for r in ngram_jaccard_pairs(tiny_docs, 0.5).collect()}
    lsh = {(r.id1, r.id2) for r in minhash_lsh_pairs(tiny_docs, 0.5).collect()}
    # high-jaccard pairs must be recalled, and LSH never invents pairs
    assert lsh == exact and (0, 1) in lsh


def test_shingle_hashes_match_python_reference(spark):
    """Pin the numeric token-Horner shingle construction to a pure-Python
    reference: md5 per token mod P, then sum(th[i+j] * K^(n-1-j)) mod P
    per position, whole-doc fallback below n tokens. Guards BOTH engine
    mirrors (functions/hashing.shingle_hashes_of and
    duck_oracle._shingle_hashes_sql) through one spec."""
    import hashlib

    from matric_spark.functions.hashing import HASH_PRIME, SHINGLE_K
    from matric_spark.operators.dedup import shingle_hash_arrays

    def py_md5_long(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def py_shingles(text: str, n: int = 3) -> list[int]:
        th = [py_md5_long(t) % HASH_PRIME for t in text.split(" ")]
        if len(th) < n:
            grp = [th]
        else:
            grp = [th[i : i + n] for i in range(len(th) - n + 1)]
        out = []
        for g in grp:
            acc = g[0]
            for v in g[1:]:
                acc = (acc * SHINGLE_K + v) % HASH_PRIME
            out.append(acc)
        # array_distinct keeps first-occurrence order; sets compare here
        return sorted(set(out))

    texts = {
        10: "alpha beta gamma delta",  # 2 shingles
        11: "alpha beta",  # short doc -> 1 whole-doc hash
        12: "solo",  # single token
        13: "alpha beta gamma",  # exactly n tokens
    }
    docs = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    got = {
        r.doc_id: sorted(set(r.harr))
        for r in shingle_hash_arrays(docs, n=3).collect()
    }
    assert got == {k: py_shingles(v) for k, v in texts.items()}

    # and the DuckDB mirror reproduces the same values
    import duckdb

    from matric_spark.duck_oracle import _shingle_hashes_sql, _token_h_sql

    con = duckdb.connect()
    rows = con.execute(
        f"""WITH d(doc_id, text) AS (VALUES {
            ", ".join(f"({k}, '{v}')" for k, v in texts.items())
        }),
        t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM d),
        h AS (SELECT doc_id, {_token_h_sql('toks')} AS th FROM t)
        SELECT doc_id, {_shingle_hashes_sql('th', 3)} AS sh FROM h"""
    ).fetchall()
    assert {r[0]: sorted(set(r[1])) for r in rows} == {
        k: py_shingles(v) for k, v in texts.items()
    }


def test_minhash_lsh_jaccard_matches_set_algebra(spark, tiny_docs):
    """The array_intersect verify must reproduce the exploded
    shared-hash count exactly (jaccard values equal to the set-algebra
    ground truth)."""
    from matric_spark.operators.dedup import minhash_lsh_pairs, shingle_sets

    sets = {}
    for r in shingle_sets(tiny_docs, n=3).collect():
        sets.setdefault(r.doc_id, set()).add(r.h)
    lsh = {
        (r.id1, r.id2): r.jaccard
        for r in minhash_lsh_pairs(tiny_docs, 0.5).collect()
    }
    assert (0, 4) in lsh
    for (i, j), jac in lsh.items():
        inter = len(sets[i] & sets[j])
        assert jac == inter / len(sets[i] | sets[j]) and inter >= 1


def _duck_bands(docs, num_hashes, bands):
    """Sorted (doc_id, band_hash) rows of the DuckDB MinHash mirror
    (duck_oracle._minhash_bands_sql) over the (doc_id, text) of `docs`."""
    import duckdb

    from matric_spark.duck_oracle import _minhash_bands_sql, _shingle_sets_sql

    con = duckdb.connect()
    con.register("documents", docs.select("doc_id", "text").toPandas())
    return sorted(
        con.execute(
            f"WITH {_shingle_sets_sql(3)}, "
            f"{_minhash_bands_sql(num_hashes, bands, 42)} "
            "SELECT doc_id, band_hash FROM banded"
        ).fetchall()
    )


def test_banded_minhash_arrow_matches_column_path(spark, tiny_docs):
    """Differential: the vectorized Arrow band-hash pass
    (banded_minhash_arrays — the one MinHash inside minhash_lsh_pairs and
    minhash_lsh_pairs_against) must emit exactly the (doc_id, band_hash)
    multiset of the DuckDB column construction over the same shingle
    sets (per-permutation min, then a Horner combine per band). Covers
    both a 32-hash/8-band and a 10-hash/5-band parametrization."""
    from matric_spark.operators.dedup import banded_minhash_arrays, shingle_hash_arrays

    harr = shingle_hash_arrays(tiny_docs, n=3)
    for num_hashes, bands in ((32, 8), (10, 5)):
        got = sorted(
            (r.doc_id, r.band_hash)
            for r in banded_minhash_arrays(harr, num_hashes, bands).collect()
        )
        assert got == _duck_bands(tiny_docs, num_hashes, bands)
        assert len(got) == 5 * bands


def test_minhash_lsh_null_text_and_long_docs(spark, tiny_docs):
    """Regressions for the Arrow band-hash pass, on the self and the
    cross-set op: (a) a NULL-text row (split/transform propagate NULL
    into a NULL harr) must emit no bands and no pairs instead of
    crashing the Python worker — also when the same id sits on both
    sides of the cross-set join; (b) a document whose shingle array
    spans multiple chunk slices must hash identically to the unchunked
    DuckDB mirror (the chunked running-min is value-identical, not just
    approximately so), and the cross-set pairs must equal the DuckDB
    cross-set twin."""
    import duckdb

    from matric_spark.duck_oracle import minhash_lsh_cross_sql
    from matric_spark.operators.dedup import (
        banded_minhash_arrays,
        minhash_lsh_pairs,
        minhash_lsh_pairs_against,
        shingle_hash_arrays,
    )

    with_null = tiny_docs.unionByName(
        spark.createDataFrame(
            [(9, None, "en", "s9")],
            "doc_id long, text string, lang string, source string",
        )
    )
    pairs = minhash_lsh_pairs(with_null, 0.5).collect()
    assert {(r.id1, r.id2) for r in pairs} and not any(
        9 in (r.id1, r.id2) for r in pairs
    )
    cross = minhash_lsh_pairs_against(
        with_null.filter(F.col("doc_id").isin(2, 9)),
        with_null.filter(F.col("doc_id").isin(0, 9)),
        0.5,
    ).collect()
    assert {(r.new_id, r.ref_id) for r in cross} == {(2, 0)}

    # ~12k tokens → ~12k distinct 3-shingles: several 4096-wide slices
    long_text = " ".join(f"w{i}" for i in range(12000))
    long_docs = spark.createDataFrame(
        [(0, long_text), (1, long_text + " tail words appended")],
        "doc_id long, text string",
    )
    harr = shingle_hash_arrays(long_docs, n=3)
    got = sorted(
        (r.doc_id, r.band_hash)
        for r in banded_minhash_arrays(harr, 32, 8).collect()
    )
    assert got == _duck_bands(long_docs, 32, 8) and len(got) == 16

    sp = {
        (r.new_id, r.ref_id, round(r.jaccard, 6))
        for r in minhash_lsh_pairs_against(
            long_docs.filter("doc_id = 1"), long_docs.filter("doc_id = 0"), 0.5
        ).collect()
    }
    con = duckdb.connect()
    con.register("documents", long_docs.toPandas())
    duck = set(con.execute(minhash_lsh_cross_sql(0.5, "doc_id = 1")).fetchall())
    assert sp == duck and len(sp) == 1


def test_minhash_lsh_against_cross_set(spark, tiny_docs):
    """Incremental dedup: new batch = docs {1, 2, 3}, corpus = {0, 4}.
    1 is an exact dup of 0/4 (j=1.0), 2 a near-dup of both (8/9), 3
    unrelated — and within-batch pairs (1,2) must NOT appear."""
    from matric_spark.operators.dedup import minhash_lsh_pairs_against

    new = tiny_docs.filter(F.col("doc_id").isin(1, 2, 3))
    ref = tiny_docs.filter(F.col("doc_id").isin(0, 4))
    out = {
        (r.new_id, r.ref_id): r.jaccard
        for r in minhash_lsh_pairs_against(new, ref, threshold=0.05).collect()
    }
    assert out[(1, 0)] == pytest.approx(1.0)
    assert out[(1, 4)] == pytest.approx(1.0)
    assert out[(2, 0)] == pytest.approx(8 / 9)
    assert all(nid != 3 for nid, _ in out)      # unrelated new doc clean
    assert all(rid in (0, 4) for _, rid in out)  # no within-batch pairs


def test_simhash_identical_docs_distance_zero(spark, tiny_docs):
    from matric_spark.operators.dedup import simhash, simhash_pairs

    fps = {r.doc_id: r.simhash for r in simhash(tiny_docs).collect()}
    assert fps[0] == fps[1] == fps[4]
    assert all(v >= 0 for v in fps.values())  # 60-bit, sign-safe

    close = {
        (r.id1, r.id2): r.hamming
        for r in simhash_pairs(tiny_docs, max_hamming=60).collect()
    }
    assert close[(0, 1)] == 0
    # near-dup is closer in hamming space than the unrelated doc
    if (0, 3) in close:
        assert close[(0, 2)] < close[(0, 3)]


@pytest.fixture(scope="module")
def tiny_vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.001, 0.0, 0.0]),   # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),       # orthogonal
        (3, [-1.0, 0.0, 0.0, 0.0]),      # opposite
        (4, [0.0, 0.999, 0.001, 0.0]),   # near-dup of 2
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_embedding_near_dup_exact(spark, tiny_vectors):
    from matric_spark.operators.ann import embedding_near_dup

    pairs = {
        (r.id1, r.id2): r.cosine
        for r in embedding_near_dup(tiny_vectors, threshold=0.9).collect()
    }
    assert set(pairs) == {(0, 1), (2, 4)}
    assert pairs[(0, 1)] > 0.999


def test_exact_baseline_pair_budget_guard(spark, tiny_vectors):
    """The exact cartesian baselines refuse to run past max_pairs —
    the 'never point this at real data' contract is enforced, not
    advisory. max_pairs=None is the explicit opt-out."""
    from matric_spark.operators.ann import (
        ann_topk_bruteforce,
        embedding_near_dup,
        embedding_near_dup_against,
    )

    with pytest.raises(ValueError, match="max_pairs"):
        embedding_near_dup(tiny_vectors, 0.9, max_pairs=5)
    with pytest.raises(ValueError, match="max_pairs"):
        embedding_near_dup_against(tiny_vectors, tiny_vectors, 0.9, max_pairs=5)
    with pytest.raises(ValueError, match="max_pairs"):
        ann_topk_bruteforce(tiny_vectors, tiny_vectors, k=2, max_pairs=5)
    # opt-out still runs the exact scan
    assert embedding_near_dup(tiny_vectors, 0.9, max_pairs=None).count() == 2


def test_embedding_near_dup_lsh_recall(spark, tiny_vectors):
    from matric_spark.operators.ann import embedding_near_dup, embedding_near_dup_lsh

    exact = {(r.id1, r.id2) for r in embedding_near_dup(tiny_vectors, 0.9).collect()}
    lsh = {
        (r.id1, r.id2)
        for r in embedding_near_dup_lsh(tiny_vectors, dim=4, threshold=0.9).collect()
    }
    # at cosine ~1 the hyperplane signatures agree on every band → full recall
    assert lsh == exact


def test_ann_null_and_zero_norm_embeddings(spark, tiny_vectors):
    """NULL and zero-norm embedding rows must be inert — dropped before
    the signature/assign/probe UDFs, never crashing the Arrow worker and
    never appearing in any output pair (regression: np.stack(None)
    raised TypeError inside the matmul UDFs)."""
    from matric_spark.operators.ann import (
        ann_topk_ivf,
        embedding_near_dup_lsh,
    )

    dirty = tiny_vectors.unionByName(
        spark.createDataFrame(
            [(90, None), (91, [0.0, 0.0, 0.0, 0.0])],
            "vec_id long, embedding array<double>",
        )
    )
    lsh = embedding_near_dup_lsh(dirty, dim=4, threshold=0.9).collect()
    assert {r.id1 for r in lsh} | {r.id2 for r in lsh} <= {0, 1, 2, 3, 4}
    assert len(lsh) > 0

    topk = ann_topk_ivf(dirty, dirty, k=2, n_centroids=2, nprobe=2).collect()
    ids = {r.qid for r in topk} | {r.vec_id for r in topk}
    assert ids and 90 not in ids and 91 not in ids


def test_embedding_near_dup_lsh_planted_recall(spark):
    """Recall bound at the default (sub-quadratic) parametrization:
    12 bands × 16 bits = 65,536 buckets per band. 40 planted clusters of
    3 noisy copies each (cosine ≥ ~0.97); theoretical recall ≥ 0.97 at
    that cosine, assert ≥ 0.9 with margin. Precision is exact by
    construction (verification step), so lsh ⊆ exact always."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    vid = 0
    for _ in range(40):
        base = rng.normal(size=32)
        base /= np.linalg.norm(base)
        for _ in range(3):
            v = base + rng.normal(size=32) * 0.03
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    from matric_spark.operators.ann import embedding_near_dup, embedding_near_dup_lsh

    exact = {(r.id1, r.id2) for r in embedding_near_dup(emb, 0.95).collect()}
    lsh = {
        (r.id1, r.id2)
        for r in embedding_near_dup_lsh(emb, dim=32, threshold=0.95).collect()
    }
    assert lsh <= exact  # never invents pairs
    assert len(exact) >= 40  # the plant worked
    assert len(lsh) / len(exact) >= 0.9


def test_ann_topk_ivf_recall_and_determinism(spark):
    """IVF top-k (the sub-linear search path) vs brute force on planted
    clusters: a query's true nearest neighbors share its cluster, so
    they land in the probed cells — recall@k must be high. Also: two
    runs are identical (hash-sampled seeds + fixed Lloyd rounds, no RNG)
    and IVF scores are exact cosines (subset-of-scanned guarantee)."""
    import numpy as np

    rng = np.random.default_rng(23)
    rows = []
    vid = 0
    for _ in range(30):
        base = rng.normal(size=16)
        base /= np.linalg.norm(base)
        for _ in range(8):
            v = base + rng.normal(size=16) * 0.05
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") % 40 == 0)  # 6 queries

    from matric_spark.operators.ann import ann_topk_bruteforce, ann_topk_ivf

    exact = {
        (r.qid, r.vec_id)
        for r in ann_topk_bruteforce(emb, queries, k=5).collect()
    }
    got1 = ann_topk_ivf(
        emb, queries, k=5, n_centroids=16, nprobe=4
    ).collect()
    ivf = {(r.qid, r.vec_id) for r in got1}
    assert len(ivf & exact) / len(exact) >= 0.9  # recall@5
    # determinism: identical output across runs
    got2 = ann_topk_ivf(emb, queries, k=5, n_centroids=16, nprobe=4).collect()
    key = lambda r: (r.qid, r.rank)  # noqa: E731
    assert sorted(map(tuple, got1), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, got2), key=lambda t: (t[0], t[3])
    )
    # IVF cosines are exact (same scoring expression as brute force)
    bf = {
        (r.qid, r.vec_id): r.cosine
        for r in ann_topk_bruteforce(emb, queries, k=200).collect()
    }
    for r in got1:
        assert bf[(r.qid, r.vec_id)] == pytest.approx(r.cosine, abs=1e-12)


def test_ann_topk_ordering(spark, tiny_vectors):
    from matric_spark.operators.ann import ann_topk_bruteforce

    q = tiny_vectors.filter(F.col("vec_id") == 0)
    got = (
        ann_topk_bruteforce(tiny_vectors, q, k=3)
        .orderBy("rank")
        .collect()
    )
    assert [r.vec_id for r in got] == [1, 2, 4]  # cosine 1.0, 0, ~0 (tie→id)
    assert got[0].cosine == pytest.approx(0.999 / math.hypot(0.999, 0.001))


def test_ivf_soundness_tolerates_6dp_rank_ties(spark):
    """ann_topk_ivf assigns rank on the UNROUNDED cosine; the soundness
    checker only sees 6dp-rounded values. Two rows whose cosines differ
    beyond 6dp may therefore carry ranks in either vec_id order — that
    must NOT be a bad_rank violation, while a genuinely inverted rank
    (higher rounded cosine ranked later) must be."""
    import numpy as np

    from matric_spark.operators.ann import ivf_soundness_violations

    def unit(x):
        v = [x, float(np.sqrt(1.0 - x * x))]
        return [float(a) for a in v]

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),          # the query vector
            (9, unit(0.1234572)),     # ties with 3 at 6dp, bigger vec_id
            (3, unit(0.1234567)),
            (5, unit(0.9)),
        ],
        "vec_id int, embedding array<double>",
    )
    sound = spark.createDataFrame(
        [
            (1, 5, 0.9, 1),
            (1, 9, 0.123457, 2),   # unrounded 0.1234572 > 0.1234567
            (1, 3, 0.123457, 3),   # → 9 before 3 despite vec_id order
        ],
        "qid int, vec_id int, cosine double, rank int",
    )
    assert ivf_soundness_violations(sound, emb, k=3).count() == 0

    inverted = spark.createDataFrame(
        [(1, 3, 0.123457, 1), (1, 5, 0.9, 2)],
        "qid int, vec_id int, cosine double, rank int",
    )
    bad = ivf_soundness_violations(inverted, emb, k=3).collect()
    assert any(r.reason == "bad_rank" for r in bad)


def test_text_stats_closed_form(spark):
    from matric_spark.operators.text_analysis import doc_text_stats

    docs = spark.createDataFrame(
        [(0, "the cat, sat!", "en", "s")],
        "doc_id long, text string, lang string, source string",
    )
    r = doc_text_stats(docs).collect()[0]
    assert r.n_tokens == 3
    # BPE-ish pre-tokenizer: "the"," cat",","," sat","!" → 5
    assert r.n_bpe_tokens == 5
    assert r.n_chars == 13
    assert r.stopword_ratio == pytest.approx(1 / 3)
    assert r.punct_ratio == pytest.approx(2 / 13)
    assert r.quality == pytest.approx(
        (3 / 50) * (1 - abs(1 / 3 - 0.2)) * (1 - 2 / 13)
    )


def test_bpe_token_count_edges(spark):
    """Contractions split off, digit runs cap at 3, punctuation runs
    fuse — the GPT-2-family pre-tokenizer shape (lookahead-free so the
    DuckDB RE2 oracle counts identically)."""
    from matric_spark.functions.text import bpe_token_count

    rows = [
        (0, "don't"),           # "don" + "'t" → 2
        (1, "12345"),           # "123" + "45" → 2
        (2, "hello,   world!!"),  # "hello" + "," + " world" + "!!" → 4...
        (3, ""),                # → 0
    ]
    df = spark.createDataFrame(rows, "i long, text string")
    got = {
        r.i: r.n for r in df.select("i", bpe_token_count("text").alias("n")).collect()
    }
    assert got[0] == 2
    assert got[1] == 2
    # "hello", ",", "  " unmatched mid-run spaces are skipped: " world"
    # matches with its leading space, "!!" fuses → 4 matches total
    assert got[2] == 4
    assert got[3] == 0


def test_fingerprint_invariance(spark, tiny_docs):
    from matric_spark.operators.text_analysis import doc_fingerprint

    fps = {r.doc_id: (r.content_fp, r.min_shingle_fp)
           for r in doc_fingerprint(tiny_docs).collect()}
    assert fps[0] == fps[4]  # whitespace/case-normalized identical
    assert fps[0] != fps[3]


# ------------------------------------------------- duplicated spans


@pytest.fixture(scope="module")
def span_docs(spark):
    rows = [
        (0, "a b c d e f g h"),          # shares [a b c d] with doc 1
        (1, "x y a b c d z w"),
        (2, "p q r s t u v ww"),         # clean
        (3, "m n o p m n o p"),          # within-doc repeat, adjacent runs
        (4, "tiny doc"),                 # short-doc whole-text fallback...
        (5, "tiny doc"),                 # ...duplicated exactly
        (6, "q1 q2 q3 q4 q5 q6"),        # two OVERLAPPING shared windows
        (7, "z0 q1 q2 q3 q4 q5 z8 z9"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_duplicated_spans_closed_form(span_docs):
    from matric_spark.operators.dedup import duplicated_spans

    out = {
        r.doc_id: r
        for r in duplicated_spans(span_docs, window=4).collect()
    }
    assert len(out) == 8  # one row per doc, clean docs zero-filled
    # cross-doc single shared window: 4 of 8 tokens covered
    assert (out[0].n_dup_windows, out[0].dup_tokens) == (1, 4)
    assert out[0].dup_frac == 0.5
    assert (out[1].n_dup_windows, out[1].dup_tokens) == (1, 4)
    # clean doc
    assert (out[2].n_dup_windows, out[2].dup_tokens, out[2].dup_frac) == (
        0, 0, 0.0,
    )
    # [m n o p] at pos 0 and pos 4: adjacent windows merge into ONE
    # covered run spanning the whole doc
    assert (out[3].n_dup_windows, out[3].dup_tokens) == (2, 8)
    assert out[3].dup_frac == 1.0
    # short docs fall back to a whole-text window
    for d in (4, 5):
        assert (out[d].n_dup_windows, out[d].dup_tokens, out[d].dup_frac) == (
            1, 2, 1.0,
        )
    # overlapping shared windows merge: doc 6 covered [0,5) of 6 tokens
    assert (out[6].n_dup_windows, out[6].dup_tokens) == (2, 5)
    assert out[6].dup_frac == round(5 / 6, 6)
    # doc 7 covered [1,6) of 8
    assert (out[7].n_dup_windows, out[7].dup_tokens) == (2, 5)


def test_md5_second_half_parity_and_independence(spark):
    """md5_long2 (hex digits 16..30) matches the python/DuckDB mirrors
    and is independent of md5_long — the pair is the 120-bit exact-dedup
    key (exact_dedup, dedup_impact keep-decisions)."""
    import hashlib

    import duckdb
    from pyspark.sql import functions as F

    from matric_spark.duck_oracle import hexbig, hexbig2
    from matric_spark.functions.hashing import md5_long, md5_long2

    texts = ["alpha beta", "alpha  beta", "", "x"]
    exp = {
        t: (
            int(hashlib.md5(t.encode()).hexdigest()[:15], 16),
            int(hashlib.md5(t.encode()).hexdigest()[15:30], 16),
        )
        for t in texts
    }
    df = spark.createDataFrame([(t,) for t in texts], "t string").select(
        "t", md5_long(F.col("t")).alias("a"), md5_long2(F.col("t")).alias("b")
    )
    assert {r.t: (r.a, r.b) for r in df.collect()} == exp
    con = duckdb.connect()
    got = con.execute(
        f"SELECT t, {hexbig('t')}, {hexbig2('t')} FROM (SELECT unnest(?) AS t)",
        [texts],
    ).fetchall()
    assert {r[0]: (r[1], r[2]) for r in got} == exp
    # halves differ for every sample (independence sanity)
    assert all(a != b for a, b in exp.values())


def test_wide_window_hashes_match_python_reference(spark):
    """Pin the ~60-bit two-chain window-hash construction
    (hashing.wide_combine over lo/hi md5 bit-halves — the
    duplicated_spans hash) to a pure-Python reference on BOTH engines.
    Guards the collision envelope: a single 31-bit chain here would
    birthday-saturate at corpus scale (window equality alone decides
    duplication, there is no verify step)."""
    import hashlib

    from pyspark.sql import functions as F

    from matric_spark.functions.hashing import (
        HASH_PRIME,
        SHINGLE_K,
        WIDE_SHIFT,
        shingle_hashes_of,
        token_hashes_hi,
        token_hashes_lo,
        token_md5s,
        wide_combine,
    )

    def py_md5_long(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def py_wide(text: str, n: int) -> list[int]:
        md = [py_md5_long(t) for t in text.split(" ")]
        lo = [x % HASH_PRIME for x in md]
        hi = [x >> 31 for x in md]
        k = min(n, len(md))
        grp = range(max(len(md) - n + 1, 1))

        def horner(vals: list[int]) -> int:
            acc = vals[0]
            for v in vals[1:]:
                acc = (acc * SHINGLE_K + v) % HASH_PRIME
            return acc

        return [
            horner(lo[i : i + k]) * WIDE_SHIFT + horner(hi[i : i + k])
            for i in grp
        ]

    texts = {0: "a b c d e f", 1: "a b", 2: "solo", 3: "a b c d"}
    n = 4
    df = (
        spark.createDataFrame(
            list(texts.items()), "doc_id long, text string"
        )
        .select("doc_id", F.split("text", " ").alias("_toks"))
        .select("doc_id", token_md5s(F.col("_toks")).alias("_md"))
        .select(
            "doc_id",
            token_hashes_lo(F.col("_md")).alias("_th"),
            token_hashes_hi(F.col("_md")).alias("_thh"),
        )
        .select(
            "doc_id",
            wide_combine(
                shingle_hashes_of(F.col("_th"), n),
                shingle_hashes_of(F.col("_thh"), n),
            ).alias("wh"),
        )
    )
    expected = {k: py_wide(v, n) for k, v in texts.items()}
    assert {r.doc_id: list(r.wh) for r in df.collect()} == expected
    # the hi chain actually contributes: values exceed the 31-bit space
    assert all(
        h >= WIDE_SHIFT for hs in expected.values() for h in hs
    )

    import duckdb

    from matric_spark.duck_oracle import (
        _WIDE_SHIFT,
        _token_md5_sql,
        _wide_shingle_hashes_sql,
    )

    con = duckdb.connect()
    rows = con.execute(
        f"""WITH d(doc_id, text) AS (VALUES {
            ", ".join(f"({k}, '{v}')" for k, v in texts.items())
        }),
        t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM d),
        m AS (SELECT doc_id, {_token_md5_sql('toks')} AS md FROM t),
        h AS (SELECT doc_id,
                     list_transform(md, x -> x % {HASH_PRIME}) AS thl,
                     list_transform(md, x -> x // {_WIDE_SHIFT}) AS thh
              FROM m)
        SELECT doc_id, {_wide_shingle_hashes_sql('thl', 'thh', n)} AS wh
        FROM h"""
    ).fetchall()
    assert {r[0]: list(r[1]) for r in rows} == expected


def test_duplicated_spans_survives_31bit_collision(spark):
    """Regression pin with a REAL mined collision: these two 8-token
    windows share the 31-bit lo-chain hash (2070654029 — found by
    birthday search after ~41k random windows, concretely demonstrating
    why a 2^31 space is unusable when window equality alone decides
    duplication) but differ in the wide combine. duplicated_spans must
    NOT flag them as duplicates of each other."""
    import hashlib

    from matric_spark.functions.hashing import HASH_PRIME, SHINGLE_K

    a = "w180760 w180761 w180762 w180763 w180764 w180765 w180766 w180767"
    b = "w329552 w329553 w329554 w329555 w329556 w329557 w329558 w329559"

    # self-check the mined pair really collides in the 31-bit chain
    def lo_h(text: str) -> int:
        th = [
            int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % HASH_PRIME
            for t in text.split(" ")
        ]
        acc = th[0]
        for v in th[1:]:
            acc = (acc * SHINGLE_K + v) % HASH_PRIME
        return acc

    assert lo_h(a) == lo_h(b) == 2070654029 and a != b

    from matric_spark.operators.dedup import duplicated_spans

    docs = spark.createDataFrame([(0, a), (1, b)], "doc_id long, text string")
    for r in duplicated_spans(docs, window=8).collect():
        assert r.n_dup_windows == 0 and r.dup_tokens == 0 and r.dup_frac == 0.0


def test_duplicated_spans_exact_dup_full_coverage(spark):
    from matric_spark.operators.dedup import duplicated_spans

    t = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    docs = spark.createDataFrame(
        [(0, t), (1, t)], "doc_id long, text string"
    )
    for r in duplicated_spans(docs, window=8).collect():
        assert r.dup_frac == 1.0
        assert r.dup_tokens == 12
        assert r.n_dup_windows == 5  # 12 - 8 + 1


# ---------------------------------------------------- heavy hitters


def test_heavy_hitters_counts_ties_and_nulls(spark):
    from matric_spark.checks.column_stats import heavy_hitters

    rows = [("a", 1), ("a", 1), ("b", 1), ("b", 2), (None, 2), (None, 3)]
    df = spark.createDataFrame(rows, "s string, v int")
    out = heavy_hitters(df, ["s", "v"], k=2)
    got = {(r.col_name, r.value, r.n, r.rnk) for r in out.collect()}
    # s: 'a'×2, 'b'×2, NULL×2 — all tie at n=2; NULLS FIRST then 'a'
    assert (("s", None, 2, 1) in got) and (("s", "a", 2, 2) in got)
    assert not any(c == "s" and v == "b" for c, v, _, _ in got)
    # v: 1×3 then 2×2
    assert (("v", "1", 3, 1) in got) and (("v", "2", 2, 2) in got)
    fr = {(r.col_name, r.value): r.frac for r in out.collect()}
    assert fr[("v", "1")] == 0.5


def test_heavy_hitters_single_scan_plan(spark):
    """One scan + one count shuffle: the per-column fan-out is an
    explode, not |columns| separate scans/unions."""
    from matric_spark.checks.column_stats import heavy_hitters

    df = spark.range(100).select(
        (F.col("id") % 3).cast("string").alias("a"),
        (F.col("id") % 5).cast("string").alias("b"),
    )
    p = df._sc._jvm.PythonSQLUtils.explainString(
        heavy_hitters(df, ["a", "b"], k=2)._jdf.queryExecution(), "formatted"
    )
    assert p.count("Scan") <= 1
    assert "Generate" in p  # the explode


# ------------------------------------------------- weighted sampling


def test_weighted_sample_equal_weights_matches_hash_sample(spark):
    from matric_spark.operators.sampling import (
        hash_sample,
        weighted_hash_sample,
    )

    df = spark.range(2000).select(
        F.col("id").alias("doc_id"), F.lit(7).alias("w")
    )
    got = sorted(
        r.doc_id
        for r in weighted_hash_sample(
            df, ["doc_id"], "w", 0.3, salt="s1"
        ).collect()
    )
    want = sorted(
        r.doc_id for r in hash_sample(df, ["doc_id"], 0.3, salt="s1").collect()
    )
    # equal weights ⇒ p_i == fraction exactly ⇒ identical selection
    assert got == want
    assert 0 < len(got) < 2000


def test_weighted_sample_clips_and_scales(spark):
    from matric_spark.operators.sampling import weighted_hash_sample

    # one row carries virtually all weight: its p clips at 1.0 → always
    # kept; zero-weight rows are never kept
    rows = [(0, 10**9)] + [(i, 0) for i in range(1, 50)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    out = weighted_hash_sample(df, ["doc_id"], "w", 0.1).collect()
    assert [r.doc_id for r in out] == [0]
    assert out[0].keep_prob == 1.0


def test_weighted_sample_deterministic_across_partitioning(spark):
    from matric_spark.operators.sampling import weighted_hash_sample

    df = spark.range(500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 13 + 1).alias("w")
    )
    a = {
        r.doc_id
        for r in weighted_hash_sample(df, ["doc_id"], "w", 0.25).collect()
    }
    b = {
        r.doc_id
        for r in weighted_hash_sample(
            df.repartition(17), ["doc_id"], "w", 0.25
        ).collect()
    }
    assert a == b and len(a) > 0


def test_embedding_near_dup_ivf_planted_recall(spark):
    """SemDeDup-shaped blocking: planted clusters are near-dup by
    construction AND dense in embedding space, so k-means puts each
    plant's copies in the same cell and multi-probe covers boundary
    straddles — assert high recall and exact soundness (ivf ⊆ exact),
    plus determinism across two runs."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = []
    vid = 0
    for _ in range(30):
        base = rng.normal(size=32)
        base /= np.linalg.norm(base)
        for _ in range(3):
            v = base + rng.normal(size=32) * 0.03
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    from matric_spark.operators.ann import (
        embedding_near_dup,
        embedding_near_dup_ivf,
    )

    exact = {(r.id1, r.id2) for r in embedding_near_dup(emb, 0.95).collect()}
    kwargs = dict(threshold=0.95, n_centroids=16, nprobe=4)
    ivf = {
        (r.id1, r.id2)
        for r in embedding_near_dup_ivf(emb, **kwargs).collect()
    }
    assert ivf <= exact  # blocking never invents a pair
    assert len(exact) >= 30
    assert len(ivf) / len(exact) >= 0.9
    again = {
        (r.id1, r.id2)
        for r in embedding_near_dup_ivf(emb, **kwargs).collect()
    }
    assert again == ivf  # hash-seeded k-means: fully deterministic


def test_shingle_novelty_closed_form(spark):
    from matric_spark.operators.dedup import shingle_novelty

    ref = spark.createDataFrame(
        [(100, "a b c d e")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [
            (0, "a b c d e"),      # exact copy → nothing novel
            (1, "a b c x y z"),    # shares only 'a b c' → 3/4 novel
            (2, "q r s t"),        # fully novel
            (3, "hi"),             # short-doc whole-text shingle, novel
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in shingle_novelty(new, ref, n=3).collect()}
    assert (out[0].n_shingles, out[0].n_novel, out[0].novelty) == (3, 0, 0.0)
    assert (out[1].n_shingles, out[1].n_novel, out[1].novelty) == (4, 3, 0.75)
    assert (out[2].n_shingles, out[2].n_novel, out[2].novelty) == (2, 2, 1.0)
    assert (out[3].n_shingles, out[3].n_novel, out[3].novelty) == (1, 1, 1.0)


def test_duplicated_spans_null_text_excluded(spark):
    """NULL-text docs must be excluded, not treated as ''-window dups of
    each other (which would also diverge from the DuckDB oracle, whose
    NULL shingle hash never semi-joins)."""
    from matric_spark.operators.dedup import duplicated_spans

    docs = spark.createDataFrame(
        [(0, None), (1, None), (2, "a b c d e f g h")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in duplicated_spans(docs, window=4).collect()}
    assert set(out) == {2}
    assert (out[2].n_dup_windows, out[2].dup_tokens) == (0, 0)


def test_shingle_novelty_null_text_excluded(spark):
    from matric_spark.operators.dedup import shingle_novelty

    new = spark.createDataFrame(
        [(0, None), (1, "p q r")], "doc_id long, text string"
    )
    ref = spark.createDataFrame(
        [(100, None)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in shingle_novelty(new, ref, n=3).collect()}
    # NULL-text new doc excluded; NULL-text ref contributes no shingles,
    # so doc 1 is fully novel
    assert set(out) == {1}
    assert (out[1].n_shingles, out[1].n_novel, out[1].novelty) == (1, 1, 1.0)


def test_embedding_near_dup_ivf_tolerates_null_and_zero_vectors(spark):
    import numpy as np

    from matric_spark.operators.ann import embedding_near_dup_ivf

    rng = np.random.default_rng(3)
    rows = []
    for vid in range(20):
        v = rng.normal(size=8)
        rows.append((vid, [float(x) for x in v]))
    rows.append((20, [0.0] * 8))   # zero-norm → v NULL after normalize
    rows.append((21, None))        # NULL embedding
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = embedding_near_dup_ivf(
        emb, threshold=0.99, n_centroids=4, nprobe=2
    ).collect()
    ids = {i for r in out for i in (r.id1, r.id2)}
    assert 20 not in ids and 21 not in ids  # and, crucially, no crash


def test_embedding_near_dup_against_ivf_planted_recall(spark):
    """Cross-set IVF blocking: planted dups between a 'new batch' and a
    'corpus' are found with high recall, never invented (soundness), and
    deterministically across runs; the exact variant is the reference."""
    import numpy as np

    rng = np.random.default_rng(23)
    ref_rows, new_rows = [], []
    for i in range(25):
        base = rng.normal(size=32)
        base /= np.linalg.norm(base)
        ref_rows.append((i, [float(x) for x in base]))
        if i % 2 == 0:  # plant a near-dup of every other corpus vector
            v = base + rng.normal(size=32) * 0.03
            new_rows.append((1000 + i, [float(x) for x in v]))
    for j in range(20):  # plus unrelated new vectors
        v = rng.normal(size=32)
        new_rows.append((2000 + j, [float(x) for x in v]))
    schema = "vec_id long, embedding array<double>"
    ref = spark.createDataFrame(ref_rows, schema)
    new = spark.createDataFrame(new_rows, schema)

    from matric_spark.operators.ann import (
        embedding_near_dup_against,
        embedding_near_dup_against_ivf,
    )

    exact = {
        (r.new_id, r.ref_id)
        for r in embedding_near_dup_against(new, ref, 0.95).collect()
    }
    kwargs = dict(threshold=0.95, n_centroids=8, nprobe=3)
    ivf = {
        (r.new_id, r.ref_id)
        for r in embedding_near_dup_against_ivf(new, ref, **kwargs).collect()
    }
    assert ivf <= exact
    assert len(exact) >= 13  # every plant found by the exact baseline
    assert len(ivf) / len(exact) >= 0.9
    again = {
        (r.new_id, r.ref_id)
        for r in embedding_near_dup_against_ivf(new, ref, **kwargs).collect()
    }
    assert again == ivf


def test_funnel_anchored_greedy_semantics(spark):
    import datetime as dt

    from matric_spark.operators.events import funnel

    t0 = dt.datetime(2024, 1, 1)

    def e(uid, sec, typ):
        return (uid, t0 + dt.timedelta(seconds=sec), typ)

    rows = [
        # u1: clean A->B within gap -> reaches 2
        e(1, 0, "A"), e(1, 5, "B"),
        # u2: B strictly BEFORE its A -> reaches 1 only
        e(2, 5, "B"), e(2, 10, "A"),
        # u3: B outside the 10s gap -> reaches 1 only
        e(3, 0, "A"), e(3, 60, "B"),
        # u4: anchored at FIRST A (t=0); its B at 8s counts even though a
        # second A at 6s exists; never re-anchors
        e(4, 0, "A"), e(4, 6, "A"), e(4, 8, "B"),
        # u5: first A's window has no B; the later A would have matched
        # but anchoring is greedy -> reaches 1 only
        e(5, 0, "A"), e(5, 100, "A"), e(5, 105, "B"),
        # u6: B at the SAME microsecond as A -> strict > rejects it
        e(6, 0, "A"), e(6, 0, "B"),
        # u7: no A at all -> reaches 0
        e(7, 3, "B"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    out = {r.step_idx: r.n_users for r in funnel(df, ["A", "B"], max_gap_s=10).collect()}
    assert out == {1: 6, 2: 2}  # u1..u6 reach A; only u1 and u4 reach B
    # unbounded gap: u3 and u5 now convert too
    out2 = {r.step_idx: r.n_users for r in funnel(df, ["A", "B"]).collect()}
    assert out2 == {1: 6, 2: 4}


def test_retention_cohort_math(spark):
    import datetime as dt

    from matric_spark.operators.events import retention

    # 2024-01-04 00:00 UTC is exactly period-aligned (epoch = 2818 weeks);
    # +12h makes the anchor genuinely mid-period so the calendar-free
    # bucketing is exercised off the boundary (all offsets unchanged for
    # phase < 6 days)
    t0 = dt.datetime(2024, 1, 4, 12)

    def e(uid, days):
        return (uid, t0 + dt.timedelta(days=days))

    # period = 7 days. u1,u2,u3 first-active in period P; u1 active P+1
    # and P+2, u2 active P+1 only, u3 never returns. u4 starts at P+1.
    rows = [
        e(1, 0), e(1, 7), e(1, 14),
        e(2, 1), e(2, 8),
        e(3, 2),
        e(4, 7), e(4, 7),  # duplicate activity collapses via distinct
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {(r.cohort, r.offset): (r.n_users, r.retention)
           for r in retention(df, period_s=7 * 86400).collect()}
    cohorts = sorted({c for c, _ in out})
    p = cohorts[0]
    assert out[(p, 0)] == (3, 1.0)
    assert out[(p, 1)][0] == 2 and abs(out[(p, 1)][1] - 2 / 3) < 1e-6
    assert out[(p, 2)][0] == 1
    # u4's own cohort: one user, offset 0 only
    assert out[(cohorts[1], 0)] == (1, 1.0)
    assert (cohorts[1], 1) not in out


def test_funnel_empty_input_returns_zero_counts(spark):
    from matric_spark.operators.events import funnel

    df = spark.createDataFrame(
        [(1, None, "X")], "user_id long, ts timestamp, event_type string"
    )
    out = {r.step_idx: r.n_users for r in funnel(df, ["A", "B"]).collect()}
    assert out == {1: 0, 2: 0}


def test_exact_embedding_ops_degenerate_norms_match_oracle(spark, tmp_path):
    """A zero-norm and a NaN embedding are dropped by both engines, in
    the exact near-dup join, the hyperplane-LSH near-dup and the
    brute-force top-k: the DuckDB oracle neither errors on x/0 nor emits
    NaN-cosine pairs, and Spark drops the NaN row instead of matching
    it."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from matric_spark.duck_oracle import (
        ann_topk_sql,
        embedding_near_dup_lsh_sql,
        embedding_near_dup_sql,
    )
    from matric_spark.operators.ann import (
        ann_topk_bruteforce,
        embedding_near_dup,
        embedding_near_dup_lsh,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.001, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.999, 0.001, 0.0]),
        (4, [0.0, 0.0, 0.0, 0.0]),            # zero norm
        (5, [float("nan"), 1.0, 0.0, 0.0]),   # NaN norm
    ]
    path = str(tmp_path / "embeddings.parquet")
    pq.write_table(
        pa.table({
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
        }),
        path,
    )
    emb = spark.read.parquet(path)
    sp = {
        (r.id1, r.id2, round(r.cosine, 6))
        for r in embedding_near_dup(emb, 0.4).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{path}'")
    duck = set(con.execute(embedding_near_dup_sql(0.4)).fetchall())
    assert sp == duck
    assert {(a, b) for a, b, _ in sp} == {(0, 1), (2, 3)}

    sp_lsh = {
        (r.id1, r.id2, round(r.cosine, 6))
        for r in embedding_near_dup_lsh(
            emb, 4, 0.4, n_bands=16, band_bits=8
        ).collect()
    }
    duck_lsh = set(
        con.execute(embedding_near_dup_lsh_sql(4, 0.4, 16, 8)).fetchall()
    )
    assert sp_lsh == duck_lsh == sp

    sp_topk = {
        (r.qid, r.vec_id, round(r.cosine, 6), r.rank)
        for r in ann_topk_bruteforce(emb, emb, k=5).collect()
    }
    duck_topk = set(con.execute(ann_topk_sql(5, len(rows))).fetchall())
    assert sp_topk == duck_topk
    assert {q for q, *_ in sp_topk} == {0, 1, 2, 3}
