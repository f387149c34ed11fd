"""Dedup family + similarity-search tests with exact numpy oracles."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from kargo_spark import dedup
from kargo_spark.similarity import brute_force_topk, ivf_topk, lsh_topk


DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near-dup of 1
    (3, "completely different content about air cargo pharma logistics and cool chains"),
    (4, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 1
    (5, "air cargo pharma logistics require temperature controlled cool chain containers"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(spark):
    out = dedup.exact_dedup(_docs(spark))
    rows = {r["doc_id"]: r["dup_count"] for r in out.collect()}
    assert rows[1] == 2  # doc 4 collapsed into doc 1
    assert 4 not in rows
    assert len(rows) == 4


def test_minhash_finds_near_dup_pair(spark):
    pairs = dedup.minhash_lsh_pairs(
        _docs(spark), jaccard_threshold=0.5, num_hashes=32, bands=16
    ).collect()
    got = {(r["a"], r["b"]) for r in pairs}
    assert (1, 4) in got  # exact dup always collides
    assert (1, 2) in got or (2, 4) in got  # near-dup caught
    assert all(r["jaccard"] >= 0.5 for r in pairs)


def test_minhash_dedup_removes_losers(spark):
    kept = dedup.minhash_lsh_dedup(_docs(spark), jaccard_threshold=0.5, num_hashes=32, bands=16)
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert 1 in ids  # min id of its dup-group survives
    assert 4 not in ids


def test_simhash_hamming_zero_for_exact_dup(spark):
    pairs = dedup.simhash_pairs(_docs(spark), max_hamming=3).collect()
    got = {(r["a"], r["b"]): r["hamming"] for r in pairs}
    assert got.get((1, 4)) == 0


def test_derive_bands_tracks_threshold():
    # high tau -> coarse banding (few candidates); low tau -> fine banding
    assert dedup.derive_bands(32, 0.8) == 8       # r=4, midpoint ~0.59 <= 0.6
    assert dedup.derive_bands(32, 0.2) == 32      # r=1, miss prob (1-J)^32
    for tau in (0.1, 0.2, 0.5, 0.8, 0.95):
        b = dedup.derive_bands(32, tau)
        r = 32 // b
        assert (1.0 / b) ** (1.0 / r) <= 0.75 * tau + 1e-12


def test_minhash_low_threshold_equals_exact_jaccard(spark):
    """With threshold-derived banding + exact verify, MinHash output must
    equal the exact inverted-index n-gram Jaccard join at the same tau
    (this equality is also the driver's DuckDB oracle for minhash_neardup)."""
    lsh = dedup.minhash_lsh_pairs(_docs(spark), jaccard_threshold=0.2)
    exact = dedup.ngram_jaccard_pairs(_docs(spark), n=3, threshold=0.2)
    got = {(r["a"], r["b"]): round(r["jaccard"], 9) for r in lsh.collect()}
    want = {(r["a"], r["b"]): round(r["jaccard"], 9) for r in exact.collect()}
    assert got == want and len(want) > 0


def test_simhash_planted_hamming5_pairs_found(spark):
    """r01 defect regression: pairs at Hamming distance > 3 must be found
    when the caller asks for a larger radius. Plant 64-bit values at known
    distances, spreading flipped bits so every band of the OLD fixed
    4x16-bit scheme differs (the old scheme provably missed these)."""
    base = 0x0123456789ABCDEF
    # flip 5 bits at positions 2, 17, 33, 49, 60 — one in each old 16-bit
    # band (plus one extra), so all four old bands differ
    ham5 = base ^ (1 << 2) ^ (1 << 17) ^ (1 << 33) ^ (1 << 49) ^ (1 << 60)
    ham8 = base
    for p in (1, 9, 18, 26, 34, 42, 50, 58):
        ham8 ^= 1 << p
    rows = [(1, base), (2, ham5), (3, ham8), (4, 0x7EDCBA9876543210)]
    hashed = spark.createDataFrame(rows, "id long, sim long")
    got5 = {
        (r["a"], r["b"]): r["hamming"]
        for r in dedup.simhash_pairs_from_hashes(hashed, max_hamming=5).collect()
    }
    assert got5.get((1, 2)) == 5
    assert (1, 3) not in got5  # distance 8 > radius 5
    got8 = {
        (r["a"], r["b"]): r["hamming"]
        for r in dedup.simhash_pairs_from_hashes(hashed, max_hamming=8).collect()
    }
    assert got8.get((1, 2)) == 5 and got8.get((1, 3)) == 8
    assert (1, 4) not in got8


def test_ngram_jaccard_exact_value(spark):
    pairs = dedup.ngram_jaccard_pairs(_docs(spark), n=3, threshold=0.3).collect()
    got = {(r["a"], r["b"]): r["jaccard"] for r in pairs}
    assert got.get((1, 4)) == 1.0
    assert (1, 2) in got  # 13-word docs differing in last word: high 3-gram overlap


def _vectors(spark, n=40, dim=16, seed=3):
    rng = np.random.default_rng(seed)
    X = rng.standard_normal((n, dim)).astype(np.float64)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    return spark.createDataFrame(pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(X.tolist(), pa.list_(pa.float64())),
    })), X


def test_brute_force_topk_matches_numpy(spark):
    vdf, X = _vectors(spark)
    queries = vdf.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("query_id"), "embedding")
    corpus = vdf.filter(F.col("vec_id") >= 3)
    out = brute_force_topk(corpus, queries, k=5)
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["nbr_id"]))
    sims = X @ X.T
    for q in range(3):
        order = [i for i in np.argsort(-sims[q]) if i >= 3][:5]
        mine = [n for _, n in sorted(got[q])]
        assert mine == order, (q, mine, order)


def test_lsh_topk_recall_vs_exact(spark):
    vdf, _ = _vectors(spark, n=60)
    queries = vdf.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    corpus = vdf.filter(F.col("vec_id") >= 5)
    exact = brute_force_topk(corpus, queries, k=5).collect()
    approx = lsh_topk(corpus, queries, k=5, n_planes=4, n_tables=6, dim=16).collect()
    ex = {}
    ap = {}
    for r in exact:
        ex.setdefault(r["query_id"], set()).add(r["nbr_id"])
    for r in approx:
        ap.setdefault(r["query_id"], set()).add(r["nbr_id"])
    recall = np.mean([len(ex[q] & ap.get(q, set())) / 5 for q in ex])
    assert recall >= 0.5, recall  # ANN: top-1 usually caught, recall>=50%


def test_ivf_topk_runs_and_ranks(spark):
    vdf, _ = _vectors(spark, n=60)
    queries = vdf.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("query_id"), "embedding")
    corpus = vdf.filter(F.col("vec_id") >= 3)
    out = ivf_topk(corpus, queries, k=5, n_centroids=4, n_probe=2)
    # inputs and centroid table are Arrow-built: no parallelized Python RDD
    assert "ExistingRDD" not in out._jdf.queryExecution().executedPlan().toString()
    rows = out.collect()
    assert len(rows) == 15
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())


def test_embedding_neardup_pairs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.04, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    vdf = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = dedup.embedding_neardup_pairs(vdf, threshold=0.95, n_planes=2, dim=4).collect()
    got = {(r["a"], r["b"]) for r in out}
    assert (1, 2) in got
    assert (1, 3) not in got


def test_embedding_pairs_exact_matches_cosine(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.04, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.7, 0.7, 0.0, 0.0]),
    ]
    vdf = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {(r["a"], r["b"]): r["cos"] for r in
           dedup.embedding_pairs_exact(vdf, threshold=0.5).collect()}
    assert (1, 2) in out and out[(1, 2)] > 0.99
    assert (1, 4) in out and abs(out[(1, 4)] - 0.7 / (0.7 * 2 ** 0.5) * 1.0) < 1e-9
    assert (1, 3) not in out  # orthogonal


def test_contamination_flags_inverted_index(spark):
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "totally unrelated text about cargo rates and airlines"),
            (3, "quick brown fox jumps high above everything else"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "we saw the quick brown fox jumps over a fence")],
        "bench_id long, text string",
    )
    out = {r["doc_id"]: (r["n_hits"], r["n_bench"]) for r in
           dedup.contamination_flags(corpus, bench, n=4).collect()}
    # doc 1 shares 'the quick brown fox', 'quick brown fox jumps'; doc 3 one
    assert out[1][0] >= 2 and out[1][1] == 1
    assert out[3] == (1, 1)
    assert 2 not in out  # clean doc unflagged


def test_neardup_keep_connected_components(spark):
    docs = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id long")
    # pairs: {1,2,3} via 1-2, 2-3; {4,5}; 6 isolated
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "a long, b long"
    )
    out = {r["doc_id"]: (r["rep"], r["keep"]) for r in
           dedup.neardup_keep(docs, pairs).collect()}
    assert out[1] == (1, True) and out[2] == (1, False) and out[3] == (1, False)
    assert out[4] == (4, True) and out[5] == (4, False)
    assert out[6] == (6, True)  # untouched doc keeps itself


def test_embedding_neardup_lsh_recall_vs_exact(spark):
    """LSH path recall audit vs the exact-pairs baseline on clustered
    vectors: every exact pair at a high threshold should be recovered by
    the 2-table blocking (high-cos pairs agree on most hyperplanes)."""
    rng = np.random.RandomState(7)
    base = rng.randn(12, 16)
    rows = []
    vid = 0
    for b in base:
        for _ in range(3):  # 3 jittered copies per center -> near-dup pairs
            v = b + rng.randn(16) * 0.05
            rows.append((vid, [float(x) for x in v / np.linalg.norm(v)]))
            vid += 1
    vdf = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {(r["a"], r["b"]) for r in
             dedup.embedding_pairs_exact(vdf, threshold=0.99).collect()}
    lsh = {(r["a"], r["b"]) for r in
           dedup.embedding_neardup_pairs(vdf, threshold=0.99, n_planes=8, dim=16).collect()}
    assert exact, "fixture must produce near-dup pairs"
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.9
    assert lsh <= exact  # verify step is exact cosine: no false positives


def test_contamination_flags_hashed_equals_string_path(spark):
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "totally unrelated text about cargo rates and airlines"),
         (3, "quick brown fox jumps high above everything else")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "we saw the quick brown fox jumps over a fence")],
        "bench_id long, text string",
    )
    a = sorted(tuple(r) for r in dedup.contamination_flags(corpus, bench, n=4).collect())
    b = sorted(tuple(r) for r in
               dedup.contamination_flags(corpus, bench, n=4, hashed=True).collect())
    assert a == b


def test_simhash_pairs_radius_zero(spark):
    """max_hamming=0 (exact simhash equality) must not overflow the
    64-bit band mask literal (code-review finding)."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "something else entirely here")],
        "doc_id long, text string",
    )
    got = {(r["a"], r["b"]) for r in
           dedup.simhash_pairs(docs, "text", "doc_id", max_hamming=0).collect()}
    assert got == {(1, 2)}

def test_simhash_band_spec_key_width_contract():
    """r02 verdict weak-spot #1: every banding table's join key must be at
    least 16 bits wide for any requested radius — the h+1-contiguous-band
    scheme degenerated to 7-bit keys at h=8."""
    import math

    for h in range(0, 13):
        blocks, tables = dedup.simhash_band_spec(h, min_key_bits=16)
        assert sum(w for _, w in blocks) == 64
        m = len(tables[0])
        b = len(blocks)
        assert b == h + m
        assert len(tables) == math.comb(b, m)
        for tbl in tables:
            assert sum(blocks[i][1] for i in tbl) >= 16, (h, tbl)
    # h <= 3 keeps the minimal m=1 layout (one block per table)
    assert all(len(dedup.simhash_band_spec(h)[1][0]) == 1 for h in range(4))
    # h=8 is the entry-query radius: b=12, m=4, C(12,4)=495 tables
    blocks, tables = dedup.simhash_band_spec(8)
    assert (len(blocks), len(tables)) == (12, 495)


def test_simhash_band_spec_radius_contract_raises():
    import pytest

    with pytest.raises(ValueError):
        dedup.simhash_band_spec(40)
    with pytest.raises(ValueError):
        dedup.simhash_band_spec(-1)


def test_simhash_planted_exactly_at_radius_boundary(spark):
    """Pigeonhole recall holds AT the radius (hamming == max_hamming) under
    the block-combination scheme, including adversarial placements that
    dirty many blocks."""
    base = 0x0123456789ABCDEF
    # dirty 8 DIFFERENT 5/6-bit blocks of the b=12 layout: positions spread
    # across distinct blocks so only 4 clean blocks remain (worst case)
    ham8 = base
    for p in (0, 6, 12, 17, 22, 28, 33, 38):
        ham8 ^= 1 << p
    rows = [(1, base), (2, ham8)]
    hashed = spark.createDataFrame(rows, "id long, sim long")
    got = {
        (r["a"], r["b"]): r["hamming"]
        for r in dedup.simhash_pairs_from_hashes(hashed, max_hamming=8).collect()
    }
    assert got.get((1, 2)) == 8


def test_minhash_hot_bucket_guard(spark):
    """The r=1 band join must drop over-cap buckets (quadratic-bucket guard)
    while keeping true near-dup recall through the remaining bands."""
    docs = _docs(spark)
    # with a cap of 1 every multi-doc bucket is dropped: the exact-dup pair
    # (1,4) shares EVERY band bucket, so it must disappear
    capped = dedup.minhash_lsh_pairs(
        docs, jaccard_threshold=0.2, max_bucket_size=1
    ).collect()
    assert capped == []
    # with the default cap (1000) nothing is dropped at this scale: output
    # equals the uncapped join
    got = {
        (r["a"], r["b"]) for r in
        dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.2).collect()
    }
    want = {
        (r["a"], r["b"]) for r in
        dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.2, max_bucket_size=None).collect()
    }
    assert got == want and (1, 4) in got


def test_minhash_capped_stats_observability(spark):
    """No-silent-caps (r03 ADVICE low #1): capped runs report how often
    and how hard the hot-bucket cap bound, through both minhash_lsh_pairs
    and minhash_lsh_dedup's explicit plumb-through."""
    docs = _docs(spark)
    stats = {}
    dedup.minhash_lsh_pairs(
        docs, jaccard_threshold=0.2, max_bucket_size=1, capped_stats=stats
    ).collect()
    assert stats["dropped_buckets"] > 0
    assert stats["dropped_rows"] >= 2 * stats["dropped_buckets"]  # each >1 cap
    stats_default = {}
    dedup.minhash_lsh_pairs(
        docs, jaccard_threshold=0.2, capped_stats=stats_default
    ).collect()
    assert stats_default == {"dropped_buckets": 0, "dropped_rows": 0}
    stats_dedup = {}
    dedup.minhash_lsh_dedup(
        docs, jaccard_threshold=0.2, max_bucket_size=1, capped_stats=stats_dedup
    ).collect()
    assert stats_dedup["dropped_buckets"] == stats["dropped_buckets"]


def test_simhash_density_guard_observable_and_default_off(spark):
    """r05 verdict next-step #4: simhash gets an observable density guard.
    A cluster of identical simhash values makes every band bucket hot; a
    small max_bucket_size must (a) report how hard it bound via
    capped_stats, (b) drop the quadratic bucket pairs, and (c) leave the
    default (None) path byte-identical to before, stats all zero."""
    # 12 identical values (dense cluster -> every bucket holds 12) plus
    # one pair at Hamming distance 2 sharing no bucket with the cluster
    rows = [(i, 0x0F0F0F0F0F0F0F0F) for i in range(1, 13)]
    rows += [(100, 0x7EDCBA9876543210), (101, 0x7EDCBA9876543210 ^ (1 << 3) ^ (1 << 40))]
    hashed = spark.createDataFrame(rows, "id long, sim long")

    # default: guard off, stats zero, all 66 cluster pairs + the planted pair
    stats = {}
    full = dedup.simhash_pairs_from_hashes(
        hashed, max_hamming=8, capped_stats=stats
    ).collect()
    assert stats == {
        "dropped_buckets": 0, "dropped_rows": 0, "max_possible_pairs_dropped": 0
    }
    full_pairs = {(r["a"], r["b"]) for r in full}
    assert (100, 101) in full_pairs
    assert len(full_pairs) == 66 + 1

    # guard engaged below the cluster size: the hot buckets are dropped
    # and reported; the small planted pair survives (its buckets hold 2)
    stats = {}
    capped = dedup.simhash_pairs_from_hashes(
        hashed, max_hamming=8, max_bucket_size=5, capped_stats=stats
    ).collect()
    capped_pairs = {(r["a"], r["b"]) for r in capped}
    assert stats["dropped_buckets"] > 0
    assert stats["dropped_rows"] >= 12
    assert stats["max_possible_pairs_dropped"] >= 66
    assert (100, 101) in capped_pairs
    assert not any(a <= 12 and b <= 12 for a, b in capped_pairs)


def test_ngram_jaccard_exact_with_shingle_in_over_1000_docs(spark):
    """A shingle shared by more than 1,000 documents must still count: the
    output equals a brute-force Jaccard over the same shingle sets (a
    document-frequency cutoff undercounted every intersection through it
    and dropped true pairs)."""
    from itertools import combinations

    rows = [(i, f"common words here u{i // 2} v{i // 2}") for i in range(1100)]
    rows += [(2000 + i, "common words here") for i in range(3)]  # hot shingle only
    rows += [(3000, "common words here u7 x9"), (3001, "other words u7 v7 here")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sets = {
        r["id"]: set(r["sh"])
        for r in docs.select(
            F.col("doc_id").alias("id"), dedup._tokens(F.col("text")).alias("_t")
        ).select("id", dedup.hashed_shingles(F.col("_t"), 3).alias("sh")).collect()
    }
    for t in (0.5, 0.25):
        want = {}
        for a, b in combinations(sorted(sets), 2):
            j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
            if j >= t:
                want[(a, b)] = j
        got = {
            (r["a"], r["b"]): r["jaccard"]
            for r in dedup.ngram_jaccard_pairs(docs, n=3, threshold=t).collect()
        }
        assert got == want
        assert want[(0, 1)] == 1.0 and want[(2000, 2001)] == 1.0


def test_hyperplane_keys_match_numpy_sign_buckets(spark):
    """Each table's key groups vectors exactly as the signs of X @ P.T >= 0
    do for that table's planes, for both plane families and 2 or 3
    tables."""
    from kargo_spark.similarity import _hyperplane_keys, _lsh_plane_matrix

    rng = np.random.default_rng(11)
    n, dim, n_planes = 200, 16, 5
    X = rng.standard_normal((n, dim))
    vdf = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)], "id long, v array<double>"
    )

    def groups(labels):
        out = {}
        for i, lab in enumerate(labels):
            out.setdefault(lab, set()).add(i)
        return sorted(map(sorted, out.values()))

    for dist in ("gaussian", "rademacher_md5"):
        for n_tables in (2, 3):
            seeds = [9 + 31 * t for t in range(n_tables)]
            keyed = _hyperplane_keys(vdf, "v", seeds, n_planes, dim, dist).collect()
            assert len(keyed) == n * n_tables
            for t, s in enumerate(seeds):
                key = {r["id"]: r["key"] for r in keyed if r["table"] == t}
                bits = X @ _lsh_plane_matrix(n_planes, s, dim, dist).T >= 0
                want = [tuple(b) for b in bits]
                assert groups([key[i] for i in range(n)]) == groups(want), (dist, n_tables, t)


# --- SimHash / MinHash Arrow kernels against the JVM formulas they replaced.
# The oracles below are the former JVM-side bodies of dedup.simhash64 and
# dedup.minhash_signature (aggregate/zip_with lambdas); the kernels must
# match them bit for bit, nulls and empty inputs included.


def _simhash64_oracle(col, seed=42, token_hash=None):
    toks = dedup._tokens(col)
    if token_hash is None:
        th = F.transform(toks, lambda t: F.xxhash64(t, F.lit(seed)))
    else:
        th = F.transform(toks, token_hash)
    idx = F.sequence(F.lit(0), F.lit(63))
    zero = F.array_repeat(F.lit(0).cast("long"), 64)
    sr = lambda x, i: F.call_function("shiftright", x, i.cast("int"))  # noqa: E731
    sl = lambda x, i: F.call_function("shiftleft", x, i.cast("int"))  # noqa: E731
    sums = F.aggregate(
        th,
        zero,
        lambda acc, h: F.zip_with(
            acc,
            idx,
            lambda a, i: a + F.when(sr(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(
            sums, idx,
            lambda s, i: F.when(s > 0, sl(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, b: acc.bitwiseOR(b),
    )


def _minhash_signature_oracle(shingle_col, num_hashes=32, seed=42):
    seeds = F.array(*[F.lit(seed + k) for k in range(num_hashes)])
    init = F.array_repeat(F.lit((1 << 63) - 1).cast("long"), num_hashes)
    return F.aggregate(
        shingle_col,
        init,
        lambda acc, s: F.zip_with(acc, seeds, lambda a, k: F.least(a, F.xxhash64(s, k))),
    )


def _long_doc(n_tokens=20000, seed=5):
    rng = np.random.default_rng(seed)
    return " ".join(f"w{x}" for x in rng.integers(0, 3000, n_tokens))


EDGE_TEXTS = [
    None, "", "   ", "one", "two words", "Ελληνικά 日本語 кириллица",
    "the quick brown fox jumps over the lazy dog near the river bank",
    _long_doc(),
]


def _shingle_table(spark, texts):
    """(doc_id, text, sh) with the shingle hashes materialized: evaluated
    inline under the oracle's lambdas, the tokenizer would be re-run per
    element (the hazard hashed_shingles' docstring describes)."""
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    rows = docs.select(
        "doc_id", "text", dedup._tokens(F.col("text")).alias("_t")
    ).select("doc_id", "text", dedup.hashed_shingles(F.col("_t")).alias("sh")).collect()
    return spark.createDataFrame(rows, "doc_id long, text string, sh array<bigint>")


def _assert_kernels_match(tab, simhash_args, minhash_args):
    cols = []
    for i, (seed, th) in enumerate(simhash_args):
        cols += [
            dedup.simhash64(F.col("text"), seed, token_hash=th).alias(f"sk{i}"),
            _simhash64_oracle(F.col("text"), seed, token_hash=th).alias(f"so{i}"),
        ]
    for i, (nh, seed) in enumerate(minhash_args):
        cols += [
            dedup.minhash_signature(F.col("sh"), nh, seed).alias(f"mk{i}"),
            _minhash_signature_oracle(F.col("sh"), nh, seed).alias(f"mo{i}"),
        ]
    rows = tab.select("doc_id", *cols).collect()
    for r in rows:
        for i, args in enumerate(simhash_args):
            assert r[f"sk{i}"] == r[f"so{i}"], (r["doc_id"], "simhash", args)
        for i, args in enumerate(minhash_args):
            assert r[f"mk{i}"] == r[f"mo{i}"], (r["doc_id"], "minhash", args)
    return rows


def test_signature_kernels_match_jvm_formulas_on_edge_cases(spark):
    """Null text, empty and whitespace text, 1-2 tokens, non-Latin only
    (no a-z0-9 token at all) and a ~20k-token document; xxhash and md5
    token hashes; minhash over 16/32/64 hashes and seeds 0/42/7, plus
    seeds whose ``seed + k`` leaves int32 (Spark widens the literal array
    to bigint, so the kernel must switch to hashLong) and hand-built
    shingle arrays: empty, null, and one holding a null element."""
    tab = _shingle_table(spark, EDGE_TEXTS).union(
        spark.createDataFrame(
            [(100, "x", []), (101, "x", None), (102, "x", [None, 5, -3])],
            "doc_id long, text string, sh array<bigint>",
        )
    )
    grid = [(nh, s) for nh in (16, 32, 64) for s in (0, 42, 7)]
    wide = [(16, (1 << 31) - 8), (16, 1 << 40), (16, -(1 << 31) - 3)]
    rows = _assert_kernels_match(
        tab, [(42, None), (7, None), (42, dedup.md5_token_hash60)], grid + wide
    )
    by_id = {r["doc_id"]: r for r in rows}
    assert by_id[0]["sk0"] is None and by_id[101]["mk0"] is None
    # no a-z0-9 token: SimHash 0 (every bit's vote sum is 0)
    assert by_id[1]["sk0"] == by_id[5]["sk0"] == 0
    assert by_id[100]["mk0"] == [(1 << 63) - 1] * 16
    assert by_id[7]["sk0"] not in (None, 0)


_WORDS = ["alpha", "beta", "gamma", "delta", "x1", "ü", "日本", "ab-cd", "Q"]


@settings(max_examples=12, deadline=None)
@given(
    texts=st.lists(
        st.one_of(
            st.sampled_from(EDGE_TEXTS[:-1]),
            st.lists(st.sampled_from(_WORDS), max_size=40).map(" ".join),
            st.text(max_size=30),
        ),
        min_size=1, max_size=6,
    ),
    num_hashes=st.sampled_from([16, 32, 64]),
    seed=st.sampled_from([0, 42, 7]),
)
def test_signature_kernels_match_jvm_formulas_property(spark_global, texts, num_hashes, seed):
    tab = _shingle_table(spark_global, texts)
    _assert_kernels_match(
        tab, [(seed, None), (seed, dedup.md5_token_hash60)], [(num_hashes, seed)]
    )


def test_simhash_combo_table_starts_no_python_tasks(spark):
    """The block-combination table is a local relation, not a scan of a
    parallelized Python RDD (which runs Python worker tasks per call)."""
    hashed = spark.range(4).selectExpr("id", "id * 7 AS sim")
    plan = dedup.simhash_pairs_from_hashes(
        hashed, max_hamming=8
    )._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
