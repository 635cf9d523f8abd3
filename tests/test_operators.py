"""Unit tests for custom operators on tiny constructed inputs with
hand-computed expected outputs (the reference has zero first-party tests —
SURVEY.md §5 — so this strategy is built fresh)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


def test_asof_join_basic(spark):
    from syscol_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 100, "e1"), (1, 250, "e2"), (2, 50, "e3")], ["k", "ts_us", "name"]
    )
    right = spark.createDataFrame([(1, 100, 10), (1, 200, 20), (2, 60, 30)], ["k", "ts_us", "val"])
    out = {
        r["name"]: (r["val_asof"], r["ts_us_asof"])
        for r in asof_join(left, right, on="k").collect()
    }
    assert out["e1"] == (10, 100)  # exact-time match counts
    assert out["e2"] == (20, 200)  # latest at-or-before
    assert out["e3"] == (None, None)  # nothing at-or-before 50


def test_asof_join_tie_takes_greatest_tiebreak(spark):
    from syscol_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 100, "e")], ["k", "ts_us", "name"])
    right = spark.createDataFrame([(1, 100, 1), (1, 100, 2)], ["k", "ts_us", "val"])
    [row] = asof_join(left, right, on="k").collect()
    assert row["val_asof"] == 2


def test_range_join_count(spark):
    from syscol_spark.operators.joins import range_join_count

    left = spark.createDataFrame([(1, 1000, "a"), (1, 5000, "b")], ["k", "t", "name"])
    right = spark.createDataFrame([(1, 900), (1, 999), (1, 1000), (1, 4500)], ["k", "t"])
    out = {
        r["name"]: r["n_in_range"]
        for r in range_join_count(
            left, right, on="k", left_time="t", right_time="t", lower_us=-200, upper_us=0
        ).collect()
    }
    # window [t-200, t): for a=1000 → {900, 999}; 1000 itself excluded
    assert out["a"] == 2
    assert out["b"] == 0


def test_range_join_count_exact_bucket_boundaries(spark):
    """Timestamps at epoch-µs magnitude landing EXACTLY on bucket-span
    multiples (±1 µs): float-division bucketing can flip these into the
    adjacent bucket and silently drop the pair; integer floor-div must not."""
    from syscol_spark.operators.joins import range_join_count

    span = 30_000_000
    base = (1_723_500_000_000_000 // span) * span  # exact multiple of span
    lefts = [base - 1, base, base + 1, base + span]
    left = spark.createDataFrame([(1, t, f"L{i}") for i, t in enumerate(lefts)], ["k", "t", "name"])
    # each left row gets one right row exactly at its window's lower edge
    # (included) and one just before it (excluded)
    right = spark.createDataFrame(
        [(1, t - span) for t in lefts] + [(1, t - span - 1) for t in lefts], ["k", "t"]
    )
    out = {
        r["name"]: r["n_in_range"]
        for r in range_join_count(
            left, right, on="k", left_time="t", right_time="t", lower_us=-span, upper_us=0
        ).collect()
    }
    # window [t-span, t): lower edge in, t-span-1 out — but L1's excluded
    # right (base-span-1) is L0's included one, etc.; compute directly:
    expected = {}
    rts = [t - span for t in lefts] + [t - span - 1 for t in lefts]
    for i, t in enumerate(lefts):
        expected[f"L{i}"] = sum(1 for rt in rts if t - span <= rt < t)
    assert out == expected


def test_range_join_count_duplicate_left_rows_not_collapsed(spark):
    """Duplicate left rows must each produce their own output row with their
    own count — not collapse into one row with a summed count."""
    from syscol_spark.operators.joins import range_join_count

    left = spark.createDataFrame([(1, 1000, "a"), (1, 1000, "a")], ["k", "t", "name"])
    right = spark.createDataFrame([(1, 900), (1, 950)], ["k", "t"])
    rows = range_join_count(
        left, right, on="k", left_time="t", right_time="t", lower_us=-200, upper_us=0
    ).collect()
    assert len(rows) == 2
    assert [r["n_in_range"] for r in rows] == [2, 2]


def test_range_join_count_negative_times_floor_semantics(spark):
    """Negative timestamps: truncate-toward-zero bucketing disagrees between
    sides; floor semantics must keep pairs intact below zero too."""
    from syscol_spark.operators.joins import range_join_count

    left = spark.createDataFrame([(1, -1000, "a")], ["k", "t", "name"])
    right = spark.createDataFrame([(1, -1150), (1, -1000), (1, -999)], ["k", "t"])
    [row] = range_join_count(
        left, right, on="k", left_time="t", right_time="t", lower_us=-200, upper_us=0
    ).collect()
    assert row["n_in_range"] == 1  # only -1150 in [-1200, -1000)


def test_exact_dedup(spark):
    from syscol_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame([(1, "x"), (2, "x"), (3, "y")], ["id", "txt"])
    out = {r["canonical_id"]: r["n_copies"] for r in exact_dedup(df, "txt", "id").collect()}
    assert out == {1: 2, 3: 1}


def test_minhash_identical_docs_full_similarity(spark):
    from syscol_spark.operators.dedup import minhash_lsh_candidates, minhash_signatures

    text = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame([(1, text), (2, text), (3, "completely different words entirely here now")], ["id", "txt"])
    sigs = minhash_signatures(df, "txt", "id", n_hashes=8, shingle_n=3)
    pairs = minhash_lsh_candidates(sigs, n_bands=2, rows_per_band=4).collect()
    assert len(pairs) == 1
    assert pairs[0]["id_a"] == 1 and pairs[0]["id_b"] == 2
    assert pairs[0]["est_jaccard"] == 1.0


def test_simhash_identical_zero_hamming(spark):
    from syscol_spark.operators.dedup import hamming64, simhash

    df = spark.createDataFrame([(1, "alpha beta gamma"), (2, "alpha beta gamma")], ["id", "txt"])
    sh = simhash(df, "txt", "id")
    a, b = [r["simhash"] for r in sh.orderBy("id").collect()]
    assert a == b
    [d] = spark.range(1).select(hamming64(F.lit(a), F.lit(b)).alias("h")).collect()
    assert d["h"] == 0


def test_dedup_clusters_two_components(spark):
    from syscol_spark.operators.dedup import dedup_clusters

    # chain 1-2-3 and pair 10-11: two components, min-id labels
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"])
    out = {r["id"]: (r["cluster"], r["cluster_size"]) for r in dedup_clusters(pairs).collect()}
    assert out == {1: (1, 3), 2: (1, 3), 3: (1, 3), 10: (10, 2), 11: (10, 2)}


def test_cosine_similarity_known_values(spark):
    from syscol_spark.functions.vectors import cosine_similarity

    df = spark.createDataFrame([([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 1.0])], ["a", "b"])
    vals = [round(r["c"], 9) for r in df.select(cosine_similarity("a", "b").alias("c")).collect()]
    assert vals[0] == 0.0
    assert abs(vals[1] - 1.0) < 1e-12


def test_cosine_fold_mirror_is_exact(spark):
    """The driver's dot_like_spark / cosine_like_spark give the engine's
    dot / cosine_similarity raw doubles, before any rounding, on random
    float32 vectors; a zero vector's cosine is NULL in the engine and NaN
    in the mirror."""
    import numpy as np

    from syscol_spark.functions.vectors import (
        cosine_like_spark, cosine_similarity, dot, dot_like_spark,
    )

    rng = np.random.default_rng(14)
    a = rng.standard_normal((300, 64)).astype("float32")
    b = (rng.standard_normal((300, 64)) * rng.uniform(0.01, 100.0, (300, 1))).astype("float32")
    b[7] = 0.0
    df = spark.createDataFrame(
        [(i, a[i].tolist(), b[i].tolist()) for i in range(len(a))],
        "i int, a array<float>, b array<float>",
    )
    got = {r["i"]: (r["d"], r["c"]) for r in df.select(
        "i", dot("a", "b").alias("d"), cosine_similarity("a", "b").alias("c")
    ).collect()}
    wa, wb = a.astype("float64"), b.astype("float64")
    want_dot = np.diagonal(dot_like_spark(wa, wb))
    want_cos = np.diagonal(cosine_like_spark(wa, wb))
    assert [got[i][0] for i in range(len(a))] == want_dot.tolist()
    assert got[7][1] is None and np.isnan(want_cos[7])
    assert all(got[i][1] == want_cos[i] for i in range(len(a)) if i != 7)


def test_word_shingles_and_tokens(spark):
    from syscol_spark.functions.text import token_count, word_shingles

    df = spark.createDataFrame([("a b c d",), ("x y",)], ["txt"])
    rows = df.select(token_count("txt").alias("n"), word_shingles("txt", 3).alias("sh")).collect()
    assert rows[0]["n"] == 4
    assert sorted(rows[0]["sh"]) == ["a b c", "b c d"]
    assert rows[1]["sh"] == ["x y"]  # shorter than n → whole doc


def test_bpe_tokens_and_fingerprint(spark):
    from syscol_spark.functions.text import bpe_tokens, rolling_fingerprint

    df = spark.createDataFrame([("hello, world!!",), ("single",)], ["txt"])
    rows = df.select(
        bpe_tokens("txt").alias("t"), rolling_fingerprint("txt").alias("fp")
    ).collect()
    assert rows[0]["t"] == ["hello", ",", "world", "!!"]
    assert rows[1]["t"] == ["single"]
    # single-token doc: fingerprint == token_int(token) (first-element init)
    assert 0 <= rows[1]["fp"] < 2147483647
    # deterministic across runs
    rows2 = df.select(rolling_fingerprint("txt").alias("fp")).collect()
    assert [r["fp"] for r in rows2] == [r["fp"] for r in rows]


def test_brute_force_topk_self_excluded(spark):
    from syscol_spark.operators.similarity import brute_force_topk

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    out = brute_force_topk(df, df.filter(F.col("vec_id") == 1), k=2).orderBy("rk").collect()
    assert [r["neighbor_id"] for r in out] == [2, 3]
    assert all(r["query_id"] == 1 for r in out)


# --- sub-quadratic candidate generation: completeness + recall ---------------

def test_prefix_filter_is_complete_vs_allpairs(spark, sf_dir):
    """Prefix filtering is LOSSLESS for Jaccard >= t: the pair set must be
    IDENTICAL to an all-pairs block self-join on the real fixture."""
    from syscol_spark.operators.dedup import ngram_jaccard_pairs, salted_block_pairs
    from syscol_spark.functions.text import word_shingles

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in ngram_jaccard_pairs(docs, "text", "doc_id", "lang", shingle_n=3, min_jaccard=0.2).collect()
    }
    # ground truth: quadratic all-pairs within block (the path being replaced)
    shingled = docs.select(
        F.col("doc_id").alias("id"),
        F.col("lang").alias("block"),
        F.array_distinct(
            F.transform(word_shingles("text", 3), lambda s: F.xxhash64(s))
        ).alias("sh"),
    )
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh"))).cast("double")
    union = (F.size(F.col("a.sh")) + F.size(F.col("b.sh"))).cast("double") - inter
    truth = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in salted_block_pairs(shingled)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(inter / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.2)
        .collect()
    }
    assert got == truth and truth, "prefix filtering dropped or invented pairs"


def test_simhash_banding_is_complete_at_max_hamming(spark, sf_dir):
    """Pigeonhole banding (k+1 bands) must find EXACTLY the all-pairs
    Hamming<=k set on the real fixture."""
    from syscol_spark.operators.dedup import simhash, simhash_band_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = simhash(docs, "text", "doc_id")
    blocked = sh.join(
        docs.select(F.col("doc_id").alias("id"), F.col("lang").alias("block")), "id"
    )
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_band_pairs(blocked, max_hamming=3).collect()
    }
    # ground truth in plain python: all pairs within each block
    rows = blocked.select("id", "block", "simhash").collect()
    by_block: dict = {}
    for r in rows:
        by_block.setdefault(r["block"], []).append((r["id"], r["simhash"]))
    truth = set()
    for members in by_block.values():
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                (ia, fa), (ib, fb) = members[i], members[j]
                if ia > ib:
                    (ia, fa), (ib, fb) = (ib, fb), (ia, fa)
                h = bin((fa ^ fb) & 0xFFFFFFFFFFFFFFFF).count("1")
                if h <= 3:
                    truth.add((ia, ib, h))
    assert got == truth


def test_srp_band_pairs_recall_documented(spark, sf_dir):
    """SRP sign-banding is LOSSY by design; this test MEASURES recall vs the
    exact all-pairs set on the fixture and pins the documented floor. At the
    0.35 decision boundary the LSH exponent is near 1, so recall is modest
    — the docstring says so; high-similarity regimes are covered by the
    synthetic test below."""
    from syscol_spark.functions.vectors import cosine_similarity
    from syscol_spark.operators.similarity import srp_band_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = {(r["id_a"], r["id_b"]) for r in srp_band_pairs(emb, min_cosine=0.35).collect()}
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("label").alias("l"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("label").alias("l"), F.col("embedding").alias("vb"))
    exact = {
        (r["id_a"], r["id_b"])
        for r in a.join(b, "l")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cosine_similarity("va", "vb"), 6).alias("c"))
        .filter(F.col("c") >= 0.35)
        .collect()
    }
    assert got <= exact, "banding must never invent pairs"
    recall = len(got) / len(exact) if exact else 1.0
    print(f"\nsrp_band_pairs measured recall @cos>=0.35: {recall:.2f} ({len(got)}/{len(exact)})")
    assert recall >= 0.3  # documented floor at the hardest (boundary) regime


def test_srp_band_pairs_high_similarity_recall(spark):
    """In the regime where true near-dups live (cosine >= 0.95), banding
    recall must be ~1: plant 20 perturbed duplicates and find them all."""
    import random

    from syscol_spark.operators.similarity import srp_band_pairs

    rng = random.Random(7)
    rows = []
    expected = set()
    for i in range(20):
        base = [rng.gauss(0, 1) for _ in range(64)]
        dup = [x + rng.gauss(0, 0.02) for x in base]  # cosine ≈ 0.999
        rows.append((2 * i, "blk", base))
        rows.append((2 * i + 1, "blk", dup))
        expected.add((2 * i, 2 * i + 1))
    df = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    got = {(r["id_a"], r["id_b"]) for r in srp_band_pairs(df, min_cosine=0.9).collect()}
    assert expected <= got


def test_srp_topk_multiprobe_improves_recall(spark, sf_dir):
    """Multi-probe (Hamming<=1 probes) must strictly dominate single-probe
    recall vs the exact brute-force top-k on the fixture."""
    from syscol_spark.operators.similarity import brute_force_topk, srp_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {(r["query_id"], r["neighbor_id"]) for r in brute_force_topk(emb, queries, k=5).collect()}
    single = {
        (r["query_id"], r["neighbor_id"])
        for r in srp_topk(emb, queries, dim=64, k=5, n_planes=6, probe_hamming=0).collect()
    }
    multi = {
        (r["query_id"], r["neighbor_id"])
        for r in srp_topk(emb, queries, dim=64, k=5, n_planes=6, probe_hamming=1).collect()
    }
    r_single = len(single & exact) / len(exact)
    r_multi = len(multi & exact) / len(exact)
    print(f"\nsrp_topk recall: single-probe {r_single:.2f} multi-probe {r_multi:.2f}")
    assert r_multi > r_single
    # deterministic fixture: measured 0.06 → 0.36 (the fixture has no
    # planted high-sim neighbors, so absolute recall is regime-limited)
    assert r_multi >= 0.3


def test_kmeans_deterministic_and_converges(spark):
    """Lloyd's over DataFrame ops: two well-separated blobs must yield the
    two blob means exactly (deterministic init, exact convergence)."""
    from syscol_spark.operators.similarity import kmeans_centroids

    rows = []
    for i in range(10):
        rows.append((i, [10.0 + (i % 3), 10.0]))       # blob A around (11, 10)
    for i in range(10, 20):
        rows.append((i, [-10.0 - (i % 3), -10.0]))     # blob B around (-11, -10)
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    c = kmeans_centroids(df, k=2, max_iter=10)
    got = sorted(tuple(round(x, 6) for x in cc) for cc in c)
    # blob means: A x = mean of 10+(i%3) for i in 0..9 ; B symmetric
    ax = sum(10.0 + (i % 3) for i in range(10)) / 10
    bx = sum(-10.0 - (i % 3) for i in range(10, 20)) / 10
    assert got == sorted([(round(bx, 6), -10.0), (round(ax, 6), 10.0)])
    # deterministic across runs
    assert kmeans_centroids(df, k=2, max_iter=10) == c


def test_ivf_topk_recall_vs_brute_force(spark, sf_dir):
    from syscol_spark.operators.similarity import brute_force_topk, ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {(r["query_id"], r["neighbor_id"]) for r in brute_force_topk(emb, queries, k=5).collect()}
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(emb, queries, k=5, n_centroids=16, nprobe=4, max_iter=3).collect()
    }
    recall = len(ivf & exact) / len(exact)
    print(f"\nivf_topk recall (16 lists, nprobe=4): {recall:.2f}")
    assert recall >= 0.5
    # widening the probe set must not lose pairs on a deterministic fixture
    ivf_wide = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(emb, queries, k=5, n_centroids=16, nprobe=16, max_iter=3).collect()
    }
    assert ivf_wide == exact, "nprobe = n_centroids must equal brute force"


def test_time_weighted_avg_hand_computed(spark):
    """Fixture with irregular spacing inside one hour bucket (bucket_us=100
    for readable numbers): values hold until the next sample / bucket end."""
    from syscol_spark.operators.timeseries import time_weighted_avg

    rows = [
        # key, event, ts, value  — bucket [0,100): samples at 10, 60, 90
        ("a", 1, 10, 2.0),   # holds 50 ticks (10→60)
        ("a", 2, 60, 4.0),   # holds 30 ticks (60→90)
        ("a", 3, 90, 10.0),  # holds 10 ticks (90→100)
        ("a", 4, 150, 6.0),  # next bucket [100,200): holds 50 (150→200)
    ]
    df = spark.createDataFrame(rows, ["k", "event_id", "ts_us", "value"])
    out = {
        r["bucket_us"]: r
        for r in time_weighted_avg(
            df, ["k"], "ts_us", "value", bucket_us=100, tiebreak_col="event_id"
        ).collect()
    }
    b0 = out[0]
    assert b0["n_samples"] == 3 and b0["covered_us"] == 90
    assert abs(b0["twa"] - (2.0 * 50 + 4.0 * 30 + 10.0 * 10) / 90) < 1e-12
    b1 = out[100]
    assert b1["n_samples"] == 1 and b1["covered_us"] == 50
    assert b1["twa"] == 6.0


def test_counter_rate_handles_resets(spark):
    from syscol_spark.operators.timeseries import counter_rate

    rows = [
        # counter climbs 100→250→30 (reset!)→90 within one bucket of 1000µs
        ("a", 1, 0, 100.0),
        ("a", 2, 200, 250.0),   # +150
        ("a", 3, 500, 30.0),    # reset → +30
        ("a", 4, 900, 90.0),    # +60
        # single-sample bucket → dropped (no rate defined)
        ("b", 5, 100, 7.0),
    ]
    df = spark.createDataFrame(rows, ["k", "event_id", "ts_us", "value"])
    out = counter_rate(df, ["k"], "ts_us", "value", bucket_us=1000, tiebreak_col="event_id").collect()
    assert len(out) == 1
    r = out[0]
    assert (r["k"], r["n_samples"], r["span_us"]) == ("a", 4, 900)
    assert r["total_increase"] == 150.0 + 30.0 + 60.0
    assert abs(r["rate_per_sec"] - 240.0 / (900 / 1_000_000)) < 1e-9


def _py_levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_edit_distance_pairs_sentinel_covers_tiny_gram_sets(spark):
    """Repetitive strings can be within ed<=k while sharing ZERO q-grams
    (the overlap bound is vacuous when both gram sets are <= k*q). The
    sentinel bucket must catch those; real grams must still catch
    small-vs-large pairs. Verified against a Python brute force."""
    from syscol_spark.operators.fuzzy import edit_distance_pairs

    strings = [
        (1, "aaaa"),          # grams {aaa}: sentinel territory
        (2, "aabaa"),         # ed=1 to #1, shares no 3-gram with it
        (3, "aaaaaaaaaaaa"),  # 12*a — gram set {aaa}, but long
        (4, "aaaaaaaaaaab"),  # ed=1 to #3, shares 'aaa'
        (5, "completely different text here"),
        (6, "completely different text hers"),  # ed=1 to #5
        (7, "zq"),            # shorter than q: the whole string is the gram
        (8, "zx"),            # ed=1 to #7, shares nothing
    ]
    df = spark.createDataFrame(strings, ["id", "s"])
    got = {
        (r["id_a"], r["id_b"]): r["ed"]
        for r in edit_distance_pairs(df, "s", "id", max_dist=2, q=3).collect()
    }
    want = {
        (a_id, b_id): _py_levenshtein(a, b)
        for i, (a_id, a) in enumerate(strings)
        for b_id, b in (strings[j] for j in range(i + 1, len(strings)))
        if _py_levenshtein(a, b) <= 2
    }
    assert got == want
    assert (1, 2) in want and (3, 4) in want and (7, 8) in want  # the traps


def test_edit_distance_pairs_randomized_vs_brute_force(spark):
    """Seeded random corpora over a small alphabet (worst case for q-gram
    blocking: huge gram collision rates, many short/repetitive strings) —
    the operator must reproduce the brute-force pair set exactly."""
    import random

    from syscol_spark.operators.fuzzy import edit_distance_pairs

    for seed in (7, 99):
        rng = random.Random(seed)
        strings = []
        for i in range(60):
            base = "".join(rng.choice("abc ") for _ in range(rng.randint(1, 24)))
            strings.append((i, base))
            # planted near-dup: mutate 0-3 positions of a previous string
            if i % 3 == 0 and strings:
                donor = rng.choice(strings)[1]
                chars = list(donor)
                for _ in range(rng.randint(0, 3)):
                    if chars:
                        chars[rng.randrange(len(chars))] = rng.choice("abc ")
                strings.append((1000 + i, "".join(chars)))
        df = spark.createDataFrame(strings, ["id", "s"])
        got = {
            (r["id_a"], r["id_b"]): r["ed"]
            for r in edit_distance_pairs(df, "s", "id", max_dist=3, q=3).collect()
        }
        want = {}
        for i in range(len(strings)):
            for j in range(i + 1, len(strings)):
                (ia, sa), (ib, sb) = strings[i], strings[j]
                d = _py_levenshtein(sa, sb)
                if d <= 3:
                    lo, hi = min(ia, ib), max(ia, ib)
                    want[(lo, hi)] = d
        assert got == want, f"seed {seed}: {len(got)} vs {len(want)} pairs"
        assert want, f"seed {seed}: fixture produced no pairs"


def test_semantic_dedup_lowest_id_survives(spark):
    from syscol_spark.operators.similarity import semantic_dedup

    # two tight groups of near-identical vectors + one outlier. Seeds are
    # the k LOWEST ids (kmeans_centroids contract), so ids 1/2/3 are laid
    # out one per group to give each cluster a distinct seed; within each
    # group only the lowest id survives and the outlier always survives.
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 1.0]),
        (10, [0.999, 0.01, 0.0, 0.0]),
        (11, [0.998, 0.02, 0.0, 0.0]),
        (12, [0.0, 0.999, 0.01, 0.0]),
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows], "vec_id long, embedding array<float>"
    )
    out = semantic_dedup(df, n_clusters=3, min_cosine=0.9, max_iter=3)
    kept = {r["vec_id"] for r in out.collect() if r["keep"]}
    assert kept == {1, 2, 3}


def test_semantic_dedup_keep_matches_pair_rule(spark, sf_dir):
    """keep flags must equal the definition: dropped iff some lower-id
    clustermate has cosine >= tau (checked brute-force per cluster)."""
    import itertools

    import numpy as np

    from syscol_spark.operators.similarity import semantic_dedup
    from syscol_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = semantic_dedup(emb, n_clusters=8, min_cosine=0.35, max_iter=2).collect()
    flags = {r["vec_id"]: (r["cluster"], r["keep"]) for r in out}
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype="float64") for r in emb.collect()}
    by_cluster: dict[int, list[int]] = {}
    for vid, (c, _) in flags.items():
        by_cluster.setdefault(c, []).append(vid)
    for c, ids in by_cluster.items():
        for a, b in itertools.combinations(sorted(ids), 2):
            va, vb = vecs[a], vecs[b]
            cos = round(float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))), 6)
            if cos >= 0.35:
                assert not flags[b][1], f"{b} has lower-id {a} at cos {cos} but keep=True"


def test_duplicated_span_stats(spark):
    from syscol_spark.operators.dedup import duplicated_span_stats

    shared = "a b c d e f g h"  # exactly one 8-token span
    rows = [
        (1, shared + " x y z"),
        (2, "p q " + shared),
        (3, "totally different words here that nobody repeats at all ok"),
        (4, "tiny doc"),  # < 8 tokens: whole text is the span
        (5, "tiny doc"),
    ]
    out = {
        r["id"]: r
        for r in duplicated_span_stats(
            spark.createDataFrame(rows, "doc_id long, text string"), "text", "doc_id", n=8
        ).collect()
    }
    # docs 1,2 share the 8-token window; docs 4,5 are identical short docs
    assert set(out) == {1, 2, 4, 5}
    assert out[1]["n_spans"] == 4 and out[1]["n_dup_spans"] == 1
    assert out[2]["n_spans"] == 3 and out[2]["n_dup_spans"] == 1
    assert out[4]["n_spans"] == 1 and out[4]["dup_ppm"] == 1_000_000
    assert out[1]["dup_ppm"] == 250_000


def test_quality_logit_feature_directions(spark):
    import pyspark.sql.functions as F

    from syscol_spark.functions.text import quality_logit

    rows = [
        (1, "the a of and to in is it the a of and"),  # all stopwords
        (2, "xylophone quixotic zygote phantasmagoria"),  # long rare tokens
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["s"] for r in df.select("doc_id", quality_logit("text").alias("s")).collect()}
    assert got[1] > got[2]  # stopword-rich short-token text scores higher


def test_duplicated_span_stats_randomized_vs_brute_force(spark):
    """Seeded random corpora over a tiny vocabulary (worst case: massive
    n-gram collision rates) — per-doc span counts must match the
    brute-force definition exactly."""
    import random

    from syscol_spark.operators.dedup import duplicated_span_stats

    n = 4
    for seed in (3, 41):
        rng = random.Random(seed)
        docs = []
        for i in range(50):
            toks = [rng.choice("abcde") for _ in range(rng.randint(1, 12))]
            docs.append((i, " ".join(toks)))
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        got = {
            r["id"]: (r["n_spans"], r["n_dup_spans"])
            for r in duplicated_span_stats(df, "text", "doc_id", n=n).collect()
        }
        # brute force: positional n-grams; gram is dup iff present in another doc
        def grams(text):
            toks = text.split()
            if len(toks) < n:
                return [" ".join(toks)]
            return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]

        by_doc = {i: grams(t) for i, t in docs}
        want = {}
        for i, gs in by_doc.items():
            other = set()
            for j, gj in by_doc.items():
                if j != i:
                    other.update(gj)
            dup = sum(1 for g in gs if g in other)
            if dup:
                want[i] = (len(gs), dup)
        assert got == want, f"seed {seed}"
        assert want, f"seed {seed}: fixture produced no dup spans"


def test_pq_codes_vs_numpy_reference(spark):
    """PQ codes must equal an independent numpy re-implementation of the
    deterministic per-subspace k-means + nearest-centroid assignment."""
    import numpy as np

    from syscol_spark.operators.similarity import pq_codes
    from syscol_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n_sub, sub, k, iters = 4, 16, 8, 2
    out = {
        r["vec_id"]: tuple(r[f"c{s}"] for s in range(n_sub))
        for r in pq_codes(
            emb, dim=64, n_subspaces=n_sub, n_centroids=k, max_iter=iters
        ).collect()
    }
    rows = sorted((r["vec_id"], [float(x) for x in r["embedding"]]) for r in emb.collect())
    x = np.array([v for _, v in rows], dtype="float64")
    ids = [i for i, _ in rows]
    want = {}
    for s in range(n_sub):
        xs = x[:, s * sub : (s + 1) * sub]
        c = xs[:k].copy()
        for _ in range(iters):
            scores = xs @ c.T - 0.5 * (c * c).sum(axis=1)
            assign = scores.argmax(axis=1)
            new_c = c.copy()
            for j in range(k):
                m = xs[assign == j]
                if len(m):
                    new_c[j] = m.mean(axis=0)
            if np.array_equal(new_c, c):
                break
            c = new_c
        final = (xs @ c.T - 0.5 * (c * c).sum(axis=1)).argmax(axis=1)
        for vid, code in zip(ids, final):
            want.setdefault(vid, []).append(int(code))
    want = {vid: tuple(codes) for vid, codes in want.items()}
    assert out == want


def test_ann_recall_sweep_documented(spark, sf_dir):
    """Measured recall@5 of every ANN serving path vs exact brute force on
    the same fixture queries — the quality/number that justifies each
    index's pruning. Floors are deliberately loose (the synthetic fixture
    has no planted high-sim neighbors, the hardest regime for LSH/IVF/PQ);
    the printed line is the documentation."""
    from syscol_spark.operators.similarity import (
        brute_force_topk,
        ivf_pq_topk,
        ivf_topk,
        pq_adc_topk,
        srp_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {(r["query_id"], r["neighbor_id"]) for r in brute_force_topk(emb, queries, k=5).collect()}

    def recall(df):
        got = {(r["query_id"], r["neighbor_id"]) for r in df.collect()}
        return len(got & exact) / len(exact)

    r_srp = recall(srp_topk(emb, queries, dim=64, k=5, n_planes=6, probe_hamming=1))
    r_ivf = recall(ivf_topk(emb, queries, k=5, n_centroids=16, nprobe=4, max_iter=3, train_stride=4))
    # PQ-ADC recall is governed by quantization distortion, so it must rise
    # with codebook size — the knob a deployment turns (k=256/subspace in
    # production; the catalog query's k=16 favors a small exact oracle).
    # Measured here: 0.12 (k=16) -> 0.30 (k=64) on this fixture.
    r_pq16 = recall(
        pq_adc_topk(emb, queries, dim=64, n_subspaces=8, n_centroids=16, max_iter=2,
                    train_stride=4, k=5)
    )
    r_pq64 = recall(
        pq_adc_topk(emb, queries, dim=64, n_subspaces=8, n_centroids=64, max_iter=3,
                    train_stride=1, k=5)
    )
    r_ivfpq = recall(
        ivf_pq_topk(emb, queries, dim=64, n_lists=16, nprobe=4, coarse_iter=3,
                    coarse_stride=4, n_subspaces=8, pq_centroids=64, pq_iter=3,
                    pq_stride=1, k=5)
    )
    print(
        f"\nANN recall@5 vs exact: srp-multiprobe {r_srp:.2f}  ivf-nprobe4 {r_ivf:.2f}  "
        f"pq-adc(k=16) {r_pq16:.2f}  pq-adc(k=64) {r_pq64:.2f}  ivfpq(64) {r_ivfpq:.2f}"
    )
    # composed IVF+PQ stacks pruning loss on quantization loss: bounded
    # above by its PQ stage alone
    assert r_ivfpq <= r_pq64 + 1e-9
    assert r_pq64 > r_pq16, "bigger codebooks must cut quantization error"
    assert r_pq64 >= 0.2
    assert r_ivf >= 0.3
    assert r_srp >= 0.2


def test_ann_ivfpq_residual_refine_recall(spark, sf_dir):
    """Residual PQ (IVFADC) + exact shortlist re-rank (IVFADC+R) must at
    least DOUBLE plain IVF+PQ's recall@5 on the fixture — the round-6
    'close the ANN recall gap' criterion. Everything is deterministic
    (seeded k-means, fixed fixture), so the measured numbers are stable:
    plain 0.26, residual+refine 0.60 at nprobe=4/R=50."""
    from syscol_spark.operators.similarity import brute_force_topk, ivf_pq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {(r["query_id"], r["neighbor_id"]) for r in brute_force_topk(emb, queries, k=5).collect()}

    def recall(df):
        got = {(r["query_id"], r["neighbor_id"]) for r in df.collect()}
        return len(got & exact) / len(exact)

    common = dict(dim=64, n_lists=16, nprobe=4, coarse_iter=3, coarse_stride=4,
                  n_subspaces=8, pq_iter=3, pq_stride=1, k=5)
    r_plain = recall(ivf_pq_topk(emb, queries, pq_centroids=64, **common))
    r_res = recall(
        ivf_pq_topk(emb, queries, pq_centroids=64, residual=True, refine=50, **common)
    )
    print(f"\nivfpq recall@5: plain {r_plain:.2f} -> residual+refine {r_res:.2f}")
    assert r_res >= 2 * r_plain
    assert r_res >= 0.5


def test_adc_serving_supports_string_doc_ids(spark, sf_dir):
    """ADC-family serving must accept string doc ids (real corpora key on
    UUIDs; the reference's envelope SlaveID is a string —
    syscol/metrics_reporter.go:33-40): the broadcast distance-table schema
    is derived from queries.schema[id_col], not hard-coded long. Results
    must be the integer-id results under the id relabeling (deterministic
    seeded quantizers)."""
    from syscol_spark.operators.similarity import ivf_pq_topk, pq_adc_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(400)
    sid = emb.select(
        F.concat(F.lit("doc-"), F.format_string("%05d", "vec_id")).alias("vec_id"),
        "embedding",
    )
    queries_i = emb.filter(F.col("vec_id") < 5)
    queries_s = sid.filter(F.col("vec_id") < "doc-00005")

    def relabel(rows):
        return {(f"doc-{r['query_id']:05d}", f"doc-{r['neighbor_id']:05d}", r["rk"])
                for r in rows}

    # stride=1 everywhere: numeric ids stride on id%n, string ids on a hash,
    # so only the stride-free configuration trains identical quantizers
    adc_i = pq_adc_topk(emb, queries_i, dim=64, n_subspaces=8, n_centroids=16,
                        max_iter=2, train_stride=1, k=5).collect()
    adc_s = pq_adc_topk(sid, queries_s, dim=64, n_subspaces=8, n_centroids=16,
                        max_iter=2, train_stride=1, k=5).collect()
    assert {(r["query_id"], r["neighbor_id"], r["rk"]) for r in adc_s} == relabel(adc_i)

    common = dict(dim=64, n_lists=8, nprobe=3, coarse_iter=2, coarse_stride=1,
                  n_subspaces=8, pq_centroids=16, pq_iter=2, pq_stride=1, k=5,
                  residual=True, refine=20)
    ivf_i = ivf_pq_topk(emb, queries_i, **common).collect()
    ivf_s = ivf_pq_topk(sid, queries_s, **common).collect()
    assert {(r["query_id"], r["neighbor_id"], r["rk"]) for r in ivf_s} == relabel(ivf_i)


def test_ann_production_shape_recall(spark, sf_dir):
    """Production-shape quality claim, measured not extrapolated: the
    catalog queries pin pq_centroids=16 to keep the unrolled-CTE oracle
    tractable, so this pytest-only sweep runs the 100 TB recipe's actual
    knobs — residual IVFADC+R at k=256 codebooks / nprobe=8 / refine=50 —
    and asserts recall@5 >= 0.8 against exact brute force."""
    from syscol_spark.operators.similarity import brute_force_topk, ivf_pq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in brute_force_topk(emb, queries, k=5).collect()}
    got = ivf_pq_topk(
        emb, queries, dim=64, n_lists=16, nprobe=8, coarse_iter=3,
        coarse_stride=4, n_subspaces=8, pq_centroids=256, pq_iter=3,
        pq_stride=1, k=5, residual=True, refine=50,
    ).collect()
    r = len({(x["query_id"], x["neighbor_id"]) for x in got} & exact) / len(exact)
    print(f"\nivfpq production-shape recall@5 (k=256, nprobe=8, refine=50): {r:.2f}")
    assert r >= 0.8


def test_ivfpq_index_save_load_roundtrip(spark, sf_dir, tmp_path):
    """The persisted index must serve BIT-IDENTICALLY to the in-memory one
    (build-once / serve-many lifecycle): save to parquet, load, serve with
    and without refine, compare full row sets against direct ivf_pq_topk."""
    from syscol_spark.operators.similarity import (
        build_ivfpq_index,
        ivf_pq_topk,
        ivfpq_serve,
        load_ivfpq_index,
        save_ivfpq_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    params = dict(dim=64, n_lists=16, coarse_iter=3, coarse_stride=4,
                  n_subspaces=8, pq_centroids=16, pq_iter=2, pq_stride=4, residual=True)
    codes, meta = build_ivfpq_index(emb, **params)
    path = str(tmp_path / "ivfpq_index")
    save_ivfpq_index(codes, meta, path)
    codes2, meta2 = load_ivfpq_index(spark, path)
    assert meta2["coarse"] == meta["coarse"]
    assert meta2["codebooks"] == meta["codebooks"]

    direct = {tuple(r) for r in ivf_pq_topk(emb, queries, nprobe=4, k=5, **params).collect()}
    loaded = {tuple(r) for r in ivfpq_serve(codes2, meta2, queries, nprobe=4, k=5).collect()}
    assert loaded == direct and direct

    direct_r = {tuple(r) for r in ivf_pq_topk(
        emb, queries, nprobe=4, k=5, refine=20, **params
    ).collect()}
    loaded_r = {tuple(r) for r in ivfpq_serve(
        codes2, meta2, queries, nprobe=4, k=5, refine=20, corpus=emb
    ).collect()}
    assert loaded_r == direct_r and direct_r


def test_semantic_dedup_delta_parity(spark, sf_dir):
    """Incremental SemDeDup must reproduce, for the new shard's rows, EXACTLY
    what batch SemDeDup over the whole corpus decides — given the same
    quantizer. Split the fixture by id (old < 250 <= new), feed the delta op
    the old shard's assignments as persisted state, compare keep flags."""
    from syscol_spark.operators.similarity import (
        _assign_nearest,
        kmeans_centroids,
        semantic_dedup,
        semantic_dedup_delta,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # same quantizer for both paths: the delta mechanics (assignment, pair
    # generation, drop rule) are what's under test, not quantizer drift
    cents = kmeans_centroids(emb, k=16, max_iter=3, train_stride=1)
    batch = {
        r["vec_id"]: (r["cluster"], r["keep"])
        for r in semantic_dedup(emb, n_clusters=16, min_cosine=0.2, max_iter=3).collect()
        if r["vec_id"] >= 250
    }
    old = emb.filter(F.col("vec_id") < 250)
    state = _assign_nearest(old.select("vec_id", "embedding"), "embedding", cents).select(
        "vec_id", "embedding", F.col("__cluster").alias("cluster")
    )
    delta = {
        r["vec_id"]: (r["cluster"], r["keep"])
        for r in semantic_dedup_delta(
            emb.filter(F.col("vec_id") >= 250), state, cents, min_cosine=0.2
        ).collect()
    }
    assert delta == batch
    assert any(not keep for _, keep in delta.values()), "fixture must produce drops"


def test_heavy_hitters_exact_vs_bruteforce_random(spark):
    """heavy_hitters must equal the brute-force groupBy answer on a skewed
    random stream even with a tiny MG capacity and adversarial partitioning
    (round-robin spreads every item across all partitions, the worst case
    for per-partition candidate generation)."""
    import random

    from syscol_spark.operators.sketch import heavy_hitters

    rng = random.Random(7)
    # zipf-ish: a few hot items + long tail
    items = [f"hot{i}" for i in range(5) for _ in range(rng.randint(200, 400))]
    items += [f"tail{rng.randrange(3000)}" for _ in range(4000)]
    rng.shuffle(items)
    df = spark.createDataFrame([(t,) for t in items], "token string").repartition(8)

    k, capacity = 20, 64  # tiny capacity: decrement path definitely exercised
    got = {(r["token"], r["freq"]) for r in heavy_hitters(df, "token", k=k, capacity=capacity).collect()}
    n = len(items)
    from collections import Counter

    expected = {(t, c) for t, c in Counter(items).items() if c * k > n}
    assert expected, "fixture must contain heavy hitters"
    assert got == expected


def test_heavy_hitters_non_string_column(spark):
    """The MG summarizer's output schema must mirror the input column type:
    heavy hitters over a long column previously hit an Arrow string/int
    mismatch because the schema was hardcoded to string."""
    from collections import Counter

    from syscol_spark.operators.sketch import heavy_hitters

    vals = [7] * 300 + [11] * 250 + list(range(1000, 1400))
    df = spark.createDataFrame([(v,) for v in vals], "item long").repartition(4)
    got = {(r["item"], r["freq"]) for r in heavy_hitters(df, "item", k=10, capacity=32).collect()}
    n = len(vals)
    expected = {(v, c) for v, c in Counter(vals).items() if c * 10 > n}
    assert expected and got == expected
    assert all(isinstance(v, int) for v, _ in got)


def test_containment_prefix_filter_is_complete_vs_allpairs(spark, sf_dir):
    """The one-sided containment prefix filter is LOSSLESS: pairs must be
    IDENTICAL to a quadratic all-pairs block self-join on the real fixture
    (both directions — containment is asymmetric)."""
    from syscol_spark.functions.text import word_shingles
    from syscol_spark.operators.dedup import containment_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        (r["id_a"], r["id_b"], r["containment"])
        for r in containment_pairs(docs, "text", "doc_id", "lang", min_containment=0.6).collect()
    }
    shingled = docs.select(
        F.col("doc_id").alias("id"),
        F.col("lang").alias("block"),
        F.array_distinct(
            F.transform(word_shingles("text", 3), lambda s: F.xxhash64(s))
        ).alias("sh"),
    )
    a, b = shingled.alias("a"), shingled.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh"))).cast("double")
    cont = inter / F.size(F.col("a.sh")).cast("double")
    truth = {
        (r["id_a"], r["id_b"], r["containment"])
        for r in a.join(
            b,
            (F.col("a.block") == F.col("b.block")) & (F.col("a.id") != F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(cont, 6).alias("containment"),
        )
        .filter(F.col("containment") >= 0.6)
        .collect()
    }
    assert got == truth and truth, "containment prefix filter dropped or invented pairs"


def test_minhash_dedup_delta_matches_full_rebuild(spark, sf_dir):
    """Incremental dedup of a new shard against a corpus signature table
    must find EXACTLY the full-corpus candidate pairs that involve at least
    one new doc (new-new once, new-old in (new, old) direction)."""
    from syscol_spark.operators.dedup import (
        minhash_dedup_delta,
        minhash_lsh_candidates,
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sigs = minhash_signatures(docs, "text", "doc_id").localCheckpoint()
    new_ids = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id")
    new_sigs = sigs.join(new_ids.withColumnRenamed("doc_id", "id"), "id", "left_semi")
    old_sigs = sigs.join(new_ids.withColumnRenamed("doc_id", "id"), "id", "left_anti")

    got = {
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in minhash_dedup_delta(new_sigs, old_sigs).collect()
    }

    full = minhash_lsh_candidates(sigs).collect()
    new_set = {r["id"] for r in new_sigs.select("id").collect()}
    expected = set()
    for r in full:
        x, y, j = r["id_a"], r["id_b"], r["est_jaccard"]
        if x in new_set and y in new_set:
            expected.add((min(x, y), max(x, y), j))
        elif x in new_set:
            expected.add((x, y, j))
        elif y in new_set:
            expected.add((y, x, j))
    assert expected, "fixture must contain pairs touching the new shard"
    assert got == expected


def test_pq_rejects_indivisible_subspaces(spark, sf_dir):
    """dim % n_subspaces != 0 must raise (the trailing dims would silently
    vanish from every code otherwise)."""
    import pytest as _pytest

    from syscol_spark.operators.similarity import pq_codes

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with _pytest.raises(ValueError, match="not divisible"):
        pq_codes(emb, dim=60, n_subspaces=8)


def test_cdc_chunks_boundaries_are_content_defined(spark):
    """The CDC property: editing ONE token re-hashes only the chunk containing
    the edit — every other chunk hash of the document survives verbatim."""
    from syscol_spark.operators.dedup import cdc_chunks

    base = "alpha beta gamma delta " * 12  # ~48 tokens, several chunks
    edited = base.replace("gamma", "GAMMA", 1)  # one token, first occurrence
    df = spark.createDataFrame(
        [(1, base), (2, edited)], "doc_id long, text string"
    )
    out = cdc_chunks(df, "text", "doc_id", mod=4).collect()
    h1 = sorted((r["chunk_id"], r["chunk_hash"]) for r in out if r["doc_id"] == 1)
    h2 = {r["chunk_hash"] for r in out if r["doc_id"] == 2}
    assert len(h1) >= 3, "test doc must split into several chunks"
    # every chunk except the edited one (and possibly its merge-neighbor,
    # if the edit removed a cut token) must dedup across the two docs
    surviving = sum(1 for _, h in h1 if h in h2)
    assert surviving >= len(h1) - 2, (len(h1), surviving)
    # chunks tile the doc exactly: token counts add back up
    n_base = len(base.split())
    assert sum(r["n_tokens"] for r in out if r["doc_id"] == 1) == n_base
    # determinism
    again = cdc_chunks(df, "text", "doc_id", mod=4).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_normalize_text_canonical_form(spark):
    from syscol_spark.functions.text import normalize_text

    df = spark.createDataFrame(
        [
            ("THE  Quick   brown fox .", "the quick brown fox"),
            ("  already clean  ", "already clean"),
            ("punct,;: only!?", "punct only"),
        ],
        "raw string, want string",
    )
    got = df.select(normalize_text("raw").alias("norm"), "want").collect()
    for r in got:
        assert r["norm"] == r["want"], r
    # idempotence: normalizing a normal form is the identity
    twice = df.select(normalize_text(normalize_text("raw")).alias("a"),
                      normalize_text("raw").alias("b")).collect()
    assert all(r["a"] == r["b"] for r in twice)


def test_bpe_overlapping_pairs_merge_left_to_right(spark):
    """BPE applies a merge left-to-right non-overlapping: in 'aaa' the pair
    (a,a) merges the FIRST two a's only — the string-replace representation
    must reproduce exactly that."""
    from syscol_spark.operators.bpe import learn_bpe_merges

    df = spark.createDataFrame([("aaa aaa",)], "text string")
    out = learn_bpe_merges(df, "text", n_merges=2).collect()
    # step 1: (a,a) seen twice per word (positions 1-2 and 2-3) x 2 words
    assert (out[0]["left_sym"], out[0]["right_sym"], out[0]["freq"]) == ("a", "a", 4)
    # after merging: each word is |aa|a| -> step 2 merges (aa, a), once per word
    assert (out[1]["left_sym"], out[1]["right_sym"], out[1]["freq"]) == ("aa", "a", 2)
    assert out[1]["merged"] == "aaa"


def test_bpe_merges_match_reference_implementation(spark):
    """Cross-check the distributed trainer against a tiny in-memory
    reference BPE (dict-of-tuples, the textbook algorithm)."""
    from syscol_spark.operators.bpe import learn_bpe_merges

    # 'abab'/'banana'/'aaaaa' exercise CONSECUTIVE occurrences of a merged
    # pair — the case the round-6/7 string-replace application missed
    # (replacing '|a|b|' consumes the shared '|', so 'abab' became
    # [ab, a, b] instead of [ab, ab])
    corpus = ["low low low lower lowest", "new newer newest low", "abab banana abab aaaaa"]

    def ref_bpe(texts, n):
        from collections import Counter

        freq = Counter(w for t in texts for w in t.split())
        words = {w: tuple(w) for w in freq}
        merges = []
        for step in range(1, n + 1):
            pairs = Counter()
            for w, syms in words.items():
                for a, b in zip(syms, syms[1:]):
                    pairs[(a, b)] += freq[w]
            if not pairs:
                break
            # (count desc, pair-key asc) — the engine orders on the
            # '|a|b|' string, which for these alphabetic symbols matches
            # tuple ordering
            best = min(pairs.items(), key=lambda kv: (-kv[1], f"|{kv[0][0]}|{kv[0][1]}|"))
            (a, b), cnt = best
            merges.append((step, a, b, a + b, cnt))
            out = {}
            for w, syms in words.items():
                new, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        new.append(a + b)
                        i += 2
                    else:
                        new.append(syms[i])
                        i += 1
                out[w] = tuple(new)
            words = out
        return merges

    df = spark.createDataFrame([(t,) for t in corpus], "text string")
    got = [
        (r["step"], r["left_sym"], r["right_sym"], r["merged"], r["freq"])
        for r in learn_bpe_merges(df, "text", n_merges=6).collect()
    ]
    assert got == ref_bpe(corpus, 6), got


def test_bpe_consecutive_pair_words(spark):
    """Direct pin of the delimiter-consumption bug: with merge (a,b),
    'abab' must tokenize to [ab, ab]; with (a,n), 'banana' must be
    [b, an, an, a] (textbook left-to-right merge-with-skip)."""
    from syscol_spark.operators.bpe import apply_bpe_merges

    df = spark.createDataFrame([("abab", "ab"), ("banana", "an")], "text string, pair string")
    got = {
        r["text"]: r["bpe_syms"]
        for t, p in [("abab", ("a", "b")), ("banana", ("a", "n"))]
        for r in apply_bpe_merges(
            df.filter(F.col("text") == t), "text", [p]
        ).collect()
    }
    assert got["abab"] == ["ab", "ab"], got
    assert got["banana"] == ["b", "an", "an", "a"], got


def test_bpe_batched_equals_sequential(spark):
    """Parallel BPE: the batched trainer (disjoint top-k per counting
    round) must reproduce the sequential merge table on a corpus where the
    round-start ranking survives the batch (the construction's guarantee
    for disjoint pairs)."""
    from syscol_spark.operators.bpe import learn_bpe_merges

    # two-symbol words with strictly decreasing counts: merging one pair
    # creates no new pair, so every round's ranking is the round-start
    # ranking and the disjoint-batch guarantee applies exactly. (On corpora
    # where a merge-created pair like (lo,w) outranks the round's later
    # picks, batched BPE legitimately diverges — the documented
    # parallel-BPE approximation, not a bug.)
    words = ["ab"] * 9 + ["cd"] * 8 + ["ef"] * 7 + ["gh"] * 6 + \
        ["ij"] * 5 + ["kl"] * 4 + ["mn"] * 3 + ["op"] * 2
    df = spark.createDataFrame([(" ".join(words),)], "text string")

    def table(batch):
        return [
            (r["step"], r["left_sym"], r["right_sym"], r["merged"], r["freq"])
            for r in learn_bpe_merges(df, "text", n_merges=8, batch=batch).collect()
        ]

    seq = table(1)
    assert len(seq) == 8
    assert table(4) == seq


def test_bpe_batched_runs_fewer_rounds(spark, monkeypatch):
    """The probe for VERDICT #2's 'done' bar: 32 merges at batch=8 must
    take ≥4× fewer counting rounds (Spark actions) than sequential.
    The bpe_vocab route is forced to -1 so the DISTRIBUTED rounds (the path
    this test probes) engage despite the driver-local trainer."""
    import syscol_spark.operators.bpe as bpe
    from syscol_spark.operators import route

    calls = {"n": 0}
    real = bpe._round_top_pairs

    def counting(words, batch):
        calls["n"] += 1
        return real(words, batch)

    monkeypatch.setattr(bpe, "_round_top_pairs", counting)
    monkeypatch.setitem(route.BOUNDS, "bpe_vocab", -1)
    df = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog while many other words "
          "keep pair counts diverse enough for thirty two merges to exist",)],
        "text string",
    )
    calls["n"] = 0
    seq = bpe.learn_bpe_merges(df, "text", n_merges=32, batch=1).count()
    seq_rounds = calls["n"]
    calls["n"] = 0
    bat = bpe.learn_bpe_merges(df, "text", n_merges=32, batch=8).count()
    bat_rounds = calls["n"]
    assert seq == 32 and bat == 32
    assert seq_rounds == 32
    assert bat_rounds * 4 <= seq_rounds, (seq_rounds, bat_rounds)


def test_residual_rows_local_matches_engine(spark):
    """r15: build_ivfpq_index's residual PQ training sample is computed
    driver-side from the already-collected coarse sample instead of a
    second bounded collect of the engine's residual frame. The rows must
    be BIT-identical to what the engine's assignment plus the shared
    residual expression (the ones build_ivfpq_index runs) produce for the
    same vectors."""
    import math

    import syscol_spark.operators.similarity as sim

    rows = []
    for i in range(60):
        rows.append((i, [float(math.sin(0.31 * i + 0.07 * j)) for j in range(16)]))
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    cents = sim._kmeans_local(rows, 4, 3)

    local = {i: v for i, v in sim._residual_rows_local(rows, cents)}

    engine = (
        sim._assign_nearest(df, "vec", cents)
        .select("id", sim._residual(F.col("vec"), F.col("__cluster"), cents).alias("vec"))
        .collect()
    )
    assert len(engine) == len(local)
    for r in engine:
        assert local[r["id"]] == list(r["vec"])  # exact float equality


def test_vocab_tokenize_longest_maximal_munch(spark):
    """Greedy longest-match semantics: the longest vocab symbol wins at
    each position, unknown chars fall back to themselves, and segmentation
    is lossless."""
    from syscol_spark.operators.bpe import vocab_tokenize_longest

    df = spark.createDataFrame(
        [("banana abcab xyz",)], "text string"
    )
    out = vocab_tokenize_longest(df, "text", ["ab", "abc", "ban", "na"]).collect()[0]
    assert out["vocab_syms"] == ["ban", "a", "na", "abc", "ab", "x", "y", "z"]
    assert "".join(out["vocab_syms"]) == "bananaabcabxyz"


def test_bpe_apply_reconstructs_words(spark):
    """Applying learned merges tokenizes; concatenating the symbols of a
    word gives back the word (BPE is lossless segmentation)."""
    from syscol_spark.operators.bpe import apply_bpe_merges, learn_bpe_merges

    df = spark.createDataFrame([("banana bandana",)], "text string")
    merges = [
        (r["left_sym"], r["right_sym"])
        for r in learn_bpe_merges(df, "text", n_merges=4).collect()
    ]
    out = apply_bpe_merges(df, "text", merges).select("bpe_syms").collect()[0]["bpe_syms"]
    assert "".join(out) == "bananabandana"
    # merges actually fired: fewer symbols than characters
    assert len(out) < len("bananabandana")


def _assert_batch_invariant_past_old_cap(spark, sf_dir, make_serves):
    """One ADC serving call over 20,100 queries (201 replicas of a
    100-vector block, ids shifted per replica — more than twice the
    10,000-query cap the serving path once had) must return, for every
    replica block, exactly the rows that serving one block alone returns.
    ``make_serves(corpus)`` maps a case name to a queries -> top-k frame
    callable."""
    corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 100
    )
    n_base = corpus.count()
    assert n_base == 100
    reps, shift = 201, 100_000
    queries = corpus.select(
        F.explode(F.sequence(F.lit(1), F.lit(reps))).alias("__r"),
        "vec_id",
        "embedding",
    ).select((F.col("vec_id") + F.col("__r") * shift).alias("vec_id"), "embedding")
    assert queries.count() == reps * n_base > 20_000
    block = queries.filter(F.col("vec_id") < 2 * shift)  # replica 1 alone

    def by_block(df) -> dict[int, set]:
        out: dict[int, set] = {}
        for r in df.collect():
            rep, qid = divmod(r[0], shift)
            out.setdefault(rep, set()).add((qid, *r[1:]))
        return out

    for name, serve in make_serves(corpus).items():
        alone = by_block(serve(block))
        assert list(alone) == [1] and len(alone[1]) == n_base * 5, name
        together = by_block(serve(queries))
        assert sorted(together) == list(range(1, reps + 1)), name
        bad = [rep for rep, rows in together.items() if rows != alone[1]]
        assert bad == [], f"{name}: replica blocks differ from the lone block: {bad[:5]}"


def test_pq_adc_bulk_matches_broadcast_beyond_query_cap(spark, sf_dir):
    """Plain-PQ ADC serving (pq_adc_topk, the one ADC path left after the
    driver-table and bulk paths were merged) has no query-count cap and no
    coupling between queries: see _assert_batch_invariant_past_old_cap."""
    from syscol_spark.operators.similarity import pq_adc_topk

    _assert_batch_invariant_past_old_cap(
        spark,
        sf_dir,
        lambda corpus: {
            "plain": lambda q: pq_adc_topk(
                corpus, q, dim=64, n_subspaces=8, n_centroids=16, max_iter=2,
                train_stride=4, k=5,
            ),
        },
    )


def test_ivfpq_serve_bulk_matches_broadcast(spark, sf_dir):
    """IVF-PQ serving (ivfpq_serve, the one serving path left after the
    driver-table and bulk paths were merged) is batch-invariant past the
    old query cap in both recipes (plain and residual) and with the
    exact-cosine refine: see _assert_batch_invariant_past_old_cap."""
    from syscol_spark.operators.similarity import build_ivfpq_index, ivfpq_serve

    def serves(corpus):
        out = {}
        for residual in (False, True):
            codes, meta = build_ivfpq_index(
                corpus, dim=64, n_lists=8, coarse_iter=2, coarse_stride=4,
                n_subspaces=8, pq_centroids=16, pq_iter=2, pq_stride=4,
                residual=residual,
            )
            tag = "residual" if residual else "plain"
            out[tag] = lambda q, c=codes, m=meta: ivfpq_serve(c, m, q, nprobe=4, k=5)
            if residual:
                out["residual+refine"] = lambda q, c=codes, m=meta: ivfpq_serve(
                    c, m, q, nprobe=4, k=5, refine=20, corpus=corpus
                )
        return out

    _assert_batch_invariant_past_old_cap(spark, sf_dir, serves)


def test_ivfpq_serve_runs_no_job_until_forced(spark, sf_dir):
    """Serving is a lazy plan: building the ivfpq_serve frame schedules no
    Spark job (nothing per query is collected to the driver); jobs appear
    in the serve's job group only once the result is forced."""
    from syscol_spark.operators.similarity import build_ivfpq_index, ivfpq_serve

    corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 300
    )
    codes, meta = build_ivfpq_index(
        corpus, dim=64, n_lists=8, coarse_iter=2, coarse_stride=4,
        n_subspaces=8, pq_centroids=16, pq_iter=2, pq_stride=4, residual=True,
    )
    queries = corpus.filter(F.col("vec_id") < 20)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "test-ivfpq-serve-lazy"
    sc.setJobGroup(group, "ivfpq_serve laziness")
    try:
        plain = ivfpq_serve(codes, meta, queries, nprobe=4, k=5)
        refined = ivfpq_serve(codes, meta, queries, nprobe=4, k=5, refine=10, corpus=corpus)
        assert list(tracker.getJobIdsForGroup(group)) == []
        assert plain.collect() and refined.collect()
        assert list(tracker.getJobIdsForGroup(group)) != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_ivfpq_append_matches_full_encode(spark, sf_dir):
    """Incremental index maintenance: codes appended with the FROZEN
    quantizers must reproduce exactly what encoding the full corpus with
    those quantizers yields — build(old) ∪ append(new) == append(full) —
    and the grown index must serve queries identically to that
    full-encode index."""
    from syscol_spark.operators.similarity import (
        build_ivfpq_index,
        ivfpq_append,
        ivfpq_serve,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    old = emb.filter(F.col("vec_id") % 5 != 0)
    new = emb.filter(F.col("vec_id") % 5 == 0)
    params = dict(dim=64, n_lists=8, coarse_iter=2, coarse_stride=4,
                  n_subspaces=8, pq_centroids=16, pq_iter=2, pq_stride=4, residual=True)
    codes_old, meta = build_ivfpq_index(old, **params)

    def rows(df):
        cols = sorted(df.columns)
        return {tuple(r[c] for c in cols) for r in df.select(*cols).collect()}

    # the build's own shard re-encodes bit-for-bit under the frozen quantizers
    assert rows(ivfpq_append(old, meta)) == rows(codes_old)
    grown = rows(codes_old) | rows(ivfpq_append(new, meta))
    full = rows(ivfpq_append(emb, meta))
    assert grown == full and len(full) == emb.count()

    # serving over the grown index == serving over the full-encode index
    queries = emb.filter(F.col("vec_id") < 8)
    grown_codes = codes_old.unionByName(ivfpq_append(new, meta))
    a = {tuple(r) for r in ivfpq_serve(grown_codes, meta, queries, nprobe=4, k=5).collect()}
    b = {
        tuple(r)
        for r in ivfpq_serve(ivfpq_append(emb, meta), meta, queries, nprobe=4, k=5).collect()
    }
    assert a == b and a


def test_bpe_apply_with_no_merges_yields_characters(spark):
    """Applying an empty merge list is character-level tokenization — the
    degenerate-but-legal base case of the BPE lifecycle."""
    from syscol_spark.operators.bpe import apply_bpe_merges

    df = spark.createDataFrame([("ab c",)], "text string")
    out = apply_bpe_merges(df, "text", []).select("bpe_syms").collect()[0]["bpe_syms"]
    assert out == ["a", "b", "c"]


def test_ivfpq_residual_stats_detects_drift(spark, sf_dir):
    """The staleness monitor must read higher on a drifted shard than on
    the build distribution: residual norms against the frozen coarse
    centroids rise when appended vectors no longer come from the trained
    distribution — the retrain trigger ivfpq_append documents."""
    from syscol_spark.operators.similarity import build_ivfpq_index, ivfpq_residual_stats

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    _codes, meta = build_ivfpq_index(
        emb, dim=64, n_lists=8, coarse_iter=2, coarse_stride=4,
        n_subspaces=8, pq_centroids=16, pq_iter=1, pq_stride=4,
    )
    base = ivfpq_residual_stats(emb, meta).collect()
    assert base and sum(r["n_vectors"] for r in base) == emb.count()
    base_mean = sum(r["mean_residual"] * r["n_vectors"] for r in base) / sum(
        r["n_vectors"] for r in base
    )

    # drifted shard: shift every coordinate by a constant offset
    drifted = emb.select(
        "vec_id", F.transform("embedding", lambda x: x + F.lit(2.0)).alias("embedding")
    )
    moved = ivfpq_residual_stats(drifted, meta).collect()
    moved_mean = sum(r["mean_residual"] * r["n_vectors"] for r in moved) / sum(
        r["n_vectors"] for r in moved
    )
    assert moved_mean > base_mean * 2, (base_mean, moved_mean)


def test_winnow_dedup_delta_matches_full_rebuild(spark, sf_dir):
    """The delta pair set must equal the full batch winnowing rebuild
    restricted to pairs touching the new shard (normalized to unordered
    pairs) — same contract as the MinHash and semantic delta twins."""
    from syscol_spark.operators.dedup import (
        winnow_dedup_delta,
        winnow_fingerprints,
        winnow_fp_table,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    full = winnow_fingerprints(
        docs, "text", "doc_id", k=4, window=5, max_doc_freq=50, min_shared=2
    ).collect()
    expected = {
        (min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]), r["shared_fp"])
        for r in full
        if r["id_a"] % 5 == 0 or r["id_b"] % 5 == 0
    }
    fps = winnow_fp_table(docs, "text", "doc_id", k=4, window=5).localCheckpoint()
    got_rows = winnow_dedup_delta(
        fps.filter(F.col("doc_id") % 5 == 0),
        fps.filter(F.col("doc_id") % 5 != 0),
        max_doc_freq=50,
        min_shared=2,
    ).collect()
    got = {
        (min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]), r["shared_fp"])
        for r in got_rows
    }
    assert got == expected and expected


def _rowset(df):
    return sorted(tuple(r) for r in df.collect())


def test_salted_join_matches_plain_inner(spark):
    from syscol_spark.operators.joins import salted_join

    fact = spark.createDataFrame(
        [(k, i) for i, k in enumerate((1, 1, 1, 1, 1, 2, 2, 3))]
        + [(9, 99)],  # key with no dim match: dropped by inner join
        ["k", "v"],
    )
    dim = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c"), (4, "d")], ["k", "name"])
    plain = fact.join(dim, "k", "inner")
    salted = salted_join(fact, dim, on="k", n_salts=4, hot_top_k=2)
    assert salted.columns == plain.columns
    assert _rowset(salted) == _rowset(plain)


def test_salted_join_matches_plain_left(spark):
    from syscol_spark.operators.joins import salted_join

    fact = spark.createDataFrame([(1, 10), (1, 11), (2, 20), (9, 90)], ["k", "v"])
    dim = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "name"])
    plain = fact.join(dim, "k", "left")
    salted = salted_join(fact, dim, on="k", n_salts=3, hot_top_k=1, how="left")
    assert _rowset(salted) == _rowset(plain)


def test_salted_join_preserves_duplicate_rows(spark):
    # identical fact rows must each survive (same salt, but two output rows)
    from syscol_spark.operators.joins import salted_join

    fact = spark.createDataFrame([(1, 10), (1, 10), (1, 10)], ["k", "v"])
    dim = spark.createDataFrame([(1, "a")], ["k", "name"])
    out = salted_join(fact, dim, on="k", n_salts=4, hot_top_k=1)
    assert out.count() == 3


def test_salted_join_explicit_hot_keys_and_salt_spread(spark):
    # with an explicit hot-key list, the hot key's fact rows must actually
    # spread over >1 salt (the whole point) while output equals plain join
    import pyspark.sql.functions as F

    from syscol_spark.operators.joins import salted_join

    fact = spark.createDataFrame([(1, i) for i in range(200)] + [(2, 0)], ["k", "v"])
    dim = spark.createDataFrame([(1, "hot"), (2, "cold")], ["k", "name"])
    hot = spark.createDataFrame([(1,)], ["k"])
    out = salted_join(fact, dim, on="k", n_salts=8, hot_keys=hot)
    assert _rowset(out) == _rowset(fact.join(dim, "k"))
    # replicate the operator's deterministic salt formula to check spread
    n_salts_used = (
        fact.filter(F.col("k") == 1)
        .select(F.pmod(F.xxhash64("k", "v"), F.lit(8)).alias("s"))
        .distinct()
        .count()
    )
    assert n_salts_used >= 4  # 200 rows over 8 salts: all 8 w.h.p., >=4 certainly


def test_salted_join_duplicate_hot_keys_rows(spark):
    # caller-supplied hot_keys with DUPLICATE key rows must not multiply
    # fact rows (the operator dedups the hot list before the marker join)
    from syscol_spark.operators.joins import salted_join

    fact = spark.createDataFrame([(1, i) for i in range(50)] + [(2, 0)], ["k", "v"])
    dim = spark.createDataFrame([(1, "hot"), (2, "cold")], ["k", "name"])
    hot_dup = spark.createDataFrame([(1,), (1,), (1,)], ["k"])
    out = salted_join(fact, dim, on="k", n_salts=4, hot_keys=hot_dup)
    assert _rowset(out) == _rowset(fact.join(dim, "k"))


def test_salted_join_rejects_dim_preserving_and_reserved(spark):
    import pytest

    from syscol_spark.operators.joins import salted_join

    fact = spark.createDataFrame([(1, 10)], ["k", "v"])
    dim = spark.createDataFrame([(1, "a")], ["k", "name"])
    with pytest.raises(ValueError, match="fact-preserving"):
        salted_join(fact, dim, on="k", how="full")
    with pytest.raises(ValueError, match="n_salts"):
        salted_join(fact, dim, on="k", n_salts=1)
    with pytest.raises(ValueError, match="reserved"):
        salted_join(fact.withColumn("__salt", F.lit(0)), dim, on="k")


def test_knn_graph_auto_band_bits(spark, monkeypatch):
    """band_bits='auto' must keep expected bucket occupancy near
    target_bucket: the derived width is the historical pinned 4 for every
    oracle-scale corpus (<= 2000 vectors at target 125) and grows with
    log2(n) beyond — the fix for the fixed-width saturation the sf1 probe
    caught (candidates ~ n^2/2^band_bits with a fixed width)."""
    import math

    # mirror the operator's formula over the corpus sizes that matter
    derive = lambda n: max(4, math.ceil(math.log2(max(1, n) / 125)))  # noqa: E731
    assert derive(500) == 4      # sf0.001 / sf0.01
    assert derive(2000) == 4     # sf0.1 — oracle scales all pin to 4
    assert derive(20_000) == 8   # sf1: 256 buckets/band, ~78 vecs/bucket
    assert derive(2_000_000) == 14

    # end-to-end: auto and the pinned width agree exactly at oracle scale,
    # in the driver-local twin and in the distributed one
    from syscol_spark.operators import route
    from syscol_spark.operators.similarity import knn_graph

    rows = [(i, [float((i * 7 + j * 13) % 11 - 5) for j in range(8)]) for i in range(60)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for bound in (route.BOUNDS["pair_scorer"], -1):
        monkeypatch.setitem(route.BOUNDS, "pair_scorer", bound)
        fixed = knn_graph(corpus, k=2, dim=8, n_bands=4, band_bits=4)
        auto = knn_graph(corpus, k=2, dim=8, n_bands=4, band_bits="auto")
        assert sorted(map(tuple, auto.collect())) == sorted(map(tuple, fixed.collect()))


def test_salted_join_randomized_equivalence(spark):
    """Fuzz the by-construction equivalence: for random fact/dim shapes,
    skew profiles, salt counts, hot-key sources (derived and explicit) and
    both supported join types, salted_join must produce exactly the plain
    join's multiset of rows."""
    import random

    from syscol_spark.operators.joins import salted_join

    rng = random.Random(20260815)
    for trial in range(6):
        n_keys = rng.randint(2, 10)
        # skewed multiplicities: one hot key with many rows, others few
        hot_key = rng.randrange(n_keys)
        fact_rows = []
        rid = 0
        for k in range(n_keys):
            reps = rng.randint(20, 60) if k == hot_key else rng.randint(0, 4)
            for _ in range(reps):
                fact_rows.append((k, rid, rng.randint(-5, 5)))
                rid += 1
        # some dim keys missing (exercises inner-drop / left-null paths),
        # and dim may be empty-ish
        dim_rows = [
            (k, f"d{k}") for k in range(n_keys) if rng.random() < 0.8
        ]
        fact = spark.createDataFrame(fact_rows, "k long, rid long, v long")
        dim = spark.createDataFrame(dim_rows or [(n_keys + 1, "dx")], "k long, name string")
        how = rng.choice(["inner", "left"])
        n_salts = rng.choice([2, 3, 8])
        explicit = rng.random() < 0.5
        kwargs = {"n_salts": n_salts, "how": how}
        if explicit:
            kwargs["hot_keys"] = spark.createDataFrame([(hot_key,)], "k long")
        else:
            kwargs["hot_top_k"] = rng.randint(1, 3)
        got = sorted(tuple(r) for r in salted_join(fact, dim, on="k", **kwargs).collect())
        want = sorted(tuple(r) for r in fact.join(dim, "k", how).collect())
        assert got == want, (trial, how, n_salts, explicit)


def test_srp_bucket_cap_inert_when_buckets_small(spark):
    """bucket_cap larger than every bucket must be a no-op: the capped plan
    and the uncapped plan produce the identical candidate-pair set (this is
    the property that keeps every proven parity scale through sf1
    bit-identical — the default cap of 2048 exceeds sf1's max measured
    bucket of 1431)."""
    from syscol_spark.operators.similarity import _srp_candidate_pairs

    rows = [(i, [float((i * 7 + j * 13) % 11 - 5) for j in range(8)]) for i in range(80)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>").withColumn(
        "__blk", F.lit(1)
    )
    kw = dict(vec_col="embedding", id_col="vec_id", block_col="__blk",
              dim=8, n_bands=4, band_bits=2, seed=42)
    uncapped = _srp_candidate_pairs(corpus, **kw)
    capped = _srp_candidate_pairs(corpus, **kw, bucket_cap=10_000, cap_window=4)
    assert _rowset(capped) == _rowset(uncapped)


def test_srp_bucket_cap_windows_oversized_buckets(spark):
    """A cluster of IDENTICAL vectors lands in ONE bucket per band; both
    projection orders tie, so the id tiebreak makes each order degenerate
    to id order and each member must pair with exactly its cap_window
    forward id-neighbors (both windows coincide). This pins the tie/window
    arithmetic and the linear-in-B pair count; the non-degenerate rank
    semantics (distinct projections, two genuinely different orders) are
    pinned against the DuckDB oracle branch in
    test_srp_bucket_cap_dual_projection_vs_oracle."""
    from syscol_spark.operators.similarity import _srp_candidate_pairs

    n, w = 60, 4
    rows = [(i, [1.0, -2.0, 3.0, 0.5, -1.0, 2.0, -0.5, 1.5]) for i in range(n)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>").withColumn(
        "__blk", F.lit(1)
    )
    pairs = _srp_candidate_pairs(
        corpus, vec_col="embedding", id_col="vec_id", block_col="__blk",
        dim=8, n_bands=4, band_bits=2, seed=42, bucket_cap=8, cap_window=w,
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    want = {(i, j) for i in range(n) for j in range(i + 1, min(i + w, n - 1) + 1)}
    assert got == want


def test_srp_bucket_cap_dual_projection_vs_oracle(spark):
    """Non-degenerate proof of the capped branch's DUAL-PROJECTION window
    rule: 60 DISTINCT vectors engineered into one oversized bucket per band
    (shared sign pattern, but distinct plane-0/plane-1 dots whose two rank
    orders genuinely differ), bucket_cap=8, cap_window=5. The engine's
    capped pair set must equal the SQL oracle's bsz>cap leg
    (plans/northstar.py `sized`/`cand` CTEs: ROW_NUMBER per projection
    order with id tiebreak, forward window per order, least/greatest
    normalization) executed in DuckDB over the same quantized dots — a
    change to EITHER side's window rule alone fails this."""
    import duckdb
    import numpy as np

    from syscol_spark.operators.similarity import (
        _srp_candidate_pairs,
        rademacher_signs,
    )

    dim, n, cap, w = 16, 60, 8, 5
    # base vector chosen (seed-searched offline) for min |<u, plane_p>| =
    # 21.1 across the 8 banded planes; per-component perturbations of
    # <= 0.1 move any plane dot by <= 0.73, so every vector keeps u's sign
    # pattern -> one 60-member bucket per band, while the dots stay distinct
    u = np.array([
        -6.7812, -0.4841, -1.968, -1.2858, -5.2025, 5.3919, -5.9554,
        -9.2271, 4.0023, 4.85, -5.2248, -6.5319, 1.6106, 8.3926, -4.9203,
        0.8001,
    ])
    deltas = np.random.RandomState(11).uniform(-0.1, 0.1, (n, dim))
    mat = u[None, :] + deltas
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    ).withColumn("__blk", F.lit(1))

    # fixture sanity — the properties that make this non-degenerate
    planes = np.array([rademacher_signs(dim, p) for p in range(8)])
    dots = mat @ planes.T
    assert (np.sign(dots) == np.sign(dots[0])).all(), "bucket split"
    pj, pj2 = np.round(dots[:, 0], 6), np.round(dots[:, 1], 6)
    assert len(set(pj)) == n and len(set(pj2)) == n, "tied projections"
    assert (np.argsort(pj) != np.argsort(pj2)).any(), "orders identical"

    pairs = _srp_candidate_pairs(
        corpus, vec_col="embedding", id_col="vec_id", block_col="__blk",
        dim=dim, n_bands=4, band_bits=2, seed=42, bucket_cap=cap, cap_window=w,
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE postings(id BIGINT, pj DOUBLE, pj2 DOUBLE)")
    con.executemany(
        "INSERT INTO postings VALUES (?, ?, ?)",
        [(i, float(pj[i]), float(pj2[i])) for i in range(n)],
    )
    want = set(
        con.sql(
            f"""
            WITH sized AS (
              SELECT id,
                     ROW_NUMBER() OVER (ORDER BY pj, id) AS rna,
                     ROW_NUMBER() OVER (ORDER BY pj2, id) AS rnb
              FROM postings)
            SELECT DISTINCT least(a.id, b.id) AS id_a,
                   greatest(a.id, b.id) AS id_b
            FROM sized a JOIN sized b
              ON (b.rna - a.rna BETWEEN 1 AND {w}
                  OR b.rnb - a.rnb BETWEEN 1 AND {w})
            """
        ).fetchall()
    )
    assert got == want
    # and the two orders really contributed differently: the union is
    # strictly larger than either single window alone would be (5 forward
    # neighbors x 60 members caps each single order at 275 distinct pairs)
    assert len(got) > 275


def test_srp_bucket_cap_requires_two_planes(spark):
    """bucket_cap with band_bits=1 must be rejected: plane sum #2 would be
    band-1/plane-0 in the engine but band-0/j-1 (NULL) in the SQL oracle."""
    import pytest

    from syscol_spark.operators.similarity import _srp_candidate_pairs

    corpus = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [2.0, 1.0])], "vec_id long, embedding array<double>"
    ).withColumn("__blk", F.lit(1))
    with pytest.raises(ValueError, match="band_bits >= 2"):
        _srp_candidate_pairs(
            corpus, vec_col="embedding", id_col="vec_id", block_col="__blk",
            dim=2, n_bands=2, band_bits=1, seed=42, bucket_cap=4,
        )


@pytest.mark.parametrize("trial", range(4))
def test_srp_candidate_kernel_placements_agree(spark, trial):
    """The one candidate kernel in its two placements emits the same pair
    set: the driver's (once per band over a block's id-sorted rows, as
    _knn_graph_local runs it) and _srp_candidate_pairs' (once per
    (block, band, key) group on the executors). Random small-integer
    vectors drawn from a few prototypes give tied keys and tied
    projections; ids are shuffled, rows fall into several blocks, and a
    small cap sends some buckets to the windows (trial 0 runs uncapped)."""
    import numpy as np

    from syscol_spark.operators.similarity import (
        _band_keys_local,
        _srp_bucket_pairs,
        _srp_candidate_pairs,
        _srp_projections,
    )

    rng = np.random.default_rng(20261021 + trial)
    n, dim, n_bands, band_bits = int(rng.integers(40, 90)), 8, 3, 2
    protos = rng.integers(-2, 3, (n // 5, dim))
    mat = (protos[rng.integers(0, len(protos), n)] + rng.integers(-1, 2, (n, dim)) * (rng.random((n, 1)) < 0.5)).astype(float)
    blocks = rng.integers(0, 3, n)
    ids = rng.permutation(10 * n)[:n]
    cap = None if trial == 0 else int(rng.integers(2, 6))
    window = int(rng.integers(1, 4))

    keys = _band_keys_local(mat, dim, n_bands, band_bits, 42)
    proj = _srp_projections(mat, dim, 42)
    want, largest = set(), 0
    for blk in np.unique(blocks):
        rows = np.flatnonzero(blocks == blk)
        rows = rows[np.argsort(ids[rows])]
        for band in range(n_bands):
            largest = max(largest, int(np.unique(keys[rows, band], return_counts=True)[1].max()))
            a, b = np.divmod(_srp_bucket_pairs(keys[rows, band], proj[rows], cap, window), len(rows))
            want |= set(zip(ids[rows[a]].tolist(), ids[rows[b]].tolist()))
    assert cap is None or largest > cap, "no bucket over the cap"
    assert all(x < y for x, y in want)

    corpus = spark.createDataFrame(
        [(int(i), int(k), v.tolist()) for i, k, v in zip(ids, blocks, mat)],
        "vec_id long, blk long, embedding array<float>",
    )
    pairs = _srp_candidate_pairs(
        corpus, vec_col="embedding", id_col="vec_id", block_col="blk", dim=dim,
        n_bands=n_bands, band_bits=band_bits, seed=42, bucket_cap=cap, cap_window=window,
    )
    assert _rowset(pairs) == sorted(want)


def test_knn_graph_local_matches_pairwise_loop(spark):
    """The driver-local k-NN graph against a pairwise Python loop over the
    same band keys: every pair i < j sharing a key in some band, each
    src's top k by (cosine desc with a zero vector's NULL last, nbr asc).
    Small-integer vectors keep every dot product exact, so the loop's
    cosines equal the kernel's."""
    import itertools
    import math

    import numpy as np

    from syscol_spark.functions.rounding import round6_like_spark
    from syscol_spark.operators.similarity import _band_keys_local, knn_graph

    rng = np.random.default_rng(7)
    for n in (1, 2, 17, 40, 64):
        mat = rng.integers(-3, 4, (n, 8)).astype(float)
        mat[n // 2] = 0.0
        ids = [f"d{(i * 37) % 101:03d}" for i in range(n)]
        corpus = spark.createDataFrame(
            [(d, v.tolist()) for d, v in zip(ids, mat)], "vec_id string, embedding array<float>"
        )
        got = sorted(map(tuple, knn_graph(corpus, k=2, dim=8, n_bands=3, band_bits=2).collect()), key=repr)

        keys = _band_keys_local(mat, 8, 3, 2, 42)
        lists: dict = {}
        for i, j in itertools.combinations(range(n), 2):
            if (keys[i] == keys[j]).any():
                norm = math.sqrt(mat[i] @ mat[i]) * math.sqrt(mat[j] @ mat[j])
                c = round6_like_spark(float(mat[i] @ mat[j]) / norm) if norm else None
                lists.setdefault(ids[i], []).append((ids[j], c))
                lists.setdefault(ids[j], []).append((ids[i], c))
        want = []
        for src, nbrs in lists.items():
            nbrs.sort(key=lambda x: (x[1] is None, -(x[1] or 0.0), x[0]))
            want += [(src, nbr, c, rk) for rk, (nbr, c) in enumerate(nbrs[:2], 1)]
        assert got == sorted(want, key=repr), n


def test_knn_graph_capped_equals_uncapped_at_small_scale(spark, monkeypatch):
    """End-to-end: the default cap must leave a small corpus's k-NN graph
    identical to an effectively-uncapped build, in the driver-local twin
    and in the distributed one."""
    from syscol_spark.operators import route
    from syscol_spark.operators.similarity import knn_graph

    rows = [(i, [float((i * 5 + j * 17) % 13 - 6) for j in range(8)]) for i in range(70)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for bound in (route.BOUNDS["pair_scorer"], -1):
        monkeypatch.setitem(route.BOUNDS, "pair_scorer", bound)
        default_cap = knn_graph(corpus, k=2, dim=8, n_bands=4, band_bits=4)
        huge_cap = knn_graph(corpus, k=2, dim=8, n_bands=4, band_bits=4, bucket_cap=10**9)
        assert sorted(map(tuple, default_cap.collect())) == sorted(map(tuple, huge_cap.collect()))
