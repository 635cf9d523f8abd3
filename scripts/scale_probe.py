"""Scaling probe: measure the near-dup pipeline's growth curve directly.

Round 1's weakness was quadratic all-pairs candidate generation; round 2
rewired candidates through LSH indexes. This probe documents the fix with
numbers: it inflates the documents corpus by K x (fresh doc_ids, sf0.1
text reused), runs the MinHash-LSH candidate + exact-Jaccard-verify
pipeline, and prints wall time per scale. Near-linear growth = index-driven;
quadratic would grow 16x volume -> 256x time.

Usage: python scripts/scale_probe.py [sf_dir]
"""

from __future__ import annotations

import sys
import time

import pyspark.sql.functions as F

sys.path.insert(0, "/root/repo")

from syscol_spark.operators.dedup import minhash_lsh_candidates, minhash_signatures  # noqa: E402
from syscol_spark.session import get_session  # noqa: E402


def inflate(docs, k: int):
    """k copies with distinct doc_ids AND copy-suffixed tokens: every word
    gets a copy-specific suffix — a BIJECTION on the token vocabulary, so
    each copy's shingle/similarity structure is exactly isomorphic to the
    original while cross-copy shingle overlap is zero. Near-dup density per
    doc therefore stays constant as volume grows, like a real corpus."""
    n = 1_000_000_000
    salted = F.regexp_replace(
        F.col("text"), r"(\S+)", F.concat(F.lit("$1x"), F.col("__copy").cast("string"))
    )
    return (
        docs.select(
            F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("__copy"), "doc_id", "text", "lang"
        )
        .select(
            (F.col("doc_id") + F.col("__copy").cast("long") * F.lit(n).cast("long")).alias("doc_id"),
            salted.alias("text"),
            "lang",
        )
        .repartition(32)
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_session("scale-probe")
    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base.count()  # warm

    for k in (1, 4, 16):
        corpus = inflate(base, k)
        t0 = time.time()
        sigs = minhash_signatures(corpus, content_col="text", id_col="doc_id")
        cands = minhash_lsh_candidates(sigs)
        n_cand = cands.count()
        dt = time.time() - t0
        n_docs = k * base.count()
        print(f"scale {k:>2}x  docs={n_docs:>6}  lsh_candidates={n_cand:>8}  wall={dt:6.2f}s")

    # Ed-Join probe: the copy-suffix inflation is adversarial here — copies
    # share every mid-word q-gram, and only the frequency-ordered prefix
    # (those shared grams become common, so they leave the prefixes) keeps
    # candidate growth linear.
    from syscol_spark.operators.fuzzy import edit_distance_pairs

    for k in (1, 4, 16):
        heads = inflate(base, k).select(
            "doc_id", F.substring(F.trim(F.col("text")), 1, 128).alias("head")
        )
        t0 = time.time()
        n_pairs = edit_distance_pairs(heads, "head", "doc_id", max_dist=4, q=6).count()
        dt = time.time() - t0
        print(f"edjoin {k:>2}x  docs={k * base.count():>6}  pairs={n_pairs:>8}  wall={dt:6.2f}s")

    # PPJoin exact-Jaccard probe: same token-bijection inflation — the
    # copy-suffixed vocabulary keeps prefix-token selectivity realistic
    # (unlike Ed-Join's q-grams, word shingles stay distinct across copies),
    # so this measures the prefix-filter index at constant dup density.
    from syscol_spark.operators.dedup import ngram_jaccard_pairs

    for k in (1, 4, 16):
        corpus = inflate(base, k)
        t0 = time.time()
        n_pairs = ngram_jaccard_pairs(
            corpus, "text", "doc_id", "lang", shingle_n=3, min_jaccard=0.2
        ).count()
        dt = time.time() - t0
        print(f"ppjoin {k:>2}x  docs={k * base.count():>6}  pairs={n_pairs:>8}  wall={dt:6.2f}s")

    # Substring-span dedup probe: the token bijection keeps every copy's
    # internal dup structure identical while cross-copy 8-gram overlap is
    # zero, so the true per-doc output is constant as volume grows — the
    # measured wall curve is the cost of the (hash, id) explode + groupBy,
    # which is the linear path a suffix-array replacement must beat.
    from syscol_spark.operators.dedup import duplicated_span_stats

    for k in (1, 4, 16):
        corpus = inflate(base, k)
        t0 = time.time()
        n_docs_dup = duplicated_span_stats(corpus, "text", "doc_id", n=8).count()
        dt = time.time() - t0
        print(f"spans  {k:>2}x  docs={k * base.count():>6}  dup_docs={n_docs_dup:>8}  wall={dt:6.2f}s")

    # SemDeDup probe (uses the embedding inflation defined below): k-means
    # cluster count scales WITH the corpus so per-cluster size stays
    # constant — the SemDeDup design contract — making the intra-cluster
    # quadratic term per-cluster-bounded at any corpus size.
    from syscol_spark.operators.similarity import semantic_dedup

    # Embedding near-dup probe: inflate the embeddings corpus by flipping
    # each copy's coordinates with a copy-specific ±1 Rademacher diagonal —
    # an orthogonal transform, so intra-copy cosine structure is EXACTLY
    # preserved. Cross-copy cosines are sign-scrambled sums; on these
    # label-clustered synthetics a real fraction still lands above the low
    # 0.35 threshold, so the OUTPUT grows superlinearly by construction of
    # the fixture — which makes the probe conservative: the measured wall
    # growth bounds (index cost + true-output cost) together. All-pairs
    # candidate generation would grow K^2 regardless of output size.
    from syscol_spark.operators.similarity import rademacher_signs, srp_band_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    emb.count()  # warm
    dim = 64
    for k in (1, 4, 16):
        nbig = 1_000_000_000
        signs_by_copy = F.array(*[
            F.array(*[F.lit(s) for s in (
                [1.0] * dim if c == 0 else rademacher_signs(dim, c, seed=777)
            )])
            for c in range(k)
        ])
        flipped = F.zip_with(
            F.col("embedding"),
            F.element_at(signs_by_copy, F.col("__copy") + 1),
            lambda x, s: x.cast("double") * s,
        )
        corpus = (
            emb.select(
                F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("__copy"),
                "vec_id", "embedding", "label",
            )
            .select(
                (F.col("vec_id") + F.col("__copy").cast("long") * F.lit(nbig).cast("long")).alias("vec_id"),
                flipped.alias("embedding"),
                "label",
            )
            .repartition(32)
        )
        t0 = time.time()
        n_pairs = srp_band_pairs(
            corpus, vec_col="embedding", id_col="vec_id", block_col="label",
            min_cosine=0.35, dim=dim, n_bands=8, band_bits=4,
        ).count()
        dt = time.time() - t0
        print(f"embed  {k:>2}x  vecs={k * emb.count():>6}  pairs={n_pairs:>8}  wall={dt:6.2f}s")

        # SemDeDup on the same inflated corpus, cluster count scaled with k
        # so per-cluster size (and thus the per-cluster quadratic term)
        # stays constant
        t0 = time.time()
        dropped = (
            semantic_dedup(
                corpus.select("vec_id", "embedding"),
                n_clusters=16 * k, min_cosine=0.35, max_iter=3, train_stride=4,
            )
            .filter(~F.col("keep"))
            .count()
        )
        dt = time.time() - t0
        print(f"semded {k:>2}x  vecs={k * emb.count():>6}  dropped={dropped:>7}  wall={dt:6.2f}s")

        # Incremental SemDeDup probe: the index-time artifacts (quantizer +
        # cluster-state table) are built OUTSIDE the timed window, as in
        # production where they are persisted lake assets — the timed cost
        # is what ONE fixed-size ingest batch pays against a K-times-larger
        # corpus. Flat wall across K = O(new_batch · cluster_occupancy),
        # the incremental contract (occupancy held constant by scaling the
        # cluster count with the corpus).
        from syscol_spark.operators.similarity import (
            _assign_nearest,
            kmeans_centroids,
            semantic_dedup_delta,
        )

        cents = kmeans_centroids(
            corpus.select("vec_id", "embedding"), vec_col="embedding", id_col="vec_id",
            k=16 * k, max_iter=3, train_stride=4,
        )
        state = (
            _assign_nearest(corpus.select("vec_id", "embedding"), "embedding", cents)
            .select("vec_id", "embedding", F.col("__cluster").alias("cluster"))
            .localCheckpoint()
        )
        signs_new = F.array(*[F.lit(s) for s in rademacher_signs(dim, 63, seed=777)])
        new_shard = emb.select(
            (F.col("vec_id") + F.lit(64 * nbig).cast("long")).alias("vec_id"),
            F.zip_with(
                F.col("embedding"), signs_new, lambda x, s: x.cast("double") * s
            ).alias("embedding"),
        )
        t0 = time.time()
        n_new_drop = (
            semantic_dedup_delta(new_shard, state, cents, min_cosine=0.35)
            .filter(~F.col("keep"))
            .count()
        )
        dt = time.time() - t0
        print(
            f"semdelta {k:>2}x  corpus={k * emb.count():>6}  batch={emb.count():>6}  "
            f"dropped={n_new_drop:>6}  wall={dt:6.2f}s"
        )


    # Containment probe: same token-bijection inflation — cross-copy overlap
    # is zero, so true containment pairs stay per-copy and output grows
    # linearly; the one-sided prefix filter's cost is the A-prefix x B-full
    # posting join, the term that would blow up if the filter leaked.
    from syscol_spark.operators.dedup import containment_pairs

    for k in (1, 4, 16):
        corpus = inflate(base, k)
        t0 = time.time()
        n_pairs = containment_pairs(
            corpus, "text", "doc_id", "lang", min_containment=0.6
        ).count()
        dt = time.time() - t0
        print(f"contain {k:>2}x  docs={k * base.count():>6}  pairs={n_pairs:>8}  wall={dt:6.2f}s")

    # Winnowing probe: the token bijection makes every copy's gram hashes
    # distinct from every other copy's, so selected fingerprints never
    # collide cross-copy and true pair output stays per-copy (linear). The
    # measured curve is the fingerprint explode + doc-freq filter +
    # equi-join — the max_doc_freq cap is what keeps hot fingerprints from
    # turning the self-join quadratic.
    from syscol_spark.operators.dedup import winnow_fingerprints

    for k in (1, 4, 16):
        corpus = inflate(base, k)
        t0 = time.time()
        n_pairs = winnow_fingerprints(
            corpus, "text", "doc_id", k=4, window=5, max_doc_freq=50, min_shared=2
        ).count()
        dt = time.time() - t0
        print(f"winnow {k:>2}x  docs={k * base.count():>6}  pairs={n_pairs:>8}  wall={dt:6.2f}s")

    # CDC chunking probe: explode + per-doc window + reassembly groupBy is
    # linear in total tokens by construction; the probe pins that down (the
    # trap to catch would be the window shuffle degrading under doc-count
    # growth). Copy-suffixed tokens hash differently per copy, so chunk
    # boundaries differ across copies and chunk-dedup output stays
    # per-copy, like a real corpus.
    from syscol_spark.operators.dedup import cdc_chunks

    for k in (1, 4, 16):
        corpus = inflate(base, k)
        t0 = time.time()
        n_chunks = cdc_chunks(corpus, "text", "doc_id", mod=16).count()
        dt = time.time() - t0
        print(f"cdc    {k:>2}x  docs={k * base.count():>6}  chunks={n_chunks:>8}  wall={dt:6.2f}s")

    # BPE induction probe: the copy-suffix bijection inflates the VOCABULARY
    # k x (the dimension that matters — every post-shuffle step of the
    # trainer works on the word-freq table, never the corpus), so this
    # measures merge-step cost against vocab growth. 8 merges, as in the
    # catalog query.
    from syscol_spark.operators.bpe import learn_bpe_merges

    for k in (1, 4, 16):
        corpus = inflate(base, k)
        t0 = time.time()
        n_merges = learn_bpe_merges(corpus, "text", n_merges=8).count()
        dt = time.time() - t0
        print(f"bpe    {k:>2}x  docs={k * base.count():>6}  merges={n_merges:>8}  wall={dt:6.2f}s")

    # ADC probe: the axis that grows in production SERVING is the
    # QUERY set (reindex scoring, batch dedup sweeps), so inflate queries
    # 1x/4x/16x against a fixed corpus — the join-based scorer should be
    # ~linear in query count (candidate volume is |corpus| * |queries| in
    # the compressed domain, distributed; no driver tables, no cap).
    from syscol_spark.operators.similarity import pq_adc_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    emb_corpus = emb.filter(F.col("vec_id") < 1000).localCheckpoint()
    for k in (1, 4, 16):
        queries = emb_corpus.select(
            F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("__c"),
            "vec_id",
            "embedding",
        ).select(
            (F.col("vec_id") + (F.col("__c") + 1) * 1_000_000).alias("vec_id"),
            "embedding",
        )
        t0 = time.time()
        n = pq_adc_topk(
            emb_corpus, queries, dim=64, n_subspaces=8, n_centroids=16,
            max_iter=2, train_stride=4, k=5,
        ).count()
        dt = time.time() - t0
        print(f"adcblk {k:>2}x  queries={k * 1000:>6}  topk_rows={n:>8}  wall={dt:6.2f}s")

    # Retrieval-index probes. (a) inverted-index build: the copy-suffix
    # bijection inflates VOCABULARY and postings k x together — the build is
    # one exploded groupBy(term) with map-side partial aggregation, so wall
    # must track postings (linear), never vocab-squared. (b) k-term phrase
    # search: PLAIN copy inflation (text unchanged — phrase matching needs
    # the original tokens), so the phrase terms' postings and the true
    # occurrence count both grow exactly k x; the kernel is one selective
    # posting filter + one groupBy(doc, start), so wall is dominated by the
    # (linear) corpus scan, not by phrase length or candidate pairing.
    from syscol_spark.plans.retrieval import phrase_occurrences

    def postings_of(corpus):
        return corpus.select(
            "doc_id",
            F.posexplode(F.split(F.trim("text"), r"\s+")).alias("pos", "term"),
        )

    for k in (1, 4, 16):
        corpus = inflate(base, k)
        t0 = time.time()
        n_terms = (
            postings_of(corpus)
            .groupBy("term")
            .agg(
                F.countDistinct("doc_id").alias("df"),
                F.count(F.lit(1)).alias("tf_total"),
                F.min("doc_id").alias("first_doc"),
                F.sum("pos").alias("pos_checksum"),
            )
            .count()
        )
        dt = time.time() - t0
        print(f"invidx {k:>2}x  docs={k * base.count():>6}  terms={n_terms:>8}  wall={dt:6.2f}s")

    def inflate_plain(docs, k: int):
        n = 1_000_000_000
        return (
            docs.select(
                F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("__copy"),
                "doc_id",
                "text",
            )
            .select(
                (F.col("doc_id") + F.col("__copy").cast("long") * F.lit(n).cast("long")).alias(
                    "doc_id"
                ),
                "text",
            )
            .repartition(32)
        )

    for k in (1, 4, 16):
        corpus = inflate_plain(base, k)
        t0 = time.time()
        n_occ = phrase_occurrences(postings_of(corpus), ("part", "the", "the")).count()
        dt = time.time() - t0
        print(f"phrase {k:>2}x  docs={k * base.count():>6}  occur={n_occ:>8}  wall={dt:6.2f}s")

    # Sketch-tier probes (round 9). (a) count-min build: events inflated by
    # fresh event_ids and copy-shifted user_ids (key count grows with
    # volume); the cell table must stay depth×width rows at every K and the
    # wall must track the (linear) scan — the bounded-state claim. (b) bloom
    # prefilter: orders/customer inflated with copy-shifted keys; the bit
    # table must stay ≤ m rows at every K while definite-reject coverage
    # holds — the capped-broadcast claim.
    from syscol_spark.operators.sampling import hash_bucket

    events = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id", "user_id")
    events.count()  # warm
    for k in (1, 4, 16):
        nbig = 1_000_000_000
        ev = (
            events.select(
                F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("__copy"),
                "event_id", "user_id",
            )
            .select(
                (F.col("event_id") + F.col("__copy").cast("long") * nbig).alias("event_id"),
                (F.col("user_id") + F.col("__copy").cast("long") * nbig).alias("user_id"),
            )
            .repartition(32)
        )
        t0 = time.time()
        cells = (
            ev.select(
                F.explode(
                    F.array(*[
                        F.struct(
                            F.lit(d).alias("depth"),
                            hash_bucket("user_id", seed, 256).alias("bucket"),
                        )
                        for d, seed in enumerate((11, 13, 17))
                    ])
                ).alias("c")
            )
            .select("c.depth", "c.bucket")
            .groupBy("depth", "bucket")
            .count()
        )
        n_cells = cells.count()
        dt = time.time() - t0
        print(f"cms    {k:>2}x  events={k * events.count():>7}  cells={n_cells:>5}  wall={dt:6.2f}s")

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey", "o_custkey")
    orders.count()  # warm
    for k in (1, 4, 16):
        nbig = 1_000_000_000
        ok = (
            orders.select(
                F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("__copy"), "o_custkey"
            )
            .select(
                (F.col("o_custkey") + F.col("__copy").cast("long") * nbig).alias("o_custkey")
            )
            .repartition(32)
        )
        t0 = time.time()
        bits = (
            ok.select(
                F.explode(
                    F.array(*[hash_bucket("o_custkey", seed, 8192) for seed in (101, 103)])
                ).alias("pos")
            )
            .distinct()
        )
        n_bits = bits.count()
        dt = time.time() - t0
        print(f"bloom  {k:>2}x  orders={k * orders.count():>7}  bits={n_bits:>5}  wall={dt:6.2f}s")


if __name__ == "__main__":
    main()
