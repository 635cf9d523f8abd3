"""Deduplication operator family (north-star: training-data pipeline).

Five strategies, all shuffle-based and cluster-scalable:

- exact_dedup:        md5(content) groupBy — one shuffle on a 128-bit key.
- minhash_signatures / minhash_lsh_candidates: MinHash + banded LSH.
  Signature = per-seed min over a universal-hash family derived from ONE
  xxhash64 per shingle, computed entirely with built-in expressions (no
  Python). Band buckets shuffle-join candidate pairs — the standard
  near-dup pipeline at web scale.
- simhash / simhash_band_pairs: 64-bit SimHash from per-token hashes via one
  grouped pass of 64 conditional sums; pairing via pigeonhole banding
  (k+1 bands → PROVABLY complete at Hamming <= k), never all-pairs.
- ngram_jaccard_pairs: exact Jaccard >= t with candidates from PREFIX
  FILTERING (prefix_filter_pairs) — provably complete for the threshold, so
  the result is identical to all-pairs, but candidate generation is an
  inverted-index equi-join instead of a quadratic block self-join.
- embedding near-dup lives in operators/similarity.py (cosine >= threshold).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from syscol_spark.functions.text import word_shingles
from syscol_spark.operators.route import local_frame, route


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition ONLY when the input has fewer partitions than
    cores. Small files scan as 1 partition, serializing heavy per-row compute
    (shingling, hashing); a large scan already has natural parallelism and
    must NOT pay a full-data shuffle, so this is a no-op there."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < cores:
        return df.repartition(cores)
    return df


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Groups of byte-identical content: (content_hash, canonical_id, n_copies).
    Canonical row = min id. One hash-partitioned shuffle; no content moves
    twice (hash first, group on the digest)."""
    return (
        df.select(F.md5(F.col(content_col)).alias("content_hash"), F.col(id_col).alias("__id"))
        .groupBy("content_hash")
        .agg(F.min("__id").alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def exact_dedup_delta(
    new_docs: DataFrame,
    corpus_digests: DataFrame,
    *,
    content_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental exact dedup: keep flags for a NEW shard against a
    precomputed corpus digest table — the exact-family member of the
    daily-ingest trio (minhash_dedup_delta, semantic_dedup_delta). A new
    doc is kept iff its content digest is absent from the corpus AND it is
    the lowest-id holder of that digest within the shard (the batch
    min-id-canonical policy restricted to new rows).

    ``corpus_digests`` is (content_hash string) — at 100 TB the persisted
    digest table an exact_dedup run writes. Cost: one shuffle of the NEW
    shard on its digest (window + left join share the partitioning; AQE
    broadcasts a small digest table) — never re-hashes the corpus.
    Output: (id_col, content_hash, keep).
    """
    hashed = new_docs.select(
        F.col(id_col).alias("__id"), F.md5(F.col(content_col)).alias("content_hash")
    )
    first = Window.partitionBy("content_hash")
    seen = corpus_digests.select(F.col("content_hash")).distinct().withColumn(
        "__old", F.lit(True)
    )
    return (
        hashed.withColumn("__first", F.min("__id").over(first))
        .join(seen, "content_hash", "left")
        .select(
            F.col("__id").alias(id_col),
            "content_hash",
            (F.col("__old").isNull() & (F.col("__id") == F.col("__first"))).alias("keep"),
        )
    )


def cdc_chunks(
    df: DataFrame,
    content_col: str,
    id_col: str,
    *,
    mod: int = 16,
) -> DataFrame:
    """Content-defined chunking at token granularity: cut AFTER every token
    whose deterministic 60-bit hash ≡ mod−1 (mod ``mod``), so expected chunk
    length is ``mod`` tokens and — the CDC property — chunk boundaries
    depend only on LOCAL content. Insert a token anywhere and only the one
    chunk containing the edit changes its hash; every other chunk of the
    document still deduplicates against the rest of the corpus (the
    shift-resilience fixed-width blocks lack; rsync/LBFS lineage).

    Output: (id_col, chunk_id, chunk_hash, n_tokens) — feed chunk_hash into
    the same one-shuffle hash-groupBy as exact_dedup for corpus-wide
    chunk-level dup statistics.

    Scale shape: chunking is ROW-LOCAL — cut positions come from one
    filtered index scan (one hash per token), then each chunk is a single
    slice + join of the token array, so every token is hashed once and
    copied once. One posexplode emits the chunk rows; ZERO shuffles in
    extraction (asserted by plan test). The original explode +
    per-doc-window shape shuffled the full exploded token table on doc id
    just to compute a running cut count that is a per-row computation
    anyway. Chunk semantics are identical (chunk_id = running count of
    preceding cuts ≡ position of the chunk in document order; cross-engine
    fuzz vs the SQL-window oracle stays green).
    """
    from syscol_spark.functions.text import _bind_once, token_int, tokens

    def chunks_of(toks: Column) -> Column:
        def slices_of(clean: Column) -> Column:
            n = F.size(clean)
            # 1-based positions whose token closes a chunk, plus n if the
            # final chunk is left open (avoiding a duplicate when the last
            # token is itself a cut)
            cuts = F.filter(
                F.sequence(F.lit(1), n),
                lambda i: F.pmod(token_int(F.element_at(clean, i)), F.lit(mod)) == mod - 1,
            )
            bounds = F.when(F.size(cuts) == 0, F.array(n)).otherwise(
                # element_at only evaluated on the non-empty branch (ANSI-safe)
                F.when(F.element_at(cuts, -1) != n, F.concat(cuts, F.array(n))).otherwise(cuts)
            )
            lows = F.concat(F.array(F.lit(0)), F.slice(bounds, 1, F.greatest(F.size(bounds) - 1, F.lit(0))))
            return F.zip_with(
                lows,
                bounds,
                lambda lo, hi: F.concat_ws(" ", F.slice(clean, lo + 1, hi - lo)),
            )

        empty_guard = F.filter(toks, lambda t: t != "")
        return F.when(F.size(empty_guard) > 0, _bind_once(empty_guard, slices_of)).otherwise(
            F.array().cast("array<string>")
        )

    return (
        df.select(
            F.col(id_col),
            F.posexplode(_bind_once(tokens(content_col), chunks_of)).alias(
                "chunk_id", "chunk"
            ),
        )
        .select(
            F.col(id_col),
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.md5("chunk").alias("chunk_hash"),
            (F.size(F.split(F.col("chunk"), " ", -1))).cast("long").alias("n_tokens"),
        )
    )


def salted_block_pairs(df: DataFrame, n_salts: int = 32) -> DataFrame:
    """Self-join a blocked frame into unordered pairs (a.id < b.id) with the
    block key SALTED for parallelism.

    A plain self-join on a low-cardinality block key (e.g. 5 languages)
    parallelizes poorly: with a broadcast build side the probe side keeps the
    scan's partitioning (often 1 small file = 1 task doing ALL the quadratic
    compute); with a shuffle join there are only n_blocks partitions. Salting
    the left side by hash(id), replicating the right side across all salts,
    and explicitly round-robin repartitioning the probe side spreads each
    pair exactly once over n_salts-wide parallelism at any block skew.

    Input must have columns (id, block, ...payload); output has a.* / b.*
    accessible via aliases "a" and "b".
    """
    par = max(df.sparkSession.sparkContext.defaultParallelism, n_salts)
    a = (
        df.withColumn("__salt", F.pmod(F.xxhash64("id"), F.lit(n_salts)))
        .repartition(par)  # round-robin: even CPU spread for the probe side
        .alias("a")
    )
    b = (
        df.withColumn("__salt", F.explode(F.array(*[F.lit(s) for s in range(n_salts)])))
        .alias("b")
    )
    return a.join(
        b,
        (F.col("a.block") == F.col("b.block"))
        & (F.col("a.__salt") == F.col("b.__salt"))
        & (F.col("a.id") < F.col("b.id")),
    )


def prefix_filter_pairs(shingled: DataFrame, min_jaccard: float) -> DataFrame:
    """Complete candidate pairs for Jaccard >= t via prefix filtering
    (the AllPairs/PPJoin inverted-index scheme — Bayardo et al., WWW 2007;
    Xiao et al., WWW 2008; both public literature).

    Input: (id, block, sh) with ``sh`` a SORTED array of distinct int64
    shingle hashes — the sort order is the global token order the lemma
    needs. A pair with J(A,B) >= t must share at least one element within
    each side's first ``|S| - ceil(t*|S|) + 1`` elements, so exploding only
    that prefix into an inverted index and equi-joining on
    (block, token) yields a candidate superset with NO false negatives —
    unlike MinHash/SimHash banding this prefilter is deterministic and
    lossless, which is what lets the exact-Jaccard queries keep their exact
    DuckDB oracles.

    Shape at scale: posting rows are narrow (id, block, token); the join is
    a plain shuffled equi-join AQE can skew-split; the full shingle arrays
    are re-attached to the (distinct, much smaller) candidate pairs
    afterwards so arrays never travel through the exploded index.
    Output: (id_a, id_b, sh_a, sh_b).
    """
    n = F.size("sh")
    # ceil(t*n) with an epsilon guard: double rounding can push an exactly-
    # integer t*n (0.2*5 -> 1.0000000000000002) over the next integer, which
    # would SHORTEN the prefix and break completeness. Erring long is safe.
    plen = (n - F.ceil(F.lit(min_jaccard) * n - F.lit(1e-9)) + 1).cast("int")
    posting = shingled.select(
        "id", "block", F.explode(F.slice("sh", F.lit(1), F.greatest(plen, F.lit(1)))).alias("tok")
    )
    a, b = posting.alias("a"), posting.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sides = shingled.select("id", "sh")
    return (
        pairs.join(sides.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sides.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    )


def minhash_signatures(
    df: DataFrame,
    content_col: str,
    id_col: str,
    *,
    n_hashes: int = 16,
    shingle_n: int = 3,
    kernel: str = "xxhash64",
) -> DataFrame:
    """(id, signature array<long>) — per-seed min over shingle hashes.

    Cost shape: each shingle is string-hashed ONCE (→ 31-bit), then the
    n_hashes family is derived arithmetically per seed
    (h_i = (a_i·h + b_i) mod p, p = 2^31-1 — universal hashing; all
    intermediates < 2^62 so ANSI long arithmetic can't overflow). A pure
    map with no shuffle — signatures stay cheap even when the LSH self-join
    evaluates the subplan on both sides.

    ``kernel``: "xxhash64" (default, fastest JVM path) or "portable"
    (md5-60bit, functions.text.token_int) — identical math is expressible in
    any ANSI engine, which is what lets the catalog query carry an exact
    DuckDB value-hash oracle for this probabilistic operator.
    """
    df = ensure_parallelism(df)
    sig = minhash_signature_col(content_col, n_hashes=n_hashes, shingle_n=shingle_n, kernel=kernel)
    return df.select(F.col(id_col).alias("id"), sig.alias("signature"))


def minhash_signature_col(
    content_col: str, *, n_hashes: int = 16, shingle_n: int = 3, kernel: str = "xxhash64"
) -> Column:
    """The MinHash signature as a bare Column — the shared kernel behind the
    batch operator (minhash_signatures) and the streaming ingest-time dedup
    twin (streaming/analytics.streaming_minhash_dedup), so both compute
    identical signatures by construction."""
    pv = 2147483647  # 2^31 - 1
    p = F.lit(pv).cast("long")
    sh = word_shingles(content_col, shingle_n)
    if kernel == "portable":
        from syscol_spark.functions.text import token_int

        base = F.transform(sh, token_int)
    else:
        base = F.transform(sh, lambda s: F.pmod(F.xxhash64(s), p))
    # (a_i, b_i) constants packed as an array<struct> so ONE aggregate pass
    # updates all n_hashes minima per shingle (expression-level CSE does not
    # span higher-order functions — n separate transforms would re-hash
    # every shingle n times).
    ab = F.array(
        *[
            F.struct(F.lit(2 * i + 1).cast("long").alias("a"), F.lit(i * 40_503 + 1).cast("long").alias("b"))
            for i in range(n_hashes)
        ]
    )
    init = F.array_repeat(F.lit(pv).cast("long"), n_hashes)
    return F.aggregate(
        base,
        init,
        lambda acc, h: F.zip_with(acc, ab, lambda accv, s: F.least(accv, F.pmod(s["a"] * h + s["b"], p))),
    )


def minhash_lsh_candidates(
    signatures: DataFrame, *, n_bands: int = 4, rows_per_band: int = 4, portable_buckets: bool = False
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing ≥1 LSH band bucket,
    with the MinHash-estimated Jaccard similarity.

    Plan shape: explode to (band, bucket_hash) → shuffle join on the bucket →
    distinct pairs. Bucket join is an equi-join, so AQE can split skewed
    buckets; no pairwise scan of the corpus ever happens.

    ``portable_buckets``: bucket = the band's signature values joined as a
    string instead of their murmur3 hash — collision-free AND reproducible in
    ANSI SQL, so an oracle can mirror the exact candidate set. The default
    hashed bucket is the at-scale shape (fixed-width long keys).
    """
    sig = signatures

    def bucket(b: int):
        comps = [F.col("signature")[b * rows_per_band + r] for r in range(rows_per_band)]
        if portable_buckets:
            return F.concat_ws(",", *[c.cast("string") for c in comps])
        return F.hash(*comps)

    bands = F.array(
        *[
            F.struct(F.lit(b).alias("band"), bucket(b).alias("bucket"))
            for b in range(n_bands)
        ]
    )
    exploded = sig.select("id", "signature", F.explode(bands).alias("bb")).select(
        "id", "signature", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    a = exploded.alias("a")
    b = exploded.alias("b")
    pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), F.col("a.signature").alias("sig_a"), F.col("b.signature").alias("sig_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    matches = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")), lambda v: v == 1))
    n_hashes = F.size(F.col("sig_a"))
    return pairs.select("id_a", "id_b", F.round(matches / n_hashes, 6).alias("est_jaccard"))


def simhash(
    df: DataFrame, content_col: str, id_col: str, *, n_bits: int = 64, kernel: str = "xxhash64"
) -> DataFrame:
    """n_bits-wide SimHash per document, built from token hashes with
    bitwise column expressions (no Python): for each bit position, sum +1/-1
    across token hashes; sign of the sum sets the output bit.

    ``kernel``: "xxhash64" (default; with n_bits=64 the classic shape) or
    "portable" (md5-60bit — pair with n_bits=60), whose bit pattern any
    ANSI engine reproduces, enabling an exact value-hash oracle.
    """
    from syscol_spark.functions.text import tokens

    if kernel == "portable" and n_bits > 60:
        raise ValueError("portable kernel yields 60 hash bits; use n_bits <= 60")
    # explode → hash once → n_bits conditional sums in ONE aggregation pass
    # (the array-expression formulation re-hashed every token n_bits×).
    df = ensure_parallelism(df)
    exploded = df.select(
        F.col(id_col).alias("id"), F.explode(F.array_distinct(tokens(content_col))).alias("tok")
    )
    if kernel == "portable":
        h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    else:
        h = F.xxhash64("tok")
    hashed = exploded.select("id", h.alias("h"))
    # The n_bits aggregate expressions and the n_bits-term OR fold are built
    # as PARSED SQL strings, not Column-API calls: each F.when/bitwiseOR/lit
    # chain costs py4j round trips, and 2x60 of them measured ~1.8s of pure
    # DRIVER wall per build (r14, same finding as _matrix_lit). shiftleft(1L,
    # bit) is the same signed-long mask the two's-complement literal list
    # produced (bit 63 -> MIN_LONG), constant-folded at optimization time, so
    # the evaluated plan is unchanged.
    sums = [
        F.expr(
            f"sum(CASE WHEN (h & shiftleft(1L, {bit})) != 0 THEN 1 ELSE -1 END)"
        ).alias(f"_b{bit}")
        for bit in range(n_bits)
    ]
    agged = hashed.groupBy("id").agg(*sums)
    fingerprint = F.expr(
        "0L | " + " | ".join(
            f"(CASE WHEN _b{bit} > 0 THEN shiftleft(1L, {bit}) ELSE 0L END)"
            for bit in range(n_bits)
        )
    )
    return agged.select("id", fingerprint.alias("simhash"))


def hamming64(a: Column | str, b: Column | str) -> Column:
    x = (F.col(a) if isinstance(a, str) else a).bitwiseXOR(F.col(b) if isinstance(b, str) else b)
    return F.bit_count(x).cast("long")


def simhash_band_pairs(
    fingerprints: DataFrame,
    *,
    fp_col: str = "simhash",
    max_hamming: int = 3,
    n_bits: int = 64,
) -> DataFrame:
    """SimHash near-dup pairs (id_a, id_b, hamming <= max_hamming) WITHOUT an
    all-pairs scan, via pigeonhole banding (the scheme of Manku et al.,
    WWW 2007 — public literature).

    Split the 64-bit fingerprint into ``max_hamming + 1`` bands: two
    fingerprints within Hamming distance k differ in at most k bit
    positions, so by pigeonhole at least one of the k+1 bands is IDENTICAL
    — banding is provably complete, not probabilistic. Candidates are an
    equi-join on (block, band index, band bits); the exact Hamming distance
    verifies each candidate. With k=3 the bands are 16 bits wide (65536
    values), so within-block bucket sizes — and therefore candidate counts
    — shrink by ~2^16 vs all-pairs. Wider radii need narrower bands: the
    discriminative-band tradeoff is inherent to the scheme.

    Input: (id, block, <fp_col>).
    """
    k1 = max_hamming + 1
    base, rem = divmod(n_bits, k1)
    widths = [base + 1] * rem + [base] * (k1 - rem)
    offsets = [sum(widths[:i]) for i in range(k1)]
    fp = F.col(fp_col)
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftrightunsigned(fp, off).bitwiseAND(F.lit((1 << w) - 1).cast("long")).alias("bits"),
            )
            for i, (off, w) in enumerate(zip(offsets, widths))
        ]
    )
    exploded = fingerprints.select(
        "id", "block", fp, F.explode(bands).alias("bb")
    ).select("id", "block", fp, F.col("bb.band").alias("band"), F.col("bb.bits").alias("bits"))
    a, b = exploded.alias("a"), exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming64(F.col(f"a.{fp_col}"), F.col(f"b.{fp_col}")).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def _cc_local(pairs: DataFrame, id_a: str, edge_rows: list) -> DataFrame:
    """Driver-local union-find over a bounded collected edge list — the
    same fixpoint the distributed min-label propagation converges to
    (every node labeled with the MIN id reachable through the graph), in
    one pass instead of O(diameter) join rounds. Output schema/typing
    matches the distributed path: (id, cluster, cluster_size long), ids
    typed from the caller's frame."""
    from pyspark.sql.types import LongType, StructField, StructType

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN id so every root IS its component's label
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    labels = {x: find(x) for x in parent}
    sizes: dict = {}
    for lbl in labels.values():
        sizes[lbl] = sizes.get(lbl, 0) + 1
    schema = StructType(
        [
            StructField("id", pairs.schema[id_a].dataType),
            StructField("cluster", pairs.schema[id_a].dataType),
            StructField("cluster_size", LongType()),
        ]
    )
    rows = [(x, lbl, sizes[lbl]) for x, lbl in labels.items()]
    return local_frame(pairs.sparkSession, rows, schema)


def dedup_clusters(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b", *, max_iter: int = 20) -> DataFrame:
    """Connected components over near-dup pairs → (id, cluster, cluster_size):
    each document labeled with the min id reachable through the similarity
    graph — the canonical representative its cluster keeps.

    Iterative min-label propagation: each round joins labels across edges and
    keeps the per-node minimum; converges in O(component diameter) rounds
    (near-dup components are shallow). Every round is a distributed
    join+groupBy — the driver only checks the converged flag, no data ever
    leaves the cluster. This is the engine's iterative-algorithm surface:
    not expressible as one SQL query (the oracle uses a recursive CTE).

    Driver-local twin: near-dup pair sets are a small fraction of the
    corpus by design, and at oracle/bench scales they are a few hundred
    rows pushed through O(diameter) rounds of join + checkpoint +
    convergence-count jobs — pure scheduling. When the edge list fits the
    ``graph_edges`` route, one bounded fetch + union-find computes the
    identical min-reachable-id fixpoint; above the bound the distributed
    rounds run (tests/test_routes.py runs both sides).
    """
    edge_rows = route("graph_edges", pairs.select(id_a, id_b))
    if edge_rows is not None:
        return _cc_local(pairs, id_a, [(r[0], r[1]) for r in edge_rows])
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionAll(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        # materialize + truncate lineage: without this every iteration
        # re-executes the (possibly expensive) pair-generation subplan, and
        # the loop's plan grows exponentially
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("id")).distinct().select("id", F.col("id").alias("label"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        # carry the convergence flag THROUGH the checkpoint: the old
        # formulation re-joined new labels against old labels in a second
        # job per round; the flag is free to compute in the same pass
        new_labels = (
            labels.join(neighbor_min, labels["id"] == neighbor_min["src"], "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias("label"),
                (F.col("nlabel") < F.col("label")).alias("__changed"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter(F.col("__changed")).limit(1).count()
        labels = new_labels.drop("__changed")
        if changed == 0:
            break
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "label").select(
        "id", F.col("label").alias("cluster"), "cluster_size"
    )


def keep_best_representative(
    docs: DataFrame,
    clusters: DataFrame,
    quality: Column,
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """Terminal dedup step of a training-data pipeline: from ``docs``, keep
    exactly ONE representative per near-dup cluster — the member with the
    highest ``quality`` (ties to the lowest id, so selection is
    deterministic) — plus every unclustered document untouched. The usual
    "drop duplicates" loses information; real pipelines keep the BEST copy
    (dedup then select, e.g. Lee et al. ACL'22 keep-one policy).

    ``clusters`` is (id, cluster, cluster_size) from ``dedup_clusters``.

    Plan shape at 100 TB: clusters holds only near-dup members (a small
    fraction of the corpus), so the per-cluster window runs on that slice
    after one shuffle on cluster id; the unclustered majority flows through
    a single left-anti join on ``id_col`` (AQE broadcasts the cluster-id
    side when it is small enough) — no window, no second shuffle over the
    full corpus.

    Output: (doc_id, cluster, cluster_size, quality); unclustered docs get
    cluster = their own id and cluster_size = 1.
    """
    scored = docs.select(F.col(id_col), quality.alias("quality"))
    members = clusters.select(
        F.col("id").alias(id_col), "cluster", "cluster_size"
    ).join(scored, id_col)
    # argmax as ONE aggregate (r15): min_by over the key struct
    # (-quality, id) == (quality DESC, id ASC), the former window's exact
    # order; (quality, id) is unique per cluster because ids are unique, so
    # the winner is the same row. id stays un-negated, so any orderable id
    # type works; quality negation is an exact sign flip for the finite
    # doubles quality_score emits. The per-cluster sort+window becomes a
    # partially-aggregated hash exchange.
    payload = F.struct(F.col(id_col), F.col("cluster_size"), F.col("quality"))
    best = (
        members.groupBy("cluster")
        .agg(
            F.min_by(payload, F.struct((-F.col("quality")).alias("__nq"), F.col(id_col))).alias(
                "__b"
            )
        )
        .select(
            F.col(f"__b.{id_col}").alias(id_col),
            "cluster",
            F.col("__b.cluster_size").alias("cluster_size"),
            F.col("__b.quality").alias("quality"),
        )
    )
    singles = (
        scored.join(
            clusters.select(F.col("id").alias(id_col)), id_col, "left_anti"
        ).select(
            F.col(id_col),
            F.col(id_col).alias("cluster"),
            F.lit(1).cast("long").alias("cluster_size"),
            "quality",
        )
    )
    return best.select(id_col, "cluster", "cluster_size", "quality").unionAll(singles)


def winnow_fp_table(
    df: DataFrame,
    content_col: str,
    id_col: str,
    *,
    k: int = 4,
    window: int = 5,
) -> DataFrame:
    """The (id, fp) fingerprint table of winnow_fingerprints — split out so
    the batch pairing op and the incremental delta op share one kernel, and
    because at lake scale this table IS the persisted index artifact a
    winnowing deployment writes (fingerprint extraction is the expensive
    pass; pairing is a join over this table)."""
    from syscol_spark.functions.text import _bind_once, token_int, tokens

    def gram_hashes(toks: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0)))
        grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
        grams = F.when(F.size(toks) >= k, grams).otherwise(
            F.array(F.concat_ws(" ", toks))
        )
        return F.transform(grams, token_int)

    def window_minima(hs: Column) -> Column:
        pos = F.sequence(F.lit(1), F.greatest(F.size(hs) - window + 1, F.lit(1)))
        return F.array_distinct(F.transform(pos, lambda p: F.array_min(F.slice(hs, p, window))))

    return df.select(
        F.col(id_col),
        F.explode(
            _bind_once(_bind_once(tokens(content_col), gram_hashes), window_minima)
        ).alias("fp"),
    )


def winnow_fingerprints(
    df: DataFrame,
    content_col: str,
    id_col: str,
    *,
    k: int = 4,
    window: int = 5,
    max_doc_freq: int = 50,
    min_shared: int = 2,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03
    — the MOSS algorithm): hash every k-token gram, slide a window of
    ``window`` consecutive gram hashes, select each window's MINIMUM hash.
    The selected set is position-robust (insertions shift positions but the
    local minima survive), and any shared substring of >= k+window-1 tokens
    is GUARANTEED to share a fingerprint — the detection floor that plain
    stride sampling lacks.

    Pipeline: gram hashes and window minima are one codegen pass per doc
    (transform over sequence, no explode until the fingerprints are
    selected); candidate pairs come from a fingerprint equi-join — never
    all-pairs. Fingerprints appearing in more than ``max_doc_freq`` docs are
    dropped before the join (boilerplate grams are useless evidence and are
    exactly the skewed keys that would blow up the self-join at 100 TB).

    Hash kernel: md5-60bit mod 2^31-1 (functions.text.token_int), the
    portable kernel q_doc_fingerprint already hash-verified cross-engine.

    Output: (id_a, id_b, shared_fp) for pairs sharing >= ``min_shared``
    selected fingerprints, id_a < id_b.
    """
    fps = winnow_fp_table(df, content_col, id_col, k=k, window=window)
    keep = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("__df")).filter(
        F.col("__df") <= max_doc_freq
    )
    kept = fps.join(keep.select("fp"), "fp")
    a = kept.select(F.col(id_col).alias("id_a"), "fp")
    b = kept.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, ["fp"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fp"))
        .filter(F.col("shared_fp") >= min_shared)
    )


def winnow_dedup_delta(
    new_fps: DataFrame,
    corpus_fps: DataFrame,
    *,
    id_col: str = "doc_id",
    max_doc_freq: int = 50,
    min_shared: int = 2,
) -> DataFrame:
    """Incremental winnowing dedup: pair a NEW shard's fingerprint table
    against the persisted corpus fingerprint table — the winnowing member
    of the daily-ingest family (exact / MinHash / semantic / CDC / now
    MOSS). Inputs are (id, fp) tables from winnow_fp_table; at 100 TB the
    corpus side is the index a full winnowing run persisted, and only the
    new shard pays fingerprint extraction.

    Doc-frequency capping matches the batch op's semantics over the
    COMBINED corpus (corpus df + new df ≤ max_doc_freq) — in production the
    corpus per-fp doc counts are a persisted k-row-per-fp stat, so the cap
    costs one aggregate on the new shard plus a join, never a corpus
    rescan. Output: new-new pairs once (id_a < id_b) plus new-old pairs in
    the (new, old) direction — minhash_dedup_delta's direction contract.
    """
    # ONE tagged stream (r14, guide §2.4): the combined doc frequency is a
    # single groupBy over the new∪old union (replacing two groupBys + a
    # full outer join), the cap join back is paid once, and both pair
    # directions come from ONE fp equi-join — a row filter on the tag
    # ((new, new, a<b) once | (new, old) directed) reproduces the exact
    # output contract. 8 exchanges of the same narrow (id, fp) rows -> 4.
    nf = new_fps.select(F.col(id_col).alias("id"), "fp")
    of = corpus_fps.select(F.col(id_col).alias("id"), "fp")
    both = nf.withColumn("__new", F.lit(True)).unionByName(
        of.withColumn("__new", F.lit(False))
    )
    keep = (
        both.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= max_doc_freq)
        .select("fp")
    )
    kb = both.join(keep, "fp")
    a = kb.filter(F.col("__new")).select(F.col("id").alias("id_a"), "fp")
    b = kb.select(F.col("id").alias("id_b"), F.col("__new").alias("__b_new"), "fp")
    pairs = a.join(b, "fp").filter(
        (F.col("__b_new") & (F.col("id_a") < F.col("id_b"))) | ~F.col("__b_new")
    )
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fp"))
        .filter(F.col("shared_fp") >= min_shared)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    content_col: str,
    id_col: str,
    block_col: str,
    *,
    shingle_n: int = 3,
    min_jaccard: float = 0.2,
) -> DataFrame:
    """Exact n-gram Jaccard >= t inside a blocking key, sub-quadratically.

    Candidates come from ``prefix_filter_pairs`` — a lossless inverted-index
    prefilter, so the output is IDENTICAL to an all-pairs block self-join
    (the exact DuckDB oracle keeps passing) while candidate generation is an
    equi-join on (block, prefix-token) instead of O(block²).
    Shingle sets are prehashed to int64 (xxhash64) before the pairwise
    array_intersect — set ops over longs are far cheaper than over ~20-char
    strings, and with 64-bit hashes the collision probability is ~n²/2⁶⁴
    (irrelevant at any realistic block size). The arrays are kept SORTED
    (sort_array): prefix filtering needs a global token order, and sorted
    input also lets array_intersect-style set ops behave predictably.
    """
    # materialize the shingled frame ONCE: prefix_filter_pairs references it
    # four times (posting self-join = the subplan twice, plus two side
    # re-attachments), and the tokenize+hash+sort pass is the expensive part
    # — at lake scale this is the "write shingle sets to a table first" step
    shingled = ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("block"),
        F.sort_array(
            F.array_distinct(F.transform(word_shingles(content_col, shingle_n), lambda s: F.xxhash64(s)))
        ).alias("sh"),
    ).localCheckpoint()
    na, nb = F.size(F.col("sh_a")), F.size(F.col("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
    union = (na + nb).cast("double") - inter
    # provably-safe prune before the intersect: J(A,B) ≤ min/max of the set
    # sizes (|A∩B| ≤ min, |A∪B| ≥ max), so pairs whose size ratio is below
    # the threshold cannot match — skips the O(|A|+|B|) intersect for them.
    size_ok = F.least(na, nb).cast("double") >= F.lit(min_jaccard) * F.greatest(na, nb)
    return (
        prefix_filter_pairs(shingled, min_jaccard)
        .filter(size_ok)
        .select(
            "id_a",
            "id_b",
            F.round(inter / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def duplicated_span_stats(
    df: DataFrame,
    content_col: str,
    id_col: str,
    *,
    n: int = 8,
) -> DataFrame:
    """Exact duplicated-substring detection at n-token granularity (the
    span-level dedup of Lee et al., "Deduplicating Training Data Makes
    Language Models Better", ACL'22 — suffix-array semantics approximated by
    positional n-gram fingerprints): a span is DUPLICATED if its n-token
    window occurs in at least one OTHER document. Output per document with
    at least one duplicated span: (id, n_spans, n_dup_spans, dup_ppm).

    Plan shape: one pass builds every positional n-gram's md5 inside
    codegen (transform over sequence — no Python), explode to narrow
    (id, gram) rows, one groupBy on the 128-bit gram key marks grams seen
    in >= 2 distinct docs, and a map-side-combined per-doc count finishes.
    Shuffle volume is tokens-per-corpus rows of (16-byte hash, id) — linear,
    the same shape Lee et al.'s distributed implementation uses in place of
    a monolithic suffix array. Docs shorter than n tokens contribute their
    whole text as one span (consistent with word_shingles' guard).

    dup_ppm is kept integer end-to-end (catalog parity rule: no re-scaled
    doubles).
    """
    from syscol_spark.functions.text import _bind_once, tokens

    def grams_of(toks: F.Column) -> F.Column:
        idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
        return F.when(
            F.size(toks) >= n,
            F.transform(idx, lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, n)))),
        ).otherwise(F.array(F.md5(F.concat_ws(" ", toks))))

    # lambda-bind the split so it runs once per row, not per span position
    grams = _bind_once(tokens(content_col), grams_of)
    ex = ensure_parallelism(df).select(
        F.col(id_col).alias("id"), F.explode(grams).alias("gram")
    )
    # ONE corpus pass (r14, guide §2.3/§2.4): aggregate to (id, gram)
    # occurrence counts first — then nd (the number of DISTINCT docs
    # containing the gram) is a plain COUNT window over gram, because g2
    # has exactly one row per (id, gram). The former shape re-planned the
    # tokenize+md5+explode subtree twice (dup-gram aggregate + mark join)
    # and paid a join; this is three narrow exchanges, no join, and the
    # per-doc sums are exact integers over the same span multiset.
    g2 = ex.groupBy("id", "gram").agg(F.count(F.lit(1)).alias("occ"))
    marked = g2.withColumn(
        "nd", F.count(F.lit(1)).over(Window.partitionBy("gram"))
    )
    return (
        marked.groupBy("id")
        .agg(
            F.sum("occ").alias("n_spans"),
            F.sum(F.when(F.col("nd") >= 2, F.col("occ")).otherwise(F.lit(0))).alias(
                "n_dup_spans"
            ),
        )
        .filter(F.col("n_dup_spans") >= 1)
        .select(
            "id",
            F.col("n_spans").cast("long").alias("n_spans"),
            F.col("n_dup_spans").cast("long").alias("n_dup_spans"),
            F.floor(F.lit(1_000_000) * F.col("n_dup_spans") / F.col("n_spans"))
            .cast("long")
            .alias("dup_ppm"),
        )
    )


def containment_pairs(
    df: DataFrame,
    content_col: str,
    id_col: str,
    block_col: str,
    *,
    shingle_n: int = 3,
    min_containment: float = 0.6,
) -> DataFrame:
    """Asymmetric containment near-dup: (id_a, id_b, containment) where
    C(A ⊆ B) = |A∩B| / |A| >= t and A != B — the subset/superset detector
    that Jaccard structurally misses (a short doc quoted inside a long one
    has high containment but low Jaccard, since the union is dominated by
    the long side).

    Candidate lemma (one-sided prefix filter): a real pair needs overlap
    >= ceil(t·|A|), so if A's first |A| - ceil(t·|A|) + 1 tokens (in the
    global sorted order) all miss B, overlap <= ceil(t·|A|) - 1 — explode
    only A's prefix, but B's FULL token list (the contained side can hide
    anywhere in the container, so the B side cannot be pruned without
    losing exactness). Lossless, like prefix_filter_pairs; the equi-join is
    on (block, token) and arrays re-attach to the distinct candidates.
    """
    shingled = ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("block"),
        F.sort_array(
            F.array_distinct(
                F.transform(word_shingles(content_col, shingle_n), lambda s: F.xxhash64(s))
            )
        ).alias("sh"),
    ).localCheckpoint()
    n = F.size("sh")
    # epsilon guard as in prefix_filter_pairs: never shorten the prefix
    plen = (n - F.ceil(F.lit(min_containment) * n - F.lit(1e-9)) + 1).cast("int")
    a_post = shingled.select(
        "id", "block", F.explode(F.slice("sh", F.lit(1), F.greatest(plen, F.lit(1)))).alias("tok")
    )
    b_post = shingled.select("id", "block", F.explode("sh").alias("tok"))
    a, b = a_post.alias("a"), b_post.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sides = shingled.select("id", "sh")
    attached = pairs.join(
        sides.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
    ).join(sides.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    na = F.size("sh_a")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    cont = inter / na.cast("double")
    # safe prune before the intersect: |A∩B| <= |B|, so |B| < t·|A| can't match
    size_ok = F.size("sh_b").cast("double") >= F.lit(min_containment) * na.cast("double")
    return (
        attached.filter(size_ok)
        .filter(cont >= min_containment)
        .select("id_a", "id_b", F.round(cont, 6).alias("containment"))
    )


def minhash_dedup_delta(
    new_sigs: DataFrame,
    corpus_sigs: DataFrame,
    *,
    n_bands: int = 4,
    rows_per_band: int = 4,
    portable_buckets: bool = False,
) -> DataFrame:
    """Incremental near-dedup: candidates for a NEW shard against an
    EXISTING signature table plus within the shard itself — the daily-ingest
    path. Never re-joins the corpus against itself: the corpus side only
    contributes bucket postings, so the join cost is
    O(new·bands + matching corpus postings), not O(corpus²) — at 100 TB the
    corpus signature table is the precomputed lake asset ("write signatures
    to a table first") and each ingest batch pays only its own banding.

    Inputs are (id, signature) frames from ``minhash_signatures``; ids must
    be disjoint across the two frames. Output: (id_a, id_b, est_jaccard)
    where id_a is always the NEW doc; new-new pairs appear once (id_a <
    id_b), new-old pairs as (new, old).
    """

    def explode_bands(sig: DataFrame) -> DataFrame:
        def bucket(b: int):
            comps = [F.col("signature")[b * rows_per_band + r] for r in range(rows_per_band)]
            if portable_buckets:
                return F.concat_ws(",", *[c.cast("string") for c in comps])
            return F.hash(*comps)

        bands = F.array(
            *[F.struct(F.lit(b).alias("band"), bucket(b).alias("bucket")) for b in range(n_bands)]
        )
        return sig.select("id", "signature", F.explode(bands).alias("bb")).select(
            "id", "signature", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
        )

    new_x = explode_bands(new_sigs).localCheckpoint()
    old_x = explode_bands(corpus_sigs)
    a = new_x.alias("a")
    # candidate side = corpus postings UNION the new shard's own postings,
    # tagged so new-new pairs keep one orientation (a.id < b.id) while
    # new-old pairs survive in their (new, old) direction regardless of ids
    b = (
        old_x.withColumn("__new", F.lit(False))
        .unionByName(new_x.withColumn("__new", F.lit(True)))
        .alias("b")
    )
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (~F.col("b.__new") | (F.col("a.id") < F.col("b.id"))),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.signature").alias("sig_a"),
            F.col("b.signature").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    matches = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")), lambda v: v == 1))
    n_hashes = F.size(F.col("sig_a"))
    return pairs.select("id_a", "id_b", F.round(matches / n_hashes, 6).alias("est_jaccard"))
