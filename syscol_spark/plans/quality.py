"""Data-quality / sketch-infrastructure queries: mergeable count-min sketch
shards, bloom-prefiltered anti join, bigram next-token language model,
vocabulary-coverage audit, and a Benford first-digit distribution audit.

These extend the sketch tier (q_hll_shards / q_quantile_shards) and the
text/LM tier (q_lm_perplexity / q_bpe_*) with the remaining classic
infrastructure pieces a 100 TB curation stack runs:

- count-min sketch: the LINEAR frequency sketch — per-shard cell tables sum
  cell-wise into the corpus sketch without rescans (same mergeability
  contract as the HLL/quantile shards), and estimates only ever OVERcount.
- bloom prefilter: the join-pushdown filter — the bit-position table is
  capped at ``m`` rows by construction REGARDLESS of build-side key count
  (the q_sketch_prefilter_join discipline), so it broadcasts safely at any
  scale and turns an anti join into (cheap definite-reject) + (exact confirm
  on the surviving sliver).
- bigram LM: next-token statistics with add-one smoothing in exact ppm
  integers — the n-gram counterpart of q_lm_perplexity's unigram scorer.
- vocab coverage: the tokenizer-audit every vocab change ships with — what
  fraction of token OCCURRENCES per language the top-K vocabulary covers.
- Benford audit: first-significant-digit distribution vs Benford's law in
  exact ppm — the classic synthetic-/corrupted-data screen.

Every query follows the catalog parity rules (plans/catalog.py docstring):
exact integers end-to-end (ppm scaling via integer division), engine-portable
md5 bucketing (operators/sampling.py hash_bucket / hash_bucket_sql),
deterministic tie-breaks. Reference scope: the syscol engine ships no sketch
or LM code; this is north-star surface (SURVEY.md §2.11).
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.functions import broadcast

from syscol_spark.operators.sampling import hash_bucket, hash_bucket_sql
from syscol_spark.operators.sketch import bloom_positions, cms_cells
from syscol_spark.plans.catalog import register
from syscol_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --- mergeable count-min sketch shards -----------------------------------------
# The frequency counterpart of q_hll_shards: each shard builds a (depth,
# bucket) -> count cell table (the persistable sketch), shards merge by
# cell-wise SUM (count-min is linear — Cormode & Muthukrishnan 2005), and
# point estimates are the MIN over depths of the key's cells. The merged
# sketch is provably equal to the one-shot build (sum over doc-disjoint
# shards = global cell count), which is exactly what the oracle checks: its
# SQL is the one-shot build, the engine runs the shard/merge path. Estimates
# can only OVERcount (collisions add, never subtract) — emitted as an
# oracle-checked integer so a broken merge that undercounts hash-fails.
# Scale: the cell table is depth*width rows (768) REGARDLESS of key count;
# the heavy-key probe side is a GlobalLimit and broadcasts safely.
_CMS_SEEDS = (11, 13, 17)  # one md5 seed per depth row
_CMS_WIDTH = 256
_CMS_SHARDS = 4


def _cms_oracle() -> str:
    cells = "\n      UNION ALL\n".join(
        f"      SELECT {d} AS depth, {hash_bucket_sql('user_id', seed, _CMS_WIDTH)} AS bucket,"
        f" CAST(COUNT(*) AS BIGINT) AS cell_cnt FROM events GROUP BY bucket"
        for d, seed in enumerate(_CMS_SEEDS)
    )
    probes = "\n      UNION ALL\n".join(
        f"      SELECT user_id, exact_cnt, {d} AS depth,"
        f" {hash_bucket_sql('user_id', seed, _CMS_WIDTH)} AS bucket FROM heavy"
        for d, seed in enumerate(_CMS_SEEDS)
    )
    return f"""
    WITH cells AS (
{cells}
    ),
    heavy AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_cnt
      FROM events GROUP BY user_id
      ORDER BY exact_cnt DESC, user_id LIMIT 5
    ),
    probes AS (
{probes}
    )
    SELECT p.user_id, p.exact_cnt,
           CAST(MIN(c.cell_cnt) AS BIGINT) AS cms_est,
           MIN(c.cell_cnt) >= p.exact_cnt AS never_undercounts,
           CAST({_CMS_SHARDS} AS BIGINT) AS n_shards
    FROM probes p JOIN cells c ON p.depth = c.depth AND p.bucket = c.bucket
    GROUP BY p.user_id, p.exact_cnt
    ORDER BY p.exact_cnt DESC, p.user_id
    """


@register(
    "q_cms_shards",
    _cms_oracle(),
    description=(
        "mergeable count-min sketch shards: per-shard cell tables sum into"
        " the corpus sketch without rescans; top-5 key estimates"
        " never-undercount-checked vs exact (oracle = one-shot build the"
        " merge must equal)"
    ),
)
def q_cms_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id")
    # per-shard sketch tables: what each daily job would persist
    shard_cells = (
        ev.select(
            F.pmod(F.col("event_id"), F.lit(_CMS_SHARDS)).alias("shard"),
            cms_cells("user_id", _CMS_SEEDS, _CMS_WIDTH),
        )
        .groupBy("shard", "depth", "bucket")
        .agg(F.count(F.lit(1)).alias("cell_cnt"))
    )
    # count-min is linear: merging shards is a cell-wise SUM, never a rescan
    merged = shard_cells.groupBy("depth", "bucket").agg(
        F.sum("cell_cnt").alias("cell_cnt")
    )
    heavy = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), "user_id")
        .limit(5)
    )
    probes = heavy.select("user_id", "exact_cnt", cms_cells("user_id", _CMS_SEEDS, _CMS_WIDTH))
    return (
        merged.join(broadcast(probes), ["depth", "bucket"])
        .groupBy("user_id", "exact_cnt")
        .agg(F.min("cell_cnt").alias("cms_est"))
        .select(
            "user_id",
            "exact_cnt",
            "cms_est",
            (F.col("cms_est") >= F.col("exact_cnt")).alias("never_undercounts"),
            F.lit(_CMS_SHARDS).cast("long").alias("n_shards"),
        )
        .orderBy(F.desc("exact_cnt"), "user_id")
    )


# --- bloom-prefiltered anti join -------------------------------------------------
# The join-pushdown pattern AQE's runtime bloom implements, built explicitly
# so the sharded lifecycle is visible: each orders shard contributes the bit
# POSITIONS its keys set (k=2 md5 hashes mod m), shards merge by DISTINCT
# union (bit OR), and the probe side rejects a customer outright when ANY of
# its positions is unset (bloom has no false negatives) — only the surviving
# sliver reaches the exact confirm join. The bits table is <= m rows BY
# CONSTRUCTION regardless of build-side key count (the capped-broadcast
# discipline of q_sketch_prefilter_join), so the broadcast is safe at any
# scale. The oracle replicates the md5 positions exactly, so candidate and
# false-positive COUNTS are oracle-checked integers, and bloom_sound
# (no order-holding customer rejected) is a hash-checked invariant.
_BLOOM_M = 8192
_BLOOM_SEEDS = (101, 103)


def _bloom_oracle() -> str:
    build_pos = "\n      UNION\n".join(
        f"      SELECT {hash_bucket_sql('o_custkey', seed, _BLOOM_M)} AS pos FROM orders"
        for seed in _BLOOM_SEEDS
    )
    probe_cols = ", ".join(
        f"{hash_bucket_sql('c_custkey', seed, _BLOOM_M)} AS p{i}"
        for i, seed in enumerate(_BLOOM_SEEDS)
    )
    return f"""
    WITH bits AS (
{build_pos}
    ),
    probe AS (
      SELECT c_custkey, {probe_cols},
             c_custkey IN (SELECT o_custkey FROM orders) AS has_orders
      FROM customer c
    ),
    flags AS (
      SELECT c_custkey, has_orders,
             (p0 IN (SELECT pos FROM bits)) AND (p1 IN (SELECT pos FROM bits))
               AS maybe
      FROM probe
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CASE WHEN NOT maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_definitely_absent,
           CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
           CAST(SUM(CASE WHEN NOT has_orders THEN 1 ELSE 0 END) AS BIGINT) AS n_truly_without_orders,
           CAST(SUM(CASE WHEN maybe AND NOT has_orders THEN 1 ELSE 0 END) AS BIGINT) AS n_false_positives,
           BOOL_AND(maybe OR NOT has_orders) AS bloom_sound
    FROM flags
    """


@register(
    "q_bloom_prefilter",
    _bloom_oracle(),
    description=(
        "sharded bloom filter as a join prefilter: bit positions built per"
        " shard, merged by distinct union (<= m rows regardless of key"
        " count), probe rejects definite non-matches before the exact anti"
        " join; soundness (no false negatives) hash-checked"
    ),
)
def q_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    # sharded build: each shard's distinct positions are its persistable
    # filter; the merge is a distinct union (bit OR of the shard filters)
    shard_bits = orders.select(
        F.pmod(F.col("o_orderkey"), F.lit(4)).alias("shard"),
        bloom_positions("o_custkey", _BLOOM_SEEDS, _BLOOM_M),
    ).distinct()
    bits = shard_bits.select("pos").distinct()
    probe = cust.select(
        "c_custkey",
        *[
            hash_bucket("c_custkey", seed, _BLOOM_M).alias(f"p{i}")
            for i, seed in enumerate(_BLOOM_SEEDS)
        ],
    )
    for i in range(len(_BLOOM_SEEDS)):
        b = broadcast(bits.withColumnRenamed("pos", f"__hit{i}"))
        probe = probe.join(b, F.col(f"p{i}") == F.col(f"__hit{i}"), "left")
    maybe = F.col("__hit0").isNotNull() & F.col("__hit1").isNotNull()
    truth = orders.select(F.col("o_custkey").alias("c_custkey")).distinct()
    flags = probe.join(truth.withColumn("__has", F.lit(True)), "c_custkey", "left").select(
        "c_custkey",
        maybe.alias("maybe"),
        F.coalesce(F.col("__has"), F.lit(False)).alias("has_orders"),
    )
    return flags.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.when(~F.col("maybe"), 1).otherwise(0)).alias("n_definitely_absent"),
        F.sum(F.when(F.col("maybe"), 1).otherwise(0)).alias("n_candidates"),
        F.sum(F.when(~F.col("has_orders"), 1).otherwise(0)).alias("n_truly_without_orders"),
        F.sum(F.when(F.col("maybe") & ~F.col("has_orders"), 1).otherwise(0)).alias(
            "n_false_positives"
        ),
        F.min(F.col("maybe") | ~F.col("has_orders")).alias("bloom_sound"),
    )


# --- bigram next-token language model --------------------------------------------
# The n-gram counterpart of q_lm_perplexity's unigram scorer: adjacent-token
# pair counts, per-context totals, and add-one-smoothed next-token
# probabilities p(next|prev) = (cnt+1) / (ctx_total + V) in exact ppm
# integers (V = distinct next-token vocabulary). Reported for the 5
# heaviest contexts x top-3 continuations — the "what does the model predict
# after X" audit. Plan: one corpus scan with ROW-LOCAL pair generation
# (transform over adjacent array elements — zero joins; the positional
# self-join formulation survives only in the oracle SQL), one (prev,next)
# groupBy, a context re-aggregate, and two bounded broadcasts
# (GlobalLimit-5 contexts, 1-row V).
@register(
    "q_ngram_lm",
    r"""
    WITH p AS (
      SELECT doc_id, unnest(toks) AS term,
             generate_subscripts(toks, 1) - 1 AS pos
      FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
            FROM documents)
    ),
    bg AS (
      SELECT a.term AS prev, b.term AS next
      FROM p a JOIN p b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ),
    cnt AS (
      SELECT prev, next, CAST(COUNT(*) AS BIGINT) AS cnt FROM bg GROUP BY prev, next
    ),
    ctx AS (
      SELECT prev, CAST(SUM(cnt) AS BIGINT) AS ctx_total FROM cnt GROUP BY prev
      ORDER BY ctx_total DESC, prev LIMIT 5
    ),
    v AS (SELECT CAST(COUNT(DISTINCT next) AS BIGINT) AS vocab FROM bg),
    ranked AS (
      SELECT c.prev, c.next, c.cnt, x.ctx_total,
             CAST((c.cnt + 1) * 1000000 // (x.ctx_total + v.vocab) AS BIGINT) AS p_ppm,
             CAST(ROW_NUMBER() OVER (PARTITION BY c.prev
                                     ORDER BY c.cnt DESC, c.next) AS BIGINT) AS rk
      FROM cnt c JOIN ctx x USING (prev) CROSS JOIN v
    )
    SELECT prev, next, cnt, ctx_total, p_ppm, rk
    FROM ranked WHERE rk <= 3
    ORDER BY ctx_total DESC, prev, rk
    """,
    description=(
        "bigram next-token LM: add-one-smoothed p(next|prev) in exact ppm"
        " for the 5 heaviest contexts x top-3 continuations"
    ),
)
def q_ngram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    # bigram pairs are generated ROW-LOCALLY from the token array (adjacent
    # elements by index) — one corpus scan, zero joins; the posting
    # self-join formulation (the oracle's) would shuffle the full postings
    # twice just to rediscover adjacency the array already encodes
    bg = (
        d.select(F.split(F.trim("text"), r"\s+").alias("toks"))
        .select(
            F.explode(
                F.expr(
                    "transform(slice(toks, 1, size(toks) - 1),"
                    " (x, i) -> struct(x AS prev, toks[i + 1] AS next))"
                )
            ).alias("p")
        )
        .select("p.prev", "p.next")
    )
    # ONE corpus pass (r14): materialize the bigram-vocabulary-bounded count
    # table; its three consumers (ctx top-5, the vocab 1-row aggregate, and
    # the ranked join) each re-planned the corpus scan + explode. vocab =
    # COUNT(DISTINCT next) is identical over cnt and over the raw pair
    # stream by construction (grouping preserves the distinct key set).
    cnt = (
        bg.groupBy("prev", "next")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()
    )
    ctx = (
        cnt.groupBy("prev")
        .agg(F.sum("cnt").alias("ctx_total"))
        .orderBy(F.desc("ctx_total"), "prev")
        .limit(5)
    )
    v = cnt.agg(F.countDistinct("next").alias("vocab"))
    ranked = (
        cnt.join(broadcast(ctx), "prev")
        .join(broadcast(v))
        .select(
            "prev",
            "next",
            "cnt",
            "ctx_total",
            F.expr("(cnt + 1) * 1000000 div (ctx_total + vocab)").alias("p_ppm"),
        )
    )
    w = Window.partitionBy("prev").orderBy(F.desc("cnt"), "next")
    return (
        ranked.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .orderBy(F.desc("ctx_total"), "prev", "rk")
    )


# --- vocabulary-coverage audit ----------------------------------------------------
# The tokenizer-audit every vocab change ships with: what fraction of token
# OCCURRENCES per language does the top-K corpus vocabulary cover, and what
# hits OOV. The vocab is derived ON-PLAN (top-100 tokens by corpus
# frequency, deterministic tie-break) — no driver round-trip — and is
# broadcast-safe BY CONSTRUCTION (GlobalLimit 100 regardless of corpus
# vocabulary size). Coverage in exact ppm integers.
_VOCAB_K = 100


@register(
    "q_vocab_coverage",
    rf"""
    WITH tok AS (
      SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS token
      FROM documents
    ),
    vocab AS (
      SELECT token FROM tok GROUP BY token
      ORDER BY COUNT(*) DESC, token LIMIT {_VOCAB_K}
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN token IN (SELECT token FROM vocab)
                         THEN 1 ELSE 0 END) AS BIGINT) AS covered_tokens,
           CAST(SUM(CASE WHEN token IN (SELECT token FROM vocab)
                         THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT)
             AS coverage_ppm
    FROM tok
    GROUP BY lang
    ORDER BY lang
    """,
    description=(
        f"vocabulary-coverage audit: per-language ppm of token occurrences"
        f" covered by the on-plan top-{_VOCAB_K} corpus vocabulary"
    ),
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    tok = d.select("lang", F.explode(F.split(F.trim("text"), r"\s+")).alias("token"))
    # ONE corpus pass (r14): aggregate to the (lang, token) count table
    # first and derive BOTH the top-K vocabulary and the per-language
    # coverage from it — previously the vocab subtree and the coverage
    # aggregate each re-planned the corpus scan + explode. All sums are
    # exact integers over the same token multiset, so the output is
    # identical by construction.
    lt = (
        tok.groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("__c"))
        .localCheckpoint()
    )
    vocab = (
        lt.groupBy("token")
        .agg(F.sum("__c").alias("__n"))
        .orderBy(F.desc("__n"), "token")
        .limit(_VOCAB_K)
        .select("token", F.lit(1).alias("__in_v"))
    )
    return (
        lt.join(broadcast(vocab), "token", "left")
        .groupBy("lang")
        .agg(
            F.sum("__c").alias("total_tokens"),
            F.sum(F.coalesce(F.col("__in_v"), F.lit(0)) * F.col("__c")).alias(
                "covered_tokens"
            ),
        )
        .select(
            "lang",
            "total_tokens",
            "covered_tokens",
            F.expr("covered_tokens * 1000000 div total_tokens").alias("coverage_ppm"),
        )
        .orderBy("lang")
    )


# --- Benford first-digit audit ------------------------------------------------------
# The classic fabricated-/corrupted-data screen: the first significant digit
# of naturally-occurring multiplicative quantities follows
# P(d) = log10(1 + 1/d). Digits are extracted from the INTEGER part via
# string (integer-to-string is identical across engines — no float log10
# knife-edges at powers of ten), observed shares are exact ppm, and the
# expected shares are plan-time literals embedded in both engines' text.
# One scan + one 9-group aggregate; scale-free.
_BENFORD_PPM = {d: round(math.log10(1.0 + 1.0 / d) * 1_000_000) for d in range(1, 10)}


def _benford_oracle() -> str:
    expected = " ".join(
        f"WHEN {d} THEN {ppm}" for d, ppm in _BENFORD_PPM.items()
    )
    return f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS INTEGER) AS digit
      FROM lineitem
    ),
    counts AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY digit
    ),
    total AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM counts)
    SELECT digit, n,
           CAST(n * 1000000 // t AS BIGINT) AS observed_ppm,
           CAST(CASE digit {expected} END AS BIGINT) AS expected_ppm,
           CAST(ABS(n * 1000000 // t - CASE digit {expected} END) AS BIGINT)
             AS abs_dev_ppm
    FROM counts CROSS JOIN total
    ORDER BY digit
    """


@register(
    "q_benford",
    _benford_oracle(),
    description=(
        "Benford first-digit audit: observed vs expected first-significant-"
        "digit shares of l_extendedprice in exact ppm (fraud/corruption screen)"
    ),
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    digit = F.substring(
        F.floor(F.col("l_extendedprice")).cast("long").cast("string"), 1, 1
    ).cast("int")
    # ONE lineitem scan (r14): the grand total is a global window over the
    # 9-row digit count table, so the total subtree no longer re-plans the
    # full scan — and unlike a checkpoint, the parquet scan (with its
    # pruned ReadSchema) stays in the final plan for the audit.
    counts = (
        li.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("t", F.sum("n").over(Window.partitionBy()))
    )
    expected = F.element_at(
        F.create_map(
            *[x for d, ppm in _BENFORD_PPM.items() for x in (F.lit(d), F.lit(ppm))]
        ),
        F.col("digit"),
    ).cast("long")
    return (
        counts
        .select(
            "digit",
            "n",
            F.expr("n * 1000000 div t").alias("observed_ppm"),
            expected.alias("expected_ppm"),
        )
        .withColumn(
            "abs_dev_ppm", F.abs(F.col("observed_ppm") - F.col("expected_ppm"))
        )
        .orderBy("digit")
    )


# --- recommender negative sampling --------------------------------------------------
# The training-pair sampler on the OTHER side of q_hard_negatives: for each
# heavy user, k pseudo-random items they did NOT interact with — the
# uniform negatives every implicit-feedback recommender trains against.
# Production shape at 100 TB: hash-SAMPLE the item catalog to a small
# candidate pool first (pure map-side filter, rate-tunable), anti-join the
# user's interactions out, rank by a deterministic per-(user,item) hash.
# Everything is md5-derived, so the "random" sample is reproducible and
# oracle-checkable — rerunning a failed partition selects identical rows.
_NEG_POOL_PPM = 20_000  # ~2% of the part catalog
_NEG_K = 3


def _neg_sampling_oracle() -> str:
    pool = hash_bucket_sql("p_partkey", 23)
    rank_h = hash_bucket_sql("CAST(c AS VARCHAR) || '|' || CAST(p AS VARCHAR)", 29)
    return f"""
    WITH heavy AS (
      SELECT o_custkey AS c, CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY o_custkey
      ORDER BY n_orders DESC, c LIMIT 5
    ),
    pool AS (
      SELECT p_partkey AS p FROM part WHERE {pool} < {_NEG_POOL_PPM}
    ),
    interacted AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    cand AS (
      SELECT heavy.c, heavy.n_orders, pool.p,
             {rank_h} AS h
      FROM heavy CROSS JOIN pool
      WHERE NOT EXISTS (SELECT 1 FROM interacted i
                        WHERE i.c = heavy.c AND i.p = pool.p)
    ),
    ranked AS (
      SELECT c, n_orders, p, h,
             CAST(ROW_NUMBER() OVER (PARTITION BY c ORDER BY h, p) AS BIGINT) AS rk
      FROM cand
    )
    SELECT c AS custkey, n_orders, p AS neg_partkey, CAST(h AS BIGINT) AS h, rk
    FROM ranked WHERE rk <= {_NEG_K}
    ORDER BY custkey, rk
    """


@register(
    "q_negative_sampling",
    _neg_sampling_oracle(),
    description=(
        f"recommender negative sampling: per heavy user, top-{_NEG_K}"
        " md5-ranked NON-interacted items from a hash-sampled candidate"
        " pool — reproducible uniform negatives, anti-joined against"
        " interactions"
    ),
)
def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey")
    heavy = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), "custkey")
        .limit(5)
    )
    pool = part.filter(hash_bucket("p_partkey", 23) < _NEG_POOL_PPM).select(
        F.col("p_partkey").alias("neg_partkey")
    )
    # Only the 5 heavy customers can survive the downstream anti-join, so
    # semi-filter their orders FIRST (r14, guide §3.4 — pre-filter the big
    # side): the order-lineitem join and the (custkey, partkey) distinct
    # shuffle shrink from every customer's history to 5 customers' worth.
    # Anti-join output is unchanged — rows for other custkeys never match.
    interacted = (
        orders.join(broadcast(heavy.select("custkey")), F.col("o_custkey") == F.col("custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select("custkey", F.col("l_partkey").alias("neg_partkey"))
        .distinct()
    )
    cand = broadcast(heavy).crossJoin(pool).join(
        interacted, ["custkey", "neg_partkey"], "left_anti"
    )
    rank_h = hash_bucket(
        F.concat(
            F.col("custkey").cast("string"), F.lit("|"), F.col("neg_partkey").cast("string")
        ),
        29,
    )
    w = Window.partitionBy("custkey").orderBy("h", "neg_partkey")
    return (
        cand.withColumn("h", rank_h)
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _NEG_K)
        .select("custkey", "n_orders", "neg_partkey", "h", "rk")
        .orderBy("custkey", "rk")
    )


# --- hashing-trick featurization -----------------------------------------------------
# The stateless vectorizer (Weinberger et al. 2009): token -> one of 64
# feature buckets via md5, sign from an independent md5 bit, weight = signed
# token count. No vocabulary table, no fit step — the property that makes it
# the featurizer of choice for unbounded vocabularies at stream/lake scale.
# Emitted as sparse (doc_id, bucket, weight) rows for a bounded doc slice;
# all integers, so the sparse vectors hash-compare exactly.
_FH_BUCKETS = 64


def _feature_hash_oracle() -> str:
    bucket = hash_bucket_sql("token", 31, _FH_BUCKETS)
    sign = hash_bucket_sql("token", 37, 2)
    return rf"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
      FROM documents WHERE doc_id < 10
    ),
    feat AS (
      SELECT doc_id,
             {bucket} AS bucket,
             CAST(SUM(CASE WHEN {sign} = 0 THEN 1 ELSE -1 END) AS BIGINT) AS weight
      FROM tok
      GROUP BY doc_id, bucket
    )
    SELECT doc_id, bucket, weight FROM feat
    WHERE weight <> 0
    ORDER BY doc_id, bucket
    """


@register(
    "q_feature_hash",
    _feature_hash_oracle(),
    description=(
        f"hashing-trick featurization: tokens to {_FH_BUCKETS} signed md5"
        " buckets, weight = signed count — stateless sparse vectors, no"
        " vocabulary table, exact integers"
    ),
)
def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    tok = d.select("doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("token"))
    sign = F.when(hash_bucket("token", 37, 2) == 0, F.lit(1)).otherwise(F.lit(-1))
    return (
        tok.select("doc_id", hash_bucket("token", 31, _FH_BUCKETS).alias("bucket"), sign.alias("s"))
        .groupBy("doc_id", "bucket")
        .agg(F.sum("s").alias("weight"))
        .filter(F.col("weight") != 0)
        .orderBy("doc_id", "bucket")
    )


# --- join-cardinality estimation audit -----------------------------------------------
# The optimizer-statistics primitive: the output size of a key self-join is
# SUM over keys of cnt(k)^2; a deterministic p-rate key SAMPLE estimates it
# as (1/p) * SUM over sampled keys of cnt(k)^2 — the classic sampling
# estimator a CBO runs instead of the full join. Both the exact and the
# estimated sums are exact integers here (the md5 sample is engine-portable),
# so the AUDIT itself is hash-checked: the estimate, the truth, and the
# within-2x verdict all match across engines. Plan: two aggregates over one
# scan each — the estimator never materializes the join it sizes.
_JCE_RATE_PPM = 100_000  # 10% key sample


def _join_card_oracle() -> str:
    keep = hash_bucket_sql("l_partkey", 41)
    return f"""
    WITH cnts AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c FROM lineitem GROUP BY l_partkey
    ),
    exact AS (
      SELECT CAST(SUM(c * c) AS BIGINT) AS exact_pairs,
             CAST(COUNT(*) AS BIGINT) AS n_keys
      FROM cnts
    ),
    est AS (
      SELECT CAST(SUM(c * c) * {1_000_000 // _JCE_RATE_PPM} AS BIGINT) AS est_pairs,
             CAST(COUNT(*) AS BIGINT) AS n_sampled_keys
      FROM cnts WHERE {keep} < {_JCE_RATE_PPM}
    )
    SELECT exact_pairs, n_keys, est_pairs, n_sampled_keys,
           est_pairs BETWEEN exact_pairs // 2 AND exact_pairs * 2 AS within_2x
    FROM exact CROSS JOIN est
    """


@register(
    "q_join_cardinality",
    _join_card_oracle(),
    description=(
        "join-cardinality estimation audit: self-join output size"
        " sum(cnt^2) vs a deterministic 10% key-sample estimate — the CBO"
        " statistics primitive, never materializing the join it sizes"
    ),
)
def q_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_partkey")
    cnts = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    exact = cnts.agg(
        F.sum(F.col("c") * F.col("c")).alias("exact_pairs"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    scale = 1_000_000 // _JCE_RATE_PPM
    est = cnts.filter(hash_bucket("l_partkey", 41) < _JCE_RATE_PPM).agg(
        (F.sum(F.col("c") * F.col("c")) * F.lit(scale)).alias("est_pairs"),
        F.count(F.lit(1)).alias("n_sampled_keys"),
    )
    return exact.join(broadcast(est)).select(
        "exact_pairs",
        "n_keys",
        "est_pairs",
        "n_sampled_keys",
        (
            (F.col("est_pairs") >= F.expr("exact_pairs div 2"))
            & (F.col("est_pairs") <= F.col("exact_pairs") * 2)
        ).alias("within_2x"),
    )
