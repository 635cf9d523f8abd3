"""Retrieval-infrastructure queries: positional inverted index, phrase
search over postings, contrastive hard-negative mining, and time-decayed
ranking.

These are the index-building and training-pair-mining ops a retrieval /
training-data stack runs next to dedup and ANN: the inverted index IS the
classic text index (term -> postings with positions), phrase search is its
canonical consumer (positional intersection, not substring scan), hard
negatives are the contrastive-training mining step (highest-similarity
WRONG-label neighbors), and decayed ranking is the freshness-weighted
leaderboard every feed/monitoring surface needs.

Every query follows the catalog parity rules (plans/catalog.py docstring):
exact integers wherever possible, 6dp-rounded cosines, deterministic
tie-breaks. Reference scope: the syscol engine ships no text index or
similarity miner; this is north-star surface (SURVEY.md §2.11).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.functions import broadcast

from syscol_spark.functions.text import posting_stats
from syscol_spark.functions.vectors import cosine_similarity
from syscol_spark.plans.catalog import register
from syscol_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, term) positional postings — 0-based positions, the
    phrase searches' input (the index aggregates use posting_stats).

    One narrow projection + generator, embarrassingly parallel per doc at
    100 TB.
    """
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.posexplode(F.split(F.trim("text"), r"\s+")).alias("pos", "term")
    )


# --- positional inverted index -------------------------------------------------
# The index-construction aggregate: per term, document frequency, total term
# frequency, the first posting doc, and a positions checksum (SUM of 0-based
# positions — proves the positional payload matches without hashing arrays).
# Plan: one generator (postings + per-doc distinct terms, posting_stats) ->
# one groupBy(term) with partial aggregation; no joins, no distinct aggregate.
@register(
    "q_inverted_index",
    r"""
    WITH p AS (
      SELECT doc_id, unnest(toks) AS term,
             generate_subscripts(toks, 1) - 1 AS pos
      FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
            FROM documents)
    )
    SELECT term,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
           CAST(COUNT(*) AS BIGINT) AS tf_total,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(SUM(pos) AS BIGINT) AS pos_checksum
    FROM p
    GROUP BY term
    ORDER BY df DESC, term
    LIMIT 40
    """,
    description=(
        "positional inverted index build: per-term df / tf / first posting"
        " / positions checksum in one exploded aggregation"
    ),
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        posting_stats(_t(spark, sf_dir, "documents"))
        .orderBy(F.desc("df"), "term")
        .limit(40)
    )


# --- phrase search over positional postings ------------------------------------
# The canonical inverted-index consumer: find documents containing the exact
# phrase "spark join" by intersecting the two terms' postings on
# (doc_id, pos+1 = pos) — NEVER a substring scan over raw text. Plan: two
# selective posting filters (pushed to the scan), one equi-join on
# (doc_id, pos), groupBy doc. At scale each posting list is a tiny fraction
# of the corpus and the join shuffles only those rows.
_PHRASE_A, _PHRASE_B = "spark", "join"


@register(
    "q_phrase_search",
    rf"""
    WITH p AS (
      SELECT doc_id, unnest(toks) AS term,
             generate_subscripts(toks, 1) - 1 AS pos
      FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
            FROM documents)
    ),
    a AS (SELECT doc_id, pos FROM p WHERE term = '{_PHRASE_A}'),
    b AS (SELECT doc_id, pos FROM p WHERE term = '{_PHRASE_B}')
    SELECT a.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(MIN(a.pos) AS BIGINT) AS first_pos
    FROM a JOIN b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    GROUP BY a.doc_id
    ORDER BY n_occurrences DESC, a.doc_id
    LIMIT 100
    """,
    description=(
        f'positional phrase search ("{_PHRASE_A} {_PHRASE_B}"): posting-list'
        " intersection on (doc, pos+1), never a substring scan"
    ),
)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _postings(spark, sf_dir)
    a = p.filter(F.col("term") == _PHRASE_A).select("doc_id", F.col("pos").alias("pos_a"))
    b = p.filter(F.col("term") == _PHRASE_B).select(
        F.col("doc_id").alias("doc_id_b"), F.col("pos").alias("pos_b")
    )
    return (
        a.join(b, (F.col("doc_id") == F.col("doc_id_b")) & (F.col("pos_b") == F.col("pos_a") + 1))
        .select("doc_id", "pos_a")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("pos_a").alias("first_pos"),
        )
        .orderBy(F.desc("n_occurrences"), "doc_id")
        .limit(100)
    )


# --- k-term phrase search (general positional intersection) --------------------
# The real index consumer: arbitrary-length phrases, not just bigrams. The
# k-way intersection is NOT k-1 chained joins (k corpus scans, k-1 shuffles):
# a posting for term t at position p contributes a candidate phrase START
# p - i for every phrase slot i holding t (a plan-time map literal, so
# repeated terms — "part the the" — are handled exactly), and a phrase
# occurs at (doc, start) iff ALL k slots contributed. That is ONE selective
# posting filter (term IN phrase), one <=k-wide projection fan-out, and ONE
# groupBy(doc, start) HAVING count = k — one corpus scan and one shuffle
# regardless of phrase length, the shuffle carrying only the k terms'
# postings. Slot multiplicity per (doc, pos, start) is 1 by construction
# (start determines the slot), so COUNT(*) equals the distinct-slot count.
_PHRASE_K = ("part", "the", "the")


def phrase_occurrences(postings: DataFrame, terms: tuple[str, ...]) -> DataFrame:
    """(doc_id, start) of every occurrence of ``terms`` as a contiguous
    phrase, from (doc_id, pos, term) positional postings — one scan, one
    shuffle, any k."""
    slot_map: dict[str, list[int]] = {}
    for i, t in enumerate(terms):
        slot_map.setdefault(t, []).append(i)
    m = F.create_map(
        *[
            x
            for t, idxs in slot_map.items()
            for x in (F.lit(t), F.array(*[F.lit(i) for i in idxs]))
        ]
    )
    hits = postings.filter(F.col("term").isin(list(set(terms)))).select(
        "doc_id", "pos", F.explode(F.element_at(m, F.col("term"))).alias("slot")
    )
    return (
        hits.select("doc_id", (F.col("pos") - F.col("slot")).alias("start"))
        .groupBy("doc_id", "start")
        .agg(F.count(F.lit(1)).alias("__k"))
        .filter(F.col("__k") == len(terms))
        .select("doc_id", "start")
    )


def _phrase_k_oracle(terms: tuple[str, ...]) -> str:
    values = ", ".join(f"({i}, '{t}')" for i, t in enumerate(terms))
    return rf"""
    WITH p AS (
      SELECT doc_id, unnest(toks) AS term,
             generate_subscripts(toks, 1) - 1 AS pos
      FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
            FROM documents)
    ),
    hits AS (
      SELECT doc_id, pos - ph.slot AS start
      FROM p JOIN (VALUES {values}) AS ph(slot, pterm) ON p.term = ph.pterm
    ),
    occ AS (
      SELECT doc_id, start FROM hits
      GROUP BY doc_id, start HAVING COUNT(*) = {len(terms)}
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(MIN(start) AS BIGINT) AS first_pos
    FROM occ
    GROUP BY doc_id
    ORDER BY n_occurrences DESC, doc_id
    LIMIT 100
    """


@register(
    "q_phrase_search_k",
    _phrase_k_oracle(_PHRASE_K),
    description=(
        f'k-way positional phrase search ("{" ".join(_PHRASE_K)}"): one scan,'
        " one shuffle for any phrase length; repeated phrase terms exact"
    ),
)
def q_phrase_search_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    occ = phrase_occurrences(_postings(spark, sf_dir), _PHRASE_K)
    return (
        occ.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("start").alias("first_pos"),
        )
        .orderBy(F.desc("n_occurrences"), "doc_id")
        .limit(100)
    )


# --- incremental inverted-index build (posting-delta merge) ---------------------
# The delta discipline every other index in the repo already has (dedup
# digests, winnow fingerprints, CDC chunks, ANN codes), applied to the
# posting lists: a NEW shard (doc_id % 5 == 0, the q_dedup_delta split)
# builds its per-term partials alone, and the merge with the base index is
# a union + ONE term-keyed re-aggregation of two INDEX-sized (not
# corpus-sized) tables. Every statistic is merge-algebraic — df sums
# because shards are doc-disjoint, tf sums, first_doc is min-of-mins, the
# positions checksum sums — so the merged index is provably equal to the
# full rebuild, which is exactly what the oracle checks (its SQL is the
# one-shot build; the engine runs the shard/merge path).
@register(
    "q_inverted_delta",
    r"""
    WITH p AS (
      SELECT doc_id, unnest(toks) AS term,
             generate_subscripts(toks, 1) - 1 AS pos
      FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
            FROM documents)
    )
    SELECT term,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
           CAST(COUNT(*) AS BIGINT) AS tf_total,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(SUM(pos) AS BIGINT) AS pos_checksum
    FROM p
    GROUP BY term
    ORDER BY df DESC, term
    LIMIT 40
    """,
    description=(
        "incremental inverted-index: new-shard posting partials merged into"
        " the base index by one term-keyed re-aggregation; oracle is the"
        " full rebuild the merge must equal"
    ),
)
def q_inverted_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    # ONE corpus scan (r14, guide §2.3): the base and delta shards are two
    # tags of the same posting stream, so the per-shard partials come from
    # one posting_stats keyed by the tag. df sums across shards because the
    # shard split is BY doc_id — a doc contributes to exactly one shard.
    partials = posting_stats(d.withColumn("__delta", F.col("doc_id") % 5 == 0), by=("__delta",))
    merged = (
        partials
        .groupBy("term")
        .agg(
            F.sum("df").alias("df"),
            F.sum("tf_total").alias("tf_total"),
            F.min("first_doc").alias("first_doc"),
            F.sum("pos_checksum").alias("pos_checksum"),
        )
    )
    return merged.orderBy(F.desc("df"), "term").limit(40)


# --- contrastive hard-negative mining ------------------------------------------
# The training-pair miner for retrieval/embedding models: for each anchor,
# the top-k highest-cosine vectors with a DIFFERENT label — maximally
# confusable wrong answers (in-batch negatives are too easy; these are the
# "hard" ones). Plan: broadcast the small anchor set, one corpus scan,
# per-anchor window top-k. Swap any ANN shortlist in for the scan at scale;
# the label-exclusion filter composes unchanged.
@register(
    "q_hard_negatives",
    """
    SELECT query_id, label, neighbor_id, neg_label, cosine, rk FROM (
      SELECT q.vec_id AS query_id, q.label AS label,
             c.vec_id AS neighbor_id, c.label AS neg_label,
             ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6) AS cosine,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                     CAST(c.embedding AS DOUBLE[])), 6) DESC,
                        c.vec_id) AS BIGINT) AS rk
      FROM embeddings q JOIN embeddings c ON c.label <> q.label
      WHERE q.vec_id < 8)
    WHERE rk <= 3
    """,
    description=(
        "contrastive hard-negative mining: per-anchor top-3 highest-cosine"
        " WRONG-label neighbors (broadcast anchors, one corpus scan)"
    ),
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("label"),
        F.col("embedding").alias("q_vec"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neg_label"),
        F.col("embedding").alias("c_vec"),
    )
    scored = (
        c.join(broadcast(q), F.col("neg_label") != F.col("label"))
        .select(
            "query_id",
            "label",
            "neighbor_id",
            "neg_label",
            F.round(cosine_similarity("q_vec", "c_vec"), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return scored.select(
        "*", F.row_number().over(w).cast("long").alias("rk")
    ).filter(F.col("rk") <= 3)


# --- hard negatives over an ANN shortlist ---------------------------------------
# Proof of the composition q_hard_negatives' docstring claims: swap the full
# corpus scan for an ANN candidate generator and the label-exclusion filter
# composes unchanged. Candidates come from the SRP-LSH kernel (deterministic
# seeded hyperplanes, multi-probe Hamming<=1 — the same bit-exact kernel
# q_ann_srp's oracle mirrors), so the candidate set is EXACT across engines
# and the pair is oracle-hashable: the corpus is hashed once, each anchor
# probes 1 + n_planes buckets, and the join meets only bucket-collision
# candidates — never the corpus per anchor. Ranking is identical to
# q_hard_negatives (6dp-rounded cosine desc, neighbor id).
def _hard_negatives_ann_oracle() -> str:
    from syscol_spark.plans.northstar import _srp_bucket_sql

    return f"""
    WITH b AS MATERIALIZED (
      SELECT vec_id, label, embedding, {_srp_bucket_sql(64, 6)} AS bucket
      FROM embeddings
    )
    SELECT query_id, label, neighbor_id, neg_label, cosine, rk FROM (
      SELECT q.vec_id AS query_id, q.label AS label,
             c.vec_id AS neighbor_id, c.label AS neg_label,
             ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6) AS cosine,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                     CAST(c.embedding AS DOUBLE[])), 6) DESC,
                        c.vec_id) AS BIGINT) AS rk
      FROM b q JOIN b c
        ON q.vec_id < 8 AND c.label <> q.label
       AND bit_count(xor(q.bucket, c.bucket)) <= 1)
    WHERE rk <= 3
    """


@register(
    "q_hard_negatives_ann",
    _hard_negatives_ann_oracle(),
    description=(
        "hard-negative mining over an SRP-LSH shortlist: ANN candidates +"
        " wrong-label filter + per-anchor top-3 (bucket join, no full scan)"
    ),
)
def q_hard_negatives_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.operators.similarity import srp_bucket

    n_planes = 6
    emb = _t(spark, sf_dir, "embeddings")
    bucket = srp_bucket("embedding", 64, n_planes)
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neg_label"),
        F.col("embedding").alias("c_vec"),
        bucket.alias("bucket"),
    )
    b = F.col("_bucket")
    masks = [0] + [1 << p for p in range(n_planes)]
    q = (
        emb.filter(F.col("vec_id") < 8)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("label"),
            F.col("embedding").alias("q_vec"),
            bucket.alias("_bucket"),
        )
        .select(
            "query_id", "label", "q_vec",
            F.explode(
                F.array(*[b.bitwiseXOR(F.lit(m).cast("long")) for m in masks])
            ).alias("bucket"),
        )
    )
    scored = (
        c.join(broadcast(q), "bucket")
        .filter(F.col("neg_label") != F.col("label"))
        .select(
            "query_id",
            "label",
            "neighbor_id",
            "neg_label",
            F.round(cosine_similarity("q_vec", "c_vec"), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return scored.select(
        "*", F.row_number().over(w).cast("long").alias("rk")
    ).filter(F.col("rk") <= 3)


# --- time-decayed ranking -------------------------------------------------------
# Freshness-weighted leaderboard: each event contributes 2^-(age/halflife)
# where age is measured from the corpus max timestamp. EXACT integers:
# the decay exponent k = age_us div halflife_us is an integer, the
# contribution is 1_000_000 >> k (micro units), so SUM is order-independent
# and hash-exact across engines. k is capped at 30 (beyond 2^-20 the micro
# contribution is already 0; the cap keeps 1<<k in range on both engines).
# Plan: one scan + global-max broadcast + one groupBy(user) — the same shape
# at any scale.
_HALFLIFE_US = 21_600_000_000  # 6 hours


@register(
    "q_decayed_topk",
    f"""
    WITH mx AS (SELECT MAX(epoch_us(ts)) AS t_max FROM events),
    scored AS (
      SELECT user_id,
             1000000 // (CAST(1 AS BIGINT) << LEAST(
               (mx.t_max - epoch_us(ts)) // {_HALFLIFE_US}, 30)) AS w_micro
      FROM events, mx
    )
    SELECT user_id,
           CAST(SUM(w_micro) AS BIGINT) AS score_micro,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM scored
    GROUP BY user_id
    ORDER BY score_micro DESC, user_id
    LIMIT 20
    """,
    description=(
        "time-decayed leaderboard: per-user sum of 2^-(age/6h) in exact"
        " micro units (integer shift decay), top-20"
    ),
)
def q_decayed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts_us").alias("t_max"))
    return (
        ev.join(broadcast(mx))
        .select(
            "user_id",
            F.expr(
                f"1000000 div shiftleft(cast(1 as bigint),"
                f" least((t_max - ts_us) div {_HALFLIFE_US}, 30))"
            ).alias("w_micro"),
        )
        .groupBy("user_id")
        .agg(
            F.sum("w_micro").alias("score_micro"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy(F.desc("score_micro"), "user_id")
        .limit(20)
    )


# --- reciprocal-rank fusion (hybrid retrieval) ------------------------------------
# The standard hybrid-search combiner (Cormack et al. 2009): fuse a lexical
# ranking (BM25, the q_bm25 kernel and terms) with a semantic ranking
# (cosine to an anchor embedding) by summing 1/(60+rank) per system —
# robust to incomparable score scales because only RANKS cross systems.
# Exact integers: contributions are 1000000 div (60+rank); a doc missing
# from one system's top-20 contributes 0 (rank encoded 0 = absent, never
# NULL, so the hash compare is total). Plan: each system is its own top-20
# (distributed TakeOrdered), rank assignment happens on the LIMITed 20-row
# tables (bounded single-task windows), and the fusion is a tiny full-outer
# join — corpus-sized work never crosses systems.
_RRF_K = 60
_RRF_TOPN = 20


def _rrf_oracle() -> str:
    terms = ("join", "filter", "batch")
    return rf"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
      FROM documents
    ), dl AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id
    ), corpus AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ), tf AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok WHERE token IN {str(terms)} GROUP BY doc_id, token
    ), dfreq AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token
    ), bm AS (
      SELECT doc_id, ROUND(SUM(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                 * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS s
      FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id) CROSS JOIN corpus
      GROUP BY doc_id ORDER BY s DESC, doc_id LIMIT {_RRF_TOPN}
    ), bm_rk AS (
      SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS BIGINT) AS bm25_rank
      FROM bm
    ), cos AS (
      SELECT c.vec_id AS doc_id,
             ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6) AS cosine
      FROM embeddings q JOIN embeddings c ON q.vec_id = 0 AND c.vec_id <> 0
      ORDER BY cosine DESC, c.vec_id LIMIT {_RRF_TOPN}
    ), cos_rk AS (
      SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS BIGINT) AS cos_rank
      FROM cos
    )
    SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
           COALESCE(b.bm25_rank, 0) AS bm25_rank,
           COALESCE(c.cos_rank, 0) AS cos_rank,
           CAST(COALESCE(1000000 // ({_RRF_K} + b.bm25_rank), 0)
              + COALESCE(1000000 // ({_RRF_K} + c.cos_rank), 0) AS BIGINT) AS rrf_micro
    FROM bm_rk b FULL OUTER JOIN cos_rk c USING (doc_id)
    ORDER BY rrf_micro DESC, doc_id LIMIT 10
    """


@register(
    "q_rank_fusion",
    _rrf_oracle(),
    description=(
        "reciprocal-rank fusion: BM25 top-20 + embedding-cosine top-20 fused"
        " by sum of 1000000/(60+rank) exact integers; ranks cross systems,"
        " scores never do"
    ),
)
def q_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.functions.text import tokens

    terms = ("join", "filter", "batch")
    k1, b_ = 1.2, 0.75
    d = _t(spark, sf_dir, "documents")
    # dl via size(tokens) on the un-exploded frame (r14): same rows as the
    # explode+groupBy (see q_bm25), zero shuffle, one tokenize pass saved
    dl = d.select("doc_id", F.size(tokens("text")).alias("dl")).filter(
        F.col("dl") >= 1
    )
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        d.select("doc_id", F.explode(tokens("text")).alias("token"))
        .filter(F.col("token").isin(*terms))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    denom = F.col("tf") + k1 * (1.0 - b_ + b_ * F.col("dl") / F.col("avgdl"))
    bm = (
        tf.join(broadcast(dfreq), "token")
        .join(dl, "doc_id")
        .join(broadcast(corpus))
        .groupBy("doc_id")
        .agg(F.round(F.sum(idf * F.col("tf") * (k1 + 1.0) / denom), 6).alias("s"))
        .orderBy(F.desc("s"), "doc_id")
        .limit(_RRF_TOPN)
    )
    bm_rk = bm.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("s"), "doc_id"))
        .cast("long")
        .alias("bm25_rank"),
    )
    emb = _t(spark, sf_dir, "embeddings")
    anchor = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_vec"))
    cos = (
        emb.filter(F.col("vec_id") != 0)
        .join(broadcast(anchor))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine_similarity("q_vec", "embedding"), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "doc_id")
        .limit(_RRF_TOPN)
    )
    cos_rk = cos.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("cosine"), "doc_id"))
        .cast("long")
        .alias("cos_rank"),
    )
    fused = bm_rk.join(cos_rk, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce("bm25_rank", F.lit(0)).alias("bm25_rank"),
        F.coalesce("cos_rank", F.lit(0)).alias("cos_rank"),
        (
            F.coalesce(
                F.expr(f"1000000 div ({_RRF_K} + bm25_rank)"), F.lit(0)
            )
            + F.coalesce(F.expr(f"1000000 div ({_RRF_K} + cos_rank)"), F.lit(0))
        ).alias("rrf_micro"),
    )
    return fused.orderBy(F.desc("rrf_micro"), "doc_id").limit(10)


# --- ANN recall audit --------------------------------------------------------------
# The serving-quality gauge every ANN deployment reports: recall@k of the
# approximate shortlist against the exact top-k. Both sides use the SAME
# deterministic ranking (6dp-rounded cosine desc, neighbor id) and the ANN
# side is the bit-exact SRP multi-probe kernel (seeded hyperplanes, Hamming
# <= 1), so the hit COUNTS are exact across engines and the whole audit is
# oracle-hashable — unlike a sampled recall estimate. Plan: exact side is
# one corpus scan against the broadcast 8-anchor set; ANN side meets only
# bucket-collision candidates; the comparison joins two k-row-per-anchor
# tables.
_RECALL_K = 5
_RECALL_PLANES = 6


def _ann_recall_oracle() -> str:
    from syscol_spark.plans.northstar import _srp_bucket_sql

    return f"""
    WITH b AS MATERIALIZED (
      SELECT vec_id, embedding, {_srp_bucket_sql(64, _RECALL_PLANES)} AS bucket
      FROM embeddings
    ),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                       CAST(c.embedding AS DOUBLE[])), 6) DESC,
                          c.vec_id) AS rk
        FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < 8)
      WHERE rk <= {_RECALL_K}
    ),
    ann AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                       CAST(c.embedding AS DOUBLE[])), 6) DESC,
                          c.vec_id) AS rk
        FROM b q JOIN b c
          ON q.vec_id < 8 AND c.vec_id <> q.vec_id
         AND bit_count(xor(q.bucket, c.bucket)) <= 1)
      WHERE rk <= {_RECALL_K}
    )
    SELECT e.query_id,
           CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
           CAST({_RECALL_K} AS BIGINT) AS k,
           CAST(COUNT(a.neighbor_id) * 1000000 // {_RECALL_K} AS BIGINT) AS recall_ppm
    FROM exact e LEFT JOIN ann a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """


@register(
    "q_ann_recall",
    _ann_recall_oracle(),
    description=(
        f"ANN recall audit: recall@{_RECALL_K} of the SRP multi-probe"
        " shortlist vs the exact top-k, per anchor, in exact ppm"
        " (deterministic kernels make the audit oracle-hashable)"
    ),
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.operators.similarity import srp_bucket

    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    cand = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
    )
    rk_w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")

    exact = (
        cand.join(broadcast(anchors), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_similarity("q_vec", "c_vec"), 6).alias("cosine"),
        )
        .withColumn("rk", F.row_number().over(rk_w))
        .filter(F.col("rk") <= _RECALL_K)
        .select("query_id", "neighbor_id")
    )

    bucket = srp_bucket("embedding", 64, _RECALL_PLANES)
    hashed = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        bucket.alias("bucket"),
    )
    b = F.col("_bucket")
    masks = [0] + [1 << p for p in range(_RECALL_PLANES)]
    probes = (
        emb.filter(F.col("vec_id") < 8)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_vec"),
            bucket.alias("_bucket"),
        )
        .select(
            "query_id",
            "q_vec",
            F.explode(
                F.array(*[b.bitwiseXOR(F.lit(m).cast("long")) for m in masks])
            ).alias("bucket"),
        )
    )
    ann = (
        hashed.join(broadcast(probes), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_similarity("q_vec", "c_vec"), 6).alias("cosine"),
        )
        .withColumn("rk", F.row_number().over(rk_w))
        .filter(F.col("rk") <= _RECALL_K)
        .select(
            F.col("query_id").alias("ann_query_id"),
            F.col("neighbor_id").alias("ann_neighbor_id"),
        )
    )

    return (
        exact.join(
            ann,
            (F.col("query_id") == F.col("ann_query_id"))
            & (F.col("neighbor_id") == F.col("ann_neighbor_id")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("ann_neighbor_id").alias("n_hits"))
        .select(
            "query_id",
            "n_hits",
            F.lit(_RECALL_K).cast("long").alias("k"),
            F.expr(f"n_hits * 1000000 div {_RECALL_K}").alias("recall_ppm"),
        )
        .orderBy("query_id")
    )
