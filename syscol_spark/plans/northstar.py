"""North-star LLM-data-pipeline operator coverage: text analysis, dedup
family, embedding similarity search, multimodal column plumbing.

Every entry carries a DuckDB value-hash oracle — including q_approx_distinct,
whose sketch values aren't portable but whose accuracy contract is emitted as
oracle-checked booleans. The "probabilistic" operators (MinHash / SimHash / SRP / IVF) are
oracle-checked by running deterministic, engine-portable kernels (md5-60bit
token hashing, plan-time hyperplane literals, unrolled k-means CTEs) so the
DuckDB twin reproduces the exact candidate sets.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from syscol_spark.functions.text import (
    DEFAULT_STOPWORDS,
    FINGERPRINT_P,
    PUNCT_CLASS,
    normalize_text,
    punct_ratio,
    quality_score,
    stopword_hits,
    token_count,
    tokens,
    word_shingles,
)
from syscol_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from syscol_spark.operators import similarity as _sim
from syscol_spark.operators.similarity import brute_force_topk, srp_topk
from syscol_spark.plans.catalog import register
from syscol_spark.sources.tables import load_table

_STOPS_SQL = ", ".join(f"'{s}'" for s in DEFAULT_STOPWORDS)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


# --- text statistics ---------------------------------------------------------
@register(
    "q_doc_stats",
    f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
           CAST(SUM(array_length(string_split_regex(trim(text), '\\s+'))) AS DOUBLE) / COUNT(*) AS avg_tokens,
           CAST(SUM(CAST(floor(1000000.0 * (length(text) - length(regexp_replace(text, '{PUNCT_CLASS}', '', 'g')))
                     / length(text)) AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_punct_micro
    FROM documents
    GROUP BY lang
    """,
    description="text analysis: token/char/punctuation statistics per language",
)
def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
            (F.sum(token_count("text")).cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
            (F.sum(F.floor(F.lit(1000000.0) * (F.length("text") - F.length(F.regexp_replace("text", PUNCT_CLASS, ""))) / F.length("text")).cast("long")).cast("double") / F.count(F.lit(1))).alias("avg_punct_micro"),
        )
    )


# --- token frequencies -------------------------------------------------------
@register(
    "q_doc_top_tokens",
    """
    SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    WHERE token <> ''
    GROUP BY token
    ORDER BY freq DESC, token
    LIMIT 20
    """,
    description="token frequency: explode + count + deterministic top-k",
)
def q_doc_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "token")
        .limit(20)
    )


# --- exact dedup -------------------------------------------------------------
@register(
    "q_dedup_exact",
    """
    SELECT COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique,
           COUNT(*) - CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_dups
    FROM documents
    """,
    description="exact dedup via content hash (md5 groupBy)",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    groups = exact_dedup(_docs(spark, sf_dir), "text", "doc_id")
    return groups.agg(
        F.sum("n_copies").alias("n_docs"),
        F.count(F.lit(1)).alias("n_unique"),
        (F.sum("n_copies") - F.count(F.lit(1))).alias("n_dups"),
    )


# --- incremental exact dedup --------------------------------------------------
@register(
    "q_dedup_exact_delta",
    """
    WITH oldd AS (SELECT DISTINCT md5(text) AS content_hash FROM documents WHERE doc_id < 250),
         newd AS (SELECT doc_id, md5(text) AS content_hash FROM documents WHERE doc_id >= 250),
         firsts AS (SELECT content_hash, MIN(doc_id) AS first_id FROM newd GROUP BY content_hash)
    SELECT n.doc_id, n.content_hash,
           (o.content_hash IS NULL AND n.doc_id = f.first_id) AS keep
    FROM newd n
    LEFT JOIN oldd o USING (content_hash)
    JOIN firsts f USING (content_hash)
    """,
    description="incremental exact dedup: new shard vs persisted corpus digest table (keep = unseen digest + first-in-shard)",
)
def q_dedup_exact_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.operators.dedup import exact_dedup_delta

    docs = _docs(spark, sf_dir)
    old_digests = docs.filter(F.col("doc_id") < 250).select(
        F.md5(F.col("text")).alias("content_hash")
    )
    return exact_dedup_delta(docs.filter(F.col("doc_id") >= 250), old_digests)


# --- per-document quality scores --------------------------------------------
@register(
    "q_text_quality",
    f"""
    WITH t AS (
      SELECT doc_id,
             CAST(array_length(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                                  tok -> tok IN ({_STOPS_SQL}))) AS BIGINT) AS stop_hits,
             CAST(length(text) - length(regexp_replace(text, '{PUNCT_CLASS}', '', 'g')) AS DOUBLE)
               / length(text) AS praw
      FROM documents
    )
    SELECT doc_id, n_tokens, stop_hits,
           ROUND(praw, 6) AS punct_r,
           ROUND(0.5 * least(n_tokens / 64.0, 1.0)
               + 0.4 * least(4.0 * stop_hits / greatest(n_tokens, 1), 1.0)
               + 0.1 * (1 - least(praw * 10, 1.0)), 6) AS quality
    FROM t
    """,
    description="per-doc quality scoring (length/stopword/punctuation heuristics)",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        stopword_hits("text").alias("stop_hits"),
        F.round(punct_ratio("text"), 6).alias("punct_r"),
        quality_score("text").alias("quality"),
    )


# --- language-ID heuristic ---------------------------------------------------
@register(
    "q_lang_id",
    f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                                        tok -> tok IN ({_STOPS_SQL}))) AS DOUBLE)
                              / array_length(string_split_regex(trim(text), '\\s+')) >= 0.1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_guessed_en
    FROM documents
    GROUP BY lang
    """,
    description="language-ID heuristic: stopword-ratio classifier vs lang metadata",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    ratio = stopword_hits("text").cast("double") / token_count("text")
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(ratio >= 0.1, 1).otherwise(0)).alias("n_guessed_en"),
        )
    )


# --- language-ID via character n-gram profiles (Cavnar-Trenkle shape) -------
@register(
    "q_lang_id_ngram",
    """
    WITH doc_grams AS (
      SELECT doc_id, lang,
             unnest(list_distinct(list_transform(
               range(1, greatest(length(text) - 2, 1) + 1),
               i -> substr(text, i, 3)))) AS gram
      FROM documents
    ), counts AS (
      -- profile built from the deterministic 25% hash sample, like the engine
      SELECT lang, gram, COUNT(*) AS cnt FROM doc_grams
      WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 15))::BIGINT % 1000000) < 250000
      GROUP BY 1, 2
    ), profiles AS (
      SELECT lang AS profile_lang, gram FROM (
        SELECT lang, gram, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, gram) AS rk
        FROM counts) WHERE rk <= 50
    ), scored AS (
      SELECT d.doc_id, d.lang AS true_lang, p.profile_lang, COUNT(*) AS score
      FROM doc_grams d JOIN profiles p ON d.gram = p.gram
      GROUP BY 1, 2, 3
    ), predicted AS (
      SELECT doc_id, true_lang, profile_lang AS predicted_lang FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, profile_lang) AS rk
        FROM scored) WHERE rk = 1
    )
    SELECT true_lang, predicted_lang, COUNT(*) AS n_docs
    FROM predicted GROUP BY 1, 2
    """,
    description="language-ID: char-trigram frequency profiles, confusion matrix",
)
def q_lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.operators.langid import classify_by_ngram, ngram_profiles

    d = _docs(spark, sf_dir)
    profiles = ngram_profiles(
        d, "text", "lang", top_k=50, id_col="doc_id", sample_ppm=250_000
    )
    predicted = classify_by_ngram(d, "text", "doc_id", profiles)
    return (
        predicted.join(d.select(F.col("doc_id").alias("id"), F.col("lang").alias("true_lang")), "id")
        .groupBy("true_lang", F.col("predicted_lang"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# --- n-gram Jaccard near-dup -------------------------------------------------
@register(
    "q_ngram_jaccard",
    # Candidates come from a full inverted index on (lang, shingle) instead
    # of an all-pairs block self-join: J >= 0.2 > 0 implies at least one
    # shared shingle, so the equi-join candidate set is LOSSLESS and the
    # output is identical — but the oracle now runs at 10x data (sf1) where
    # the quadratic form did not.
    """
    WITH sh AS MATERIALIZED (
      SELECT doc_id, lang,
             list_distinct(CASE WHEN array_length(toks) >= 3
               THEN list_transform(range(1, array_length(toks) - 1),
                                   i -> array_to_string(list_slice(toks, i, i + 2), ' '))
               ELSE [array_to_string(toks, ' ')] END) AS shset
      FROM (SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS toks FROM documents)
    ), g AS (
      SELECT doc_id, lang, unnest(shset) AS gram FROM sh
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM g a JOIN g b ON a.lang = b.lang AND a.gram = b.gram AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b,
           ROUND(CAST(len(list_intersect(x.shset, y.shset)) AS DOUBLE)
                 / (len(x.shset) + len(y.shset) - len(list_intersect(x.shset, y.shset))), 6) AS jaccard
    FROM cand c JOIN sh x ON x.doc_id = c.id_a JOIN sh y ON y.doc_id = c.id_b
    WHERE CAST(len(list_intersect(x.shset, y.shset)) AS DOUBLE)
          / (len(x.shset) + len(y.shset) - len(list_intersect(x.shset, y.shset))) >= 0.2
    """,
    description="n-gram Jaccard near-dup with language blocking",
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(_docs(spark, sf_dir), "text", "doc_id", "lang", shingle_n=3, min_jaccard=0.2)


# --- exact duplicated-substring spans (Lee et al. ACL'22 semantics) ----------
@register(
    "q_substring_dedup",
    """
    WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
    g AS (
      SELECT doc_id, unnest(CASE WHEN len(toks) >= 8
        THEN list_transform(range(1, len(toks) - 6),
                            i -> md5(array_to_string(list_slice(toks, i, i + 7), ' ')))
        ELSE [md5(array_to_string(toks, ' '))] END) AS gram
      FROM t),
    d AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
    m AS (SELECT g.doc_id, CASE WHEN d.gram IS NOT NULL THEN 1 ELSE 0 END AS dup
          FROM g LEFT JOIN d ON g.gram = d.gram)
    SELECT doc_id AS id, CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(dup) AS BIGINT) AS n_dup_spans,
           CAST(floor(1000000.0 * CAST(SUM(dup) AS DOUBLE) / COUNT(*)) AS BIGINT) AS dup_ppm
    FROM m GROUP BY doc_id HAVING SUM(dup) >= 1
    """,
    description="exact duplicated-substring spans: 8-token windows occurring in >=2 docs, per-doc dup fraction",
)
def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.operators.dedup import duplicated_span_stats

    return duplicated_span_stats(_docs(spark, sf_dir), "text", "doc_id", n=8)


# --- dedup clustering: connected components over near-dup pairs -------------
@register(
    "q_dedup_clusters",
    """
    WITH RECURSIVE sh AS (
      SELECT doc_id, lang,
             list_distinct(CASE WHEN array_length(toks) >= 3
               THEN list_transform(range(1, array_length(toks) - 1),
                                   i -> array_to_string(list_slice(toks, i, i + 2), ' '))
               ELSE [array_to_string(toks, ' ')] END) AS shset
      FROM (SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS toks FROM documents)
    ), g AS (
      SELECT doc_id, lang, unnest(shset) AS gram FROM sh
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM g a JOIN g b ON a.lang = b.lang AND a.gram = b.gram AND a.doc_id < b.doc_id
    ), pairs AS (
      SELECT c.id_a, c.id_b
      FROM cand c JOIN sh x ON x.doc_id = c.id_a JOIN sh y ON y.doc_id = c.id_b
      WHERE CAST(len(list_intersect(x.shset, y.shset)) AS DOUBLE)
            / (len(x.shset) + len(y.shset) - len(list_intersect(x.shset, y.shset))) >= 0.5
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ), reach AS (
      SELECT src AS id, src AS label FROM edges
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
    ), labeled AS (
      SELECT id, MIN(label) AS cluster FROM reach GROUP BY id
    )
    SELECT id, cluster, CAST(cnt AS BIGINT) AS cluster_size
    FROM labeled JOIN (SELECT cluster AS c2, COUNT(*) AS cnt FROM labeled GROUP BY 1) s
      ON labeled.cluster = s.c2
    """,
    description="iterative connected components over near-dup pairs (recursive-CTE oracle)",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.operators.dedup import dedup_clusters

    pairs = ngram_jaccard_pairs(_docs(spark, sf_dir), "text", "doc_id", "lang", shingle_n=3, min_jaccard=0.5)
    return dedup_clusters(pairs)


# --- dedup terminal step: keep the best copy per near-dup cluster -----------
@register(
    "q_dedup_keep_best",
    f"""
    WITH RECURSIVE sh AS (
      SELECT doc_id, lang,
             list_distinct(CASE WHEN array_length(toks) >= 3
               THEN list_transform(range(1, array_length(toks) - 1),
                                   i -> array_to_string(list_slice(toks, i, i + 2), ' '))
               ELSE [array_to_string(toks, ' ')] END) AS shset
      FROM (SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS toks FROM documents)
    ), g AS (
      SELECT doc_id, lang, unnest(shset) AS gram FROM sh
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM g a JOIN g b ON a.lang = b.lang AND a.gram = b.gram AND a.doc_id < b.doc_id
    ), pairs AS (
      SELECT c.id_a, c.id_b
      FROM cand c JOIN sh x ON x.doc_id = c.id_a JOIN sh y ON y.doc_id = c.id_b
      WHERE CAST(len(list_intersect(x.shset, y.shset)) AS DOUBLE)
            / (len(x.shset) + len(y.shset) - len(list_intersect(x.shset, y.shset))) >= 0.5
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ), reach AS (
      SELECT src AS id, src AS label FROM edges
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
    ), labeled AS (
      SELECT id, MIN(label) AS cluster FROM reach GROUP BY id
    ), sized AS (
      SELECT labeled.id, labeled.cluster, CAST(cnt AS BIGINT) AS cluster_size
      FROM labeled JOIN (SELECT cluster AS c2, COUNT(*) AS cnt FROM labeled GROUP BY 1) s
        ON labeled.cluster = s.c2
    ), q AS (
      SELECT doc_id,
             ROUND(0.5 * least(CAST(array_length(string_split_regex(trim(text), '\\s+')) AS BIGINT) / 64.0, 1.0)
                 + 0.4 * least(4.0 * CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                                                          tok -> tok IN ({_STOPS_SQL}))) AS BIGINT)
                               / greatest(CAST(array_length(string_split_regex(trim(text), '\\s+')) AS BIGINT), 1), 1.0)
                 + 0.1 * (1 - least(CAST(length(text) - length(regexp_replace(text, '{PUNCT_CLASS}', '', 'g')) AS DOUBLE)
                                    / length(text) * 10, 1.0)), 6) AS quality
      FROM documents
    ), best AS (
      SELECT id AS doc_id, cluster, cluster_size, quality FROM (
        SELECT sized.*, q.quality,
               ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY quality DESC, id) AS rk
        FROM sized JOIN q ON q.doc_id = sized.id) WHERE rk = 1
    ), singles AS (
      SELECT d.doc_id, d.doc_id AS cluster, CAST(1 AS BIGINT) AS cluster_size, q.quality
      FROM documents d JOIN q ON q.doc_id = d.doc_id
      WHERE d.doc_id NOT IN (SELECT id FROM labeled)
    )
    SELECT * FROM best UNION ALL SELECT * FROM singles
    """,
    description="dedup keep-one policy: highest-quality doc per near-dup cluster + all singletons",
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.operators.dedup import dedup_clusters, keep_best_representative

    docs = _docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", "lang", shingle_n=3, min_jaccard=0.5)
    clusters = dedup_clusters(pairs)
    return keep_best_representative(docs, clusters, quality_score("text"))


# --- MinHash + LSH ----------------------------------------------------------
# Oracle technique: the engine runs the PORTABLE hash kernel (md5-60bit mod
# 2^31-1, functions.text.token_int — the kernel q_doc_fingerprint already
# hash-verified cross-engine) and collision-free string band buckets, so the
# DuckDB twin reproduces the exact signatures, the exact candidate set, and
# the exact estimates. Same approach as the SRP oracle below: deterministic
# seeds make a "probabilistic" operator fully checkable.
_MH_P = 2147483647
_MH_N, _MH_BANDS, _MH_ROWS = 16, 4, 4
_MH_SIG_COLS = ",\n         ".join(
    f"MIN(({2 * i + 1} * h + {i * 40_503 + 1}) % {_MH_P}) AS s{i}" for i in range(_MH_N)
)
_MH_BAND_EQ = " OR ".join(
    "("
    + " AND ".join(f"a.s{b * _MH_ROWS + r} = b.s{b * _MH_ROWS + r}" for r in range(_MH_ROWS))
    + ")"
    for b in range(_MH_BANDS)
)
_MH_MATCHES = " + ".join(f"(CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END)" for i in range(_MH_N))


@register(
    "q_minhash_lsh",
    f"""
    WITH sh AS (
      SELECT doc_id,
             CASE WHEN array_length(toks) >= 3
               THEN list_transform(range(1, array_length(toks) - 1),
                                   i -> array_to_string(list_slice(toks, i, i + 2), ' '))
               ELSE [array_to_string(toks, ' ')] END AS shset
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents)
    ), hashed AS (
      SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT % {_MH_P} AS h
      FROM (SELECT doc_id, unnest(shset) AS s FROM sh)
    ), sig AS (
      SELECT doc_id,
         {_MH_SIG_COLS}
      FROM hashed GROUP BY doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(({_MH_MATCHES}) / {_MH_N}.0, 6) AS est_jaccard
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ({_MH_BAND_EQ})
    """,
    description="MinHash signatures + banded LSH candidate pairs (portable-kernel exact oracle)",
)
def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = minhash_signatures(
        _docs(spark, sf_dir), "text", "doc_id", n_hashes=_MH_N, shingle_n=3, kernel="portable"
    )
    # materialize the signatures: the LSH band self-join would otherwise
    # re-run the (shingle + md5) signature scan on BOTH sides — at lake
    # scale this is the "write signatures to a table first" step
    return minhash_lsh_candidates(
        sigs.localCheckpoint(), n_bands=_MH_BANDS, rows_per_band=_MH_ROWS, portable_buckets=True
    )


# --- MinHash estimator calibration -------------------------------------------
@register(
    "q_lsh_error",
    f"""
    WITH sh AS (
      SELECT doc_id,
             CASE WHEN array_length(toks) >= 3
               THEN list_distinct(list_transform(range(1, array_length(toks) - 1),
                                   i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
               ELSE [array_to_string(toks, ' ')] END AS shset
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents)
    ), hashed AS (
      SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT % {_MH_P} AS h
      FROM (SELECT doc_id, unnest(shset) AS s FROM sh)
    ), sig AS (
      SELECT doc_id,
         {_MH_SIG_COLS}
      FROM hashed GROUP BY doc_id
    ), cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, ({_MH_MATCHES}) / {_MH_N}.0 AS est
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ({_MH_BAND_EQ})
    ), ex AS (
      SELECT c.est,
             CAST(len(list_intersect(x.shset, y.shset)) AS DOUBLE)
               / (len(x.shset) + len(y.shset) - len(list_intersect(x.shset, y.shset))) AS exact
      FROM cand c JOIN sh x ON x.doc_id = c.id_a JOIN sh y ON y.doc_id = c.id_b
    )
    SELECT CAST(floor(est * 10) AS BIGINT) AS bucket,
           COUNT(*) AS n_pairs,
           CAST(SUM(CAST(floor(1000000.0 * exact) AS BIGINT)) AS BIGINT) AS sum_exact_micro,
           CAST(SUM(CAST(floor(1000000.0 * abs(est - exact)) AS BIGINT)) AS BIGINT) AS sum_err_micro
    FROM ex GROUP BY 1
    """,
    description="MinHash estimator calibration: |est - exact Jaccard| per estimate decile over LSH candidates",
)
def q_lsh_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measure, don't guess: joins the LSH candidate pairs back to the exact
    shingle-set Jaccard and aggregates the estimator error per estimate
    decile — the calibration curve that justifies (n_hashes, bands, rows)
    for a 100 TB dedup run. One extra equi-join per side against the
    shingle table; error sums are floor-micros (exact longs), so the oracle
    compare is bit-exact despite double averages."""
    docs = _docs(spark, sf_dir)
    sigs = minhash_signatures(
        docs, "text", "doc_id", n_hashes=_MH_N, shingle_n=3, kernel="portable"
    )
    cands = minhash_lsh_candidates(
        sigs.localCheckpoint(), n_bands=_MH_BANDS, rows_per_band=_MH_ROWS, portable_buckets=True
    )
    sh = docs.select(F.col("doc_id"), word_shingles("text", 3).alias("shset"))
    joined = (
        cands.join(sh.select(F.col("doc_id").alias("id_a"), F.col("shset").alias("sha")), "id_a")
        .join(sh.select(F.col("doc_id").alias("id_b"), F.col("shset").alias("shb")), "id_b")
    )
    inter = F.size(F.array_intersect("sha", "shb"))
    exact = inter.cast("double") / (F.size("sha") + F.size("shb") - inter)
    return (
        joined.select(
            F.floor(F.col("est_jaccard") * 10).cast("long").alias("bucket"),
            F.floor(F.lit(1_000_000.0) * exact).cast("long").alias("__ex"),
            F.floor(F.lit(1_000_000.0) * F.abs(F.col("est_jaccard") - exact)).cast("long").alias("__err"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("__ex").alias("sum_exact_micro"),
            F.sum("__err").alias("sum_err_micro"),
        )
    )


# --- winnowing fingerprints (MOSS) -------------------------------------------
@register(
    "q_winnow",
    """
    WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
    g AS (
      SELECT doc_id,
        CASE WHEN len(toks) >= 4
          THEN list_transform(range(1, len(toks) - 4 + 2),
                              i -> array_to_string(list_slice(toks, i, i + 3), ' '))
          ELSE [array_to_string(toks, ' ')] END AS grams
      FROM t),
    h AS (SELECT doc_id,
                 list_transform(grams, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647) AS hs
          FROM g),
    w AS (SELECT doc_id,
                 list_distinct(list_transform(range(1, greatest(len(hs) - 5 + 1, 1) + 1),
                               p -> list_min(list_slice(hs, p, p + 4)))) AS fps
          FROM h),
    f AS (SELECT doc_id, unnest(fps) AS fp FROM w),
    keep AS (SELECT fp FROM f GROUP BY fp HAVING COUNT(*) <= 50),
    ff AS (SELECT f.doc_id, f.fp FROM f JOIN keep ON f.fp = keep.fp)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared_fp
    FROM ff a JOIN ff b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
    """,
    description="winnowing (MOSS) fingerprints: window-min of k-gram hashes, shared-fingerprint pairs",
)
def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.operators.dedup import winnow_fingerprints

    return winnow_fingerprints(
        _docs(spark, sf_dir), "text", "doc_id", k=4, window=5, max_doc_freq=50, min_shared=2
    )


# --- SimHash -----------------------------------------------------------------
# Portable 60-bit kernel (md5-60bit) + pigeonhole banding: 4 bands x 15 bits,
# provably complete at Hamming <= 3. Every step (token hash, bit sums, band
# keys, Hamming verify) is mirrored bit-for-bit in the DuckDB twin.
_SH_BITS, _SH_HAM = 60, 3
_SH_BIT_SUMS = ",\n         ".join(
    f"SUM(CASE WHEN (h & {1 << i}) != 0 THEN 1 ELSE -1 END) AS b{i}" for i in range(_SH_BITS)
)
_SH_FP = " + ".join(f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(_SH_BITS))
_SH_W = _SH_BITS // (_SH_HAM + 1)
_SH_BAND_EQ = " OR ".join(
    f"((a.fp >> {band * _SH_W}) & {(1 << _SH_W) - 1}) = ((b.fp >> {band * _SH_W}) & {(1 << _SH_W) - 1})"
    for band in range(_SH_HAM + 1)
)


@register(
    "q_simhash",
    f"""
    WITH hashed AS (
      SELECT doc_id, lang, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
      FROM (SELECT doc_id, lang,
                   unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS tok
            FROM documents)
    ), bits AS (
      SELECT doc_id, lang,
         {_SH_BIT_SUMS}
      FROM hashed GROUP BY doc_id, lang
    ), fp AS (
      SELECT doc_id, lang, {_SH_FP} AS fp FROM bits
    )
    SELECT id_a, id_b, hamming FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
      FROM fp a JOIN fp b
        ON a.lang = b.lang AND a.doc_id < b.doc_id AND ({_SH_BAND_EQ}))
    WHERE hamming <= {_SH_HAM}
    """,
    description="SimHash near-dup pairs, Hamming<=3 via pigeonhole band join (portable-kernel exact oracle)",
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.operators.dedup import simhash_band_pairs

    d = _docs(spark, sf_dir)
    sh = simhash(d, "text", "doc_id", n_bits=_SH_BITS, kernel="portable")
    # materialize fingerprints once — the band self-join evaluates its input
    # twice, and the fingerprint pass (token explode + md5 + 60 bit-sums) is
    # the expensive part (one narrow row per doc checkpoints for free)
    blocked = sh.join(
        d.select(F.col("doc_id").alias("id"), F.col("lang").alias("block")), "id"
    ).localCheckpoint()
    # 4 bands of 15 bits: provably complete at Hamming <= 3 (Manku-style
    # banding) — candidates come from a band equi-join, never an all-pairs
    # block scan; 15-bit bands keep the keys discriminative.
    return simhash_band_pairs(blocked, max_hamming=_SH_HAM, n_bits=_SH_BITS)


# --- document fingerprint ----------------------------------------------------
@register(
    "q_doc_fingerprint",
    """
    SELECT doc_id,
           list_reduce(
             list_transform(string_split_regex(trim(text), '\\s+'),
                            t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 2147483647),
             (acc, x) -> (acc * 31 + x) % 2147483647) AS fingerprint
    FROM documents
    """,
    description="Karp-Rabin rolling token fingerprint (md5-int kernel, mod 2^31-1)",
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.functions.text import rolling_fingerprint

    return _docs(spark, sf_dir).select("doc_id", rolling_fingerprint("text").alias("fingerprint"))


# --- BPE-ish token counting --------------------------------------------------
@register(
    "q_token_bpe",
    r"""
    SELECT lang,
           CAST(SUM(len(regexp_extract_all(text, '\w+|[^\w\s]+'))) AS BIGINT) AS total_tokens,
           CAST(SUM(len(regexp_extract_all(text, '\w+|[^\w\s]+'))) AS DOUBLE) / COUNT(*) AS avg_tokens,
           CAST(SUM(len(list_filter(regexp_extract_all(text, '\w+|[^\w\s]+'),
                                    t -> NOT regexp_matches(t, '^\w')))) AS BIGINT) AS punct_tokens
    FROM documents
    GROUP BY lang
    """,
    description="BPE-ish regex tokenization: word + punctuation runs per language",
)
def q_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.functions.text import bpe_token_count, bpe_tokens

    d = _docs(spark, sf_dir)
    punct = F.size(F.filter(bpe_tokens("text"), lambda t: ~t.rlike(r"^\w"))).cast("long")
    return d.groupBy("lang").agg(
        F.sum(bpe_token_count("text")).alias("total_tokens"),
        (F.sum(bpe_token_count("text")).cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        F.sum(punct).alias("punct_tokens"),
    )


# --- embedding brute-force top-k --------------------------------------------
@register(
    "q_embed_topk",
    """
    SELECT query_id, neighbor_id, cosine, rk FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6) AS cosine,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                               CAST(c.embedding AS DOUBLE[])) DESC,
                        c.vec_id) AS BIGINT) AS rk
      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 10)
    WHERE rk <= 5
    """,
    description="exact cosine top-k neighbors (broadcast queries, one corpus scan)",
)
def q_embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


# --- MMR diversified top-k ----------------------------------------------------
# Oracle technique: the greedy loop is bounded (k steps), so it unrolls into
# k chained CTEs — selected_t = selected_{t-1} + argmax(lam*simq-(1-lam)*pen).
# All cosines round to 6dp BEFORE the MMR arithmetic and ties break on
# candidate id, so the greedy trajectory is bit-reproducible across engines
# (the lam/(1-lam) literals are repr'd doubles — identical IEEE operands).
def _mmr_sql(k: int = 5, shortlist: int = 20, lam: float = 0.7, nq: int = 10) -> str:
    cos_q = ("ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), "
             "CAST(c.embedding AS DOUBLE[])), 6)")
    parts = [f"""
    WITH short AS MATERIALIZED (
      SELECT query_id, cand_id, simq FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id, {cos_q} AS simq,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY {cos_q} DESC, c.vec_id) AS rk
        FROM embeddings q JOIN embeddings c ON q.vec_id < {nq} AND c.vec_id <> q.vec_id)
      WHERE rk <= {shortlist}
    ), pairs AS MATERIALIZED (
      SELECT a.query_id, a.cand_id, b.cand_id AS sel_id,
             ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                          CAST(eb.embedding AS DOUBLE[])), 6) AS sim
      FROM short a JOIN short b ON a.query_id = b.query_id AND a.cand_id <> b.cand_id
      JOIN embeddings ea ON ea.vec_id = a.cand_id
      JOIN embeddings eb ON eb.vec_id = b.cand_id
    ), sel1 AS (
      SELECT query_id, cand_id, simq, CAST(1 AS BIGINT) AS step FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY simq DESC, cand_id) AS rk FROM short) WHERE rk = 1
    ), selected1 AS MATERIALIZED (SELECT * FROM sel1)"""]
    for t in range(2, k + 1):
        parts.append(f""", cand{t} AS (
      SELECT s.query_id, s.cand_id, s.simq, MAX(p.sim) AS pen
      FROM short s
      JOIN selected{t-1} x ON x.query_id = s.query_id
      JOIN pairs p ON p.query_id = s.query_id AND p.cand_id = s.cand_id
                  AND p.sel_id = x.cand_id
      LEFT JOIN selected{t-1} y ON y.query_id = s.query_id AND y.cand_id = s.cand_id
      WHERE y.cand_id IS NULL
      GROUP BY 1, 2, 3
    ), sel{t} AS (
      SELECT query_id, cand_id, simq, CAST({t} AS BIGINT) AS step FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY CAST({lam!r} AS DOUBLE) * simq - CAST({1 - lam!r} AS DOUBLE) * pen DESC,
                   cand_id) AS rk
        FROM cand{t}) WHERE rk = 1
    ), selected{t} AS MATERIALIZED (SELECT * FROM selected{t-1} UNION ALL SELECT * FROM sel{t})""")
    parts.append(
        f"\n    SELECT query_id, cand_id AS neighbor_id, simq, step FROM selected{k}"
    )
    return "".join(parts)


@register(
    "q_mmr_diverse",
    _mmr_sql(k=5, shortlist=20, lam=0.7, nq=10),
    description="MMR diversified top-k: greedy relevance-vs-redundancy selection over an exact shortlist (unrolled-CTE oracle)",
)
def q_mmr_diverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.operators.similarity import mmr_topk

    emb = _emb(spark, sf_dir)
    return mmr_topk(emb, emb.filter(F.col("vec_id") < 10), k=5, shortlist=20, lam=0.7)


# --- SRP-LSH approximate top-k ----------------------------------------------
# Oracle technique: srp_bucket's hyperplanes are deterministic plan-time
# literals and its dot product is a left-fold in element order starting from
# 0.0. DuckDB's list_reduce folds left with the first element as the
# accumulator — and 0.0 + x == x in IEEE — so embedding the SAME plane
# literals (repr round-trips every double exactly) reproduces the dot
# products BIT-FOR-BIT, hence the sign bits, the buckets, and the candidate
# set (multi-probe Hamming<=1 == bit_count(xor) <= 1). No margin argument
# needed: the folds are identical arithmetic.
def _srp_bucket_sql(dim: int, n_planes: int, vec: str = "embedding", seed: int = 42) -> str:
    from syscol_spark.operators.similarity import _srp_plane

    bits = []
    for p in range(n_planes):
        plane = "[" + ",".join(repr(x) for x in _srp_plane(dim, p, seed)) + "]"
        dot = (
            f"list_reduce(list_transform(range(1, {dim + 1}), "
            f"i -> CAST({vec}[i] AS DOUBLE) * ({plane})[i]), (acc, x) -> acc + x)"
        )
        bits.append(f"(CASE WHEN {dot} >= 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


@register(
    "q_ann_srp",
    f"""
    WITH b AS MATERIALIZED (
      SELECT vec_id, embedding, {_srp_bucket_sql(64, 6)} AS bucket
      FROM embeddings
    )
    SELECT query_id, neighbor_id, cosine, rk FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6) AS cosine,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                     CAST(c.embedding AS DOUBLE[])), 6) DESC,
                        c.vec_id) AS BIGINT) AS rk
      FROM b q JOIN b c
        ON q.vec_id < 10 AND c.vec_id <> q.vec_id
       AND bit_count(xor(q.bucket, c.bucket)) <= 1)
    WHERE rk <= 5
    """,
    description="approximate top-k via sign-random-projection LSH buckets, multi-probe Hamming<=1 (exact mirrored oracle)",
)
def q_ann_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return srp_topk(emb, emb.filter(F.col("vec_id") < 10), dim=64, k=5, n_planes=6)


# --- IVF ANN -----------------------------------------------------------------
# Oracle technique (same family as the unrolled-CTE PageRank oracle): the
# quantizer is deterministic Lloyd's k-means — seeds are the k lowest-id
# vectors, each iteration is assignment (argmax of <v,c> - |c|^2/2, ties to
# the lowest cluster index) + per-cluster means with empty clusters keeping
# their previous centroid — so the whole training loop unrolls into a chain
# of SQL CTEs. Scores differ across engines only in summation-order ulps;
# argmax flips would need two distinct centroids within ~1e-13 of the same
# score, which the 6-dp rounding of the final cosine makes unobservable
# anyway (validated by the driver hash at sf0.001/0.01).
def _kmeans_serve_ctes(
    *, k: int, iters: int, dim: int, train_stride: int = 1,
    suffix: str = "", dim_lo: int = 1, train_where: str | None = None,
) -> list[str]:
    """Shared unrolled-k-means CTE chain (dims .. servescore .. serve):
    mirrors kmeans_centroids training + _assign_nearest serving, ending with
    serve{suffix}(vec_id, cluster). Used by the IVF ANN, SemDeDup and PQ
    oracles so they can't drift. ``suffix`` namespaces every CTE (PQ builds
    one chain per subspace); ``dim_lo`` starts the dimension window at a
    1-based offset so a chain can quantize the F.slice(vec, dim_lo, dim)
    sub-vector the engine trains on."""
    # training CTEs scan the SAME deterministic stride sample as the engine
    # (kmeans_centroids train_stride), optionally under an extra predicate
    # (train_where — e.g. the old-shard filter of the incremental SemDeDup
    # oracle); serving always scans the full table
    conds = ([train_where] if train_where else []) + (
        [f"vec_id % {train_stride} = 0"] if train_stride > 1 else []
    )
    train = f"(SELECT * FROM embeddings WHERE {' AND '.join(conds)})" if conds else "embeddings"
    s = suffix
    ctes = [
        f"dims{s} AS (SELECT unnest(range({dim_lo}, {dim_lo + dim})) AS i)",
        (
            f"seeds{s} AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster, embedding "
            f"FROM (SELECT * FROM {train} ORDER BY vec_id LIMIT {k}))"
        ),
        f"c{s}_0 AS (SELECT cluster, i, CAST(embedding[i] AS DOUBLE) AS val FROM seeds{s}, dims{s})",
    ]
    for t in range(1, iters + 1):
        prev = f"c{s}_{t - 1}"
        ctes.append(
            f"score{s}_{t} AS (SELECT e.vec_id, c.cluster, "
            "SUM(CAST(e.embedding[c.i] AS DOUBLE) * c.val) - SUM(c.val * c.val) / 2 AS score "
            f"FROM {train} e, {prev} c GROUP BY e.vec_id, c.cluster)"
        )
        ctes.append(
            f"assign{s}_{t} AS (SELECT vec_id, cluster FROM ("
            "SELECT vec_id, cluster, ROW_NUMBER() OVER ("
            f"PARTITION BY vec_id ORDER BY score DESC, cluster) AS rn FROM score{s}_{t}) WHERE rn = 1)"
        )
        ctes.append(
            f"c{s}_{t} AS (SELECT p.cluster, p.i, COALESCE(m.val, p.val) AS val "
            f"FROM {prev} p LEFT JOIN ("
            "SELECT a.cluster, d.i, AVG(CAST(e.embedding[d.i] AS DOUBLE)) AS val "
            f"FROM assign{s}_{t} a JOIN {train} e USING (vec_id), dims{s} d "
            "GROUP BY a.cluster, d.i) m ON p.cluster = m.cluster AND p.i = m.i)"
        )
    final = f"c{s}_{iters}"
    ctes.append(
        f"servescore{s} AS (SELECT e.vec_id, c.cluster, "
        "SUM(CAST(e.embedding[c.i] AS DOUBLE) * c.val) - SUM(c.val * c.val) / 2 AS score "
        f"FROM embeddings e, {final} c GROUP BY e.vec_id, c.cluster)"
    )
    ctes.append(
        f"serve{s} AS (SELECT vec_id, cluster FROM ("
        "SELECT vec_id, cluster, ROW_NUMBER() OVER ("
        f"PARTITION BY vec_id ORDER BY score DESC, cluster) AS rn FROM servescore{s}) WHERE rn = 1)"
    )
    return ctes


def _ivf_oracle_sql(
    *, k: int, nprobe: int, iters: int, dim: int, q_max: int, topk: int,
    train_stride: int = 1,
) -> str:
    ctes = _kmeans_serve_ctes(k=k, iters=iters, dim=dim, train_stride=train_stride)
    # probe ranking mirrors slice(reverse(array_sort(...)), 1, nprobe):
    # descending score, score-ties broken by the HIGHER cluster index
    ctes.append(
        f"probes AS (SELECT vec_id, cluster FROM ("
        "SELECT vec_id, cluster, ROW_NUMBER() OVER ("
        "PARTITION BY vec_id ORDER BY score DESC, cluster DESC) AS rn "
        f"FROM servescore WHERE vec_id < {q_max}) WHERE rn <= {nprobe})"
    )
    cos = (
        "ROUND(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]), "
        "CAST(ce.embedding AS DOUBLE[])), 6)"
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT query_id, neighbor_id, cosine, rk FROM (
      SELECT p.vec_id AS query_id, s.vec_id AS neighbor_id, {cos} AS cosine,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY p.vec_id ORDER BY {cos} DESC, s.vec_id) AS BIGINT) AS rk
      FROM probes p
      JOIN serve s ON s.cluster = p.cluster AND s.vec_id <> p.vec_id
      JOIN embeddings qe ON qe.vec_id = p.vec_id
      JOIN embeddings ce ON ce.vec_id = s.vec_id)
    WHERE rk <= {topk}
    """
    )


@register(
    "q_ann_ivf",
    _ivf_oracle_sql(k=16, nprobe=4, iters=3, dim=64, q_max=10, topk=5, train_stride=4),
    description="approximate top-k via IVF (k-means on a deterministic 1/4 stride sample, nprobe=4; unrolled-CTE oracle)",
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.operators.similarity import ivf_topk

    emb = _emb(spark, sf_dir)
    return ivf_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=5, n_centroids=16, nprobe=4, max_iter=3,
        train_stride=4,
    )


# --- product quantization codes ----------------------------------------------
# One unrolled-k-means chain PER SUBSPACE (shared _kmeans_serve_ctes with a
# namespace suffix and a dimension-window offset), joined on vec_id for the
# final code word. Same validated oracle family as q_ann_ivf/q_semdedup.
def _pq_oracle_sql(
    *, n_subspaces: int, sub_dim: int, k: int, iters: int, train_stride: int
) -> str:
    bits = max(1, (k - 1).bit_length())
    ctes: list[str] = []
    for s in range(n_subspaces):
        ctes.extend(
            _kmeans_serve_ctes(
                k=k, iters=iters, dim=sub_dim, train_stride=train_stride,
                suffix=f"_s{s}", dim_lo=s * sub_dim + 1,
            )
        )
    code_cols = ", ".join(
        f"CAST(s{s}.cluster AS INTEGER) AS c{s}" for s in range(n_subspaces)
    )
    packed = " + ".join(
        f"CAST(s{s}.cluster AS BIGINT) * {1 << (s * bits)}" for s in range(n_subspaces)
    )
    joins = " ".join(
        f"JOIN serve_s{s} s{s} USING (vec_id)" for s in range(1, n_subspaces)
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT vec_id, {code_cols}, CAST({packed} AS BIGINT) AS pq_code
    FROM serve_s0 s0 {joins}
    """
    )


@register(
    "q_embed_pq",
    _pq_oracle_sql(n_subspaces=8, sub_dim=8, k=16, iters=2, train_stride=4),
    description="product quantization: 8 subspace codebooks (k=16), 64x vector compression, per-subspace unrolled-CTE oracle",
)
def q_embed_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.operators.similarity import pq_codes

    return pq_codes(
        _emb(spark, sf_dir), dim=64, n_subspaces=8, n_centroids=16,
        max_iter=2, train_stride=4,
    )


# --- PQ asymmetric-distance search -------------------------------------------
# The search half of the PQ story: each query's per-subspace distance table
# is SUM(POW(q[i] - centroid_val, 2)) straight off the unrolled-k-means
# centroid CTEs, a candidate's distance is the 8-term sum of table lookups
# through its serve_s{s} codes, and ranking uses the 6dp-rounded distance
# with the id tie-break (the same ulp-absorption argument as q_ann_ivf).
def _pq_adc_oracle_sql(
    *, n_subspaces: int, sub_dim: int, k: int, iters: int, train_stride: int,
    q_max: int, topk: int,
) -> str:
    ctes: list[str] = []
    for s in range(n_subspaces):
        ctes.extend(
            _kmeans_serve_ctes(
                k=k, iters=iters, dim=sub_dim, train_stride=train_stride,
                suffix=f"_s{s}", dim_lo=s * sub_dim + 1,
            )
        )
        ctes.append(
            f"distp_s{s} AS (SELECT q.vec_id AS query_id, c.cluster, "
            "SUM(POW(CAST(q.embedding[c.i] AS DOUBLE) - c.val, 2)) AS d "
            f"FROM embeddings q, c_s{s}_{iters} c WHERE q.vec_id < {q_max} "
            "GROUP BY q.vec_id, c.cluster)"
        )
    serve_joins = " ".join(
        f"JOIN serve_s{s} s{s} USING (vec_id)" for s in range(1, n_subspaces)
    )
    dist_joins = " ".join(
        f"JOIN distp_s{s} d{s} ON d{s}.cluster = s{s}.cluster"
        + (" AND d{0}.query_id = d0.query_id".format(s) if s > 0 else "")
        for s in range(n_subspaces)
    )
    total = " + ".join(f"d{s}.d" for s in range(n_subspaces))
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT query_id, neighbor_id, adc_dist, rk FROM (
      SELECT d0.query_id, s0.vec_id AS neighbor_id,
             ROUND({total}, 6) AS adc_dist,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY d0.query_id
               ORDER BY ROUND({total}, 6), s0.vec_id) AS BIGINT) AS rk
      FROM serve_s0 s0 {serve_joins} {dist_joins}
      WHERE s0.vec_id <> d0.query_id)
    WHERE rk <= {topk}
    """
    )


@register(
    "q_ann_pq_adc",
    _pq_adc_oracle_sql(
        n_subspaces=8, sub_dim=8, k=16, iters=2, train_stride=4, q_max=10, topk=5
    ),
    description="approximate top-k via PQ asymmetric distance: per-query subspace tables + code lookups, corpus vectors never touched at serve time",
)
def q_ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.operators.similarity import pq_adc_topk

    emb = _emb(spark, sf_dir)
    return pq_adc_topk(
        emb, emb.filter(F.col("vec_id") < 10), dim=64, n_subspaces=8,
        n_centroids=16, max_iter=2, train_stride=4, k=5,
    )


# q_ann_adc_bulk runs the same pq_adc_topk plan as q_ann_pq_adc (distance
# tables as a DataFrame equi-joined to codes, no query-count cap) against the
# SAME unrolled-CTE oracle; the name stays for catalog stability.
@register(
    "q_ann_adc_bulk",
    _pq_adc_oracle_sql(
        n_subspaces=8, sub_dim=8, k=16, iters=2, train_stride=4, q_max=10, topk=5
    ),
    description="PQ-ADC top-k served through the same pq_adc_topk plan as q_ann_pq_adc (on-plan distance tables equi-joined to codes, no query cap) — same oracle",
)
def q_ann_adc_bulk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.operators.similarity import pq_adc_topk

    emb = _emb(spark, sf_dir)
    return pq_adc_topk(
        emb, emb.filter(F.col("vec_id") < 10), dim=64, n_subspaces=8,
        n_centroids=16, max_iter=2, train_stride=4, k=5,
    )


# --- IVF+PQ composed ANN serving ---------------------------------------------
# Composes the two validated chains: the coarse IVF chain (suffix _c) prunes
# to each query's nprobe lists exactly as q_ann_ivf's oracle does, and the
# per-subspace PQ chains + distance tables rank survivors exactly as
# q_ann_pq_adc's oracle does.
def _ivfpq_oracle_sql(
    *, n_lists: int, nprobe: int, coarse_iters: int, coarse_stride: int,
    n_subspaces: int, sub_dim: int, pq_k: int, pq_iters: int, pq_stride: int,
    q_max: int, topk: int,
) -> str:
    ctes = _kmeans_serve_ctes(
        k=n_lists, iters=coarse_iters, dim=n_subspaces * sub_dim,
        train_stride=coarse_stride, suffix="_c",
    )
    ctes.append(
        "probes_c AS (SELECT vec_id, cluster FROM ("
        "SELECT vec_id, cluster, ROW_NUMBER() OVER ("
        "PARTITION BY vec_id ORDER BY score DESC, cluster DESC) AS rn "
        f"FROM servescore_c WHERE vec_id < {q_max}) WHERE rn <= {nprobe})"
    )
    for s in range(n_subspaces):
        ctes.extend(
            _kmeans_serve_ctes(
                k=pq_k, iters=pq_iters, dim=sub_dim, train_stride=pq_stride,
                suffix=f"_s{s}", dim_lo=s * sub_dim + 1,
            )
        )
        ctes.append(
            f"distp_s{s} AS (SELECT q.vec_id AS query_id, c.cluster, "
            "SUM(POW(CAST(q.embedding[c.i] AS DOUBLE) - c.val, 2)) AS d "
            f"FROM embeddings q, c_s{s}_{pq_iters} c WHERE q.vec_id < {q_max} "
            "GROUP BY q.vec_id, c.cluster)"
        )
    serve_joins = " ".join(
        f"JOIN serve_s{s} s{s} USING (vec_id)" for s in range(1, n_subspaces)
    )
    dist_joins = " ".join(
        f"JOIN distp_s{s} d{s} ON d{s}.cluster = s{s}.cluster AND d{s}.query_id = p.vec_id"
        for s in range(n_subspaces)
    )
    total = " + ".join(f"d{s}.d" for s in range(n_subspaces))
    # MATERIALIZE every CTE: the composed oracle references the k-means
    # chains from multiple downstream CTEs (servescore + distp both read the
    # final centroids), and DuckDB's default inlining re-evaluates each
    # referenced subtree — compounding through the unrolled iterations into
    # a runaway plan (>120 s; materialized it's seconds). All intermediates
    # are tiny tables.
    ctes = [c.replace(" AS (", " AS MATERIALIZED (", 1) for c in ctes]
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT query_id, neighbor_id, adc_dist, rk FROM (
      SELECT p.vec_id AS query_id, s0.vec_id AS neighbor_id,
             ROUND({total}, 6) AS adc_dist,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY p.vec_id
               ORDER BY ROUND({total}, 6), s0.vec_id) AS BIGINT) AS rk
      FROM serve_s0 s0 {serve_joins}
      JOIN serve_c sc ON sc.vec_id = s0.vec_id
      JOIN probes_c p ON p.cluster = sc.cluster
      {dist_joins}
      WHERE s0.vec_id <> p.vec_id)
    WHERE rk <= {topk}
    """
    )


@register(
    "q_ann_ivfpq",
    _ivfpq_oracle_sql(
        n_lists=16, nprobe=4, coarse_iters=3, coarse_stride=4,
        n_subspaces=8, sub_dim=8, pq_k=16, pq_iters=2, pq_stride=4,
        q_max=10, topk=5,
    ),
    description="composed IVF+PQ serving: coarse-list pruning + PQ asymmetric-distance ranking from 4-byte codes",
)
def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.operators.similarity import ivf_pq_topk

    emb = _emb(spark, sf_dir)
    return ivf_pq_topk(
        emb, emb.filter(F.col("vec_id") < 10), dim=64, n_lists=16, nprobe=4,
        coarse_iter=3, coarse_stride=4, n_subspaces=8, pq_centroids=16,
        pq_iter=2, pq_stride=4, k=5,
    )


# --- residual IVF+PQ (IVFADC) -------------------------------------------------
# The production recipe: PQ codebooks train on the residual to the assigned
# coarse centroid, and each query builds one distance table per PROBED LIST
# from its own residual to that list's centroid. The oracle needs k-means
# chains over a COMPUTED long-format source (the residual CTE) rather than
# the embeddings array column, so the chain below is the long-format twin of
# _kmeans_serve_ctes: identical seeding/assignment/means/tie semantics, with
# (vec_id, i, val) join on i replacing embedding[i] indexing.
def _kmeans_serve_ctes_long(
    *, src: str, k: int, iters: int, dim: int, dim_lo: int,
    suffix: str, train_stride: int = 1,
) -> list[str]:
    s = suffix
    stride_f = f" WHERE vec_id % {train_stride} = 0" if train_stride > 1 else ""
    ctes = [
        f"sub{s} AS (SELECT vec_id, i, val FROM {src} "
        f"WHERE i >= {dim_lo} AND i < {dim_lo + dim})",
        f"train{s} AS (SELECT * FROM sub{s}{stride_f})",
        (
            f"seeds{s} AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster, vec_id "
            f"FROM (SELECT DISTINCT vec_id FROM train{s} ORDER BY vec_id LIMIT {k}))"
        ),
        f"c{s}_0 AS (SELECT sd.cluster, t.i, t.val FROM seeds{s} sd JOIN train{s} t USING (vec_id))",
    ]
    for t in range(1, iters + 1):
        prev = f"c{s}_{t - 1}"
        ctes.append(
            f"score{s}_{t} AS (SELECT r.vec_id, c.cluster, "
            "SUM(r.val * c.val) - SUM(c.val * c.val) / 2 AS score "
            f"FROM train{s} r JOIN {prev} c ON r.i = c.i GROUP BY r.vec_id, c.cluster)"
        )
        ctes.append(
            f"assign{s}_{t} AS (SELECT vec_id, cluster FROM ("
            "SELECT vec_id, cluster, ROW_NUMBER() OVER ("
            f"PARTITION BY vec_id ORDER BY score DESC, cluster) AS rn FROM score{s}_{t}) WHERE rn = 1)"
        )
        ctes.append(
            f"c{s}_{t} AS (SELECT p.cluster, p.i, COALESCE(m.val, p.val) AS val "
            f"FROM {prev} p LEFT JOIN ("
            f"SELECT a.cluster, t.i, AVG(t.val) AS val "
            f"FROM assign{s}_{t} a JOIN train{s} t USING (vec_id) "
            "GROUP BY a.cluster, t.i) m ON p.cluster = m.cluster AND p.i = m.i)"
        )
    final = f"c{s}_{iters}"
    ctes.append(
        f"servescore{s} AS (SELECT r.vec_id, c.cluster, "
        "SUM(r.val * c.val) - SUM(c.val * c.val) / 2 AS score "
        f"FROM sub{s} r JOIN {final} c ON r.i = c.i GROUP BY r.vec_id, c.cluster)"
    )
    ctes.append(
        f"serve{s} AS (SELECT vec_id, cluster FROM ("
        "SELECT vec_id, cluster, ROW_NUMBER() OVER ("
        f"PARTITION BY vec_id ORDER BY score DESC, cluster) AS rn FROM servescore{s}) WHERE rn = 1)"
    )
    return ctes


def _ivfpq_res_oracle_sql(
    *, n_lists: int, nprobe: int, coarse_iters: int, coarse_stride: int,
    n_subspaces: int, sub_dim: int, pq_k: int, pq_iters: int, pq_stride: int,
    q_max: int, topk: int, refine: int = 0,
) -> str:
    ctes = _kmeans_serve_ctes(
        k=n_lists, iters=coarse_iters, dim=n_subspaces * sub_dim,
        train_stride=coarse_stride, suffix="_c",
    )
    ctes.append(
        "probes_c AS (SELECT vec_id, cluster FROM ("
        "SELECT vec_id, cluster, ROW_NUMBER() OVER ("
        "PARTITION BY vec_id ORDER BY score DESC, cluster DESC) AS rn "
        f"FROM servescore_c WHERE vec_id < {q_max}) WHERE rn <= {nprobe})"
    )
    # residual to the assigned coarse centroid, long format (vec_id, i, val)
    ctes.append(
        "resid AS (SELECT e.vec_id, cc.i, CAST(e.embedding[cc.i] AS DOUBLE) - cc.val AS val "
        f"FROM embeddings e JOIN serve_c sv ON sv.vec_id = e.vec_id "
        f"JOIN c_c_{coarse_iters} cc ON cc.cluster = sv.cluster)"
    )
    for s in range(n_subspaces):
        ctes.extend(
            _kmeans_serve_ctes_long(
                src="resid", k=pq_k, iters=pq_iters, dim=sub_dim,
                dim_lo=s * sub_dim + 1, suffix=f"_s{s}", train_stride=pq_stride,
            )
        )
        # per-(query, probed list) distance table: the query's residual to
        # THAT list's centroid vs every codebook centroid of subspace s
        ctes.append(
            f"distp_s{s} AS (SELECT p.vec_id AS query_id, p.cluster AS list_id, b.cluster, "
            "SUM(POW(CAST(q.embedding[b.i] AS DOUBLE) - cc.val - b.val, 2)) AS d "
            f"FROM probes_c p JOIN embeddings q ON q.vec_id = p.vec_id "
            f"JOIN c_c_{coarse_iters} cc ON cc.cluster = p.cluster "
            f"JOIN c_s{s}_{pq_iters} b ON b.i = cc.i "
            "GROUP BY p.vec_id, p.cluster, b.cluster)"
        )
    serve_joins = " ".join(
        f"JOIN serve_s{s} s{s} USING (vec_id)" for s in range(1, n_subspaces)
    )
    dist_joins = " ".join(
        f"JOIN distp_s{s} d{s} ON d{s}.cluster = s{s}.cluster "
        f"AND d{s}.query_id = p.vec_id AND d{s}.list_id = sc.cluster"
        for s in range(n_subspaces)
    )
    total = " + ".join(f"d{s}.d" for s in range(n_subspaces))
    adc_ranked = f"""(
      SELECT p.vec_id AS query_id, s0.vec_id AS neighbor_id,
             ROUND({total}, 6) AS adc_dist,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY p.vec_id
               ORDER BY ROUND({total}, 6), s0.vec_id) AS BIGINT) AS rk
      FROM serve_s0 s0 {serve_joins}
      JOIN serve_c sc ON sc.vec_id = s0.vec_id
      JOIN probes_c p ON p.cluster = sc.cluster
      {dist_joins}
      WHERE s0.vec_id <> p.vec_id)"""
    if refine:
        # IVFADC+R: keep the top-``refine`` ADC candidates, then re-rank
        # them by EXACT cosine (the shortlist boundary is the 6dp-rounded
        # ADC with id tie-break — deterministic on both engines)
        cos = (
            "ROUND(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]), "
            "CAST(ce.embedding AS DOUBLE[])), 6)"
        )
        ctes.append(f"shortlist AS (SELECT query_id, neighbor_id FROM {adc_ranked} WHERE rk <= {refine})")
        final = f"""
    SELECT query_id, neighbor_id, cosine, rk FROM (
      SELECT sl.query_id, sl.neighbor_id, {cos} AS cosine,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY sl.query_id ORDER BY {cos} DESC, sl.neighbor_id) AS BIGINT) AS rk
      FROM shortlist sl
      JOIN embeddings qe ON qe.vec_id = sl.query_id
      JOIN embeddings ce ON ce.vec_id = sl.neighbor_id)
    WHERE rk <= {topk}
    """
    else:
        final = f"""
    SELECT query_id, neighbor_id, adc_dist, rk FROM {adc_ranked}
    WHERE rk <= {topk}
    """
    # MATERIALIZE every CTE (same reason as _ivfpq_oracle_sql: multiply-
    # referenced chains re-inline into a runaway plan otherwise)
    ctes = [c.replace(" AS (", " AS MATERIALIZED (", 1) for c in ctes]
    return "WITH " + ",\n    ".join(ctes) + final


@register(
    "q_ann_ivfpq_res",
    _ivfpq_res_oracle_sql(
        n_lists=16, nprobe=4, coarse_iters=3, coarse_stride=4,
        n_subspaces=8, sub_dim=8, pq_k=16, pq_iters=2, pq_stride=4,
        q_max=10, topk=5,
    ),
    description="residual IVF+PQ (IVFADC): PQ codebooks on coarse residuals, per-(query,list) distance tables — the production billion-scale recipe",
)
def q_ann_ivfpq_res(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.operators.similarity import ivf_pq_topk

    emb = _emb(spark, sf_dir)
    return ivf_pq_topk(
        emb, emb.filter(F.col("vec_id") < 10), dim=64, n_lists=16, nprobe=4,
        coarse_iter=3, coarse_stride=4, n_subspaces=8, pq_centroids=16,
        pq_iter=2, pq_stride=4, k=5, residual=True,
    )


# IVFADC through the explicit build/serve split: the index is built once and
# handed to ivfpq_serve, whose probes, per-(query, probed-list) residuals and
# distance tables are all on-plan, equi-joined to the codes on (list_id,
# subspace, code), with no query-count cap. The "_bulk" names are kept for
# catalog stability. Same oracles as q_ann_ivfpq_res / q_ann_ivfpq_rr.
@register(
    "q_ann_ivfadc_bulk",
    _ivfpq_res_oracle_sql(
        n_lists=16, nprobe=4, coarse_iters=3, coarse_stride=4,
        n_subspaces=8, sub_dim=8, pq_k=16, pq_iters=2, pq_stride=4,
        q_max=10, topk=5,
    ),
    description="IVFADC through the explicit index lifecycle: build_ivfpq_index, then ivfpq_serve (on-plan probes + residual distance tables equi-joined to codes, no query cap) — same oracle as q_ann_ivfpq_res",
)
def q_ann_ivfadc_bulk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.operators.similarity import build_ivfpq_index, ivfpq_serve

    emb = _emb(spark, sf_dir)
    codes, meta = build_ivfpq_index(
        emb, dim=64, n_lists=16, coarse_iter=3, coarse_stride=4,
        n_subspaces=8, pq_centroids=16, pq_iter=2, pq_stride=4, residual=True,
    )
    return ivfpq_serve(codes, meta, emb.filter(F.col("vec_id") < 10), nprobe=4, k=5)


@register(
    "q_ann_ivfadc_rr_bulk",
    _ivfpq_res_oracle_sql(
        n_lists=16, nprobe=4, coarse_iters=3, coarse_stride=4,
        n_subspaces=8, sub_dim=8, pq_k=16, pq_iters=2, pq_stride=4,
        q_max=10, topk=5, refine=20,
    ),
    description="IVFADC+R through the explicit index lifecycle: build_ivfpq_index, then ivfpq_serve with refine (ADC shortlist re-ranked by exact cosine via equi-joins, no query cap) — same oracle as q_ann_ivfpq_rr",
)
def q_ann_ivfadc_rr_bulk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.operators.similarity import build_ivfpq_index, ivfpq_serve

    emb = _emb(spark, sf_dir)
    codes, meta = build_ivfpq_index(
        emb, dim=64, n_lists=16, coarse_iter=3, coarse_stride=4,
        n_subspaces=8, pq_centroids=16, pq_iter=2, pq_stride=4, residual=True,
    )
    return ivfpq_serve(
        codes, meta, emb.filter(F.col("vec_id") < 10), nprobe=4, k=5,
        refine=20, corpus=emb,
    )


@register(
    "q_ann_ivfpq_rr",
    _ivfpq_res_oracle_sql(
        n_lists=16, nprobe=4, coarse_iters=3, coarse_stride=4,
        n_subspaces=8, sub_dim=8, pq_k=16, pq_iters=2, pq_stride=4,
        q_max=10, topk=5, refine=20,
    ),
    description="IVFADC+R: residual IVF+PQ shortlist (top-20 by ADC) re-ranked by exact cosine — the full production serving recipe",
)
def q_ann_ivfpq_rr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.operators.similarity import ivf_pq_topk

    emb = _emb(spark, sf_dir)
    return ivf_pq_topk(
        emb, emb.filter(F.col("vec_id") < 10), dim=64, n_lists=16, nprobe=4,
        coarse_iter=3, coarse_stride=4, n_subspaces=8, pq_centroids=16,
        pq_iter=2, pq_stride=4, k=5, residual=True, refine=20,
    )


# --- SemDeDup semantic deduplication -----------------------------------------
# Same unrolled-k-means oracle chain as q_ann_ivf (shared _kmeans_serve_ctes,
# same validated hyperparameters), then the SemDeDup drop rule as one EXISTS:
# a vector is dropped iff a lower-id clustermate has rounded cosine >= tau.
def _semdedup_oracle_sql(*, k: int, iters: int, dim: int, tau: float, train_stride: int) -> str:
    ctes = _kmeans_serve_ctes(k=k, iters=iters, dim=dim, train_stride=train_stride)
    cos = (
        "ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]), "
        "CAST(eb.embedding AS DOUBLE[])), 6)"
    )
    ctes.append(
        "dropped AS (SELECT DISTINCT b.vec_id FROM serve a JOIN serve b "
        "ON a.cluster = b.cluster AND a.vec_id < b.vec_id "
        "JOIN embeddings ea ON ea.vec_id = a.vec_id "
        "JOIN embeddings eb ON eb.vec_id = b.vec_id "
        f"WHERE {cos} >= {tau})"
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT s.vec_id, CAST(s.cluster AS INTEGER) AS cluster,
           (d.vec_id IS NULL) AS keep
    FROM serve s LEFT JOIN dropped d ON d.vec_id = s.vec_id
    """
    )


@register(
    "q_semdedup",
    _semdedup_oracle_sql(k=16, iters=3, dim=64, tau=0.35, train_stride=4),
    description="SemDeDup: k-means clusters + drop vectors with a lower-id clustermate at cosine>=0.35",
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.operators.similarity import semantic_dedup

    return semantic_dedup(
        _emb(spark, sf_dir), n_clusters=16, min_cosine=0.35, max_iter=3, train_stride=4
    )


# --- incremental SemDeDup (daily-ingest embedding dedup) ----------------------
# The delta twin of q_semdedup: the quantizer trains on the OLD shard only
# (the persisted index-time model), the old shard's assignments are the
# persisted cluster state, and the NEW shard is assigned + deduped against
# state ∪ itself. Oracle = the same unrolled chain with the training CTEs
# filtered to the old shard (train_where), serving over everything, and the
# drop rule restricted to new-shard victims.
_SEMDEDUP_SPLIT = 250


def _semdedup_delta_oracle_sql(
    *, k: int, iters: int, dim: int, tau: float, train_stride: int, split: int
) -> str:
    ctes = _kmeans_serve_ctes(
        k=k, iters=iters, dim=dim, train_stride=train_stride,
        train_where=f"vec_id < {split}",
    )
    cos = (
        "ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]), "
        "CAST(eb.embedding AS DOUBLE[])), 6)"
    )
    ctes.append(
        "dropped AS (SELECT DISTINCT b.vec_id FROM serve a JOIN serve b "
        "ON a.cluster = b.cluster AND a.vec_id < b.vec_id "
        f"AND b.vec_id >= {split} "
        "JOIN embeddings ea ON ea.vec_id = a.vec_id "
        "JOIN embeddings eb ON eb.vec_id = b.vec_id "
        f"WHERE {cos} >= {tau})"
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT s.vec_id, CAST(s.cluster AS INTEGER) AS cluster,
           (d.vec_id IS NULL) AS keep
    FROM serve s LEFT JOIN dropped d ON d.vec_id = s.vec_id
    WHERE s.vec_id >= {split}
    """
    )


@register(
    "q_semdedup_delta",
    _semdedup_delta_oracle_sql(
        k=16, iters=3, dim=64, tau=0.35, train_stride=4, split=_SEMDEDUP_SPLIT
    ),
    description="incremental SemDeDup: new shard vs persisted quantizer + cluster state — the embedding side of the daily-ingest dedup story",
)
def q_semdedup_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.operators.similarity import (
        _assign_nearest,
        kmeans_centroids,
        semantic_dedup_delta,
    )

    emb = _emb(spark, sf_dir)
    old = emb.filter(F.col("vec_id") < _SEMDEDUP_SPLIT)
    new = emb.filter(F.col("vec_id") >= _SEMDEDUP_SPLIT)
    cents = kmeans_centroids(old, k=16, max_iter=3, train_stride=4)
    # localCheckpoint = the "persisted cluster-state table" of the
    # production story: the delta op consumes state three times (postings,
    # scorer vectors, would-be keep join) and must not re-run the
    # assignment scan per consumer
    state = (
        _assign_nearest(old.select("vec_id", "embedding"), "embedding", cents)
        .select("vec_id", "embedding", F.col("__cluster").alias("cluster"))
        .localCheckpoint()
    )
    return semantic_dedup_delta(new, state, cents, min_cosine=0.35)


# --- embedding-cosine near-dup ----------------------------------------------
# The SRP sign-band prefilter is part of the QUERY SEMANTICS, and the oracle
# mirrors it exactly: srp_band_sql_keys embeds the same ±1 hyperplanes and the
# same left-fold order, so bucket assignment — and therefore the candidate
# set — is bit-identical across engines. Candidates = same (label, any band
# key); cosine >= 0.35 verifies. Measured recall vs exact all-pairs is
# asserted in tests/test_operators.py (see srp_band_pairs docstring for the
# recall formula: ~0.98 at cosine 0.8; lower at the 0.35 boundary where the
# LSH exponent approaches 1 — the exact path remains available via
# operators.dedup.salted_block_pairs for low-threshold audits).
from syscol_spark.operators.similarity import srp_band_sql_keys  # noqa: E402

_SRP_KEY_EXPRS = srp_band_sql_keys(64, n_bands=8, band_bits=4, seed=42)
_SRP_KEYS_SELECT = ", ".join(f"{e} AS b{i}" for i, e in enumerate(_SRP_KEY_EXPRS))
_SRP_ANY_BAND = " OR ".join(f"a.b{i} = b.b{i}" for i in range(len(_SRP_KEY_EXPRS)))


@register(
    "q_embed_neardup",
    f"""
    WITH keys AS MATERIALIZED (
      SELECT vec_id, label, embedding, {_SRP_KEYS_SELECT}
      FROM embeddings
    )
    SELECT id_a, id_b, cosine FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])), 6) AS cosine
      FROM keys a JOIN keys b
        ON a.label = b.label AND a.vec_id < b.vec_id
       AND ({_SRP_ANY_BAND}))
    WHERE cosine >= 0.35
    """,
    description="embedding near-dup pairs: SRP sign-band candidates + cosine verify",
)
def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.operators.similarity import srp_band_pairs

    return srp_band_pairs(
        _emb(spark, sf_dir),
        vec_col="embedding",
        id_col="vec_id",
        block_col="label",
        min_cosine=0.35,
        dim=64,
        n_bands=8,
        band_bits=4,
    )


# --- per-label centroid ------------------------------------------------------
@register(
    "q_embed_centroid",
    """
    SELECT label, n_vectors, ROUND(sqrt(sq), 6) AS centroid_norm FROM (
      SELECT label,
             CAST(MAX(n) AS BIGINT) AS n_vectors,
             SUM(m * m) AS sq
      FROM (
        SELECT label, i, AVG(CAST(embedding[i] AS DOUBLE)) AS m,
               COUNT(*) AS n
        FROM embeddings, range(1, 65) t(i)
        GROUP BY label, i)
      GROUP BY label)
    """,
    description="per-label embedding centroid norm (posexplode + two-level agg)",
)
def q_embed_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    per_dim = (
        emb.select("label", F.posexplode("embedding").alias("i", "v"))
        .groupBy("label", "i")
        .agg(F.avg(F.col("v").cast("double")).alias("m"), F.count(F.lit(1)).alias("n"))
    )
    return (
        per_dim.groupBy("label")
        .agg(F.max("n").alias("n_vectors"), F.sum(F.col("m") * F.col("m")).alias("sq"))
        .select("label", "n_vectors", F.round(F.sqrt("sq"), 6).alias("centroid_norm"))
    )


# --- multimodal column plumbing ---------------------------------------------
@register(
    "q_multimodal_meta",
    """
    SELECT source,
           COUNT(*) AS n_assets,
           CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
           CAST(COUNT(DISTINCT sha256(text)) AS BIGINT) AS n_distinct_blobs
    FROM documents
    GROUP BY source
    """,
    description="multimodal: opaque binary payloads + typed metadata aggregation",
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Model each document as an opaque binary asset (the real pipeline would
    # carry image/audio bytes here; see operators/multimodal.py for the
    # decode/feature plumbing).
    d = _docs(spark, sf_dir).select(
        "source", F.encode("text", "UTF-8").alias("blob")
    )
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.sum(F.octet_length("blob")).alias("total_bytes"),
            F.countDistinct(F.sha2("blob", 256)).alias("n_distinct_blobs"),
        )
    )


# --- repetition filter (Gopher-style) ----------------------------------------
@register(
    "q_doc_repetition",
    r"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rep_micro > 200000 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
           CAST(SUM(rep_micro) AS BIGINT) AS rep_micro_sum
    FROM (
      SELECT lang,
             CAST(floor(1000000.0 * (len(grams) - len(list_distinct(grams))) / len(grams)) AS BIGINT)
               AS rep_micro
      FROM (
        SELECT lang,
               list_transform(range(0, greatest(array_length(string_split_regex(trim(text), '\s+')) - 3, 0) + 1),
                              i -> array_to_string(string_split_regex(trim(text), '\s+')[i + 1: i + 3], ' ')) AS grams
        FROM documents
      )
    )
    GROUP BY lang
    """,
    description="Gopher-style repetition filter: duplicate trigram-occurrence fraction per doc, flagged per language",
)
def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.functions.text import repetition_micro

    d = _docs(spark, sf_dir)
    rep = d.select("lang", repetition_micro("text").alias("rep_micro"))
    return rep.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("rep_micro") > 200_000, 1).otherwise(0)).cast("long").alias("n_repetitive"),
        F.sum("rep_micro").alias("rep_micro_sum"),
    )


# --- approximate k-NN graph --------------------------------------------------
# Every corpus vector gets its top-3 neighbors among SRP band-collision
# candidates (no label restriction): the SemDeDup / graph-ANN construction
# primitive. The oracle mirrors the same deterministic sign-band candidate
# set, both pair directions, and the (cosine desc, nbr) ranking.


def _srp_adaptive_ctes(max_bits: int = 12) -> str:
    """CTE block mirroring knn_graph's band_bits="auto" derivation IN SQL,
    so the oracle stays valid at every corpus size (a static 4-bit key set
    diverges the moment the count probe derives a wider bucket — at sf1 the
    operator uses 8 bits and the old literal-plane oracle was unusable
    above sf0.1). The ±1 planes are not embedded as literals; the oracle
    recomputes rademacher_signs' splitmix-style hash bit-for-bit in HUGEINT
    arithmetic (verified identical for every (plane, dim) pair), and the
    band width nb = greatest(4, ceil(log2(n/125))) comes from the same
    count probe the operator runs. max_bits=12 covers corpora up to
    125 * 2^12 = 512k vectors (sf10's 200k needs 11). Dot products are
    grouped SUMs of the same exact ±x_i addends the engine folds; the
    smallest |dot| margin is ~4e-5 vs ~1e-13 float-order noise, so sign
    bits — and the candidate set — are engine-identical. Ends with
    `cand` = DISTINCT same-band pairs scored by exact cosine (the equi-join
    per band replaces the OR-of-ANDs join, which planned as a nested loop)."""
    return f"""
    nv AS (SELECT COUNT(*) AS n FROM embeddings),
    bp AS (SELECT greatest(4, CAST(ceil(log2(n / 125.0)) AS INTEGER)) AS nb FROM nv),
    sg AS MATERIALIZED (
      SELECT band, j, d,
             CASE WHEN xor(x2, x2 >> 33) % 2 = 1 THEN 1.0 ELSE -1.0 END AS sgn
      FROM (SELECT band, j, d,
                   (x1 * 18397679294719823053::HUGEINT) % 18446744073709551616::HUGEINT AS x2
            FROM (SELECT band, j, d, xor(x0, x0 >> 33) AS x1
                  FROM (SELECT band, j, d,
                               ((band * nb + j)::HUGEINT * 1000003 + d::HUGEINT * 19349663
                                + 42::HUGEINT * 83492791) % 18446744073709551616::HUGEINT AS x0
                        FROM bp, range(8) t(band), range({max_bits}) u(j), range(64) v(d)
                        WHERE j < nb)))
    ), ex AS MATERIALIZED (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), dots AS MATERIALIZED (
      SELECT e.vec_id, s.band, s.j, SUM(e.x * s.sgn) AS dot
      FROM ex e JOIN sg s ON s.d = e.d
      GROUP BY e.vec_id, s.band, s.j
    ), keys AS MATERIALIZED (
      SELECT vec_id, band,
             CAST(SUM(CASE WHEN dot >= 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS bk
      FROM dots
      GROUP BY vec_id, band
    ), proj AS MATERIALIZED (
      -- plane-0 / plane-1 dots, quantized to 1e-6: the capped branch
      -- orders oversized buckets by each projection so a member's
      -- cap_window meets its nearest mates in TWO independent 1-D orders
      -- (a mate far away in one order is usually adjacent in the other),
      -- not random id-neighbors. Engine and oracle dots differ only by
      -- float summation order (~1e-13); rank orders mirror whenever no
      -- dot sits within that discrepancy of a rounding boundary —
      -- measured per corpus (scripts/rounding_margin.py: zero dots
      -- within 1x the noise bound at every generated scale, 3 of 400k
      -- within 10x at sf10; residual risk beyond that is a single
      -- adjacent-rank transposition, i.e. one window member, never a
      -- scored cosine).
      SELECT vec_id,
             round(max(CASE WHEN j = 0 THEN dot END), 6) AS pj,
             round(max(CASE WHEN j = 1 THEN dot END), 6) AS pj2
      FROM dots WHERE band = 0 AND j IN (0, 1) GROUP BY vec_id
    ), sized AS MATERIALIZED (
      -- bucket-size cap, mirrored from knn_graph (KNN_BUCKET_CAP /
      -- KNN_CAP_WINDOW in operators/similarity.py): oversized buckets pair
      -- each member with only its cap_window forward neighbors per
      -- projection order, killing the sum-of-B^2 blowup over
      -- near-duplicate clusters that band widening cannot split. Inert
      -- below sf10: the cap exceeds every measured bucket through sf1.
      SELECT k.vec_id, k.band, k.bk,
             ROW_NUMBER() OVER (PARTITION BY k.band, k.bk
                                ORDER BY p.pj, k.vec_id) AS rna,
             ROW_NUMBER() OVER (PARTITION BY k.band, k.bk
                                ORDER BY p.pj2, k.vec_id) AS rnb,
             COUNT(*) OVER (PARTITION BY k.band, k.bk) AS bsz
      FROM keys k JOIN proj p ON p.vec_id = k.vec_id
    ), cand AS MATERIALIZED (
      SELECT p.src, p.nbr,
             ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                          CAST(eb.embedding AS DOUBLE[])), 6) AS cosine
      FROM (SELECT DISTINCT least(a.vec_id, b.vec_id) AS src,
                   greatest(a.vec_id, b.vec_id) AS nbr
            FROM sized a JOIN sized b
              ON a.band = b.band AND a.bk = b.bk
              AND ((a.bsz <= {_sim.KNN_BUCKET_CAP} AND a.vec_id < b.vec_id)
                   OR (a.bsz > {_sim.KNN_BUCKET_CAP}
                       AND (b.rna - a.rna BETWEEN 1 AND {_sim.KNN_CAP_WINDOW}
                            OR b.rnb - a.rnb BETWEEN 1 AND {_sim.KNN_CAP_WINDOW})))) p
      JOIN embeddings ea ON ea.vec_id = p.src
      JOIN embeddings eb ON eb.vec_id = p.nbr
    )"""


@register(
    "q_knn_graph",
    f"""
    WITH {_srp_adaptive_ctes()}, sym AS (
      SELECT src, nbr, cosine FROM cand
      UNION ALL
      SELECT nbr AS src, src AS nbr, cosine FROM cand
    )
    SELECT src, nbr, cosine, CAST(rk AS BIGINT) AS rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY cosine DESC, nbr) AS rk
      FROM sym
    ) WHERE rk <= 3
    """,
    description="approximate k-NN graph: per-vector top-3 via SRP band candidates (SemDeDup primitive; count-adaptive band width mirrored in SQL)",
)
def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.operators.similarity import knn_graph

    return knn_graph(_emb(spark, sf_dir), k=3, dim=64, n_bands=8, band_bits="auto")


# --- edit-distance fuzzy self-join (Ed-Join prefix filtering) ----------------
# The oracle verifies with exact levenshtein but generates candidates with
# q-gram COUNT filtering (Gravano et al., VLDB'01): ed(a,b) <= k implies the
# positional q-gram bags share >= max(|a|,|b|) - q + 1 - k*q occurrences, so
# the HAVING-thresholded gram equi-join is a LOSSLESS candidate superset and
# the final levenshtein filter makes the output identical to brute force —
# which was quadratic (50k^2 levenshtein calls) above sf0.1. Count filtering
# is a DIFFERENT lossless prefilter than the engine's frequency-ordered
# prefix filter, so the hash-match still proves Ed-Join missed nothing.
# q = 16, not the engine's 6: at 50k docs the 6-gram cells were first-word
# hot spots (1.8B enumerated pairs, >900 s); 16-gram cells cap at ~19
# (15M pairs, seconds). Pairs too short for the 16-gram bound to prune
# (max len < q*(k+1) = 80) re-run the same lossless count filter at q=8
# (bound max-39, power down to len 40); only the sub-40-char tail — where
# the count bound is <= 0 at any q >= 2 — stays length-banded all-pairs,
# bounded to ~36 length classes of tiny heads, not a corpus join.
@register(
    "q_fuzzy_edit",
    """
    WITH s AS MATERIALIZED (SELECT doc_id, substr(trim(text), 1, 128) AS s FROM documents),
    g AS MATERIALIZED (
      SELECT doc_id, length(s) AS len, u.i AS pos, u.i // 5 AS pb,
             substr(s, CAST(u.i AS INTEGER), 16) AS gram
      FROM s, unnest(range(1, greatest(length(s) - 15, 0) + 1)) u(i)
    ), gb AS MATERIALIZED (
      -- probe side exploded to its 3 neighbor buckets so the join KEY is
      -- (gram, bucket): |Δpos| <= 4 matches live in the same or adjacent
      -- width-5 bucket, and for any occurrence pair exactly one exploded
      -- key collides, so no occurrence pair is double-counted
      SELECT doc_id, len, pos, pb + d.d AS key, gram
      FROM g, (VALUES (-1), (0), (1)) d(d)
    ), cand AS (
      -- positional count filter (|Δpos| <= k variant): an unedited gram
      -- survives shifted by at most k, so the threshold is unchanged while
      -- the bucketed equi-join stops a hot gram from enumerating its full
      -- df^2 (measured >900 s at sf1 with the position-free bag join)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM g a JOIN gb b
        ON a.gram = b.gram AND a.pb = b.key
       AND a.doc_id < b.doc_id AND abs(a.len - b.len) <= 4
      WHERE abs(a.pos - b.pos) <= 4
      GROUP BY a.doc_id, b.doc_id, a.len, b.len
      HAVING COUNT(*) >= greatest(a.len, b.len) - 15 - 64
    ), sp AS MATERIALIZED (
      -- short-pair pool: heads too short for the 16-gram bound (max len < 80)
      SELECT doc_id, s, length(s) AS len FROM s WHERE length(s) < 80
    ), sg AS MATERIALIZED (
      -- 8-grams of the pool, same width-5 position bucketing as g/gb
      SELECT doc_id, len, u.i AS pos, u.i // 5 AS pb,
             substr(s, CAST(u.i AS INTEGER), 8) AS gram
      FROM sp, unnest(range(1, greatest(len - 7, 0) + 1)) u(i)
    ), sgb AS (
      SELECT doc_id, len, pos, pb + d.d AS key, gram
      FROM sg, (VALUES (-1), (0), (1)) d(d)
    ), shorts_mid AS (
      -- 40 <= max(len) < 80: the q=8 count bound max-7-32 = max-39 >= 1 has
      -- pruning power, so the same lossless positional count filter applies
      -- (both sides have len >= 36 >= 8, so neither is gram-less)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sg a JOIN sgb b
        ON a.gram = b.gram AND a.pb = b.key
       AND a.doc_id < b.doc_id AND abs(a.len - b.len) <= 4
      WHERE abs(a.pos - b.pos) <= 4
      GROUP BY a.doc_id, b.doc_id, a.len, b.len
      HAVING COUNT(*) >= greatest(a.len, b.len) - 39
         AND greatest(a.len, b.len) >= 40
    ), shorts_tiny AS (
      -- max(len) < 40: the count bound is <= 0 — no lossless gram filter
      -- exists at q >= 2, so this corner stays all-pairs, but it is now
      -- bounded to sub-40-char heads within a +-4 length band (worst case
      -- ~36 length classes x class^2, not pool^2)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sp a JOIN sp b
        ON a.doc_id < b.doc_id AND abs(a.len - b.len) <= 4
      WHERE greatest(a.len, b.len) < 40
    ), allc AS (
      SELECT id_a, id_b FROM cand
      UNION SELECT id_a, id_b FROM shorts_mid
      UNION SELECT id_a, id_b FROM shorts_tiny
    )
    SELECT c.id_a, c.id_b, CAST(levenshtein(x.s, y.s) AS BIGINT) AS ed
    FROM allc c JOIN s x ON x.doc_id = c.id_a JOIN s y ON y.doc_id = c.id_b
    WHERE levenshtein(x.s, y.s) <= 4
    """,
    description="Levenshtein<=k self-join via frequency-ordered q-gram prefix filtering (Ed-Join)",
)
def q_fuzzy_edit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.operators.fuzzy import edit_distance_pairs

    heads = _docs(spark, sf_dir).select(
        "doc_id", F.substring(F.trim(F.col("text")), 1, 128).alias("head")
    )
    return edit_distance_pairs(heads, "head", "doc_id", max_dist=4, q=6)


# --- int8 scalar quantization of embeddings ----------------------------------
# The vector-compression step an ANN index at 100 TB needs (a float32 corpus
# is 4× the int8 one). Codes are exact integers via floor(x·255/range + .5)
# — NOT round(), whose half-way semantics differ across engines — so the
# report is value-checked end to end; the only doubles emitted are maxima of
# identically-computed expressions (order-independent).
@register(
    "q_embed_quantize",
    """
    WITH ex AS (
      SELECT label, generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), dims AS (
      SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM ex GROUP BY pos
    ), coded AS (
      SELECT label, ex.pos, x, mn, mx,
             CAST(floor((x - mn) / (mx - mn) * 255.0 + 0.5) AS BIGINT) AS code
      FROM ex JOIN dims ON ex.pos = dims.pos
      WHERE mx > mn
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vals,
           CAST(SUM(code) AS BIGINT) AS sum_codes,
           CAST(SUM(CASE WHEN code IN (0, 255) THEN 1 ELSE 0 END) AS BIGINT) AS n_saturated,
           MAX(abs(mn + code * (mx - mn) / 255.0 - x)) AS max_abs_err
    FROM coded GROUP BY label
    """,
    description="int8 scalar quantization: per-label code sums, saturation, max reconstruction error",
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ex = _emb(spark, sf_dir).select(
        "label", F.posexplode("embedding").alias("pos0", "xf")
    ).select("label", (F.col("pos0") + 1).alias("pos"), F.col("xf").cast("double").alias("x"))
    dims = ex.groupBy("pos").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    coded = (
        ex.join(F.broadcast(dims), "pos")
        .filter(F.col("mx") > F.col("mn"))
        .withColumn(
            "code",
            F.floor((F.col("x") - F.col("mn")) / (F.col("mx") - F.col("mn")) * 255.0 + 0.5).cast("long"),
        )
    )
    recon_err = F.abs(F.col("mn") + F.col("code") * (F.col("mx") - F.col("mn")) / 255.0 - F.col("x"))
    return coded.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vals"),
        F.sum("code").alias("sum_codes"),
        F.sum(F.when(F.col("code").isin(0, 255), 1).otherwise(0)).alias("n_saturated"),
        F.max(recon_err).alias("max_abs_err"),
    )


# --- TF-IDF top terms per document -------------------------------------------
# tf = in-doc multiplicity, idf = ln(N/df) with N derived ON-PLAN (1-row
# aggregate broadcast-cross-joined — no driver collect); top-5 per doc with
# (score, token) deterministic tie-break.
@register(
    "q_tfidf",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
      FROM documents
    ), tf AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok WHERE token <> '' GROUP BY doc_id, token
    ), dfreq AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token
    ), n AS (
      SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf
    ), scored AS (
      SELECT doc_id, token, tf,
             ROUND(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
      FROM tf JOIN dfreq USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, tf, tfidf FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rk
      FROM scored
    ) WHERE rk <= 5
    """,
    description="TF-IDF: top-5 characteristic terms per document (ln(N/df) weighting)",
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    tok = (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(tokens("text")).alias("token"))
        .filter(F.col("token") != "")
    )
    # Materialize tf once (r14): its three consumers (dfreq, the n_docs
    # 1-row aggregate, and the scored join) each re-planned the corpus
    # scan + explode + groupBy — 3 document scans and 3 token shuffles for
    # one logical pass. Same rows, one pass.
    tf = (
        tok.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = tf.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .join(broadcast(n))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("doc_id", "token", "tf", "tfidf")
    )


# --- BM25 keyword search -----------------------------------------------------
# Okapi BM25 (k1=1.2, b=0.75, Lucene idf) for a fixed query over the corpus;
# N and avgdl are 1-row aggregates broadcast on-plan. Ranking compares the
# ROUNDED score (6dp) with a doc_id tie-break so both engines rank
# identically even at float ulp differences.
_BM25_TERMS = ("join", "filter", "batch")
_BM25_K1, _BM25_B = 1.2, 0.75


@register(
    "q_bm25",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
      FROM documents
    ), dl AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id
    ), corpus AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ), tf AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok WHERE token IN {str(_BM25_TERMS)} GROUP BY doc_id, token
    ), dfreq AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token
    ), scored AS (
      SELECT doc_id,
             SUM(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                 * tf * ({_BM25_K1} + 1.0)
                 / (tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl))) AS s
      FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id) CROSS JOIN corpus
      GROUP BY doc_id
    )
    SELECT doc_id, ROUND(s, 6) AS bm25
    FROM scored ORDER BY ROUND(s, 6) DESC, doc_id LIMIT 15
    """,
    description="Okapi BM25 ranking for a fixed keyword query (top-15 docs)",
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import broadcast

    docs = _docs(spark, sf_dir)
    # dl = per-doc token count — computed as size(tokens) on the UN-exploded
    # frame (r14): identical rows to groupBy-count over the explode (explode
    # emits exactly size(arr) rows; split() never yields an empty array, and
    # the >=1 filter reproduces explode's null-text drop) with ZERO shuffle
    # and no second tokenize pass over the corpus.
    dl = docs.select("doc_id", F.size(tokens("text")).alias("dl")).filter(
        F.col("dl") >= 1
    )
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        docs.select("doc_id", F.explode(tokens("text")).alias("token"))
        .filter(F.col("token").isin(*_BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    denom = F.col("tf") + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
    term_score = idf * F.col("tf") * (_BM25_K1 + 1.0) / denom
    return (
        tf.join(broadcast(dfreq), "token")
        .join(dl, "doc_id")
        .join(broadcast(corpus))
        .groupBy("doc_id")
        .agg(F.round(F.sum(term_score), 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(15)
    )


# --- PageRank over the k-NN graph --------------------------------------------
# The second canonical iterative-dataflow shape (dedup_clusters is the
# first): damped fixed-point over incoming-edge contributions, ranking
# semantic-neighborhood density. Spark runs a driver loop with
# localCheckpoint lineage truncation; the oracle UNROLLS the same 5
# iterations as chained CTEs (aggregation is illegal inside a recursive
# CTE). Constants are embedded via repr() so both engines fold the exact
# same doubles; ranks are N-scaled so the 6dp round dwarfs float-sum ulps.
_PR_DAMP = 0.85
_PR_ITERS = 5


def _pagerank_oracle() -> str:
    omd = repr(1.0 - _PR_DAMP)
    stages = []
    for i in range(_PR_ITERS):
        stages.append(f"""
    , pr{i + 1} AS (
      SELECT nodes.node, {omd} + {_PR_DAMP!r} * COALESCE(s.s, 0.0) AS pr
      FROM nodes LEFT JOIN (
        SELECT e.dst, SUM(p.pr / d.deg) AS s
        FROM edges e JOIN deg d ON e.src = d.src JOIN pr{i} p ON p.node = e.src
        GROUP BY e.dst
      ) s ON s.dst = nodes.node
    )""")
    return f"""
    WITH {_srp_adaptive_ctes()}, sym AS (
      SELECT src, nbr, cosine FROM cand
      UNION ALL
      SELECT nbr AS src, src AS nbr, cosine FROM cand
    ), edges AS (
      SELECT src, nbr AS dst FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY cosine DESC, nbr) AS rk
        FROM sym
      ) WHERE rk <= 3
    ), nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges
      )
    ), deg AS (
      SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src
    ), pr0 AS (
      SELECT node, 1.0 AS pr FROM nodes
    ){"".join(stages)}
    SELECT node, ROUND(pr, 6) AS pr FROM pr{_PR_ITERS}
    """


@register(
    "q_pagerank",
    _pagerank_oracle(),
    description="PageRank over the approximate k-NN graph (5 damped iterations, unrolled-CTE oracle)",
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.operators.graph import pagerank
    from syscol_spark.operators.similarity import knn_graph

    edges = knn_graph(_emb(spark, sf_dir), k=3, dim=64, n_bands=8, band_bits="auto").select(
        "src", F.col("nbr").alias("dst")
    )
    return pagerank(edges, damping=_PR_DAMP, iterations=_PR_ITERS)


# --- char-bigram language-model scoring (perplexity proxy) -------------------
# Train a character-bigram LM on the corpus itself (one grouped count), then
# score every document by its average log-probability under add-one
# smoothing: P(b) = (c(b)+1)/(C+V). This is the classic cheap
# perplexity-style quality signal (KenLM-shaped, one order lower). The model
# is a global aggregate joined back broadcast-style; the bigram explode is a
# pure map, so the whole plan is two scans + one shuffle on the bigram key —
# scan-rate at any corpus size. Score rounded to 6dp (sum-of-logs is the one
# order-dependent step).
@register(
    "q_lm_perplexity",
    """
    WITH big AS (
      SELECT doc_id, substr(text, CAST(i AS INTEGER), 2) AS bg
      FROM documents, unnest(range(1, CAST(len(text) AS BIGINT))) AS t(i)
    ), cnt AS (
      SELECT bg, CAST(COUNT(*) AS BIGINT) AS c FROM big GROUP BY bg
    ), model AS (
      SELECT CAST(SUM(c) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS vocab FROM cnt
    )
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(SUM(ln((c + 1.0) / (total + vocab))) / COUNT(*), 6) AS avg_logp
    FROM big b JOIN cnt USING (bg) CROSS JOIN model
    GROUP BY b.doc_id
    """,
    description="char-bigram LM quality score (add-one smoothing, avg log-prob per doc)",
)
def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import broadcast

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    big = docs.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(1), F.length("text") - 1)).alias("i"),
    ).select("doc_id", F.expr("substr(text, i, 2)").alias("bg"))
    # Materialize the ALPHABET-bounded bigram-count model once (r14): its
    # two consumers (the broadcast model join and the total/vocab 1-row
    # aggregate) each re-planned the whole-corpus char explode — 3 corpus
    # explodes for 2 logical passes. Same rows, one training pass.
    cnt = big.groupBy("bg").agg(F.count(F.lit(1)).alias("c")).localCheckpoint()
    model = cnt.agg(
        F.sum("c").alias("total"), F.count(F.lit(1)).alias("vocab")
    )
    # The bigram table is ALPHABET-bounded (distinct char pairs), not
    # corpus-proportional — broadcast it so the full bigram stream never
    # shuffles on bg: the plan is scan + explode + broadcast join + a
    # map-side-combined groupBy(doc_id) whose shuffle is ~one row per doc.
    # (The shuffled join here was the whole-corpus shuffle behind the 7.05x
    # sf1 ratio — the worst in the probe.)
    return (
        big.join(broadcast(cnt), "bg")
        .join(broadcast(model))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum(F.log((F.col("c") + 1.0) / (F.col("total") + F.col("vocab"))))
                / F.count(F.lit(1)),
                6,
            ).alias("avg_logp"),
        )
    )


# --- corpus-driven boilerplate removal ---------------------------------------
# Tokens present in more than half of all documents are "boilerplate"
# (nav/footer analog in the synthetic corpus); report each document's size
# before/after dropping them. The boilerplate set is a document-frequency
# aggregate (tiny — bounded by vocabulary) joined back as a broadcast; kept
# ratio stays in integer micro units end-to-end (catalog parity rule).
@register(
    "q_boilerplate",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
      FROM documents
    ), dfreq AS (
      SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM tok WHERE token <> '' GROUP BY token
    ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    flagged AS (
      SELECT t.doc_id, t.token, (df * 2 > n_docs) AS boiler
      FROM tok t JOIN dfreq USING (token) CROSS JOIN n
      WHERE t.token <> ''
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT)                              AS n_tokens,
           CAST(SUM(CASE WHEN boiler THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN boiler THEN 0 ELSE 1 END) AS BIGINT) * 1000000
             // CAST(COUNT(*) AS BIGINT)                          AS kept_micro
    FROM flagged GROUP BY doc_id
    """,
    description="corpus-driven boilerplate token removal (df > 50% docs), kept-size report",
)
def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import broadcast

    docs = _docs(spark, sf_dir)
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("token")).filter(
        F.col("token") != ""
    )
    dfreq = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    kept = F.sum(F.when(F.col("df") * 2 > F.col("n_docs"), 0).otherwise(1)).cast("long")
    return (
        tok.join(dfreq, "token")
        .join(broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            kept.alias("n_kept"),
            F.expr(
                "CAST(SUM(CASE WHEN df * 2 > n_docs THEN 0 ELSE 1 END) * 1000000 div COUNT(*) AS BIGINT)"
            ).alias("kept_micro"),
        )
    )


# --- vocabulary growth (Heaps' law curve) ------------------------------------
# How fast does the vocabulary grow as the corpus is ingested in doc_id
# order? Each token contributes at its FIRST document (a min-aggregate),
# then a running sum over the doc sequence yields the curve; sampled every
# 10th document. Two shuffles (token min, doc grid) regardless of corpus
# size; the curve itself is one row per sampled doc.
@register(
    "q_vocab_growth",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
      FROM documents
    ), per_doc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens
      FROM tok WHERE token <> '' GROUP BY doc_id
    ), firsts AS (
      SELECT first_doc, CAST(COUNT(*) AS BIGINT) AS n_new
      FROM (SELECT token, MIN(doc_id) AS first_doc FROM tok WHERE token <> '' GROUP BY token)
      GROUP BY first_doc
    ), curve AS (
      SELECT p.doc_id,
             ROW_NUMBER() OVER (ORDER BY p.doc_id)                         AS doc_rank,
             SUM(p.n_tokens) OVER (ORDER BY p.doc_id)                      AS cum_tokens,
             SUM(COALESCE(f.n_new, 0)) OVER (ORDER BY p.doc_id)            AS cum_vocab
      FROM per_doc p LEFT JOIN firsts f ON f.first_doc = p.doc_id
    )
    SELECT doc_id, CAST(doc_rank AS BIGINT) AS doc_rank,
           CAST(cum_tokens AS BIGINT) AS cum_tokens,
           CAST(cum_vocab AS BIGINT) AS cum_vocab
    FROM curve WHERE doc_rank % 10 = 0
    """,
    description="Heaps'-law vocabulary-growth curve over doc_id ingest order",
)
def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    tok = (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(tokens("text")).alias("token"))
        .filter(F.col("token") != "")
    )
    per_doc = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tokens"))
    firsts = (
        tok.groupBy("token")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy("first_doc")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        per_doc.join(firsts, per_doc.doc_id == firsts.first_doc, "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
        .select(
            "doc_id",
            F.row_number().over(Window.orderBy("doc_id")).cast("long").alias("doc_rank"),
            F.sum("n_tokens").over(w).cast("long").alias("cum_tokens"),
            F.sum("n_new").over(w).cast("long").alias("cum_vocab"),
        )
    )
    return curve.filter(F.col("doc_rank") % 10 == 0)


# --- RAG-style document chunking ---------------------------------------------
# Overlapping token-window chunks (size 32, stride 24): the retrieval-corpus
# prep step of a RAG/training pipeline. Chunk starts are 0, 24, 48, ... while
# start < n_tokens, so every token lands in >=1 chunk and consecutive chunks
# overlap by 8 tokens; the trailing chunk clamps (F.slice / DuckDB list[a:b]
# both clamp past the end). Scale: one sequence+posexplode per doc (no
# shuffle until a consumer aggregates) — chunk fan-out is data-proportional.
@register(
    "q_doc_chunks",
    r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents
    ), g AS (
      SELECT doc_id, toks,
             unnest(generate_series(0, (array_length(toks) - 1) // 24)) AS ci
      FROM t
    )
    SELECT doc_id,
           CAST(ci AS INT) AS chunk_idx,
           CAST(len(toks[ci * 24 + 1 : ci * 24 + 32]) AS BIGINT) AS n_chunk_tokens,
           array_to_string(toks[ci * 24 + 1 : ci * 24 + 32], ' ') AS chunk_text
    FROM g
    """,
    description="RAG chunking: overlapping token windows (size 32 / stride 24) via sequence+posexplode",
)
def q_doc_chunks(spark: SparkSession, sf_dir: str, *, size: int = 32, stride: int = 24) -> DataFrame:
    toks_df = _docs(spark, sf_dir).select("doc_id", tokens("text").alias("toks"))
    starts = F.sequence(F.lit(0), F.size("toks") - 1, F.lit(stride))
    chunked = toks_df.select(
        "doc_id",
        "toks",
        F.posexplode(starts).alias("chunk_idx", "start"),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.slice("toks", F.col("start") + 1, size).alias("chunk"),
    )
    return chunked.select(
        "doc_id",
        "chunk_idx",
        F.size("chunk").cast("long").alias("n_chunk_tokens"),
        F.array_join("chunk", " ").alias("chunk_text"),
    )


# --- heavy hitters (bounded-memory sketch + exact verify) --------------------
@register(
    "q_heavy_hitters",
    """
    WITH t AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ), tt AS (
      SELECT token FROM t WHERE token <> ''
    )
    SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
    FROM tt
    GROUP BY token
    HAVING COUNT(*) * 50 > (SELECT COUNT(*) FROM tt)
    """,
    description="exact heavy hitters (freq > n/50) via per-partition Misra-Gries candidates + exact recount",
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.operators.sketch import heavy_hitters

    toks = (
        _docs(spark, sf_dir)
        .select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    return heavy_hitters(toks, "token", k=50)


# --- containment (subset/superset) near-dup ----------------------------------
@register(
    "q_ngram_containment",
    # Inverted-index candidates (lossless: containment >= 0.6 > 0 implies a
    # shared shingle) instead of the quadratic block self-join — identical
    # output, sf1-tractable oracle. Ordered pairs, so candidates keep both
    # directions (a <> b).
    """
    WITH sh AS MATERIALIZED (
      SELECT doc_id, lang,
             list_distinct(CASE WHEN array_length(toks) >= 3
               THEN list_transform(range(1, array_length(toks) - 1),
                                   i -> array_to_string(list_slice(toks, i, i + 2), ' '))
               ELSE [array_to_string(toks, ' ')] END) AS shset
      FROM (SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS toks FROM documents)
    ), g AS (
      SELECT doc_id, lang, unnest(shset) AS gram FROM sh
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM g a JOIN g b ON a.lang = b.lang AND a.gram = b.gram AND a.doc_id <> b.doc_id
    )
    SELECT c.id_a, c.id_b,
           ROUND(CAST(len(list_intersect(x.shset, y.shset)) AS DOUBLE) / len(x.shset), 6)
             AS containment
    FROM cand c JOIN sh x ON x.doc_id = c.id_a JOIN sh y ON y.doc_id = c.id_b
    WHERE CAST(len(list_intersect(x.shset, y.shset)) AS DOUBLE) / len(x.shset) >= 0.6
    """,
    description="asymmetric containment near-dup (|A intersect B|/|A| >= 0.6): subset docs Jaccard misses",
)
def q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.operators.dedup import containment_pairs

    return containment_pairs(_docs(spark, sf_dir), "text", "doc_id", "lang", min_containment=0.6)


# --- incremental dedup (new shard vs corpus signature table) -----------------
# Same portable-kernel oracle technique as q_minhash_lsh; the split is
# doc_id % 5 == 0 (the "new shard"), and the join keeps new-new pairs once
# (a < b) plus new-old pairs in the (new, old) direction.
@register(
    "q_dedup_delta",
    f"""
    WITH sh AS (
      SELECT doc_id,
             CASE WHEN array_length(toks) >= 3
               THEN list_transform(range(1, array_length(toks) - 1),
                                   i -> array_to_string(list_slice(toks, i, i + 2), ' '))
               ELSE [array_to_string(toks, ' ')] END AS shset
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents)
    ), hashed AS (
      SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT % {_MH_P} AS h
      FROM (SELECT doc_id, unnest(shset) AS s FROM sh)
    ), sig AS (
      SELECT doc_id,
         {_MH_SIG_COLS}
      FROM hashed GROUP BY doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(({_MH_MATCHES}) / {_MH_N}.0, 6) AS est_jaccard
    FROM sig a JOIN sig b
      ON (a.doc_id % 5 = 0)
     AND ((b.doc_id % 5 <> 0) OR a.doc_id < b.doc_id)
     AND ({_MH_BAND_EQ})
    """,
    description="incremental MinHash dedup: new shard (id%5=0) vs corpus signature table, exact portable oracle",
)
def q_dedup_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.operators.dedup import minhash_dedup_delta, minhash_signatures

    sigs = minhash_signatures(
        _docs(spark, sf_dir), "text", "doc_id", kernel="portable"
    ).localCheckpoint()
    new = sigs.filter(F.col("id") % 5 == 0)
    old = sigs.filter(F.col("id") % 5 != 0)
    return minhash_dedup_delta(new, old, portable_buckets=True)


# --- normalization-aware exact dedup ------------------------------------------
# The testdata corpus has zero byte-identical duplicates, so the query PLANTS
# messy twins (UPPERCASE + doubled spaces + trailing " .") for doc_id % 10 = 0
# via UNION ALL — the q_pii_redact planting technique — and shows raw-hash
# dedup missing all of them while normalize_text recovers every one. Step
# order of the normalization (lower -> strip punct -> collapse ws -> trim) is
# the contract; the oracle mirrors it operation for operation.
@register(
    "q_norm_dedup",
    f"""
    WITH messy AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL
      SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents) AS doc_id, source,
             replace(upper(text), ' ', '  ') || ' .' AS text
      FROM documents WHERE doc_id % 10 = 0
    ), g AS (
      SELECT source,
             md5(text) AS h_raw,
             md5(trim(regexp_replace(regexp_replace(lower(text), '{PUNCT_CLASS}', '', 'g'),
                                     '\\s+', ' ', 'g'))) AS h_norm
      FROM messy
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT h_raw) AS BIGINT) AS uniq_raw,
           CAST(COUNT(DISTINCT h_norm) AS BIGINT) AS uniq_norm,
           CAST(COUNT(DISTINCT h_raw) - COUNT(DISTINCT h_norm) AS BIGINT) AS recovered
    FROM g GROUP BY source
    """,
    description="normalization-aware exact dedup: casefold/punct-strip/ws-collapse canonical form recovers planted messy twins raw hashing misses",
)
def q_norm_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select("doc_id", "source", "text")
    # twin ids offset by max(doc_id)+1 on-plan (1-row broadcast) so the
    # planting stays id-disjoint on corpora of any size
    off = d.agg((F.max("doc_id") + 1).alias("__off"))
    twins = (
        d.filter(F.col("doc_id") % 10 == 0)
        .crossJoin(F.broadcast(off))
        .select(
            (F.col("doc_id") + F.col("__off")).alias("doc_id"),
            "source",
            F.concat(F.regexp_replace(F.upper("text"), " ", "  "), F.lit(" .")).alias("text"),
        )
    )
    g = d.unionByName(twins).select(
        "source",
        F.md5("text").alias("h_raw"),
        F.md5(normalize_text("text")).alias("h_norm"),
    )
    # Cascaded plain aggregations, NOT one multi-distinct agg: two
    # countDistinct in one agg triggers Spark's Expand rewrite (every input
    # row replicated per distinct clause — the q_profile trap the plan audit
    # forbids). h_raw determines h_norm (both are functions of text), so
    # rolling raw-groups up through norm-groups gives the exact same
    # distinct counts with partial aggregation all the way.
    raw_groups = g.groupBy("source", "h_raw", "h_norm").agg(
        F.count(F.lit(1)).alias("n")
    )
    norm_groups = raw_groups.groupBy("source", "h_norm").agg(
        F.sum("n").alias("n"), F.count(F.lit(1)).alias("n_raw")
    )
    return norm_groups.groupBy("source").agg(
        F.sum("n").alias("n_docs"),
        F.sum("n_raw").alias("uniq_raw"),
        F.count(F.lit(1)).alias("uniq_norm"),
        (F.sum("n_raw") - F.count(F.lit(1))).alias("recovered"),
    )


# --- rule-by-rule quality filter (Gopher/C4 attribution) ----------------------
# The production shape of LLM-data quality filtering is per-RULE drop
# attribution (FineWeb/Dolma publish exactly this table), not one composite
# score (q_text_quality). Violations for the content rules are PLANTED
# deterministically (doc_id % 17 -> " lorem ipsum", % 13 -> " { }") because the
# synthetic corpus is punctuation-free word salad; the structural rules
# (length band, mean-token-length band, stopword floor) are non-degenerate on
# the raw data (0.72 / 0.5 / 0.78 selectivity at sf0.01). Pure codegen'd
# expressions — one scan, one tiny groupBy.
@register(
    "q_gopher_rules",
    f"""
    WITH m AS (
      SELECT lang,
             text || CASE WHEN doc_id % 17 = 0 THEN ' lorem ipsum'
                          WHEN doc_id % 13 = 0 THEN ' {{ }}'
                          ELSE '' END AS t
      FROM documents
    ), f AS (
      SELECT lang,
             array_length(string_split_regex(trim(t), '\\s+')) AS nt,
             CAST(length(regexp_replace(trim(t), '\\s+', '', 'g')) AS DOUBLE)
               / array_length(string_split_regex(trim(t), '\\s+')) AS ml,
             len(list_filter(string_split_regex(trim(t), '\\s+'),
                             tok -> tok IN ({_STOPS_SQL}))) AS stop_hits,
             NOT contains(t, 'lorem ipsum') AS r_lorem,
             NOT contains(t, '{{') AS r_brace
      FROM m
    ), r AS (
      SELECT lang,
             (nt BETWEEN 20 AND 80) AS r_nwords,
             (ml >= 3.0 AND ml <= 4.5) AS r_meanlen,
             (stop_hits >= 2) AS r_stop,
             r_lorem, r_brace
      FROM f
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN r_nwords THEN 1 ELSE 0 END) AS BIGINT) AS n_nwords,
           CAST(SUM(CASE WHEN r_meanlen THEN 1 ELSE 0 END) AS BIGINT) AS n_meanlen,
           CAST(SUM(CASE WHEN r_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
           CAST(SUM(CASE WHEN r_lorem THEN 1 ELSE 0 END) AS BIGINT) AS n_lorem,
           CAST(SUM(CASE WHEN r_brace THEN 1 ELSE 0 END) AS BIGINT) AS n_brace,
           CAST(SUM(CASE WHEN r_nwords AND r_meanlen AND r_stop AND r_lorem AND r_brace
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_all
    FROM r GROUP BY lang
    """,
    description="Gopher/C4-style quality filter with per-rule drop attribution: length band, mean-token-length band, stopword floor, lorem-ipsum and brace content rules",
)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    t = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 17 == 0, F.lit(" lorem ipsum"))
        .when(F.col("doc_id") % 13 == 0, F.lit(" { }"))
        .otherwise(F.lit("")),
    )
    nt = token_count(t)
    ml = F.length(F.regexp_replace(F.trim(t), r"\s+", "")).cast("double") / nt
    rules = d.select(
        "lang",
        nt.between(20, 80).alias("r_nwords"),
        ((ml >= 3.0) & (ml <= 4.5)).alias("r_meanlen"),
        (stopword_hits(t) >= 2).alias("r_stop"),
        (~t.contains("lorem ipsum")).alias("r_lorem"),
        (~t.contains("{")).alias("r_brace"),
    )
    flags = ["r_nwords", "r_meanlen", "r_stop", "r_lorem", "r_brace"]
    aggs = [F.count(F.lit(1)).alias("n_docs")] + [
        F.sum(F.when(F.col(c), 1).otherwise(0)).alias("n_" + c[2:]) for c in flags
    ]
    pass_all = F.col(flags[0])
    for c in flags[1:]:
        pass_all = pass_all & F.col(c)
    return rules.groupBy("lang").agg(
        *aggs, F.sum(F.when(pass_all, 1).otherwise(0)).alias("n_pass_all")
    )


# --- content-defined chunking dedup -------------------------------------------
# Chunk boundaries from LOCAL content (cut after tokens whose 60-bit md5 hash
# = mod-1 (mod 16)), so an edit anywhere re-hashes exactly ONE chunk and every
# other chunk still dedups corpus-wide — the shift-resilience fixed windows
# lack (rsync/LBFS lineage, applied at token granularity for text). The tiny
# 30-word testdata vocabulary makes cross-doc chunk collisions common, which
# is exactly what the dup statistics measure.
@register(
    "q_cdc_chunks",
    f"""
    WITH tok AS (
      SELECT doc_id, pos, token,
             CASE WHEN (('0x' || substr(md5(token), 1, 15))::BIGINT % {FINGERPRINT_P}) % 16 = 15
                  THEN 1 ELSE 0 END AS cut
      FROM (SELECT doc_id,
                   unnest(string_split_regex(trim(text), '\\s+')) AS token,
                   generate_subscripts(string_split_regex(trim(text), '\\s+'), 1) AS pos
            FROM documents)
      WHERE token <> ''
    ), ch AS (
      SELECT doc_id, token, pos,
             COALESCE(SUM(cut) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
      FROM tok
    ), chunks AS (
      SELECT doc_id, chunk_id,
             md5(string_agg(token, ' ' ORDER BY pos)) AS chunk_hash,
             CAST(COUNT(*) AS BIGINT) AS n_tokens
      FROM ch GROUP BY doc_id, chunk_id
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(DISTINCT c.chunk_hash) AS BIGINT) AS n_uniq_chunks,
           CAST(floor(1000000.0 * (COUNT(*) - COUNT(DISTINCT c.chunk_hash)) / COUNT(*)) AS BIGINT)
             AS dup_micro,
           CAST(SUM(c.n_tokens) AS BIGINT) AS n_tokens
    FROM chunks c JOIN documents d USING (doc_id)
    GROUP BY d.source
    """,
    description="content-defined chunking (token-level CDC, expected chunk = 16 tokens): corpus-wide duplicate-chunk statistics per source",
)
def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.operators.dedup import cdc_chunks

    d = _docs(spark, sf_dir)
    chunks = cdc_chunks(d, "text", "doc_id", mod=16)
    return (
        chunks.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.countDistinct("chunk_hash").alias("n_uniq_chunks"),
            F.floor(
                F.lit(1_000_000.0)
                * (F.count(F.lit(1)) - F.countDistinct("chunk_hash"))
                / F.count(F.lit(1))
            ).cast("long").alias("dup_micro"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )


# --- cluster-balanced sampling ------------------------------------------------
# The cluster-rebalance step of SemDeDup-style curation: quantize the corpus
# (same deterministic k-means as IVF — one unrolled-CTE chain in the oracle),
# then down-sample every cluster to the MEAN cluster size with the md5-ppm
# filter, so over-represented semantic regions shrink and rare ones survive
# intact. Rates derive on-plan (k-row aggregate, broadcast back); no windows
# over the corpus, so a hot cluster never lands on one task.
def _cluster_balance_oracle(*, k: int, iters: int, dim: int, train_stride: int) -> str:
    ctes = _kmeans_serve_ctes(k=k, iters=iters, dim=dim, train_stride=train_stride)
    from syscol_spark.operators.sampling import hash_bucket_sql

    bucket = hash_bucket_sql("s.vec_id")
    ctes.append(
        "counts AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM serve GROUP BY cluster)"
    )
    ctes.append(
        "capc AS (SELECT CAST(ceil(CAST(SUM(n_vecs) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cap FROM counts)"
    )
    ctes.append(
        "rates AS (SELECT cluster, n_vecs, "
        "LEAST(1000000, CAST(floor((1000000 * cap) / n_vecs) AS BIGINT)) AS keep_ppm "
        "FROM counts, capc)"
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT r.cluster, r.n_vecs, r.keep_ppm,
           CAST(SUM(CASE WHEN {bucket} < r.keep_ppm THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM serve s JOIN rates r USING (cluster)
    GROUP BY r.cluster, r.n_vecs, r.keep_ppm
    """
    )


@register(
    "q_cluster_balance",
    _cluster_balance_oracle(k=8, iters=3, dim=64, train_stride=4),
    description="cluster-balanced sampling: k-means quantize, then md5-ppm down-sample each cluster to the mean cluster size (SemDeDup rebalance step)",
)
def q_cluster_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.operators.sampling import MILLION, hash_bucket
    from syscol_spark.operators.similarity import _assign_nearest, kmeans_centroids

    emb = _emb(spark, sf_dir)
    cents = kmeans_centroids(emb, k=8, max_iter=3, train_stride=4)
    # narrow (cluster, vec_id) assignment materialized ONCE (r14): both
    # consumers (cluster counts and the capped-sample aggregate) otherwise
    # re-run the Arrow centroid-assignment pass over the full embedding
    # table — the expensive part — while the checkpointed rows are 2 ints.
    assigned = _assign_nearest(emb, "embedding", cents).select(
        F.col("__cluster").alias("cluster"), "vec_id"
    ).localCheckpoint()
    counts = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_vecs"))
    cap = counts.agg(
        F.ceil(F.sum("n_vecs").cast("double") / F.count(F.lit(1))).cast("long").alias("cap")
    )
    rates = counts.crossJoin(F.broadcast(cap)).select(
        "cluster",
        "n_vecs",
        F.least(
            F.lit(MILLION).cast("long"),
            F.floor((F.lit(MILLION) * F.col("cap")) / F.col("n_vecs")).cast("long"),
        ).alias("keep_ppm"),
    )
    return (
        assigned.join(F.broadcast(rates), "cluster")
        .groupBy("cluster", "n_vecs", "keep_ppm")
        .agg(
            F.sum(F.when(hash_bucket("vec_id") < F.col("keep_ppm"), 1).otherwise(0)).alias(
                "n_kept"
            )
        )
    )


# --- Zipf slope of the token frequency distribution ---------------------------
# The corpus-health diagnostic next to q_vocab_growth / q_heavy_hitters: OLS
# of ln(freq) on ln(rank) over the top-100 tokens ≈ the Zipf exponent
# (natural text ~ −1; templated/spammy corpora diverge). The top-k is taken
# with a distributed TakeOrdered limit FIRST (freq desc, token asc — total
# order), and only the 100 survivors enter the single-partition ranking
# window — the full vocabulary is never globally sorted. ln() cross-engine
# is already load-bearing in q_tfidf; the 6-dp ROUND absorbs summation-order
# ulps.
@register(
    "q_zipf_slope",
    """
    WITH freq AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token FROM documents)
      WHERE token <> ''
      GROUP BY token
      ORDER BY freq DESC, token
      LIMIT 100
    ), xy AS (
      SELECT ln(CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS DOUBLE)) AS x,
             ln(CAST(freq AS DOUBLE)) AS y
      FROM freq
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_ranks,
           ROUND((COUNT(*) * SUM(x * y) - SUM(x) * SUM(y))
                 / (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x)), 6) AS zipf_slope,
           ROUND((SUM(y) - ((COUNT(*) * SUM(x * y) - SUM(x) * SUM(y))
                 / (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x))) * SUM(x)) / COUNT(*), 6)
             AS intercept
    FROM xy
    """,
    description="Zipf exponent fit: OLS of ln(freq) on ln(rank) over the top-100 tokens (distributed top-k before any global sort)",
)
def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    freq = (
        _docs(spark, sf_dir)
        .select(F.explode(tokens("text")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "token")
        .limit(100)
    )
    w = Window.orderBy(F.col("freq").desc(), "token")
    xy = freq.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    n = F.count(F.lit(1))
    slope = (n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y")) / (
        n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x")
    )
    return xy.agg(
        n.alias("n_ranks"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.sum("y") - slope * F.sum("x")) / n, 6).alias("intercept"),
    )


# --- BPE vocabulary induction -------------------------------------------------
# Tokenizer training as distributed DataFrame ops (operators/bpe.py): word
# frequency table (one corpus shuffle), then per merge step an integer
# pair-count argmax + one left-to-right fold over each word's symbols
# (list_reduce — the textbook merge-with-skip; a plain string replace of
# '|a|b|'→'|ab|' consumes the shared delimiter and misses consecutive
# occurrences like 'abab'/'banana'). The oracle unrolls the EXACT loop into
# a CTE chain (the kmeans/PageRank oracle technique) — integer counts and a
# (count desc, pair asc) total order make every step bit-deterministic, no
# float anywhere.
def _bpe_ctes(n_merges: int) -> list[str]:
    ctes = [
        "w0 AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq, "
        "'|' || regexp_replace(word, '(.)', '\\1|', 'g') AS repr "
        "FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word FROM documents) "
        "WHERE word <> '' GROUP BY word)"
    ]
    for t in range(1, n_merges + 1):
        prev = f"w{t - 1}"
        ctes.append(
            f"p{t} AS (SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt FROM ("
            "SELECT freq, unnest(list_transform(range(1, len(syms)), "
            "i -> '|' || syms[i] || '|' || syms[i + 1] || '|')) AS pair FROM ("
            "SELECT freq, list_filter(string_split(repr, '|'), x -> x <> '') AS syms "
            f"FROM {prev})) GROUP BY pair)"
        )
        ctes.append(
            f"m{t} AS (SELECT {t} AS step, pair, cnt, "
            "string_split(trim(pair, '|'), '|')[1] AS lsym, "
            "string_split(trim(pair, '|'), '|')[2] AS rsym, "
            "replace(trim(pair, '|'), '|', '') AS msym "
            f"FROM p{t} ORDER BY cnt DESC, pair LIMIT 1)"
        )
        # textbook left-to-right merge-with-skip: fold the symbol list into
        # a fresh delimited repr, rewriting the tail '|l|' + next 'r' → '|lr|'
        ctes.append(
            f"w{t} AS (SELECT w.word, w.freq, "
            "list_reduce("
            "list_prepend('|', list_filter(string_split(w.repr, '|'), x -> x <> '')), "
            "(acc, s) -> CASE WHEN s = m.rsym AND ends_with(acc, '|' || m.lsym || '|') "
            "THEN substr(acc, 1, len(acc) - len(m.lsym) - 1) || m.msym || '|' "
            "ELSE acc || s || '|' END) AS repr "
            f"FROM {prev} w, m{t} m)"
        )
    return ctes


def _bpe_oracle_sql(n_merges: int) -> str:
    steps = " UNION ALL ".join(
        f"SELECT step, lsym, rsym, msym, cnt FROM m{t}" for t in range(1, n_merges + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(_bpe_ctes(n_merges))
        + f"""
    SELECT CAST(step AS INTEGER) AS step,
           lsym AS left_sym,
           rsym AS right_sym,
           msym AS merged,
           cnt AS freq
    FROM ({steps})
    """
    )


@register(
    "q_bpe_vocab",
    _bpe_oracle_sql(8),
    description="BPE vocabulary induction: first 8 learned merges (pair, merged symbol, weighted count) — unrolled-CTE oracle of the exact sequential algorithm",
)
def q_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.operators.bpe import learn_bpe_merges

    return learn_bpe_merges(_docs(spark, sf_dir), "text", n_merges=8)


# --- batched parallel-BPE (oracle-proven) -------------------------------------
# The production trainer shape: per counting round, take the top-k pairwise
# SYMBOL-DISJOINT pairs ({left, right, merged} disjoint across picks) and
# apply them in ONE fold pass — ~k-fold fewer Spark jobs than argmax-per-
# merge. The oracle replays the EXACT construction: the greedy disjoint
# selection is a list_reduce fold over the (cnt desc, pair)-ranked
# candidate window (same PER-ROUND window size as the engine's driver
# pull, max(want*4, 8) where want = min(batch, merges remaining)), with
# the used-symbol set carried in the accumulator
# ('picked;...#|used|syms|' — symbols never contain '|', so the '|sym|'
# membership test is exact); each round's merges then apply to every word
# in one nested-lambda fold (at most one pair can match at a position, by
# disjointness). Partial final rounds (n_merges % batch != 0) use the same
# shrunken want-derived window as the engine, so the construction matches
# at every (n_merges, batch), not just full-batch configs.
def _pair_parts(expr: str) -> tuple[str, str, str]:
    return (
        f"string_split(trim({expr}, '|'), '|')[1]",
        f"string_split(trim({expr}, '|'), '|')[2]",
        f"replace(trim({expr}, '|'), '|', '')",
    )


def _bpe_batched_ctes(n_merges: int, batch: int) -> list[str]:
    # ADAPTIVE round depth: the engine keeps counting rounds until n_merges
    # merges are learned, and a round may pick FEWER than `batch` disjoint
    # pairs when the top candidates share symbols (first observed at sf1,
    # where the salted vocabulary made round 1 yield 3 of 4 — the static
    # ceil(n/batch)-round unroll then dropped a merge and numbered steps
    # with gaps). Every round's cap, candidate window, and step base are
    # now computed from the RUNNING merge count (cnt{t-1}); a round with
    # a non-empty pair table and remaining budget always picks >= 1 (the
    # greedy used-set restarts empty), so n_merges unrolled rounds cover
    # the worst case, and exhausted rounds (done = n_merges -> cap 0) pick
    # nothing, mirroring the engine's loop exit.
    rounds = n_merges
    ctes = [
        "wb0 AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq, "
        "'|' || regexp_replace(word, '(.)', '\\1|', 'g') AS repr "
        "FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word FROM documents) "
        "WHERE word <> '' GROUP BY word)",
        "cnt0 AS (SELECT CAST(0 AS BIGINT) AS done)",
    ]
    cl, cr, cm = _pair_parts("c")
    pl, pr, _pm = _pair_parts("p")
    mfilt = (
        "list_filter(pk.pairs, p -> {pr} = s AND ends_with(acc, '|' || {pl} || '|'))"
    ).format(pr=pr, pl=pl)
    ml, _mr, mm = _pair_parts(f"{mfilt}[1]")
    for t in range(1, rounds + 1):
        prev = f"wb{t - 1}"
        # engine mirror (operators/bpe.py::learn_bpe_merges): per-round
        # want = min(batch, n_merges - len(merges)); candidate window =
        # max(want*4, 8) rows of the (cnt desc, pair) order
        want = f"least({batch}, {n_merges} - done)"
        window = f"greatest({want} * 4, 8)"
        ctes.append(
            f"pb{t} AS MATERIALIZED (SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt FROM ("
            "SELECT freq, unnest(list_transform(range(1, len(syms)), "
            "i -> '|' || syms[i] || '|' || syms[i + 1] || '|')) AS pair FROM ("
            "SELECT freq, list_filter(string_split(repr, '|'), x -> x <> '') AS syms "
            f"FROM {prev})) GROUP BY pair)"
        )
        ctes.append(
            f"sel{t} AS (SELECT list_reduce(list_prepend('#|', cands), (acc, c) -> CASE "
            f"WHEN len(string_split(string_split(acc, '#')[1], ';')) - 1 >= {want} THEN acc "
            f"WHEN contains(string_split(acc, '#')[2], '|' || {cl} || '|') "
            f"  OR contains(string_split(acc, '#')[2], '|' || {cr} || '|') "
            f"  OR contains(string_split(acc, '#')[2], '|' || {cm} || '|') THEN acc "
            f"ELSE string_split(acc, '#')[1] || ';' || c || '#' || string_split(acc, '#')[2] "
            f"  || {cl} || '|' || {cr} || '|' || {cm} || '|' END) AS picked "
            f"FROM (SELECT done, list(pair ORDER BY cnt DESC, pair) AS cands FROM ("
            f"SELECT done, pair, cnt FROM ("
            f"SELECT pair, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS rn FROM pb{t}"
            f") CROSS JOIN cnt{t - 1} WHERE rn <= {window}) GROUP BY done))"
        )
        ctes.append(
            f"mb{t} AS MATERIALIZED (SELECT done + u.idx AS step, u.pair, p.cnt FROM ("
            "SELECT unnest(list_transform(range(1, len(ps) + 1), "
            "i -> struct_pack(idx := i, pair := ps[i]))) AS u FROM ("
            "SELECT list_filter(string_split(string_split(picked, '#')[1], ';'), x -> x <> '') AS ps "
            f"FROM sel{t})) JOIN pb{t} p ON p.pair = u.pair CROSS JOIN cnt{t - 1})"
        )
        ctes.append(
            f"cnt{t} AS MATERIALIZED (SELECT done + (SELECT COUNT(*) FROM mb{t}) AS done FROM cnt{t - 1})"
        )
        ctes.append(
            f"wb{t} AS MATERIALIZED (SELECT w.word, w.freq, "
            "list_reduce("
            "list_prepend('|', list_filter(string_split(w.repr, '|'), x -> x <> '')), "
            f"(acc, s) -> CASE WHEN len({mfilt}) > 0 "
            f"THEN substr(acc, 1, len(acc) - len({ml}) - 1) || {mm} || '|' "
            "ELSE acc || s || '|' END) AS repr "
            f"FROM {prev} w, (SELECT list(pair ORDER BY step) AS pairs FROM mb{t}) pk)"
        )
    return ctes


_BPE_BATCH_ROUNDS = 8  # adaptive unroll: one CTE round per merge (worst case)


@register(
    "q_bpe_vocab_batched",
    "WITH "
    + ",\n    ".join(_bpe_batched_ctes(8, 4))
    + f"""
    SELECT CAST(step AS INTEGER) AS step,
           {_pair_parts("pair")[0]} AS left_sym,
           {_pair_parts("pair")[1]} AS right_sym,
           {_pair_parts("pair")[2]} AS merged,
           cnt AS freq
    FROM ({" UNION ALL ".join(f"SELECT step, pair, cnt FROM mb{t}" for t in range(1, _BPE_BATCH_ROUNDS + 1))})
    """,
    description="batched parallel-BPE: top-4 symbol-disjoint merges per counting round, greedy disjoint selection + one-pass multi-merge fold; the oracle unrolls up to 8 adaptive rounds (one per merge worst-case) driven by the running merge count",
)
def q_bpe_vocab_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.operators.bpe import learn_bpe_merges

    return learn_bpe_merges(_docs(spark, sf_dir), "text", n_merges=8, batch=4)


# --- maximal-munch vocabulary tokenization (serving path) ---------------------
# The OTHER tokenizer application policy: greedy longest-match against the
# learned vocabulary (WordPiece-style serving, Wu et al. 2016) instead of
# replaying BPE merge order — real systems measure exactly this drift when
# they swap tokenizer runtimes. Engine: one corpus scan, per-word fold over
# sequence(1, len(word)) consuming >= 1 char per step (operators/bpe.py::
# vocab_tokenize_longest). Oracle: the shared unrolled-training CTEs give
# the vocabulary; a recursive CTE replays the same maximal munch over the
# DISTINCT word table (vocabulary-sized recursion, never corpus-sized),
# joined back to the exploded corpus for per-source totals. All integers.
@register(
    "q_vocab_tokenize",
    "WITH RECURSIVE "
    + ",\n    ".join(_bpe_ctes(8))
    + """,
    vocab AS (
      """
    + " UNION ".join(f"SELECT msym AS sym FROM m{t}" for t in range(1, 9))
    + """
    ), tok(word, rem, n_toks, n_multi) AS (
      SELECT word, word, 0, 0 FROM w0
      UNION ALL
      SELECT word, substr(rem, m + 1), n_toks + 1,
             n_multi + CASE WHEN m > 1 THEN 1 ELSE 0 END
      FROM (
        SELECT word, rem, n_toks, n_multi,
               COALESCE((SELECT MAX(len(v.sym)) FROM vocab v
                         WHERE v.sym = substr(rem, 1, len(v.sym))), 1) AS m
        FROM tok WHERE rem <> ''
      )
    ), seg AS (
      SELECT word, n_toks, n_multi FROM tok WHERE rem = ''
    ), doctok AS (
      SELECT source, tk
      FROM (SELECT source, unnest(string_split_regex(trim(text), '\\s+')) AS tk
            FROM documents)
      WHERE tk <> ''
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(s.n_toks) AS BIGINT) AS n_symbols,
           CAST(SUM(s.n_multi) AS BIGINT) AS n_multi_tokens
    FROM doctok d JOIN seg s ON s.word = d.tk
    GROUP BY source
    """,
    description="maximal-munch vocabulary tokenization (WordPiece-style serving) with the learned 8-merge vocab: per-source token totals — the drift surface vs merge-order BPE application",
)
def q_vocab_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.operators.bpe import learn_bpe_merges, vocab_tokenize_longest

    d = _docs(spark, sf_dir)
    vocab = [r["merged"] for r in learn_bpe_merges(d, "text", n_merges=8).collect()]
    # Segment each DISTINCT word once, not every corpus occurrence (r14,
    # guide §8 "decide on small rows"): maximal munch depends only on the
    # word, so run the char-level fold over the vocabulary-sized distinct
    # table and join the per-word (n_toks, n_multi) back onto exact
    # per-(source, word) occurrence counts. Sums are exact integers —
    # sum(cnt * per_word) == sum over occurrences — so the result is
    # identical by construction. Contract note (r15, ADVICE): a source
    # whose documents are ALL empty/whitespace contributes no occurrence
    # rows and is absent from the output — exactly matching the oracle,
    # whose doctok CTE filters tk <> '' and INNER-joins seg before the
    # GROUP BY, so such a source is absent there too at every scale.
    occ = (
        d.select("source", F.explode(tokens("text")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    seg = vocab_tokenize_longest(
        occ.select("word").distinct().withColumnRenamed("word", "text"), "text", vocab
    ).select(
        F.col("text").alias("word"),
        F.size("vocab_syms").alias("n_syms"),
        F.size(F.filter(F.col("vocab_syms"), lambda t: F.length(t) > 1)).alias("n_multi"),
    )
    return (
        occ.join(seg, "word")
        .groupBy("source")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_syms")).alias("n_symbols"),
            F.sum(F.col("cnt") * F.col("n_multi")).alias("n_multi_tokens"),
        )
    )


# --- DSIR-style importance weighting ------------------------------------------
# Data Selection via Importance Resampling (Xie et al., NeurIPS 2023) with
# hashed unigram features: learn per-bucket smoothed log-probability ratios
# target-vs-raw ON-PLAN (two aggregates + a 256-row broadcast join), score
# every doc with its mean token log-ratio, gate on dw > 0. The target
# domain is planted (doc_id % 7 docs get ' spark query engine' appended)
# because the synthetic corpus has NO real distribution shift between
# langs/sources (probed: stopword rate 0.0630 vs 0.0637) — planting gives
# the estimator a real signal to find, same technique as q_pii_redact.
# ln() is the q_tfidf-trusted libm call; dw sums are per-doc (~54 terms),
# so cross-engine summation-order ulps are ~1e-14 against dw magnitudes
# ~1e-2 — the dw > 0 gate is stable.
@register(
    "q_dsir_weights",
    f"""
    WITH aug AS (
      SELECT doc_id, (doc_id % 7 = 0) AS is_target,
             text || CASE WHEN doc_id % 7 = 0 THEN ' spark query engine' ELSE '' END AS t
      FROM documents
    ), tok AS (
      SELECT doc_id, is_target,
             (('0x' || substr(md5(tk), 1, 15))::BIGINT % {FINGERPRINT_P}) % 256 AS b
      FROM (SELECT doc_id, is_target,
                   unnest(string_split_regex(trim(t), '\\s+')) AS tk FROM aug)
      WHERE tk <> ''
    ), tgt AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS ct FROM tok WHERE is_target GROUP BY b
    ), rawc AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM tok GROUP BY b
    ), tots AS (
      SELECT (SELECT SUM(ct) FROM tgt) AS tt, (SELECT SUM(cr) FROM rawc) AS tr
    ), lr AS (
      SELECT rawc.b,
             ln((COALESCE(ct, 0) + 1.0) / (tt + 256.0)) - ln((cr + 1.0) / (tr + 256.0)) AS w
      FROM rawc LEFT JOIN tgt USING (b), tots
    ), docw AS (
      SELECT doc_id, any_value(is_target) AS is_target, SUM(w) / COUNT(*) AS dw
      FROM tok JOIN lr USING (b) GROUP BY doc_id
    )
    SELECT is_target, (dw > 0) AS keep,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(dw), 6) AS avg_w
    FROM docw GROUP BY is_target, (dw > 0)
    """,
    description="DSIR importance weighting: hashed-unigram smoothed log-ratio of planted target domain vs raw, per-doc mean score + keep gate",
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.functions.text import token_int

    aug = _docs(spark, sf_dir).select(
        "doc_id",
        (F.col("doc_id") % 7 == 0).alias("is_target"),
        F.concat(
            "text",
            F.when(F.col("doc_id") % 7 == 0, F.lit(" spark query engine")).otherwise(
                F.lit("")
            ),
        ).alias("t"),
    )
    tok = (
        aug.select("doc_id", "is_target", F.explode(tokens("t")).alias("tk"))
        .filter(F.col("tk") != "")
        .select("doc_id", "is_target", F.pmod(token_int(F.col("tk")), F.lit(256)).alias("b"))
    )
    # ONE conditional aggregation derives both the target and raw bucket
    # counts (r14 — was two separate groupBys over the exploded token
    # stream plus a rawc⋈tgt re-join): ct = 0 rows now exist explicitly,
    # which is exactly what the old left join's coalesce(ct, 0) produced,
    # so every log-ratio input is the same integer.
    counts = tok.groupBy("b").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("ct"),
    )
    tots = counts.agg(F.sum("ct").alias("tt"), F.sum("cr").alias("tr"))
    lr = (
        counts.crossJoin(F.broadcast(tots))
        .select(
            "b",
            (
                F.log((F.col("ct") + 1.0) / (F.col("tt") + 256.0))
                - F.log((F.col("cr") + 1.0) / (F.col("tr") + 256.0))
            ).alias("w"),
        )
    )
    docw = (
        tok.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.any_value(F.col("is_target")).alias("is_target"),
            (F.sum("w") / F.count(F.lit(1))).alias("dw"),
        )
    )
    return docw.groupBy("is_target", (F.col("dw") > 0).alias("keep")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("dw"), 6).alias("avg_w"),
    )


# --- hybrid text x embedding near-dup -----------------------------------------
# Composition the curation stack runs in production: cheap text-side LSH
# proposes candidate pairs, the embedding side CONFIRMS them semantically —
# two independent signals, one verdict column. Candidates come from the
# portable MinHash kernel (q_minhash_lsh's exact oracle), confirmation is
# 6-dp cosine against the embeddings table joined by id; the embedding join
# touches only candidate pairs, never the corpus squared.
@register(
    "q_hybrid_neardup",
    f"""
    WITH sh AS (
      SELECT doc_id,
             CASE WHEN array_length(toks) >= 3
               THEN list_transform(range(1, array_length(toks) - 1),
                                   i -> array_to_string(list_slice(toks, i, i + 2), ' '))
               ELSE [array_to_string(toks, ' ')] END AS shset
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents)
    ), hashed AS (
      SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT % {_MH_P} AS h
      FROM (SELECT doc_id, unnest(shset) AS s FROM sh)
    ), sig AS (
      SELECT doc_id,
         {_MH_SIG_COLS}
      FROM hashed GROUP BY doc_id
    ), cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             ROUND(({_MH_MATCHES}) / {_MH_N}.0, 6) AS est_jaccard
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ({_MH_BAND_EQ})
    )
    SELECT id_a, id_b, est_jaccard,
           ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                        CAST(eb.embedding AS DOUBLE[])), 6) AS cosine,
           (ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                         CAST(eb.embedding AS DOUBLE[])), 6) >= 0.35)
             AS confirmed
    FROM cand
    JOIN embeddings ea ON ea.vec_id = id_a
    JOIN embeddings eb ON eb.vec_id = id_b
    """,
    description="hybrid near-dup: MinHash-LSH text candidates confirmed by embedding cosine (two independent signals, join touches candidates only)",
)
def q_hybrid_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.functions.vectors import cosine_similarity
    from syscol_spark.operators.dedup import minhash_lsh_candidates

    sigs = minhash_signatures(
        _docs(spark, sf_dir), "text", "doc_id", n_hashes=_MH_N, shingle_n=3, kernel="portable"
    )
    pairs = minhash_lsh_candidates(
        sigs.localCheckpoint(), n_bands=_MH_BANDS, rows_per_band=_MH_ROWS, portable_buckets=True
    )
    emb = _emb(spark, sf_dir)
    return (
        pairs.join(
            emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("__va")), "id_a"
        )
        .join(
            emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("__vb")), "id_b"
        )
        .select(
            "id_a",
            "id_b",
            "est_jaccard",
            F.round(cosine_similarity("__va", "__vb"), 6).alias("cosine"),
            (F.round(cosine_similarity("__va", "__vb"), 6) >= 0.35).alias("confirmed"),
        )
    )


# --- BPE tokenization (apply the learned vocabulary) --------------------------
# The terminal step of the tokenizer story: apply the 8 learned merges
# corpus-wide and report the token-budget numbers a pretraining pipeline
# actually plans with (chars vs BPE symbols per source). Spark applies the
# merge table via apply_bpe_merges (one replace chain inside a per-token
# transform — the corpus is touched once); the oracle reuses the SAME
# unrolled training CTEs and reads the post-merge word table w8, joining it
# to the exploded corpus. All integers.
@register(
    "q_bpe_tokenize",
    "WITH "
    + ",\n    ".join(_bpe_ctes(8))
    + """,
    doctok AS (
      SELECT doc_id, source, tk
      FROM (SELECT doc_id, source,
                   unnest(string_split_regex(trim(text), '\\s+')) AS tk
            FROM documents)
      WHERE tk <> ''
    ), j AS (
      SELECT d.source,
             length(d.tk) AS chrs,
             len(list_filter(string_split(w.repr, '|'), x -> x <> '')) AS syms
      FROM doctok d JOIN w8 w ON w.word = d.tk
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(chrs) AS BIGINT) AS n_chars,
           CAST(SUM(syms) AS BIGINT) AS n_symbols,
           CAST(floor(1000000.0 * SUM(syms) / SUM(chrs)) AS BIGINT) AS sym_per_char_micro
    FROM j GROUP BY source
    """,
    description="BPE tokenization with the learned 8-merge vocabulary: per-source chars vs symbols token budget (shared unrolled training oracle)",
)
def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.operators.bpe import apply_bpe_merges, learn_bpe_merges

    d = _docs(spark, sf_dir)
    merges = [
        (r["left_sym"], r["right_sym"])
        for r in learn_bpe_merges(d, "text", n_merges=8).collect()
    ]
    # Replay the merge chain on each DISTINCT word once (r14, guide §8):
    # BPE application depends only on the word, so the per-char fold runs
    # over the vocabulary-sized distinct table and per-word symbol/char
    # counts join back onto exact (source, word) occurrence counts. All
    # sums are exact integers (n_chars per doc == sum of token lengths),
    # so every output value is identical by construction. Contract note
    # (r15, ADVICE): an all-empty/whitespace source is absent from the
    # output — matching the oracle, whose token CTE filters empty tokens
    # and INNER-joins before grouping, so it is absent there too.
    occ = (
        d.select("source", F.explode(tokens("text")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    seg = apply_bpe_merges(
        occ.select("word").distinct().withColumnRenamed("word", "text"), "text", merges
    ).select(
        F.col("text").alias("word"),
        F.size("bpe_syms").alias("syms"),
        F.length("text").alias("chrs"),
    )
    return (
        occ.join(seg, "word")
        .groupBy("source")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("cnt") * F.col("chrs")).alias("n_chars"),
            F.sum(F.col("cnt") * F.col("syms")).alias("n_symbols"),
            F.floor(
                F.lit(1_000_000.0)
                * F.sum(F.col("cnt") * F.col("syms"))
                / F.sum(F.col("cnt") * F.col("chrs"))
            )
            .cast("long")
            .alias("sym_per_char_micro"),
        )
    )


# --- incremental CDC chunk dedup (new shard vs persisted chunk digests) -------
# The daily-ingest member of the CDC family (convention: doc_id % 5 = 0 is
# the new shard, as in q_dedup_delta): chunk the NEW docs, probe each chunk
# hash against the corpus chunk-digest table a full cdc_chunks run
# persists, and flag docs whose content is mostly already-known chunks.
# Because boundaries are content-defined, a new doc that recombines known
# paragraphs still hits the digest table chunk-for-chunk — the case
# doc-level exact dedup misses entirely. Cost: chunk the new shard + one
# semi-join-shaped left join on the digest; the corpus is never re-chunked.
@register(
    "q_cdc_delta",
    f"""
    WITH tok AS (
      SELECT doc_id, pos, token,
             CASE WHEN (('0x' || substr(md5(token), 1, 15))::BIGINT % {FINGERPRINT_P}) % 16 = 15
                  THEN 1 ELSE 0 END AS cut
      FROM (SELECT doc_id,
                   unnest(string_split_regex(trim(text), '\\s+')) AS token,
                   generate_subscripts(string_split_regex(trim(text), '\\s+'), 1) AS pos
            FROM documents)
      WHERE token <> ''
    ), ch AS (
      SELECT doc_id, token, pos,
             COALESCE(SUM(cut) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
      FROM tok
    ), chunks AS (
      SELECT doc_id, chunk_id,
             md5(string_agg(token, ' ' ORDER BY pos)) AS chunk_hash,
             CAST(COUNT(*) AS BIGINT) AS n_tokens
      FROM ch GROUP BY doc_id, chunk_id
    ), corpus_digests AS (
      SELECT DISTINCT chunk_hash FROM chunks WHERE doc_id % 5 <> 0
    ), probe AS (
      SELECT c.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_chunks,
             CAST(SUM(CASE WHEN d.chunk_hash IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_seen,
             CAST(SUM(CASE WHEN d.chunk_hash IS NOT NULL THEN c.n_tokens ELSE 0 END) AS BIGINT)
               AS seen_tokens,
             CAST(SUM(c.n_tokens) AS BIGINT) AS n_tokens
      FROM chunks c LEFT JOIN corpus_digests d USING (chunk_hash)
      WHERE c.doc_id % 5 = 0
      GROUP BY c.doc_id
    )
    SELECT doc_id, n_chunks, n_seen,
           CAST(floor(1000000.0 * seen_tokens / n_tokens) AS BIGINT) AS seen_micro,
           (2 * seen_tokens < n_tokens) AS keep
    FROM probe
    """,
    description="incremental CDC dedup: new-shard chunks probed against the persisted corpus chunk-digest table; keep docs with <50% already-known tokens",
)
def q_cdc_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.operators.dedup import cdc_chunks

    d = _docs(spark, sf_dir)
    # materialize the chunk table once: digests and probe are two branches
    # of one plan, and without the checkpoint the explode+window chunking
    # would run twice (the q_dedup_delta "write signatures first" lesson —
    # at lake scale corpus_digests IS a persisted table)
    chunks = cdc_chunks(d, "text", "doc_id", mod=16).localCheckpoint()
    digests = (
        chunks.filter(F.col("doc_id") % 5 != 0).select("chunk_hash").distinct()
        .withColumn("__seen", F.lit(True))
    )
    probe = (
        chunks.filter(F.col("doc_id") % 5 == 0)
        .join(digests, "chunk_hash", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("__seen"), 1).otherwise(0)).alias("n_seen"),
            F.sum(F.when(F.col("__seen"), F.col("n_tokens")).otherwise(0)).alias(
                "seen_tokens"
            ),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )
    return probe.select(
        "doc_id",
        "n_chunks",
        "n_seen",
        F.floor(F.lit(1_000_000.0) * F.col("seen_tokens") / F.col("n_tokens"))
        .cast("long")
        .alias("seen_micro"),
        (2 * F.col("seen_tokens") < F.col("n_tokens")).alias("keep"),
    )


# --- incremental winnowing dedup ----------------------------------------------
# The MOSS member of the daily-ingest delta family (doc_id % 5 = 0 is the
# new shard, as in q_dedup_delta/q_cdc_delta): new-shard fingerprints pair
# against the persisted corpus fingerprint table; doc-frequency capping is
# computed over the COMBINED corpus exactly as the batch op would, so the
# delta's pair set is the batch pair set restricted to pairs touching the
# new shard.
@register(
    "q_winnow_delta",
    """
    WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
    g AS (
      SELECT doc_id,
        CASE WHEN len(toks) >= 4
          THEN list_transform(range(1, len(toks) - 4 + 2),
                              i -> array_to_string(list_slice(toks, i, i + 3), ' '))
          ELSE [array_to_string(toks, ' ')] END AS grams
      FROM t),
    h AS (SELECT doc_id,
                 list_transform(grams, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647) AS hs
          FROM g),
    w AS (SELECT doc_id,
                 list_distinct(list_transform(range(1, greatest(len(hs) - 5 + 1, 1) + 1),
                               p -> list_min(list_slice(hs, p, p + 4)))) AS fps
          FROM h),
    f AS (SELECT doc_id, unnest(fps) AS fp FROM w),
    keep AS (SELECT fp FROM f GROUP BY fp HAVING COUNT(*) <= 50),
    ff AS (SELECT f.doc_id, f.fp FROM f JOIN keep ON f.fp = keep.fp)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared_fp
    FROM ff a JOIN ff b
      ON a.fp = b.fp
     AND a.doc_id % 5 = 0
     AND ((b.doc_id % 5 <> 0) OR a.doc_id < b.doc_id)
     AND a.doc_id <> b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
    """,
    description="incremental winnowing dedup: new-shard fingerprints vs the persisted corpus fingerprint table, combined doc-frequency cap",
)
def q_winnow_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.operators.dedup import winnow_dedup_delta, winnow_fp_table

    fps = winnow_fp_table(_docs(spark, sf_dir), "text", "doc_id", k=4, window=5)
    # materialize once: new and old are two filters of one extraction pass
    # (at lake scale this table is the persisted winnowing index)
    fps = fps.localCheckpoint()
    new = fps.filter(F.col("doc_id") % 5 == 0)
    old = fps.filter(F.col("doc_id") % 5 != 0)
    return winnow_dedup_delta(new, old, max_doc_freq=50, min_shared=2)


# --- token-distribution entropy (templated-text detector) ---------------------
# Shannon entropy of each doc's token distribution — the corpus-diversity
# signal orthogonal to q_doc_repetition (which sees ADJACENT n-gram dups;
# entropy sees global skew: a doc cycling five tokens has low entropy and
# zero trigram dups). Emits the 20 lowest-entropy docs — the templated/spam
# candidates a curation pass reviews first. ln() is the q_tfidf-trusted
# libm call; per-doc sums are ~50 terms so summation-order ulps sit at
# ~1e-15 against entropies O(1), and ordering compares the ROUNDED value on
# both engines with a doc_id tie-break.
@register(
    "q_doc_entropy",
    """
    WITH tok AS (
      SELECT doc_id, token
      FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
            FROM documents)
      WHERE token <> ''
    ), tf AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS n
      FROM tok GROUP BY doc_id, token
    ), tfp AS (
      SELECT doc_id, n, SUM(n) OVER (PARTITION BY doc_id) AS tot FROM tf
    ), d AS (
      SELECT doc_id,
             CAST(MAX(tot) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             ROUND(-SUM((CAST(n AS DOUBLE) / tot) * ln(CAST(n AS DOUBLE) / tot)), 6)
               AS entropy
      FROM tfp GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_types, entropy
    FROM d ORDER BY entropy, doc_id LIMIT 20
    """,
    description="token-distribution Shannon entropy per doc: 20 lowest-entropy (most templated) docs, the global-skew signal adjacent-n-gram repetition misses",
)
def q_doc_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    tf = (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(tokens("text")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = Window.partitionBy("doc_id")
    p = F.col("n").cast("double") / F.sum("n").over(tot)
    d = tf.withColumn("__p", p).groupBy("doc_id").agg(
        F.sum("n").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.round(-F.sum(F.col("__p") * F.log(F.col("__p"))), 6).alias("entropy"),
    )
    return d.orderBy("entropy", "doc_id").limit(20)


# --- collocation mining (PMI of adjacent bigrams) -----------------------------
# The corpus-linguistics classic: pointwise mutual information of adjacent
# token pairs against their unigram frequencies, min-count floored (Church
# & Hanks 1990). High-PMI pairs are the multiword expressions a tokenizer
# or phrase-aware dedup wants to treat as units. Counts are integers;
# PMI = ln(n_ab · N_uni² / (N_bi · n_a · n_b)) computed in one ln() from an
# exact integer ratio's numerator/denominator doubles, 6-dp rounded, with
# a (bigram) tie-break so both engines order identically.
@register(
    "q_pmi_bigrams",
    """
    WITH tok AS (
      SELECT doc_id, pos, token
      FROM (SELECT doc_id,
                   unnest(string_split_regex(trim(text), '\\s+')) AS token,
                   generate_subscripts(string_split_regex(trim(text), '\\s+'), 1) AS pos
            FROM documents)
      WHERE token <> ''
    ), uni AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY token
    ), bi AS (
      SELECT a.token AS w1, b.token AS w2, CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      GROUP BY a.token, b.token
    ), tots AS (
      SELECT (SELECT SUM(n) FROM uni) AS n_uni, (SELECT SUM(n_ab) FROM bi) AS n_bi
    )
    SELECT w1, w2, n_ab,
           ROUND(ln((CAST(n_ab AS DOUBLE) * n_uni * n_uni)
                    / (CAST(n_bi AS DOUBLE) * ua.n * ub.n)), 6) AS pmi
    FROM bi JOIN uni ua ON ua.token = w1 JOIN uni ub ON ub.token = w2, tots
    WHERE n_ab >= 5
    ORDER BY pmi DESC, w1, w2 LIMIT 20
    """,
    description="collocation mining: top-20 adjacent bigrams by PMI (min count 5) — the multiword-expression signal for tokenizers and phrase-aware dedup",
)
def q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    tok = (
        _docs(spark, sf_dir)
        .select("doc_id", F.posexplode(tokens("text")).alias("pos", "token"))
        .filter(F.col("token") != "")
    )
    # adjacent pairs WITHOUT a self-join: lead() over the in-doc order —
    # one shuffle on doc_id instead of re-shuffling the token table twice
    w = Window.partitionBy("doc_id").orderBy("pos")
    # ONE corpus pass (r14): every token position appears exactly once in
    # the windowed frame, so the (token, next-token-or-null) count table
    # determines BOTH the bigram counts (w2 not null) and the exact unigram
    # counts (sum over w2) — previously uni/bi/tots each re-planned the
    # scan+explode (5 document scans). The vocab²-bounded count table is
    # materialized once and all four consumers read it.
    bi_n = (
        tok.withColumn("w2", F.lead("token").over(w))
        .groupBy(F.col("token").alias("w1"), "w2")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .localCheckpoint()
    )
    bi = bi_n.filter(F.col("w2").isNotNull())
    uni = bi_n.groupBy(F.col("w1").alias("token")).agg(F.sum("n_ab").alias("n"))
    tots = uni.agg(F.sum("n").alias("n_uni")).crossJoin(
        bi.agg(F.sum("n_ab").alias("n_bi"))
    )
    pmi = F.round(
        F.log(
            (F.col("n_ab").cast("double") * F.col("n_uni") * F.col("n_uni"))
            / (F.col("n_bi").cast("double") * F.col("na") * F.col("nb"))
        ),
        6,
    )
    # the unigram-count table is VOCABULARY-proportional (unbounded on web
    # text) — never hint it broadcast; un-hinted equi-joins let AQE pick
    # broadcast only when the runtime size fits. Only the 1-row totals
    # frame keeps its hint.
    return (
        bi.join(uni.select(F.col("token").alias("w1"), F.col("n").alias("na")), "w1")
        .join(uni.select(F.col("token").alias("w2"), F.col("n").alias("nb")), "w2")
        .crossJoin(F.broadcast(tots))
        .filter(F.col("n_ab") >= 5)
        .select("w1", "w2", "n_ab", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(20)
    )
