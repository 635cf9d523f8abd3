"""Text-analysis column expressions (north-star: training-data pipeline).

Everything here is a pure Catalyst column expression — JVM-side, inside
whole-stage codegen, zero Python in the hot path — so these run at full scan
throughput on a 100 TB documents table. (pandas UDF variants exist only where
semantics genuinely need Python; see operators/dedup.py simhash.)
``posting_stats`` is the one DataFrame helper: the positional-index
aggregate over ``tokens``, shared by the batch index queries and the
streaming index maintainer.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# Deterministic default stopword list for the language-ID heuristic.
DEFAULT_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]

# Explicit punctuation class so Spark and any ANSI-SQL oracle agree exactly
# (regex character-class semantics differ between engines for [[:punct:]]).
PUNCT_CLASS = r"[.,!?;:]"


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (deterministic, engine-portable)."""
    return F.split(F.trim(col), r"\s+")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col)).cast("long")


def punct_ratio(col: Column | str) -> Column:
    """Fraction of characters in PUNCT_CLASS."""
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(c) - F.length(F.regexp_replace(c, PUNCT_CLASS, ""))
    return n_punct / F.length(c)


def stopword_hits(col: Column | str, stopwords: list[str] | None = None) -> Column:
    """Number of tokens (with multiplicity) that are stopwords."""
    stops = F.array(*[F.lit(s) for s in (stopwords or DEFAULT_STOPWORDS)])
    return F.size(F.filter(tokens(col), lambda t: F.array_contains(stops, t))).cast("long")


def _bind_once(col: Column, fn) -> Column:
    """Evaluate ``col`` once and hand it to ``fn`` as a lambda-bound value.

    A plain aliased select is NOT a barrier — CollapseProject re-inlines the
    alias into every reference, so an expression used inside a
    ``transform`` lambda is re-evaluated PER ELEMENT (the similarity.py
    keys_of lesson: measured ~100x blowup for a regex split referenced from
    a 100-element transform). transform over a 1-element array forces a
    NamedLambdaVariable binding, which codegen evaluates exactly once."""
    return F.element_at(F.transform(F.array(col), fn), 1)


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct n-word shingles of a document, as an array<string>.

    Built from transform(sequence(...)) — no explode, no Python — so shingling
    stays inside codegen even for long documents. The token array is
    lambda-bound (_bind_once) so the whitespace split runs once per row,
    not once per shingle position.
    """

    def sh_of(toks: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
        sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
        # guard: doc shorter than n tokens yields the whole doc as one shingle
        return F.array_distinct(
            F.when(F.size(toks) >= n, sh).otherwise(F.array(F.concat_ws(" ", toks)))
        )

    return _bind_once(tokens(col), sh_of)


# GPT-2-flavored pretokenization shape: word runs OR punctuation runs.
# Deliberately simple enough to be engine-portable (Java regex ≡ RE2 here).
BPE_PATTERN = r"\w+|[^\w\s]+"


def bpe_tokens(col: Column | str) -> Column:
    """BPE-ish pretokenization: word runs and punctuation runs as separate
    tokens (whitespace dropped) — the token-counting primitive an LLM data
    pipeline budgets with."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(BPE_PATTERN), 0)


def bpe_token_count(col: Column | str) -> Column:
    return F.size(bpe_tokens(col)).cast("long")


FINGERPRINT_P = 2147483647  # 2^31-1: keeps rolling-hash arithmetic overflow-free


def token_int(tok: Column) -> Column:
    """Deterministic engine-portable token→int: first 15 hex chars of md5
    (60 bits), mod p. (md5 exists in every engine; xxhash64 does not.)"""
    p = F.lit(FINGERPRINT_P).cast("long")
    return F.pmod(F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long"), p)


def rolling_fingerprint(col: Column | str) -> Column:
    """Karp-Rabin rolling hash over whitespace tokens in Z_p, seeded with the
    first token's int (matches a first-element-init reduce, so any engine's
    fold can reproduce it)."""
    p = F.lit(FINGERPRINT_P).cast("long")

    def fp_of(ints: Column) -> Column:
        rest = F.slice(ints, 2, F.greatest(F.size(ints) - 1, F.lit(0)))
        return F.aggregate(
            rest,
            F.element_at(ints, 1),
            lambda acc, x: F.pmod(acc * F.lit(31).cast("long") + x, p),
        )

    # lambda-bind the md5-per-token array: it is referenced twice (slice +
    # first-element init), and inlining would hash every token twice
    return _bind_once(F.transform(tokens(col), token_int), fp_of)


# --- PII scrubbing (north-star: pre-training redaction pass) ----------------
# Regexes restricted to syntax with identical semantics in Java regex (Spark)
# and RE2 (DuckDB): char classes, bounded repeats, \b. No lookaround.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b"
PII_REPL = "[PII]"


def email_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), 0)).cast("long")


def phone_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(PHONE_RE), 0)).cast("long")


def redact_pii(col: Column | str, repl: str = PII_REPL) -> Column:
    """Replace every email / phone match with ``repl``. Chained
    regexp_replace — pure codegen'd expression, scan-rate on any corpus."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.regexp_replace(c, EMAIL_RE, repl), PHONE_RE, repl)


def normalize_text(col: Column | str) -> Column:
    """Canonical text normalization for normalization-aware dedup:
    lowercase -> strip PUNCT_CLASS -> collapse runs of whitespace to one
    space -> trim. The step ORDER is part of the contract (punctuation is
    stripped before whitespace collapse so ``"a ."`` folds to ``"a"``, not
    ``"a "``); the DuckDB oracle mirrors it operation for operation.
    Pure codegen'd expression — scan-rate on a 100 TB corpus, and the
    canonical form feeds straight into the one-shuffle md5 hash-groupBy of
    exact_dedup (operators/dedup.py)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.regexp_replace(F.lower(c), PUNCT_CLASS, ""), r"\s+", " "))


def quality_score(col: Column | str, stopwords: list[str] | None = None) -> Column:
    """Deterministic heuristic quality score in [0, 1]:
    rewards reasonable length, stopword presence and low punctuation noise.
    Mirrors the shape of public LLM-data quality filters (C4/Gopher rules)
    without any model dependency.
    """
    n_tok = token_count(col)
    stop_ratio = stopword_hits(col, stopwords) / F.greatest(n_tok, F.lit(1))
    p_ratio = punct_ratio(col)
    len_term = F.least(n_tok / F.lit(64.0), F.lit(1.0))
    return F.round(F.lit(0.5) * len_term + F.lit(0.4) * F.least(stop_ratio * 4, F.lit(1.0)) + F.lit(0.1) * (1 - F.least(p_ratio * 10, F.lit(1.0))), 6)


# Fixed interpretable weights for the linear quality classifier — the
# engine-portable stand-in for a fastText/logreg quality model (the real
# model swaps in as a weight vector; the plumbing and parity stay the same).
QUALITY_CLF_BIAS = -0.5
QUALITY_CLF_W_STOP = 4.0  # stopword ratio — fluent prose has stopwords
QUALITY_CLF_W_LEN = -0.4  # penalty per char of mean token length above 4
QUALITY_CLF_W_TOK = 0.8  # reward per 100 tokens of length


def quality_logit(col: Column | str, stopwords: list[str] | None = None) -> Column:
    """Linear quality-classifier score (the pre-sigmoid logit): a fixed
    interpretable weight vector over engine-portable features, so the score
    is reproducible bit-for-bit in any ANSI engine (no exp/libm calls —
    sigmoid is monotone, so thresholding the logit IS thresholding the
    probability). Feature order and operation order are part of the
    contract: every term is evaluated left to right exactly as written
    here, and the DuckDB oracle mirrors that order token for token."""
    c = F.col(col) if isinstance(col, str) else col
    n_tok = token_count(c)
    stop_ratio = stopword_hits(c, stopwords).cast("double") / F.greatest(n_tok, F.lit(1))
    mean_tok_len = (
        F.length(F.regexp_replace(F.trim(c), r"\s+", "")).cast("double")
        / F.greatest(n_tok, F.lit(1))
    )
    return (
        F.lit(QUALITY_CLF_BIAS)
        + F.lit(QUALITY_CLF_W_STOP) * stop_ratio
        + F.lit(QUALITY_CLF_W_LEN) * (mean_tok_len - F.lit(4.0))
        + F.lit(QUALITY_CLF_W_TOK) * (n_tok.cast("double") / F.lit(100.0))
    )


def repetition_micro(col: Column | str, n: int = 3) -> Column:
    """Gopher-style repetition measure in exact MICRO units (long):
    floor(1e6 · duplicate-n-gram-occurrence fraction). Integer end-to-end —
    dividing back to a double and re-scaling later is the trap: k/1e6 is not
    representable, so Spark's truncating double→long cast and DuckDB's
    rounding one disagree by 1 on the k−ε values (observed at sf0.1)."""
    def rep_of(toks: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
        all_grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
        total = F.size(all_grams)
        distinct = F.size(F.array_distinct(all_grams))
        return F.floor(F.lit(1_000_000.0) * (total - distinct) / total).cast("long")

    # lambda-bind the split so it runs once per row, not per gram position
    return _bind_once(tokens(col), rep_of)


def repetition_ratio(col: Column | str, n: int = 3) -> Column:
    """repetition_micro / 1e6 as a double — display form; aggregate the
    MICRO integers, never this."""
    return repetition_micro(col, n) / F.lit(1_000_000.0)


def posting_stats(docs: DataFrame, by: tuple[str, ...] = ()) -> DataFrame:
    """Per-(``by``, term) statistics of a positional inverted index over
    (doc_id, text) documents: df (documents holding the term), tf_total
    (postings), first_doc (smallest doc_id) and pos_checksum (sum of the
    0-based positions).

    One generator over one scan: a document yields a (term, pos) row per
    token plus a (term, NULL) row per DISTINCT token, so df counts
    per-document distinct terms (exact while each doc_id arrives once) and
    the index is one declarative aggregate with no countDistinct, which a
    streaming aggregation can maintain as well as a batch groupBy."""

    def entries(toks: Column) -> Column:
        return F.concat(
            F.transform(toks, lambda t, i: F.struct(t.alias("term"), i.alias("pos"))),
            F.transform(
                F.array_distinct(toks),
                lambda t: F.struct(t.alias("term"), F.lit(None).cast("int").alias("pos")),
            ),
        )

    rows = docs.select(*by, "doc_id", F.inline(_bind_once(tokens("text"), entries)))
    return rows.groupBy(*by, "term").agg(
        F.count_if(F.col("pos").isNull()).alias("df"),
        F.count("pos").alias("tf_total"),
        F.min("doc_id").alias("first_doc"),
        F.sum("pos").alias("pos_checksum"),
    )
