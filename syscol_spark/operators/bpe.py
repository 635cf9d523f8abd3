"""Byte-pair-encoding vocabulary induction (north-star: tokenizer training).

The data side of training a BPE tokenizer (Sennrich et al., ACL 2016) as
distributed DataFrame ops:

1. One corpus shuffle builds the word-frequency table (vocabulary-sized —
   at 100 TB of text that is ~10-100M rows, NOT corpus-sized; every later
   step touches only this table).
2. Each merge step is: count adjacent symbol pairs weighted by word
   frequency (explode + sum groupBy over the vocab table), take the global
   argmax with a distributed TakeOrdered top-1 (integer counts,
   (count desc, pair asc) total order — fully deterministic), and apply the
   merge to every word with one left-to-right fold over its symbols.

The per-step driver pull is ONE row (the winning pair) — the same bounded
trainer-side pattern as kmeans_centroids, not a data-proportional collect.

Symbol sequences are carried as a delimited string ``|s1|s2|...|``. A merge
of (a, b) is applied with ``F.aggregate`` folding the symbol array
left-to-right into a fresh delimited string: when the accumulator ends with
``|a|`` and the next symbol is ``b``, the tail is rewritten to ``|ab|``,
else the symbol is appended. This is EXACTLY the textbook single-pass
merge-with-skip (in ``a a a`` the pair (a,a) merges the first two, leaving
``[aa, a]``; in ``a b a b`` both occurrences merge to ``[ab, ab]``). A
plain non-overlapping string replace of ``|a|b|``→``|ab|`` is NOT
equivalent: the match consumes the shared ``|`` delimiter, so consecutive
occurrences ('abab', 'banana' under (a,n)) are missed — that bug shipped in
rounds 6-7 and is pinned by test_bpe_consecutive_pair_words now. The fold
stays a single codegen'd projection per merge step.

Production scale note: real tokenizers run 30k+ merges; one Spark job per
merge would be scheduler-bound. ``learn_bpe_merges(..., batch=k)`` applies
the standard parallel-BPE construction: per round, count pairs ONCE, select
up to k pairs greedily by (count desc, pair asc) subject to pairwise symbol
disjointness ({left, right, merged} of every selected pair disjoint from
every other's), and apply them all in ONE fold pass. Disjointness makes the
selected pairs' counts invariant under each other's application, so within
a round the batch reproduces the sequential choice order; across rounds it
can diverge from strict argmax-per-merge only when a merge-created pair
(x, ab) would outrank the round's later picks — the standard, documented
parallel-BPE approximation. ``batch=1`` is the exact sequential algorithm.

Reference parity: the reference ships no tokenizer (SURVEY.md §2.11
north-star scope); semantics follow the public BPE algorithm.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from syscol_spark.functions.text import tokens
from syscol_spark.operators.route import local_frame, route


def word_freq_table(df: DataFrame, content_col: str) -> DataFrame:
    """(word, freq) over whitespace tokens — the one corpus-wide shuffle."""
    return (
        df.select(F.explode(tokens(content_col)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _char_repr(word) -> Column:
    """'cat' -> '|c|a|t|': every single character becomes one symbol."""
    c = F.col(word) if isinstance(word, str) else word
    return F.concat(F.lit("|"), F.regexp_replace(c, "(.)", "$1|"))


def _syms(repr_col: Column) -> Column:
    return F.filter(F.split(repr_col, r"\|"), lambda x: x != "")


def _pair_keys(repr_col: Column) -> Column:
    """Adjacent symbol pairs of a repr, each as its own '|a|b|' merge key."""
    syms = _syms(repr_col)
    n = F.size(syms)
    left = F.slice(syms, 1, F.greatest(n - 1, F.lit(0)))
    right = F.slice(syms, 2, F.greatest(n - 1, F.lit(0)))
    return F.zip_with(
        left, right, lambda a, b: F.concat(F.lit("|"), a, F.lit("|"), b, F.lit("|"))
    )


def _apply_merges_fold(repr_col: Column, merges: list[tuple[str, str]]) -> Column:
    """One left-to-right fold applying every (left, right) merge in
    ``merges`` (textbook merge-with-skip). With a single pair this IS the
    sequential merge application; with several pairwise-symbol-disjoint
    pairs at most one can match at any position, so the single pass equals
    applying them sequentially in any order. All compared values are
    literals — nothing re-evaluates per element beyond the accumulator."""

    def step(acc: Column, s: Column) -> Column:
        out = F.concat(acc, s, F.lit("|"))
        for left_sym, right_sym in reversed(merges):
            tail = f"|{left_sym}|"
            out = F.when(
                acc.endswith(F.lit(tail)) & (s == F.lit(right_sym)),
                F.concat(
                    acc.substr(F.lit(1), F.length(acc) - F.lit(len(left_sym) + 1)),
                    F.lit(left_sym + right_sym + "|"),
                ),
            ).otherwise(out)
        return out

    return F.aggregate(_syms(repr_col), F.lit("|"), step)


def _select_disjoint(pairs: list[tuple[str, int]], batch: int) -> list[tuple[str, str, int]]:
    """Greedy top-``batch`` pairwise-symbol-disjoint pairs from a
    (pair_key desc-by-count) ordered list. A pair (l, r) is admissible iff
    none of {l, r, l+r} was used by an earlier pick — that invariance is
    what lets one fold pass apply the whole batch."""
    used: set[str] = set()
    out: list[tuple[str, str, int]] = []
    for pair_key, cnt in pairs:
        left_sym, right_sym = pair_key.strip("|").split("|", 1)
        merged = left_sym + right_sym
        if {left_sym, right_sym, merged} & used:
            continue
        used.update((left_sym, right_sym, merged))
        out.append((left_sym, right_sym, cnt))
        if len(out) >= batch:
            break
    return out


def _round_top_pairs(words: DataFrame, batch: int) -> list[tuple[str, int]]:
    """ONE Spark action per training round: weighted adjacent-pair counts
    over the vocab table, top slice in (count desc, pair asc) order. Pulling
    batch*4 rows keeps the driver transfer tiny while giving the greedy
    disjointness filter enough candidates; module-level so tests can count
    rounds (the probe for 'batched = fewer jobs')."""
    rows = (
        words.select(F.explode(_pair_keys(F.col("repr"))).alias("pair"), "freq")
        .groupBy("pair")
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(max(batch * 4, 8))
        .collect()
    )
    return [(r["pair"], int(r["cnt"])) for r in rows]


#: characters Java's regex `.` does NOT match — _char_repr leaves them
#: un-delimited, so they glue onto the following symbol; the local twin
#: must reproduce that byte-for-byte (only U+0085/U+2028/U+2029 can actually
#: reach a word: \n and \r are Java \s and tokens() splits on \s+)
_JAVA_DOT_EXCLUDED = frozenset({"\n", "\r", "\u0085", "\u2028", "\u2029"})


def _char_syms_local(word: str) -> list[str]:
    """Pure-Python twin of _char_repr + _syms: build the '|c|c|...' repr
    (appending '|' only after characters Java `.` matches) and split it —
    including the engine's behavior for '|' inside a word (it is consumed
    as a delimiter, not kept as a symbol)."""
    rep = "|" + "".join(
        c if c in _JAVA_DOT_EXCLUDED else c + "|" for c in word
    )
    return [x for x in rep.split("|") if x]


def _apply_merges_local(syms: list[str], merges: list[tuple[str, str]]) -> list[str]:
    """Pure-Python twin of _apply_merges_fold: left-to-right merge-with-skip
    over a word's symbol list. Replicates the fold's WHEN chain exactly —
    the first merge in ``merges`` order whose (acc endswith '|l|', next==r)
    condition holds rewrites the tail (with pairwise-disjoint merges at most
    one can match, so the order is moot, but the replication is literal)."""
    acc = "|"
    for s in syms:
        nxt = acc + s + "|"
        for left_sym, right_sym in merges:
            tail = "|" + left_sym + "|"
            if s == right_sym and acc.endswith(tail):
                nxt = acc[: len(acc) - len(left_sym) - 1] + left_sym + right_sym + "|"
                break
        acc = nxt
    return [x for x in acc.split("|") if x]


def _learn_bpe_local(
    rows: list, n_merges: int, batch: int
) -> list[tuple[int, str, str, str, int]]:
    """Driver-local trainer on a collected (word, freq) table — the same
    greedy algorithm as the distributed rounds, byte-for-byte: per round,
    weighted adjacent-pair counts, the top max(want*4, 8) slice in
    (count desc, pair asc) order (the SAME truncation _round_top_pairs
    applies, so the greedy disjointness filter sees an identical candidate
    list), _select_disjoint, then one merge-with-skip pass over every word.
    Integer counts and binary string order make this bit-identical to the
    distributed path (UTF-8 byte order == code-point order)."""
    vocab = [
        (_char_syms_local(r["word"]), int(r["freq"])) for r in rows
    ]
    merges: list[tuple[int, str, str, str, int]] = []
    while len(merges) < n_merges:
        want = min(batch, n_merges - len(merges))
        counts: dict[str, int] = {}
        for syms, freq in vocab:
            for a, b in zip(syms, syms[1:]):
                key = f"|{a}|{b}|"
                counts[key] = counts.get(key, 0) + freq
        top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[
            : max(want * 4, 8)
        ]
        picked = _select_disjoint(top, want)
        if not picked:
            break
        for left_sym, right_sym, cnt in picked:
            merges.append(
                (len(merges) + 1, left_sym, right_sym, left_sym + right_sym, cnt)
            )
        pairs = [(l, r) for l, r, _ in picked]
        vocab = [(_apply_merges_local(syms, pairs), freq) for syms, freq in vocab]
    return merges


def learn_bpe_merges(
    df: DataFrame, content_col: str, *, n_merges: int = 8, batch: int = 1
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges from a corpus.

    Returns a DataFrame (step, left_sym, right_sym, merged, freq): the merge
    table a tokenizer serializes, in learned order. freq is the weighted
    pair count at the moment the merge was chosen (integer — no float
    parity risk). Column names avoid the reserved words LEFT/RIGHT so the
    oracle SQL can use them verbatim.

    ``batch=1`` (default) is the exact sequential algorithm; ``batch=k``
    applies up to k symbol-disjoint merges per counting round (parallel
    BPE — see module docstring), cutting Spark job count ~k-fold.
    """
    if n_merges <= 0:
        raise ValueError("n_merges must be positive")
    if batch <= 0:
        raise ValueError("batch must be positive")
    spark = df.sparkSession
    schema = "step int, left_sym string, right_sym string, merged string, freq long"
    wf = word_freq_table(df, content_col)
    # Driver-local trainer: the merge rounds only ever touch the
    # vocabulary-sized (word, freq) table, so when it fits the bpe_vocab
    # route every round runs in pure Python — one Spark action in all
    # instead of one checkpoint plus one collect per merge batch.
    local_rows = route("bpe_vocab", wf)
    if local_rows is not None:
        return local_frame(spark, _learn_bpe_local(local_rows, n_merges, batch), schema)
    # Materialize the word-frequency table EAGERLY: each merge round is its
    # own Spark action, and without the checkpoint every round would re-run
    # the corpus scan + shuffle from lineage (one corpus scan per round
    # instead of one total — the "write signatures first" lesson from
    # q_minhash_lsh). The checkpoint also resets lineage so round t's plan
    # is t folds deep over a vocab-sized table, not t replays of the corpus.
    words = (
        wf
        .withColumn("repr", _char_repr("word"))
        .localCheckpoint()
    )
    merges: list[tuple[int, str, str, str, int]] = []
    while len(merges) < n_merges:
        want = min(batch, n_merges - len(merges))
        top = _round_top_pairs(words, want)
        picked = _select_disjoint(top, want)
        if not picked:  # corpus of 1-char words only: nothing left to merge
            break
        for left_sym, right_sym, cnt in picked:
            merges.append(
                (len(merges) + 1, left_sym, right_sym, left_sym + right_sym, cnt)
            )
        words = words.withColumn(
            "repr",
            _apply_merges_fold(F.col("repr"), [(l, r) for l, r, _ in picked]),
        )
    return local_frame(spark, merges, schema)


def vocab_tokenize_longest(
    df: DataFrame, content_col: str, vocab: list[str]
) -> DataFrame:
    """Greedy maximal-munch tokenization against a fixed vocabulary — the
    WordPiece-style SERVING path (Wu et al. 2016), vs apply_bpe_merges'
    merge-order replay: at each position take the LONGEST vocab symbol
    matching the remaining word, falling back to one character (so every
    single character is implicitly in-vocab and segmentation is total and
    lossless). The two policies genuinely differ — BPE replays merge
    history, maximal munch ignores it — which is exactly the
    tokenizer-drift production systems must measure.

    Implementation: per word, one left-to-right fold over
    ``sequence(1, len(word))`` carrying (remaining, tokens) — each step
    consumes >= 1 char, so word-length iterations always complete exactly
    (no truncation case at any word length). Vocab is a plan-time literal
    (chained membership tests, shortest to longest so the longest match
    wins); the corpus is touched once. Adds ``vocab_syms`` array<string>.
    """
    lens = sorted({len(v) for v in vocab if len(v) >= 2})
    by_len = {n: [v for v in vocab if len(v) == n] for n in lens}

    def word_to_toks(w):
        def step(acc, _i):
            rem = acc["rem"]
            m = F.lit(1)
            for n in lens:  # ascending: the longest matching length wins
                m = F.when(rem.substr(F.lit(1), F.lit(n)).isin(by_len[n]), F.lit(n)).otherwise(m)
            advanced = F.struct(
                rem.substr(m + 1, F.length(rem)).alias("rem"),
                F.array_append(acc["toks"], rem.substr(F.lit(1), m)).alias("toks"),
            )
            return F.when(F.length(rem) == 0, acc).otherwise(advanced)

        init = F.struct(
            w.alias("rem"), F.array().cast("array<string>").alias("toks")
        )
        steps = F.sequence(F.lit(1), F.greatest(F.length(w), F.lit(1)))
        return F.aggregate(steps, init, step, lambda acc: acc["toks"])

    return df.withColumn(
        "vocab_syms",
        F.flatten(F.transform(tokens(content_col), word_to_toks)),
    )


def apply_bpe_merges(df: DataFrame, content_col: str, merges: list[tuple[str, str]]) -> DataFrame:
    """Tokenize ``content_col`` with a learned merge list: per word, start
    from characters and apply every merge in learned order (one fold each —
    the chain stays a single codegen'd projection). Adds ``bpe_syms``
    (array<string>) without touching other columns."""
    def word_to_syms(w):
        r = F.concat(F.lit("|"), F.regexp_replace(w, "(.)", "$1|"))
        for left_sym, right_sym in merges:
            r = _apply_merges_fold(r, [(left_sym, right_sym)])
        return _syms(r)

    return df.withColumn(
        "bpe_syms",
        F.flatten(F.transform(tokens(content_col), word_to_syms)),
    )
