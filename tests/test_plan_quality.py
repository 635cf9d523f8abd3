"""Plan-quality regression tests: the scale claims in ARCHITECTURE.md,
asserted against actual physical plans so they cannot silently rot.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def queries():
    from syscol_spark.plans.catalog import QUERIES, _ensure_loaded

    _ensure_loaded()
    return QUERIES


def test_filters_pushed_to_scan(spark, sf_dir, queries):
    plan = _plan(queries["q06_forecast_revenue"].builder(spark, sf_dir))
    assert "PushedFilters:" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_quantity" in plan


def test_columns_pruned_at_scan(spark, sf_dir, queries):
    plan = _plan(queries["q01_pricing_summary"].builder(spark, sf_dir))
    read = next(line for line in plan.splitlines() if "ReadSchema" in line)
    assert "l_orderkey" not in read  # unreferenced columns never leave parquet
    assert "l_quantity" in read


def test_time_predicate_joins_avoid_nested_loop(spark, sf_dir, queries):
    for name in ("q_ev_asof", "q_ev_range_join"):
        plan = _plan(queries[name].builder(spark, sf_dir))
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_asof_join_is_join_free(spark, sf_dir, queries):
    # union + carry-forward window: no join operator at all
    plan = _plan(queries["q_ev_asof"].builder(spark, sf_dir))
    assert "Join" not in plan


def test_fixed_dims_broadcast(spark, sf_dir, queries):
    plan = _plan(queries["q05_local_supplier"].builder(spark, sf_dir))
    assert "BroadcastExchange" in plan  # nation/region hints survive


def test_neardup_queries_have_no_allpairs_block_join(spark, sf_dir, queries):
    """The near-dup family must generate candidates through a
    bucket/band/prefix-token equi-join — never a block-only self-join
    (quadratic in block size at 100×). The salted all-pairs helper tags its
    plan with __salt; none of these queries may use it, and each must join
    on its candidate key column."""
    expected_key = {
        "q_ngram_jaccard": "tok",       # prefix-filter inverted index
        "q_simhash": "bits",            # pigeonhole band bits
        "q_embed_neardup": "key",       # SRP sign-band key
        "q_minhash_lsh": "bucket",      # MinHash LSH band bucket
    }
    for name, key in expected_key.items():
        plan = _plan(queries[name].builder(spark, sf_dir))
        assert "__salt" not in plan, f"{name} still pairs via salted all-pairs block join"
        assert key in plan, f"{name}: candidate key column {key!r} absent from plan"
    # q_dedup_clusters localCheckpoints its edge list (lineage truncation for
    # the iterative loop), so its final plan hides the pair-generation
    # subplan — assert the input path it uses instead.
    from syscol_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(ngram_jaccard_pairs(docs, "text", "doc_id", "lang", shingle_n=3, min_jaccard=0.5))
    assert "__salt" not in plan
    assert "tok" in plan
    # pure map: no shuffle at any scale (higher-order-function lambdas fall
    # back from codegen by design, so only the Exchange-free property is
    # asserted here)
    plan = _plan(queries["q_text_quality"].builder(spark, sf_dir))
    assert "Exchange" not in plan


def test_simple_scalar_pipeline_stays_in_codegen(spark, sf_dir, queries):
    # formatted explain marks codegen'd operators with a "* " prefix
    plan = _plan(queries["q_string_functions"].builder(spark, sf_dir))
    assert "Exchange" not in plan
    assert "* Project" in plan or "* Filter" in plan


def test_new_tpch_broadcast_dims_no_cartesian(spark, sf_dir, queries):
    for name in (
        "q07_volume_shipping",
        "q08_market_share",
        "q17_small_quantity",
        "q09_product_profit",
        "q12_late_lines",
        "q22_dormant_customers",
    ):
        plan = _plan(queries[name].builder(spark, sf_dir))
        assert "BroadcastExchange" in plan, name  # dim hints survive planning
        assert "CartesianProduct" not in plan, name
        # q22's scalar-average gate is a broadcast 1-row cross join — the ONE
        # place a BroadcastNestedLoopJoin is the plan you want; ban it elsewhere
        import re

        bnlj_ops = re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", plan, re.M)
        allowed_bnlj = 1 if name == "q22_dormant_customers" else 0
        assert len(bnlj_ops) <= allowed_bnlj, name


def test_hash_sampling_is_shuffle_free_before_agg(spark, sf_dir, queries):
    """The sampling FILTER itself must be map-side: the only exchange in
    q_sample_hash / q_mixture_weighted is the final aggregation's."""
    import re

    for name in ("q_sample_hash", "q_mixture_weighted"):
        plan = _plan(queries[name].builder(spark, sf_dir))
        shuffles = [
            ln for ln in plan.splitlines()
            if re.match(r"^\(\d+\) Exchange", ln) and "Broadcast" not in ln
        ]
        assert len(shuffles) <= 1, (name, shuffles)


def test_pack_sequences_single_shuffle(spark, sf_dir, queries):
    """Packing = one shuffle on the shard key (the window), nothing else."""
    import re

    plan = _plan(queries["q_pack_sequences"].builder(spark, sf_dir))
    shuffles = [
        ln for ln in plan.splitlines()
        if re.match(r"^\(\d+\) Exchange", ln) and "Broadcast" not in ln
    ]
    assert len(shuffles) == 1, shuffles
    assert "hashpartitioning(lang" in plan


def test_decontaminate_broadcasts_bench_set(spark, sf_dir, queries):
    """The corpus never shuffles to meet the benchmark n-gram set: the bench
    side aggregates (its own small exchange) and broadcasts; the only other
    exchange is the per-document hit aggregation."""
    import re

    plan = _plan(queries["q_decontaminate"].builder(spark, sf_dir))
    assert "BroadcastHashJoin LeftOuter" in plan
    shuffles = [
        ln for ln in plan.splitlines() if re.match(r"^\(\d+\) Exchange", ln)
    ]
    assert len(shuffles) == 2, shuffles


def test_fuzzy_edit_candidates_from_gram_join(spark, sf_dir, queries):
    """Ed-Join: candidates must come from the q-gram prefix equi-join — no
    cartesian/BNLJ anywhere, and the join key column is the gram."""
    plan = _plan(queries["q_fuzzy_edit"].builder(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "gram" in plan


def test_ranking_queries_broadcast_tiny_aggregates(spark, sf_dir, queries):
    """tfidf/bm25: the 1-row corpus aggregates and per-term df tables ride
    broadcasts; the token stream never shuffles to meet them twice."""
    for name in ("q_tfidf", "q_bm25"):
        plan = _plan(queries[name].builder(spark, sf_dir))
        assert "BroadcastExchange" in plan, name
        assert "CartesianProduct" not in plan, name


def test_cdc_compact_single_shuffle(spark, sf_dir, queries):
    """The latest-wins compaction is one groupBy: ONE hash exchange on the
    (user_id, event_type) key, after partial aggregation."""
    import re

    plan = _plan(queries["q_cdc_compact"].builder(spark, sf_dir))
    shuffles = [
        ln for ln in plan.splitlines()
        if re.match(r"^\(\d+\) Exchange", ln) and "Broadcast" not in ln
    ]
    assert len(shuffles) == 1, shuffles


def test_skyline_has_no_self_join(spark, sf_dir, queries):
    """The sweep plan joins part to the tiny frontier-point set once — the
    NOT EXISTS brute force (self-join) must never appear."""
    import re

    plan = _plan(queries["q_skyline"].builder(spark, sf_dir))
    scans = re.findall(r"^\(\d+\) Scan parquet", plan, re.M)
    assert len(scans) == 2, scans  # part + per-price points, not 3+
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_grouping_sets_is_single_expand_pass(spark, sf_dir, queries):
    """The 4-set lattice runs as ONE Expand + one aggregation — not a
    UNION ALL of four scans."""
    import re

    plan = _plan(queries["q_grouping_sets"].builder(spark, sf_dir))
    scans = re.findall(r"^\(\d+\) Scan parquet", plan, re.M)
    assert len(scans) == 1, scans
    assert "Expand" in plan


def test_ewma_is_single_window_pass(spark, sf_dir, queries):
    """Recursive EWMA = one shuffle on user_id + one Window; the fold is a
    codegen'd higher-order function, never a Python UDF."""
    import re

    plan = _plan(queries["q_ev_ewma"].builder(spark, sf_dir))
    shuffles = [
        ln for ln in plan.splitlines()
        if re.match(r"^\(\d+\) Exchange", ln) and "Broadcast" not in ln
    ]
    assert len(shuffles) == 1, shuffles
    assert "Window" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_triangles_all_joins_are_equi(spark, sf_dir, queries):
    """Triangle enumeration must be hash equi-joins on edge endpoints — a
    cartesian/BNLJ here would be quadratic in the edge count."""
    plan = _plan(queries["q_copurchase_triangles"].builder(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lm_model_aggregate_is_broadcast(spark, sf_dir, queries):
    """Both model-side joins are broadcasts: the 1-row (total, vocab) model
    AND the alphabet-bounded bigram count table. The corpus-sized bigram
    stream must never shuffle into a SortMergeJoin/ShuffledHashJoin — its
    only exchange is the map-side-combined groupBy(doc_id), so the plan's
    sole shuffled joins are none at all (the 7.05x sf1 ratio came from
    shuffling the full char explode on bg)."""
    plan = _plan(queries["q_lm_perplexity"].builder(spark, sf_dir))
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert "BatchEvalPython" not in plan


def test_cdc_chunks_extraction_is_shuffle_free(spark, sf_dir):
    """cdc_chunks is a row-local fold + posexplode: ZERO Exchanges and no
    Window in the operator's plan. (The first version exploded tokens and
    shuffled them on doc id for a running-cut-count window — a per-row fold
    dressed up as a distributed operation.)"""
    from syscol_spark.operators.dedup import cdc_chunks

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(cdc_chunks(docs, "text", "doc_id", mod=16))
    n_exchanges = plan.count(") Exchange")
    assert n_exchanges == 0, f"expected shuffle-free extraction, saw {n_exchanges}:\n{plan}"
    assert ") Window" not in plan, plan


def test_bpe_trainer_corpus_touched_once(spark, sf_dir):
    """Every BPE merge step must plan against the word-frequency table, not
    re-scan the corpus: the per-step pair-count job contains exactly the
    word-table aggregation exchanges, and the doc scan appears once per
    job (Spark re-reads lineage per action; the invariant is no JOIN back
    to the corpus and no explode of full text in later steps)."""
    from syscol_spark.operators.bpe import _pair_keys, word_freq_table
    import pyspark.sql.functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = word_freq_table(docs, "text")
    plan = _plan(
        words.select(F.explode(_pair_keys(F.col("word"))).alias("p"), "freq")
        .groupBy("p")
        .agg(F.sum("freq"))
    )
    # one scan of documents feeding one word-table aggregation — no joins
    # (each scan node lists exactly one Location: line in the detail section)
    assert plan.count("Location:") == 1, plan
    assert "Join" not in plan, plan


def test_benford_scan_reads_only_price(spark, sf_dir, queries):
    """Benford touches one column; the parquet scan must prune to it."""
    plan = _plan(queries["q_benford"].builder(spark, sf_dir))
    read = next(line for line in plan.splitlines() if "ReadSchema" in line)
    assert "l_extendedprice" in read
    assert "l_orderkey" not in read and "l_comment" not in read


def test_sketch_tier_broadcasts_are_bounded_sides(spark, sf_dir, queries):
    """CMS probes (GlobalLimit 5 x depths) and bloom bits (<= m distinct
    positions) broadcast; the corpus-proportional sides never do."""
    for name in ("q_cms_shards", "q_bloom_prefilter", "q_vocab_coverage"):
        plan = _plan(queries[name].builder(spark, sf_dir))
        assert "BroadcastExchange" in plan, name
        assert "CartesianProduct" not in plan, name


def test_join_cardinality_never_materializes_the_join(spark, sf_dir, queries):
    """The estimator sizes a self-join from per-key counts: the plan may
    only join the two 1-row aggregate summaries, never lineitem with
    itself (no shuffle join of two corpus-sized sides)."""
    plan = _plan(queries["q_join_cardinality"].builder(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_rank_fusion_windows_are_post_limit(spark, sf_dir, queries):
    """Rank assignment must sit above a TakeOrderedAndProject (bounded
    20-row input), not a global corpus sort."""
    plan = _plan(queries["q_rank_fusion"].builder(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_ngram_lm_pair_generation_is_join_free(spark, sf_dir, queries):
    """Bigrams come from row-local array adjacency (one scan): the only
    joins allowed are the two bounded broadcasts (top-5 contexts, 1-row
    vocab size) — never a shuffle self-join of the postings."""
    plan = _plan(queries["q_ngram_lm"].builder(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_salted_join_plan_shape(spark, sf_dir, queries):
    """The skew-mitigation contract, pinned: the main join's condition must
    include the salt column (each hot key spreads over n_salts shuffle
    partitions), dim replication must be a row-local Generate/explode (hot
    rows only — never a full-dim crossJoin), and the hot-key list must be a
    GlobalLimit-bounded broadcast."""
    df = queries["q_skew_salted_join"].builder(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    join_lines = [ln for ln in opt.splitlines() if ln.strip().lstrip("+-: ").startswith("Join Inner")]
    assert any("__salt" in ln for ln in join_lines), join_lines
    assert "Generate explode" in opt
    assert "GlobalLimit" in opt
    phys = _plan(df)
    assert "CartesianProduct" not in phys
    assert "BroadcastNestedLoopJoin" not in phys
