"""Query registry backing ``__spark_entry__.py``.

Each query from SURVEY.md §2.3 registers itself here with:
  - a PySpark callable ``(spark, sf_dir) -> DataFrame``
  - optionally, the equivalent DuckDB SQL (the correctness oracle).

Queries with no oracle get the driver's weaker rows-only check
(documented per-query in SURVEY.md §2.3's Oracle column).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: Optional[str] = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query registration: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle.strip()
        return fn

    return deco


# Registration order is module-import order, but the driver's
# correctness gate samples a PREFIX of the dict (50 queries), so
# load_all() moves SHOWCASE to the front. The window is filled in
# priority order: (1) every query no driver gate has checked yet (no
# row in any CORRECTNESS_r*.json — tests/test_registry.py enforces
# this), (2) queries whose code changed since the last gate, then (3)
# the queries whose last driver check is oldest. Past windows are in
# git history; tools/drivercheck.py checks every oracled query locally.
SHOWCASE = (
    # 1. never driver-checked (round-10 additions; the unigram-LM
    # pair is the round-10 second block — added after the first r10
    # gate had run, so they lead until a driver window confirms them)
    "q_vocab_unigram_em", "q_vocab_unigram_loss", "q_diag_token_drift",
    "q_diag_bootstrap_se",
    "q_dedup_incremental_bloom", "q_sample_doremi_lm",
    "q_pack_sequences_bfd",
    # 2. changed since the r9 driver gate (q_basket_pairs: the
    # second-block scale rewrite — array pair generation + DISK_ONLY
    # persist — displaces q_window_cume from the round-5 block below)
    "q_dedup_setsim_inc", "q_dedup_containment_inc",
    "q_dedup_minhash_inc", "q_dedup_minhash_inc_fast",
    "q_sample_doremi", "q_basket_pairs",
    # 3a. last driver-checked in round 5 (37 of 38; q_window_cume
    # displaced, see above)
    "q_bpe_pairs", "q_dedup_embed_bulk", "q_dedup_incremental",
    "q_dedup_semantic", "q_dedup_simhash_portable", "q_dedup_substring",
    "q_dedup_substring_cut", "q_dedup_substring_hashed", "q_embed_ann",
    "q_embed_hard_negatives", "q_embed_ivf", "q_embed_ivfpq",
    "q_embed_pq", "q_filter_pred", "q_graph_jaccard",
    "q_graph_pagerank", "q_graph_triangles", "q_interval_coverage",
    "q_join_asof_nearest", "q_join_fuzzy", "q_join_inner",
    "q_join_left", "q_join_spatial", "q_project_json",
    "q_quality_winsorize", "q_rolling_active", "q_rolling_median",
    "q_text_entropy", "q_text_llr", "q_text_ngram_novelty",
    "q_text_pmi", "q_tokens_zipf", "q_tpch_q1", "q_tpch_q11",
    "q_tpch_q2", "q_tpch_q21", "q_vocab_growth",
)

# Green in CORRECTNESS_r02.json (round-2 driver gate) — kept here so
# future rotations know what is already driver-confirmed.
SHOWCASE_DRIVER_CONFIRMED = (
    "q_scan_count", "q_scan_project", "q_filter_pred", "q_project_json",
    "q_sync_diff_full", "q_sync_inserts", "q_sync_deletes", "q_sync_updates",
    "q_count_reconcile", "q_cdc_scd2",
    "q_join_inner", "q_join_left", "q_join_semi", "q_join_anti",
    "q_join_broadcast", "q_join_range", "q_join_asof",
    "q_agg_basic", "q_agg_distinct", "q_agg_approx", "q_agg_rollup",
    "q_agg_percentile",
    "q_window_rank", "q_topk_pergroup",
    "q_limit_topk", "q_union_all",
    "q_str_funcs", "q_date_funcs", "q_hof_funcs",
    "q_tumble", "q_session", "q_stream_join", "q_stream_dedup",
    "q_udf_scalar", "q_udaf_pandas", "q_udtf_python",
    "q_dedup_exact", "q_dedup_near", "q_dedup_components", "q_dedup_embed",
    "q_embed_topk", "q_text_langid", "q_text_tfidf",
    "q_decontaminate", "q_pack_sequences",
    "q_multimodal_meta", "q_multimodal_frames",
    "q_pivot", "q_subquery_correlated", "q_tpch_q3",
)


# Headline subset for bench.py's stdout JSON line (the full timing
# dict goes to BENCH_FULL.json; the stdout line must fit the driver's
# 2000-char tail capture). One representative per operator family plus
# every query BASELINE.md cites.
SHOWCASE_BENCH = (
    "q_scan_project", "q_filter_pred", "q_sync_diff_full", "q_sync_updates",
    "q_count_reconcile", "q_join_inner", "q_join_asof", "q_join_range",
    "q_join_broadcast", "q_agg_basic", "q_agg_rollup", "q_agg_percentile",
    "q_window_rank", "q_topk_pergroup", "q_limit_topk", "q_tumble",
    "q_session", "q_stream_dedup", "q_udf_pandas", "q_udaf_pandas",
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_embed",
    "q_dedup_embed_bulk", "q_embed_topk",
    "q_embed_ivf", "q_text_langid", "q_text_tfidf", "q_tpch_q3",
    "q_tpch_q5", "q_tpch_q18",
    # round-5 additions
    "q_bm25", "q_text_ngram_novelty", "q_interval_coverage",
    "q_join_asof_nearest", "q_rolling_median", "q_text_pmi",
    "q_agg_regr", "q_embed_pq", "q_bpe_pairs", "q_graph_jaccard",
    "q_dedup_setsim", "q_graph_kcore", "q_text_llr",
    "q_embed_hard_negatives", "q_embed_ivfpq", "q_embed_pq_trained",
    # round-6 additions
    "q_sample_dsir", "q_text_winnowing", "q_rerank_rrf",
    "q_dedup_winnow_pairs", "q_bpe_merges", "q_graph_degree_dist",
    # round-4 additions
    "q_tpch_q2", "q_tpch_q11", "q_tpch_q21",
    # round-3 additions
    "q_join_bloom", "q_anomaly_zscore", "q_tokens_heavy_hitters",
    "q_embed_ivf_trained", "q_rollup_hypertable",
    "q_join_interval", "q_text_lm_score", "q_layout_zorder",
    "q_downsample_m4", "q_skyline", "q_join_fuzzy", "q_join_spatial",
    "q_basket_pairs", "q_agg_time_weighted", "q_curriculum_order",
)


def load_all() -> None:
    """Import every query module (side effect: registration), then
    reorder so SHOWCASE queries lead the registry."""
    from fhir2sql_spark import queries  # noqa: F401

    queries.load_all()
    missing = [n for n in SHOWCASE if n not in QUERIES]
    if missing:
        raise RuntimeError(f"SHOWCASE names not registered: {missing}")
    ordered = {n: QUERIES[n] for n in SHOWCASE}
    ordered.update({n: f for n, f in QUERIES.items() if n not in ordered})
    QUERIES.clear()
    QUERIES.update(ordered)
