"""Physical-plan regression audit (PLANS.md enforcement).

Asserts the plan properties the engine's 100 TB posture depends on:
pushdown reaching the scan, dimension broadcasts, top-k group limits,
TakeOrderedAndProject, and the distributed diff join. Run:

    python tools/explain_audit.py      # exit 0 iff every check holds

Checks are substring assertions on executedPlan at sf0.01 (plan shape
is scale-invariant for these properties).
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from fhir2sql_spark import registry  # noqa: E402
from fhir2sql_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"

CHECKS: list[tuple[str, str, str]] = [
    ("q_filter_pred", "PushedFilters: [", "filters must reach the parquet scan"),
    (
        "q_scan_project",
        "ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,l_suppkey:bigint,l_linenumber:int>",
        "projection must prune the scan schema",
    ),
    ("q_agg_basic", "PushedFilters: [IsNotNull(l_shipdate)", "agg filter pushdown"),
    ("q_join_inner", "BroadcastHashJoin", "nation dim must broadcast"),
    ("q_join_broadcast", "BroadcastHashJoin", "explicit broadcast hint honored"),
    ("q_join_theta", "BroadcastNestedLoopJoin", "theta join is BNLJ on tiny inputs"),
    ("q_limit_topk", "TakeOrderedAndProject", "global top-k must not global-sort"),
    ("q_topk_pergroup", "WindowGroupLimit", "grouped top-k prunes pre-shuffle"),
    ("q_window_rank", "WindowGroupLimit", "rank filter plans a group limit"),
    ("q_sync_diff_full", "SortMergeJoin", "diff is a distributed join"),
    ("q_sync_diff_full", "FullOuter", "diff join is full-outer"),
    ("q_sync_inserts", "LeftAnti", "insert branch is anti join"),
    ("q_dedup_exact", "partial_min", "dedup agg is map-side partial"),
    ("q_embed_topk", "BroadcastNestedLoopJoin", "query side broadcasts"),
    ("q_tpch_q3", "TakeOrderedAndProject", "Q3 top-10 must not global-sort"),
    ("q_tpch_q3", "BroadcastHashJoin", "Q3 filtered customer side broadcasts"),
    ("q_tpch_q4", "LeftSemi", "Q4 EXISTS plans as a semi join"),
    ("q_tpch_q5", "BroadcastHashJoin", "Q5 dims broadcast"),
    ("q_tpch_q6", "PushedFilters: [IsNotNull", "Q6 predicates reach the scan"),
    ("q_tpch_q14", "BroadcastHashJoin", "Q14 part dim broadcasts"),
    ("q_tpch_q18", "TakeOrderedAndProject", "Q18 top-100 must not global-sort"),
    ("q_text_tfidf", "WindowGroupLimit", "tf-idf top-5 prunes pre-shuffle"),
    ("q_corpus_carve", "BroadcastHashJoin", "dup-set anti-join broadcasts"),
    ("q_event_funnel", "HashAggregate", "funnel stages are hash aggregates"),
    # round 2 additions. "!" prefix = the substring must be ABSENT.
    ("q_decontaminate", "BroadcastHashJoin", "benchmark n-gram set broadcasts"),
    ("q_text_repetition", "!Exchange", "repetition features shuffle nothing"),
    ("q_text_redact", "!Exchange", "redaction shuffles nothing"),
    ("q_multimodal_frames", "!Exchange", "frame explode stays map-side"),
    ("q_pack_sequences", "FlatMapGroupsInPandas", "packing folds per stream in Arrow"),
    # round 3 additions
    ("q_join_theta_banded", "!BroadcastNestedLoopJoin", "banded theta join has no nested loop"),
    ("q_join_theta_banded", "!CartesianProduct", "banded theta join has no cross join"),
    ("q_dedup_embed_bucketed", "!BroadcastNestedLoopJoin", "bucketed dedup has no all-pairs join"),
    ("q_dedup_embed_bucketed", "!CartesianProduct", "bucketed dedup has no cross join"),
    ("q_dedup_embed_bucketed", "FlatMapGroupsInPandas", "per-bucket matmul runs in Arrow groups"),
    (
        "q_join_asof_fwd",
        "!unboundedfollowing",
        "forward as-of must use the O(n) running frame, never an "
        "unbounded-following frame (recomputed per row, O(n^2)/key)",
    ),
    (
        "q_join_asof_tol",
        "!unboundedfollowing",
        "tolerance as-of keeps the running-frame plan",
    ),
    ("q_rollup_hypertable", "Expand", "multi-grain rollup is one Expand pass"),
    (
        "q_rollup_hypertable",
        "#1:Exchange hashpartitioning",
        "all three grains aggregate through ONE shuffle",
    ),
    # round 3, later additions
    ("q_sample_mixture", "!Exchange", "mixture resampling is a pure scan-stage filter"),
    ("q_text_langid", "!Exchange", "language ID shuffles nothing"),
    (
        "q_anomaly_zscore",
        "BroadcastHashJoin",
        "the 5-row stats side broadcasts back onto the event stream",
    ),
    (
        "q_anomaly_zscore",
        "#1:Exchange hashpartitioning",
        "only the event_type moment agg shuffles; flagging is map-side",
    ),
    ("q_join_interval", "!BroadcastNestedLoopJoin", "interval join has no nested loop"),
    ("q_join_interval", "!CartesianProduct", "interval join has no cross join"),
    (
        "q_agg_decay",
        "#1:Exchange hashpartitioning",
        "decayed agg is one partial+final hash agg; age filter is map-side",
    ),
    (
        "q_sample_weighted",
        "TakeOrderedAndProject",
        "A-ES top-k must not global-sort the corpus",
    ),
    (
        "q_tokens_cms",
        "BroadcastHashJoin",
        "the constant-size sketch broadcasts back onto the query tokens",
    ),
    ("q_layout_zorder", "!Exchange", "the clustering-key projection shuffles nothing"),
    ("q_join_fuzzy", "!BroadcastNestedLoopJoin", "fuzzy join has no nested loop"),
    ("q_skyline", "!BroadcastNestedLoopJoin", "skyline never compares row pairs"),
    ("q_join_spatial", "!BroadcastNestedLoopJoin", "spatial join has no nested loop"),
    ("q_join_spatial", "!CartesianProduct", "spatial join has no cross join"),
    # r12: the HLL sketch must never ride a per-key exchange — mixing
    # approx_count_distinct with COUNT(DISTINCT) in one agg grouped by
    # the key and shuffled a 410-word sketch per distinct custkey
    # (411-column exchange); the split form's widest row is the single
    # keyless 410-word partial per partition.
    ("q_agg_approx", "!Input [411]", "no per-key HLL sketch exchange"),
    (
        "q_basket_pairs",
        "BroadcastHashJoin",
        "item stats broadcast onto the vocabulary-sized pair table",
    ),
    (
        "q_basket_pairs",
        "!SortMergeJoin",
        "pairs come from chained posexplodes over per-order arrays, "
        "never a basket self-join (r10 rewrite: 412 -> 222 s "
        "best-of-2 at sf100)",
    ),
    ("q_skyline", "!CartesianProduct", "skyline has no cross join"),
    ("q_join_fuzzy", "!CartesianProduct", "fuzzy join has no cross join"),
    (
        "q_downsample_m4",
        "#1:Exchange hashpartitioning",
        "all four M4 extremes fold through ONE series/bucket hash agg",
    ),
    # round 4 additions
    (
        "q_join_inner",
        "#2:Exchange hashpartitioning",
        "eager agg: orders reduce per custkey BEFORE the join (agg + "
        "join exchanges only — regressing to join-then-agg adds a third)",
    ),
    (
        "q_join_left",
        "#1:Exchange hashpartitioning",
        "eager agg: the pre-agg is the ONLY exchange; the post-join "
        "aggregate is gone (group key = join key)",
    ),
    (
        "q_tpch_q18",
        "#1:Exchange hashpartitioning",
        "Q18 aggregates lineitem before the joins; HAVING survivors "
        "broadcast, so the per-orderkey agg is the only exchange",
    ),
    ("q_tpch_q2", "TakeOrderedAndProject", "Q2 top-100 must not global-sort"),
    ("q_tpch_q2", "BroadcastHashJoin", "Q2 EU supplier dim broadcasts"),
    ("q_tpch_q11", "BroadcastHashJoin", "Q11 nation-supplier set + 1-row total broadcast"),
    ("q_tpch_q11", "!CartesianProduct", "Q11 threshold join is a broadcast, not a cross"),
    ("q_tpch_q21", "LeftSemi", "Q21 EXISTS plans as a semi join"),
    ("q_tpch_q21", "LeftAnti", "Q21 NOT EXISTS plans as an anti join"),
    ("q_tpch_q21", "TakeOrderedAndProject", "Q21 top-100 must not global-sort"),
    # round 5 additions
    (
        "q_window_cume",
        "#1:Exchange hashpartitioning",
        "distribution windows ride one custkey shuffle",
    ),
    (
        "q_rolling_median",
        "#1:Exchange hashpartitioning",
        "rolling median rides one user_id shuffle",
    ),
    (
        "q_interval_coverage",
        "#1:Exchange hashpartitioning",
        "sweep-line window + rollup share ONE user_id shuffle",
    ),
    (
        "q_agg_bool",
        "#1:Exchange hashpartitioning",
        "boolean/arg-extrema aggregates are one partial+final pass",
    ),
    (
        "q_agg_regr",
        "#1:Exchange hashpartitioning",
        "regression moments are one partial+final pass",
    ),
    ("q_bm25", "BroadcastHashJoin", "df/doclen/stats sides broadcast"),
    ("q_bm25", "!CartesianProduct", "corpus totals broadcast, never cross"),
    (
        "q_text_entropy",
        "#1:documents.parquet",
        "entropy is a single corpus pass",
    ),
    (
        "q_text_ngram_novelty",
        "#1:documents.parquet",
        "novelty owner via shingle window: ONE corpus/shingle pass "
        "(the agg+join form scanned twice; 194.6 -> 66.4 s at sf100)",
    ),
    (
        "q_text_pmi",
        "#3:documents.parquet",
        "pmi = one bigram explode + one unigram explode + one "
        "size-only scan (branch-duplicated forms cost 5 scans)",
    ),
    (
        "q_tpch_q1",
        "#1:Exchange hashpartitioning",
        "Q1 is one partial+final agg pass (the only other exchange is "
        "the 4-row range sort)",
    ),
    (
        "q_dedup_substring",
        "#2:Exchange hashpartitioning",
        "substring spans: window-key + doc_id shuffles only; the span "
        "rollup reuses the doc_id exchange",
    ),
    (
        "q_dedup_substring",
        "#1:documents.parquet",
        "one corpus scan (multiplicity via partition-only window, "
        "not agg+join-back)",
    ),
    (
        "q_dedup_substring_hashed",
        "#2:Exchange hashpartitioning",
        "hashed scale form keeps the identical two-shuffle plan",
    ),
    (
        "q_dedup_substring_hashed",
        "xxhash64",
        "the 8-byte window key is computed below the wide exchange "
        "(the string is projected away before the shuffle)",
    ),
    (
        "q_dedup_substring_cut",
        "#2:documents.parquet",
        "span derivation + rebuild: exactly two corpus scans (the "
        "conditional aggregate removes the base-join third scan)",
    ),
    (
        "q_dedup_substring_cut",
        "!CartesianProduct",
        "the span-interval test is an equi-join + per-token exists(), "
        "never a range join",
    ),
    ("q_join_asof_nearest", "#2:Window ", "exactly the two asof carries"),
    (
        "q_join_asof_nearest",
        "!CartesianProduct",
        "directional recombine is a keyed join",
    ),
    # round-5 late additions
    (
        "q_rolling_active",
        "!BroadcastNestedLoopJoin",
        "sweep-line rolling distinct: no range join anywhere (the "
        "range-join form planned BNLJ: |rows| x |grid|)",
    ),
    (
        "q_rolling_active",
        "BroadcastHashJoin",
        "prefix-sum partition offsets join via broadcast",
    ),
    (
        "q_quality_classifier",
        "#1:Exchange hashpartitioning",
        "classifier = one doc_id-keyed shuffle (md5/conv compiled on "
        "the flat bigram column; partial agg carries two longs/doc)",
    ),
    (
        "q_search_phrase",
        "!Exchange",
        "phrase search rides the scan: regex prefilter + positional "
        "verify, zero shuffles",
    ),
    (
        "q_graph_triangles",
        "!CartesianProduct",
        "wedge join + closure are equi-joins; orientation bounds "
        "out-degrees, never a cross product",
    ),
    (
        "q_dedup_semantic",
        "FlatMapGroupsInPandas",
        "pairwise stage is per-cell blocked BLAS via applyInPandas",
    ),
    (
        "q_bpe_pairs",
        "#2:Exchange hashpartitioning",
        "frequency-dict BPE: word-count shuffle (vocab-sized after "
        "map-side combine) + pair re-aggregation; pair generation "
        "explodes vocabulary-sized input only",
    ),
    (
        "q_bpe_pairs",
        "TakeOrderedAndProject",
        "top-20 pairs never run a global sort shuffle",
    ),
    (
        "q_tokens_zipf",
        "!Scan parquet",
        "r11: the TakeOrdered top-100 is eagerly pinned at build time "
        "(it fed three distributed_rank consumers, each re-running the "
        "corpus token aggregate), so the registered plan must work "
        "entirely off the 100-row pinned RDD — no parquet re-scan",
    ),
    (
        "q_tokens_zipf",
        "Scan ExistingRDD",
        "rank input is the pinned 100-row top-k frame",
    ),
    (
        "q_vocab_growth",
        "!BroadcastNestedLoopJoin",
        "running totals are ONE distributed prefix sum (range "
        "repartition + broadcast offsets), no grid range-join",
    ),
    (
        "q_quality_winsorize",
        "!Generate",
        "score is scan-side string arithmetic — no tokenizer explode "
        "anywhere in the plan",
    ),
    (
        "q_graph_jaccard",
        "!CartesianProduct",
        "common-neighbor counting is the degree-ordered wedge join, "
        "equi-joins only",
    ),
    (
        "q_dedup_setsim",
        "!CartesianProduct",
        "prefix filtering joins on the token-rank long; candidates "
        "and verification are equi-joins only",
    ),
    (
        "q_dedup_setsim",
        "!BroadcastNestedLoopJoin",
        "no range/theta join anywhere in the AllPairs pipeline",
    ),
    (
        "q_text_llr",
        "!Generate",
        "the bigram explode runs exactly once (eager checkpoint at "
        "build); the registered plan's margin aggregates and joins "
        "read the materialized counts",
    ),
    (
        "q_embed_pq",
        "MapInPandas",
        "encode + ADC scoring fused into one Arrow corpus pass "
        "against the broadcast codebook/LUT",
    ),
    (
        "q_embed_pq",
        "#1:Exchange hashpartitioning",
        "the only exchange carries the per-(query, batch) top-k into "
        "the final re-rank window",
    ),
    (
        "q_embed_ivfpq",
        "MapInPandas",
        "assign + residual-encode + LUT-score fused into one Arrow "
        "corpus pass",
    ),
    (
        "q_embed_ivfpq",
        "#1:Exchange hashpartitioning",
        "only the per-(query, batch) top-k rows exchange",
    ),
    # round 7 additions
    (
        "q_quality_gopher",
        "!Exchange",
        "the Gopher rule filter is pure scan-side codegen — zero "
        "shuffles (regexp_counts + divisions ride the scan)",
    ),
    (
        "q_quality_gopher",
        "!Generate",
        "no token explode anywhere in the rules",
    ),
    (
        "q_dedup_softweight",
        "#1:Exchange hashpartitioning",
        "SoftDedup reweighting is ONE th-keyed exchange (the count "
        "window); no pair generation, no join",
    ),
    (
        "q_dedup_softweight",
        "!Join",
        "cluster size comes from a window, not a self-join",
    ),
    (
        "q_dedup_winnow_pairs",
        "!Join",
        "round-7 rewrite: candidate pairs come from posting-set "
        "posexplodes, never a fingerprint self-join (the form that "
        "stopped finishing at sf100)",
    ),
    (
        "q_dedup_semantic_inc",
        "BroadcastHashJoin",
        "the base index is pruned to batch-touched cells by a "
        "broadcast semi-join BEFORE any pairwise work",
    ),
    (
        "q_dedup_semantic_inc",
        "FlatMapGroupsInPandas",
        "the pairwise verdict runs per-cell in Arrow groups",
    ),
    # round 8: BPE encoder / incremental winnow / phash dedup
    (
        "q_bpe_encode",
        "ShuffledHashJoin",
        "the token-stream/vocab join is the pinned word-keyed shuffle "
        "join with the vocab map as build side — Catalyst's estimate "
        "broadcast THE CORPUS at fixture scale (fatal at 100 TB)",
    ),
    (
        "q_dedup_winnow_inc",
        "!SortMergeJoin",
        "frozen-index probe and classification are all broadcast "
        "joins — the ingest never shuffles the corpus index",
    ),
    (
        "q_dedup_winnow_inc",
        "!Generate posexplode(arrays_zip",
        "the winnow fingerprint window runs ONCE behind the eager "
        "checkpoint — no branch re-derives fingerprints from raw "
        "text (round-8: per-branch recompute cost 177 s vs 111 s at "
        "sf100)",
    ),
    (
        "q_multimodal_phash_dedup",
        "Generate posexplode(__ids",
        "Hamming-band candidate pairs come from posting-list "
        "posexplodes (the winnow co-occurrence form), never a band "
        "self-join",
    ),
    (
        "q_tokens_fertility_bpe",
        "ShuffledHashJoin",
        "same corpus-broadcast hazard pin as q_bpe_encode",
    ),
    # round 8: diagnostics + curation additions
    (
        "q_diag_skew",
        "TakeOrderedAndProject",
        "skew profile's top-10 must not global-sort the key counts",
    ),
    (
        "q_dedup_paragraph",
        "#2:Exchange hashpartitioning",
        "paragraph dedup is exactly 2 exchanges: chunk-hash keeper "
        "window + doc_id rollup (the 1-text-exchange variant lost "
        "the round-8 A/B — see the docstring)",
    ),
    (
        "q_embed_sq",
        "WindowGroupLimit",
        "SQ8 top-k prunes to 5 rows/query per partition BEFORE the "
        "q_id exchange",
    ),
    (
        "q_embed_sq",
        "#1:Exchange hashpartitioning",
        "SQ8 search: the q_id ranking exchange is the ONLY hash "
        "exchange — the corpus never shuffles (stats ride a "
        "broadcast, queries broadcast into the scoring pass)",
    ),
    (
        "q_prune_prototypes",
        "MapInPandas",
        "prototype scoring is the fused Arrow assignment pass",
    ),
    (
        "q_prune_prototypes",
        "#1:Exchange hashpartitioning",
        "one cell-keyed exchange shared by the rank and count windows",
    ),
    (
        "q_diag_codebook_drift",
        "BroadcastNestedLoopJoin",
        "the checkpointed k-row per-cell table cross-joins the 1-row "
        "totals broadcast (the spine BroadcastHashJoins run "
        "pre-checkpoint; see PLANS.md round 8)",
    ),
    (
        "q_dedup_minhash_inc",
        "BroadcastHashJoin",
        "candidate pairs broadcast inside the verify; the flags "
        "classification join is UNHINTED (r9 — stats-elective only; "
        "forced-broadcast absence pinned by the threshold=-1 test in "
        "tests/test_frozen_probe.py)",
    ),
    # (the r9 stop-bucket cap's WindowGroupLimit lives in the
    # pre-checkpoint candidate subtree, invisible in these final
    # plans — pinned instead on the subtree itself in
    # tests/test_dedup_lsh.py::test_cap_plan_uses_window_group_limit)
    (
        "q_dedup_minhash_inc_fast",
        "BroadcastHashJoin",
        "same classification shape as the md5 twin; band keys are "
        "single xxhash64 longs",
    ),
    # round 10 additions
    (
        "q_dedup_incremental_bloom",
        "#1:Join [th#",
        "exactly ONE exact-index probe join (keyed th) — bloom "
        "negatives classify without ever reaching the index",
    ),
    (
        "q_dedup_incremental_bloom",
        "#3:Join [w#",
        "the fixed-size sketch word table BROADCASTS onto all three "
        "probes (batch positives/negatives + self-check); it never "
        "shuffles",
    ),
    (
        "q_vocab_unigram_em",
        "TakeOrderedAndProject",
        "unigram-EM top-30 must not global-sort",
    ),
    (
        "q_vocab_unigram_em",
        "!CartesianProduct",
        "segmentation matcher joins the broadcast piece vocab, "
        "never all-pairs",
    ),
    (
        "q_vocab_unigram_loss",
        "!CartesianProduct",
        "max-plus closure is (w, pos)-keyed equi-joins, never "
        "all-pairs",
    ),
    (
        "q_vocab_unigram_loss",
        "!BroadcastNestedLoopJoin",
        "no unbounded BNLJ anywhere in the lattice pipeline",
    ),
    (
        "q_diag_token_drift",
        "TakeOrderedAndProject",
        "top-10 token movers must not global-sort",
    ),
    (
        "q_diag_bootstrap_se",
        "!Exchange hashpartitioning(doc_id",
        "the replicate explode rides the scan — no doc-keyed shuffle",
    ),
    (
        "q_diag_bootstrap_se",
        "!CartesianProduct",
        "replicate grid is a map-side explode, never a cross join",
    ),
    ("q_cdc_scd2", "WindowGroupLimit", ""),  # placeholder replaced below
]
# q_cdc_scd2's property is structural, not a substring: all three
# window passes + the run groupBy must share ONE user_id exchange.
CHECKS[-1] = (
    "q_cdc_scd2",
    "#1:Exchange hashpartitioning(user_id",
    "SCD2's windows/groupBy share a single user_id shuffle",
)


def _toplevel_groups(s: str) -> list[str]:
    """Split ``[a], [b, [c]], [d]`` into its depth-0 bracket groups."""
    groups, depth, cur = [], 0, []
    for ch in s:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = []
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append("".join(cur))
                continue
        if depth >= 1:
            cur.append(ch)
    return groups


def unpartitioned_windows(plan: str) -> list[str]:
    """Return the offending lines for every single-task window in a plan.

    A ``WindowExec`` with an empty partition spec moves ALL rows to one
    task — the O(rows) single-task plan that is fatal at 100 TB. Its
    toString has two depth-0 bracket groups (``Window [exprs], [order]``)
    vs three when partitioned. Whitelisted: windows ordered by ``__pid``
    — the O(partitions)-row offset tables of
    operators/packing.py:distributed_rank and operators/skyline.py,
    where the window input is one row per shuffle partition, not per
    data row.
    """
    bad = []
    for line in plan.splitlines():
        stripped = line.strip().lstrip("+-: *")
        for node in ("WindowGroupLimit ", "Window "):
            if stripped.startswith(node):
                groups = _toplevel_groups(stripped[len(node):])
                # Window: [exprs],[part],[order] / [exprs],[order]
                # WindowGroupLimit: [part],[order],rank,k,mode
                if node == "Window ":
                    # 3 groups = [exprs],[part],[order] — partitioned.
                    # 2 groups is ambiguous: [exprs],[order] (unpartitioned)
                    # vs [exprs],[part] (partition-only, whole-frame agg —
                    # distributed, fine). Order specs always print a sort
                    # direction; partition specs never do.
                    order = groups[-1] if groups else ""
                    unpart = len(groups) < 3 and (
                        "ASC" in order or "DESC" in order
                    )
                else:
                    unpart = not groups or not groups[0].strip()
                    order = groups[1] if len(groups) > 1 else ""
                if unpart and "__pid" not in order:
                    bad.append(stripped)
                break
    return bad


# Queries whose BUILDERS run driver-side actions (collect/count for
# sketch finalization, k-means training, iterative label propagation /
# pagerank rounds). Building their DataFrame to read its plan executes
# real Spark jobs, so sweeping them is NOT plan-only — it needs fixture
# data and dominates the sweep's wall time. Their returned plans either
# terminate in a createDataFrame (kmv) or in checkpointed iterative
# state already covered by dedicated CHECKS entries, so `--plan-only`
# may skip them without losing window coverage.
BUILDER_ACTION_QUERIES = frozenset(
    {
        "q_agg_kmv_jaccard",
        "q_dedup_components",
        "q_graph_pagerank",
        "q_embed_ivf_trained",
        "q_dedup_semantic_trained",
        "q_embed_pq",
        "q_graph_kcore",
        "q_dedup_setsim",
        "q_text_llr",
        "q_embed_ivfpq",
        "q_embed_pq_trained",
        # round 6: builder-time localCheckpoints (compact tables —
        # DSIR's (doc,bucket) combine, the 5-row lang table, winnow
        # fp sets, BPE's per-round vocab + top-pair rows)
        "q_sample_dsir",
        "q_sample_temperature",
        "q_dedup_winnow_pairs",
        "q_bpe_merges",
        # round 8: lattice trainers (k-means collects), the verify
        # checkpoint inside minhash_inc, the drift j-table checkpoint,
        # BPE merge training loops, winnow fp-set checkpoints
        "q_prune_prototypes",
        "q_diag_codebook_drift",
        "q_dedup_minhash_inc",
        "q_bpe_encode",
        "q_tokens_fertility_bpe",
        "q_dedup_winnow_inc",
        "q_multimodal_phash_dedup",
        "q_dedup_minhash_inc_fast",
        "q_embed_sq",  # eager 1-row stats checkpoint
        # round 9: the skew profile pins its (key, cnt) aggregate with
        # an eager checkpoint so totals + top-10 share one fact scan;
        # the incremental prefix dedups checkpoint their prefix slice
        # (the stored-index stand-in) and the verify candidates
        "q_diag_skew",
        "q_dedup_setsim_inc",
        "q_dedup_containment_inc",
        # round 10: eager checkpoints in the builders — doremi's
        # k-row corpus aggregates (the r9 q_sample_doremi belongs
        # here too), the bloom sketch's word table
        "q_sample_doremi",
        "q_sample_doremi_lm",
        "q_dedup_incremental_bloom",
        # round 10 (second block): the unigram-LM pair checkpoints
        # word-frequency vocabularies, seed pieces, and the
        # pointer-doubling rounds' reach/jump/closure frames
        "q_vocab_unigram_em",
        "q_vocab_unigram_loss",
        # round 10 (second block): the token drift counts checkpoint
        # for their two consumers (basket_pairs' persist is LAZY —
        # no build-time job, so it stays in the lazy sweep)
        "q_diag_token_drift",
    }
)


def sweep_all_windows(spark, plan_only: bool = False) -> list[tuple[str, str]]:
    """Suite-wide single-task-window audit over every registered query.

    COST NOTE: this builds every registered query's DataFrame to read
    its executed plan. Most builders are lazy (plan construction
    only), but the BUILDER_ACTION_QUERIES above run real jobs during
    construction, which couples the sweep to fixture availability and
    makes it minutes rather than seconds. Pass ``plan_only=True``
    (CLI: ``--plan-only``) to skip those; the default keeps the full
    guarantee."""
    failures = []
    for name, fn in registry.QUERIES.items():
        if plan_only and name in BUILDER_ACTION_QUERIES:
            continue
        plan = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        for line in unpartitioned_windows(plan):
            failures.append((name, line))
    return failures


def main() -> int:
    import sys

    plan_only = "--plan-only" in sys.argv[1:]
    registry.load_all()
    spark = get_spark("explain-audit")
    failures = []
    for name, needle, why in CHECKS:
        plan = (
            registry.QUERIES[name](spark, SF)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        if needle.startswith("!"):
            ok = needle[1:] not in plan
        elif needle.startswith("#"):
            count, _, sub = needle[1:].partition(":")
            ok = plan.count(sub) == int(count)
        else:
            ok = needle in plan
        print(f"  {'PASS' if ok else 'FAIL'}  {name:20s} {why}")
        if not ok:
            failures.append((name, needle))
    win_failures = sweep_all_windows(spark, plan_only=plan_only)
    for name, line in win_failures:
        print(f"  FAIL  {name:20s} single-task window: {line[:100]}")
    print(
        f"  {'FAIL' if win_failures else 'PASS'}  "
        f"suite-wide: no unpartitioned WindowExec across "
        f"{len(registry.QUERIES)} query plans"
    )
    failures.extend(win_failures)
    if failures:
        print(f"\n{len(failures)} plan regressions: {failures}")
        return 1
    print(f"\nall {len(CHECKS)} plan checks + window sweep hold")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
