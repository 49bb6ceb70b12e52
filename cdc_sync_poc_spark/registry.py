"""Query registry — the driver contract surface.

Every operator from SURVEY.md §2 registers here as a named query
``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) a DuckDB
oracle SQL string over the fixture views (``region nation customer
supplier part orders lineitem events documents embeddings``).

``__spark_entry__.queries()`` / ``oracle_sql()`` simply expose these
dicts. Column names are aliased identically on both sides because the
driver's compare sorts columns by name before hashing values.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# ---- plan memo (optimization round 14) -------------------------------
#
# Registered query builders are (spark, sf_dir) -> DataFrame, and for
# 250 of the 256 registered ids the builder is PURE PLAN ASSEMBLY: it
# fires zero Spark jobs and computes nothing from data — it only pays
# Python + py4j round trips to assemble the same logical plan every
# call (measured r14: ~50 s of construction across one pass of the 168
# benched queries, ~0.2-1.3 s each — comparable to the execution time
# at bench SF, and pure serial driver overhead at any scale). QUERIES
# therefore serves a per-(application, sf_dir) memo of the UNEXECUTED
# DataFrame handle — the prepared-statement pattern: the plan is built
# once per session, every action against it still executes against the
# parquet inputs. This is a plan cache, never a result cache; it is
# exactly the per-query memo pattern the lsh-curve/resplit plans
# already used, applied uniformly.
#
# PLAN_MEMO_EXCLUDE lists the builders whose CONSTRUCTION computes
# data (driver-side fixpoints/collects or eager materializations) —
# memoizing those would cache results across invocations, which the
# bench/driver contract forbids. Membership is measured, not guessed:
# a builder is excluded iff a warm re-construction still fires Spark
# jobs (tests/test_bench_contract.py pins the census).
#
# The raw (unmemoized) builder stays importable from its module —
# @register returns fn unchanged — so property tests that re-bind
# inputs via mock.patch keep exercising fresh plans.
PLAN_MEMO_EXCLUDE = {
    "dedup_minhash_cluster_incremental",  # driver union-find per call
    "emb_pq_error",        # eager codebook job at construction
    "emb_proto_prune",     # eager localCheckpoint of the scored frame
    "events_pagerank",     # driver-side power iteration per call
    "graph_pagerank_dist",  # eager count + iteration scaffolding
    "graph_pagerank_mass",  # eager count/dangling check per call
}

_PLAN_MEMO: dict[tuple[str, str, str], DataFrame] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` under ``name``; ``oracle`` is DuckDB SQL or None
    for non-SQL-expressible ops (driver then records a rows-only check).
    Pure-plan builders are served through the plan memo (above)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query id: {name}")
        if name in PLAN_MEMO_EXCLUDE:
            QUERIES[name] = fn
        else:

            @functools.wraps(fn)
            def memoized(spark: SparkSession, sf_dir: str) -> DataFrame:
                key = (spark.sparkContext.applicationId, sf_dir, name)
                df = _PLAN_MEMO.get(key)
                if df is None:
                    df = fn(spark, sf_dir)
                    _PLAN_MEMO[key] = df
                return df

            QUERIES[name] = memoized
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# The driver samples the FIRST 50 registered queries (dict insertion
# order) for its CORRECTNESS gate; the sample rotates per round so every
# query eventually carries fresh driver evidence.
#
# WINDOW_STAGED_FOR anchors the ratchet (VERDICT r10 "What's wrong" #1):
# the window below is staged FOR that driver round, so the ratchet tests
# compare it against CORRECTNESS_r{WINDOW_STAGED_FOR-1} (zero overlap)
# and compute staleness from evidence files with round <
# WINDOW_STAGED_FOR only — green at every lifecycle point, including
# after the driver writes this round's own evidence file.
#
# Round 15 stages TAINT OVER STALENESS (VERDICT r14 "Next round" #3,
# the touched-oracle-taint principle): every query REWRITTEN in the
# r14/r15 optimization rounds whose newest driver evidence predates
# the rewrite goes in first, because changed code outranks stale
# evidence. 33 forced ids: the 6 r9-evidence stragglers displaced in
# r14 (ann_recall_*, sim_ann_topk_all, sim_topk_bruteforce — the
# oldest-tail obligation), 8 rewritten ids whose r10 evidence was the
# oldest tail anyway, and 19 rewritten ids with NEWER (r11-r14)
# evidence — those 19 are listed in WINDOW_TAINTED below because they
# jump the staleness queue (and one, bench_q20_dominant, even repeats
# from the r14 sample: its r14 rewrite landed after the driver
# capture). The remaining 17 slots fill from the r10-evidence tail in
# tools/next_window.py order.
WINDOW_STAGED_FOR = 15

# Rewritten-after-evidence ids staged OUT of staleness order (the
# taint exemption the ratchet tests honor): each was rewritten in
# r14 (commits 2651f6d..fa58066) or r15 (this round) AFTER its newest
# CORRECTNESS_r*.json evidence was captured. Derived with
# tools/touched_oracle.py module->id mapping over the two rounds'
# diffs; every id also passed the local sf0.01 exact-oracle gate
# after its rewrite.
WINDOW_TAINTED = {
    # r14 rewrites, evidence r11-r13 (VERDICT r14 "What's wrong" #3)
    "text_bm25_rank", "corpus_decontam_incremental",
    "dedup_recall_minhash", "emb_covariance_topk",
    "corpus_divergence_chi2", "dedup_span_intervals", "mm_dedup_phash",
    "ann_recall_ivf_stream", "graph_pagerank_dist",
    "clf_calibration_by_length", "emb_ivf_resplit",
    # r14 rewrite that landed AFTER the r14 driver capture (evidence
    # r14 but post-snapshot commit fa58066 — re-confirmation ordered
    # by VERDICT r14 #3)
    "bench_q20_dominant",
    # r15 rewrites, evidence r11-r13
    "dedup_winnowing_pairs", "text_winnowing_overlap",
    "dedup_line_global", "ap09_reconciliation", "events_kmv_distinct",
    "corpus_contamination_by_source", "maint_zorder_layout",
}

# Exact 50-id window (exact match, not prefix — prefix staging risked
# a new id silently colliding into the window, e.g. sample_fixed_n /
# sample_fixed_n_by_lang share a prefix).
DRIVER_WINDOW = [
    # ---- the r15 driver window ----
    # the 6 r9-evidence stragglers displaced by r14's new operators
    "ann_recall_ivf", "ann_recall_ivfpq", "ann_recall_lsh",
    "ann_recall_truncated", "sim_ann_topk_all", "sim_topk_bruteforce",
    # r14/r15 rewrites whose r10 evidence is the oldest tail anyway
    "events_funnel", "text_cooccur_lift", "text_lm_score",
    "text_ngram_novelty", "emb_hard_negatives", "dedup_lsh_curve",
    "corpus_contamination", "bench_q21_waiting",
    # the 19 tainted ids (WINDOW_TAINTED above)
    "text_bm25_rank", "corpus_decontam_incremental",
    "dedup_recall_minhash", "emb_covariance_topk",
    "corpus_divergence_chi2", "dedup_span_intervals", "mm_dedup_phash",
    "ann_recall_ivf_stream", "graph_pagerank_dist",
    "clf_calibration_by_length", "emb_ivf_resplit", "bench_q20_dominant",
    "dedup_winnowing_pairs", "text_winnowing_overlap",
    "dedup_line_global", "ap09_reconciliation", "events_kmv_distinct",
    "corpus_contamination_by_source", "maint_zorder_layout",
    # r10-evidence tail fill (tools/next_window.py order)
    "bench_q10_returned", "bench_q11_important", "bench_q12_latemix",
    "bench_q13_custdist", "bench_q14_promo", "bench_q15_top_supplier",
    "bench_q19_disjunctive", "bench_q22_idle_balance",
    "bench_q4_priority", "bench_q6_forecast", "bench_q7_volume",
    "bench_q8_mktshare", "bench_q9_profit",
    "corpus_dedup_rate_by_source", "corpus_mix_weights",
    "corpus_train_split", "events_concurrency",
    # ---- 50-query driver window ends here ----
]

# Tail ordering behind the cutoff — staging order only, not evidence.
# Prefix match, first hit wins; unmatched ids keep relative order at
# the end. Next in line for r16: the rest of the r10-evidence tail
# (dedup_minhash_* / dedup_ngram / events_* cohort) — recompute
# exactly from CORRECTNESS_r*.json with tools/next_window.py before
# staging.
_PRIORITY_PREFIXES = [
    "a0", "a1", "ap0", "ap1", "pipeline_", "bench_q1", "bench_q2",
    "cf0", "j0",
    "corpus_", "sample_", "emb_", "events_", "text_",
    "dedup_", "dup_", "bench_",
    "graph_pagerank", "mm_", "sim_",
    "source_",
    "r0", "r1", "s0", "src_",
    "st0",
    "sink_",
    "retrieval_", "slice_",
    "sem_", "llm_", "dsir_",
    "plan_", "gopher_", "bpe_", "dq_", "maint_",
    "pii_", "doc_", "seq_", "pack_", "train_",
]


def _priority(name: str) -> tuple[int, int]:
    if name in DRIVER_WINDOW:
        return (0, DRIVER_WINDOW.index(name))
    for i, p in enumerate(_PRIORITY_PREFIXES):
        if name.startswith(p):
            return (1, i)
    return (2, 0)


def load_all_queries() -> None:
    """Import every module that registers queries, then order the
    registry so the driver's 50-query sample covers the §2 core and
    everything changed this round (idempotent)."""
    import cdc_sync_poc_spark.cdc.envelope  # noqa: F401
    import cdc_sync_poc_spark.cdc.pipeline  # noqa: F401
    import cdc_sync_poc_spark.llm.classifier  # noqa: F401
    import cdc_sync_poc_spark.llm.cleaning  # noqa: F401
    import cdc_sync_poc_spark.llm.curation  # noqa: F401
    import cdc_sync_poc_spark.llm.dedup  # noqa: F401
    import cdc_sync_poc_spark.llm.hygiene  # noqa: F401
    import cdc_sync_poc_spark.llm.lm_quality  # noqa: F401
    import cdc_sync_poc_spark.llm.multimodal  # noqa: F401
    import cdc_sync_poc_spark.llm.preprocess  # noqa: F401
    import cdc_sync_poc_spark.llm.retrieval  # noqa: F401
    import cdc_sync_poc_spark.llm.segment_stats  # noqa: F401
    import cdc_sync_poc_spark.llm.similarity  # noqa: F401
    import cdc_sync_poc_spark.llm.text  # noqa: F401
    import cdc_sync_poc_spark.llm.text_stats  # noqa: F401
    import cdc_sync_poc_spark.llm.tokenizer  # noqa: F401
    import cdc_sync_poc_spark.operators.aggregates  # noqa: F401
    import cdc_sync_poc_spark.operators.anomaly  # noqa: F401
    import cdc_sync_poc_spark.operators.apply  # noqa: F401
    import cdc_sync_poc_spark.operators.bench_relational  # noqa: F401
    import cdc_sync_poc_spark.operators.conflict  # noqa: F401
    import cdc_sync_poc_spark.operators.events_analytics  # noqa: F401
    import cdc_sync_poc_spark.operators.graph  # noqa: F401
    import cdc_sync_poc_spark.operators.joins  # noqa: F401
    import cdc_sync_poc_spark.operators.quality  # noqa: F401
    import cdc_sync_poc_spark.operators.rowops  # noqa: F401
    import cdc_sync_poc_spark.operators.sketches  # noqa: F401
    import cdc_sync_poc_spark.operators.sorts  # noqa: F401
    import cdc_sync_poc_spark.operators.scd  # noqa: F401
    import cdc_sync_poc_spark.operators.stateful  # noqa: F401
    import cdc_sync_poc_spark.sources.csvsrc  # noqa: F401
    import cdc_sync_poc_spark.sources.jsonl  # noqa: F401
    import cdc_sync_poc_spark.sources.orcsrc  # noqa: F401
    import cdc_sync_poc_spark.sources.layout  # noqa: F401

    ordered = sorted(QUERIES, key=_priority)
    for d in (QUERIES, ORACLES):
        snapshot = {n: d[n] for n in ordered if n in d}
        d.clear()
        d.update(snapshot)
