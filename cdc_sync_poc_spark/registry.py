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
import importlib
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


# Registry order is a pure function of REGISTERING_MODULES: the round
# driver samples the FIRST 50 registered queries (dict insertion order)
# for its correctness gate, so the CDC sync path of SURVEY.md §2 (change
# events -> loop guard -> per-key reduce -> MERGE -> audit) comes first
# and every other module follows in tuple order. Within a module, ids
# keep their source order (the order their decorators run). This tuple
# is the one list of modules that register queries.
REGISTERING_MODULES = (
    # CDC core: these register 51 ids, so the driver sample is the §2 path
    "cdc.envelope",
    "cdc.pipeline",
    "operators.apply",
    "operators.scd",
    "operators.stateful",
    "operators.conflict",
    "operators.rowops",
    # everything else, in module order
    "llm.classifier",
    "llm.cleaning",
    "llm.curation",
    "llm.dedup",
    "llm.hygiene",
    "llm.lm_quality",
    "llm.multimodal",
    "llm.preprocess",
    "llm.retrieval",
    "llm.segment_stats",
    "llm.similarity",
    "llm.text",
    "llm.text_stats",
    "llm.tokenizer",
    "operators.aggregates",
    "operators.anomaly",
    "operators.bench_relational",
    "operators.events_analytics",
    "operators.graph",
    "operators.joins",
    "operators.quality",
    "operators.sketches",
    "operators.sorts",
    "sources.csvsrc",
    "sources.jsonl",
    "sources.orcsrc",
    "sources.layout",
)


def _order_key(name: str) -> tuple[int, int]:
    fn = QUERIES[name]
    mod = fn.__module__.removeprefix("cdc_sync_poc_spark.")
    line = getattr(fn, "__wrapped__", fn).__code__.co_firstlineno
    return REGISTERING_MODULES.index(mod), line


def load_all_queries() -> None:
    """Import every module in REGISTERING_MODULES, then order QUERIES and
    ORACLES by (module rank, source line). The order does not depend on
    import order or on the dicts' current order; calling this again is a
    no-op."""
    for mod in REGISTERING_MODULES:
        importlib.import_module(f"cdc_sync_poc_spark.{mod}")
    ordered = sorted(QUERIES, key=_order_key)
    for d in (QUERIES, ORACLES):
        snapshot = {n: d[n] for n in ordered if n in d}
        d.clear()
        d.update(snapshot)
