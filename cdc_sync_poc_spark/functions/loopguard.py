"""Loop-prevention dedup — the reference's FN_IS_LOOP semantics.

Reference (poc/asis-oracle/init/04_create_procedures.sql:31-44): an event
is LOOP_BLOCKED iff an *applied* event with the same CHANGE_HASH exists
STRICTLY within the last 5 minutes (FN_IS_LOOP tests PROCESSED_AT >
SYSTIMESTAMP - 5 MIN, so a gap of exactly 5 minutes is NOT blocked);
blocked events are NOT recorded into CDC_PROCESSED_HASH, so they do not
extend the blocking window. Validation-failed events (stage 1 FAILED)
never reach SP_RECORD_HASH either, so they too leave the window
untouched. That makes the semantics sequential per hash: walk events in
time order; each event is blocked iff its gap from the LAST
APPLIED-AND-VALID event is under the window, and only unblocked valid
events refresh the state.

This is genuinely beyond SQL window functions (state depends on prior
*decisions*, not prior rows), so the batch form uses ``applyInPandas``
keyed by change_hash — the same sharding as its streaming twin,
``streaming/dedup.stateful_dedup`` (``applyInPandasWithState``). Both
run the one walk kernel below (``walk_kernel``) on rows flagged by the
one validity predicate (``stage1_invalid``); only the initial
last-applied timestamp differs (none in batch, the state store's in a
stream). Scale: state per key is one timestamp; groups are tiny (hash
collisions are rare); the shuffle is on the high-cardinality hash key
so it distributes evenly at 100 TB — no skew, no driver involvement.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

WINDOW_US = 5 * 60 * 1_000_000  # 5 minutes (FN_IS_LOOP interval, :40)


def stage1_invalid(df: DataFrame) -> Column:
    """Stage-1 validation failure (the st06 predicate ``prop_k > 95 OR
    val < 0.05``), null-safe: a NULL comparison is NOT a failure, the
    way the oracle's CASE falls through. A frame without ``prop_k`` and
    ``val`` reads as all-valid."""
    if not {"prop_k", "val"}.issubset(df.columns):
        return F.lit(False)
    return F.coalesce((F.col("prop_k") > 95) | (F.col("val") < 0.05), F.lit(False))


def walk_kernel() -> Callable:
    """The sequential FN_IS_LOOP walk over one hash's rows.

    ``walk(rows, last_applied_us)`` takes the rows (with ``ts``,
    ``cdc_seq`` and the ``__invalid`` flag) and the last applied time
    in epoch microseconds (None if the hash was never applied); it
    returns the rows sorted by (ts, cdc_seq) with ``loop_blocked``
    added, and the new last applied time. A row is blocked iff it lies
    strictly within the window of the last applied row; only unblocked
    valid rows become the last applied row.

    Built per call so that the function is a ``<locals>`` closure:
    cloudpickle ships it BY VALUE, while a module-level function goes
    by reference and needs this package importable on every Python
    worker — not true for a driver session started from an arbitrary
    working directory."""

    def walk(rows: pd.DataFrame, last_applied_us: int | None):
        rows = rows.sort_values(["ts", "cdc_seq"])
        blocked = []
        for ts, invalid in zip(rows["ts"], rows["__invalid"]):
            us = ts.value // 1000  # pandas ns -> us
            if last_applied_us is not None and us - last_applied_us < WINDOW_US:
                blocked.append(True)
            else:
                blocked.append(False)
                if not invalid:  # stage-1 failures never record the hash
                    last_applied_us = us
        rows["loop_blocked"] = blocked
        return rows, last_applied_us

    return walk


def with_loop_blocked(cdc: DataFrame) -> DataFrame:
    """Add boolean ``loop_blocked`` per the sequential greedy semantics.

    Input needs columns: change_hash, ts (timestamp), cdc_seq. Output =
    input columns + loop_blocked, same rows. Validation-failed rows
    (``stage1_invalid``) can be blocked but never refresh the window
    (SP_RECORD_HASH is skipped for stage-1 failures).

    Fast paths: a hash that occurs once can never be blocked, and with a
    high-cardinality content hash that is almost every row — those rows
    bypass Python entirely (broadcast anti join + literal false). A hash
    that occurs exactly TWICE is also closed-form (the second event is
    blocked iff the first was valid and the gap is under the window — no
    decision feedback yet), so pairs run as a lag() window, JVM-side.
    Only chains of length >= 3 — where blocking depends on prior
    DECISIONS — go through the Arrow/pandas walk, so the Python cost is
    O(hashes repeating 3+ times), not O(events); on a content-hash
    stream that set is typically EMPTY (the sf0.1 fixture has 138
    pairs, zero 3+ chains) and the walk stage runs over zero rows.
    At sf0.1 this is timing-neutral (measured: warm-up and steady
    state flat vs the pairs-through-pandas version) — the win is at
    scale, where pairs are the dominant duplicate class and keeping
    them JVM-side removes almost all Arrow transfer and Python-worker
    occupancy from the operator.
    """
    in_cols = [f.name for f in cdc.schema.fields]
    cdc = cdc.withColumn("__invalid", stage1_invalid(cdc))
    schema = T.StructType(
        list(cdc.schema.fields) + [T.StructField("loop_blocked", T.BooleanType())]
    )
    kernel = walk_kernel()

    def walk(group: pd.DataFrame) -> pd.DataFrame:
        return kernel(group, None)[0]

    # The three branches below (dup-set agg, anti join, semi join) each
    # recompute the sha256 change-hash from the raw events during the ONE
    # materialization of the persisted result. That recompute is
    # deliberate: scan+hash is cheap next to the walk, persisting the
    # input as well doubles the memory footprint for no reuse, and
    # persist-then-unpersist is a trap — Spark's non-cascading cache
    # invalidation (SPARK-24596) lazily RECOMPILES the dependent result
    # cache and drops its blocks, so every downstream consumer would
    # silently rebuild the walk. At 100 TB the hashed view would be a
    # persisted bronze table on storage, not an executor-memory cache.

    # duplicate-hash key set: aggregates hash->count with map-side combine
    # (only the 64-byte hash column moves, one row per distinct hash per
    # partition), then keeps the hashes seen more than once — a tiny set
    # for any content-hash stream, so it broadcasts. Rows with unique
    # hashes never shuffle at all (broadcast anti join is map-only);
    # pair hashes (exactly two occurrences) are exchanged for a lag()
    # window; only 3+ chains reach the pandas walk.
    counts = cdc.groupBy("change_hash").agg(F.count("*").alias("__n"))
    # The REPEATED-hash set persists (138 rows at sf0.1 — O(duplicate
    # keys)):
    # the three class filters below would otherwise each re-evaluate
    # the counts agg — three extra scan+hash+shuffle passes over the
    # raw events during the one materialization (measured ~2 s each at
    # sf0.1, the bulk of the st01 warmup cost). Never unpersisted — see
    # the SPARK-24596 note above; the broadcast joins already assume
    # this set is small, so pinning it adds no new scale assumption.
    dups = counts.filter(F.col("__n") > 1).persist()
    dup_hashes = dups.select("change_hash")
    pair_hashes = dups.filter(F.col("__n") == 2).select("change_hash")
    chain_hashes = dups.filter(F.col("__n") > 2).select("change_hash")
    singles = cdc.join(
        F.broadcast(dup_hashes), "change_hash", "left_anti"
    ).withColumn("loop_blocked", F.lit(False))
    w = Window.partitionBy("change_hash").orderBy("ts", "cdc_seq")
    pairs = (
        cdc.join(F.broadcast(pair_hashes), "change_hash", "left_semi")
        .withColumn(
            "loop_blocked",
            F.coalesce(
                ~F.lag("__invalid").over(w)
                & (
                    F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                    < F.lit(WINDOW_US)
                ),
                F.lit(False),
            ),
        )
        .select(*in_cols, "loop_blocked")
    )
    multis = (
        cdc.join(F.broadcast(chain_hashes), "change_hash", "left_semi")
        .groupBy("change_hash")
        .applyInPandas(walk, schema=schema)
        .select(*in_cols, "loop_blocked")
    )
    # persist the walked result: five downstream operators (st01, the
    # audit/classified family, ap05, pipeline_e2e) consume this exact
    # plan, and Spark's cache matches on plan equality so they all share
    # one materialization. (The streaming twin needs no cache — its
    # state store IS the materialization.)
    return (
        singles.select(*in_cols, "loop_blocked")
        .unionByName(pairs)
        .unionByName(multis)
        .persist()
    )


# DuckDB oracle twin of the same greedy walk (recursive CTE; rn-indexed
# sequential scan per hash group). Compose inside a WITH RECURSIVE that
# already defines `cdc`.
WALK_CTES = """
g AS (
  SELECT cdc_seq, pk, op, operation, ts, ts_ms, val, prop_k, change_hash,
         coalesce(prop_k > 95 OR val < 0.05, FALSE) AS invalid,
         row_number() OVER (PARTITION BY change_hash ORDER BY ts, cdc_seq) AS rn
  FROM cdc
),
walk AS (
  SELECT g.*, CASE WHEN g.invalid THEN NULL ELSE g.ts END AS last_applied,
         FALSE AS loop_blocked
  FROM g WHERE rn = 1
  UNION ALL
  SELECT g.*,
         CASE
           WHEN w.last_applied IS NOT NULL
                AND epoch_us(g.ts) - epoch_us(w.last_applied) < 300000000
             THEN w.last_applied
           WHEN g.invalid THEN w.last_applied
           ELSE g.ts
         END AS last_applied,
         coalesce(epoch_us(g.ts) - epoch_us(w.last_applied) < 300000000,
                  FALSE) AS loop_blocked
  FROM g JOIN walk w ON g.change_hash = w.change_hash AND g.rn = w.rn + 1
)
"""
