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

This is beyond SQL window functions (state depends on prior
*decisions*, not prior rows), so the guard is a keyed fold: one group
per change_hash, its events sorted by (ts, cdc_seq) and walked by
``loop_walk``, a SQL ``aggregate`` whose state is the last applied
time — all JVM-side, no Python worker. Two callers share that one
walk:

* the batch form, ``with_loop_blocked``, seeds it with null;
* the stream form, the guard of ``streaming/writer.ParquetMergeWriter``
  (``streaming/dedup.guard_walk``), seeds it with each hash's last
  applied time from its guard store, inside the same one-partition
  plan as the MERGE.

Both flag invalid rows with the one validity predicate
(``stage1_invalid``); ``tests/test_tws_dedup.py`` cross-checks the
stream guard against the batch fold and the DuckDB ``WALK_CTES``.
``walk_kernel`` (the same rule in pandas) is left only for the
benchmark's traced stream composition. Scale: state per key is one
timestamp; groups are tiny (hash collisions are rare); the batch
shuffle is on the high-cardinality hash key so it distributes evenly at
100 TB — no skew, no driver involvement.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

WINDOW_US = 5 * 60 * 1_000_000  # 5 minutes (FN_IS_LOOP interval, :40)
# The stream guard's state TTL (SP_CLEANUP_HASH, st03: hashes older than
# 10 minutes are deleted). Compaction evicts a hash whose last applied
# time is more than this behind the second-newest one it folds (event
# times come from outside, and one far-future event must not evict
# every other hash). A very late event — more than TTL - WINDOW (5
# minutes) behind that folded event time — whose hash was evicted is
# therefore applied where the unbounded walk would block it; the
# reference's cleanup job has the same gap. Later events are
# unaffected: an evicted hash's window had closed long before them.
HASH_TTL_US = 10 * 60 * 1_000_000


def stage1_invalid(df: DataFrame) -> Column:
    """Stage-1 validation failure (the st06 predicate ``prop_k > 95 OR
    val < 0.05``), null-safe: a NULL comparison is NOT a failure, the
    way the oracle's CASE falls through. A frame without ``prop_k`` and
    ``val`` reads as all-valid."""
    if not {"prop_k", "val"}.issubset(df.columns):
        return F.lit(False)
    return F.coalesce((F.col("prop_k") > 95) | (F.col("val") < 0.05), F.lit(False))


def walk_kernel() -> Callable:
    """The sequential FN_IS_LOOP walk over one hash's rows, in pandas,
    for ``streaming/dedup.stateful_dedup``. Neither is on the shipped
    stream, whose guard folds with ``loop_walk``; both stay only while
    the benchmark's traced stream composition
    (``perfbench/streams.py::start_pipeline``) imports
    ``stateful_dedup``, and go with the benchmark change that re-points
    it.

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


def loop_walk(evs: Column, last: Column) -> Column:
    """The one FN_IS_LOOP walk: ``aggregate`` over ``evs``, one hash's
    events as structs (``us`` epoch microseconds, ``cdc_seq``,
    ``invalid``, ...) sorted by (us, cdc_seq), from ``last``, the
    hash's last applied time (null if never applied). Returns
    struct(``last``: the new last applied time, ``blocked``: one flag
    per event). An event is blocked iff it lies strictly within the
    window of the last applied event; only unblocked valid events
    become the last applied event."""

    def step(acc: Column, e: Column) -> Column:
        blocked = acc["last"].isNotNull() & (e["us"] - acc["last"] < WINDOW_US)
        return F.struct(
            F.when(blocked | e["invalid"], acc["last"])
            .otherwise(e["us"])
            .alias("last"),
            F.array_append(acc["blocked"], blocked).alias("blocked"),
        )

    start = F.struct(
        last.cast("long").alias("last"),
        F.array().cast("array<boolean>").alias("blocked"),
    )
    return F.aggregate(evs, start, step)


def with_loop_blocked(cdc: DataFrame) -> DataFrame:
    """Add boolean ``loop_blocked`` per the sequential greedy semantics.

    Input needs columns: change_hash, ts (timestamp), cdc_seq. Output =
    input columns + loop_blocked, same rows. Validation-failed rows
    (``stage1_invalid``) can be blocked but never refresh the window
    (SP_RECORD_HASH is skipped for stage-1 failures).

    One keyed fold: each hash's events are collected, sorted by (ts,
    cdc_seq) and walked by ``loop_walk`` from a null last applied
    time, then exploded back to rows. A hash seen once folds one
    element and is never blocked, so singles need no bypass. The
    shuffle is the one hash-keyed exchange; groups are
    hash-collision-sized."""
    event = F.struct(
        F.unix_micros("ts").alias("us"),
        F.col("cdc_seq"),
        stage1_invalid(cdc).alias("invalid"),
        F.struct(*cdc.columns).alias("row"),
    )
    walked = (
        cdc.groupBy("change_hash")
        .agg(F.array_sort(F.collect_list(event)).alias("evs"))
        .select(
            "evs",
            loop_walk(F.col("evs"), F.lit(None))["blocked"].alias("blocked"),
        )
    )
    # persist the walked result: five downstream operators (st01, the
    # audit/classified family, ap05, pipeline_e2e) consume this exact
    # plan, and Spark's cache matches on plan equality so they all share
    # one materialization. (The stream guard needs no cache — its
    # guard store IS the materialization.)
    return flagged_rows(walked).persist()


def flagged_rows(walked: DataFrame) -> DataFrame:
    """A walk's events back as rows: each ``evs`` element's ``row``
    with its ``blocked`` flag as ``loop_blocked``."""
    return walked.select(F.posexplode("evs").alias("i", "e"), "blocked").select(
        "e.row.*", F.col("blocked")[F.col("i")].alias("loop_blocked")
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
