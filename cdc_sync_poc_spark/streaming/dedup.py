"""Streaming loop-prevention (SURVEY §2.6 st01-st03, streaming twins).

Two tiers, by fidelity:

* ``watermark_dedup`` — built-in ``dropDuplicatesWithinWatermark`` on
  change_hash with a 5-minute watermark: drops any event whose hash was
  seen within the watermark window. State eviction (st03's 10-minute
  SP_CLEANUP_HASH job) is automatic watermark GC — no cleanup job at
  all. Fully JVM-side, in Spark's default HDFS-backed state store (no
  provider is configured). First-seen-wins within the window — NOT the
  exact sequential semantics. The catch-up phase of the benchmark runs
  it.
* ``LoopGuardStore`` — the reference's exact sequential semantics
  (blocked and validation-failed events do NOT refresh the window —
  FN_IS_LOOP + SP_RECORD_HASH,
  poc/asis-oracle/init/04_create_procedures.sql:31-44), run inside the
  MERGE writer's ``foreachBatch`` (``run_stream_pipeline(dedup=
  "stateful")``). Each hash's last applied time lives in a
  string-keyed ``LastWinsDeltaStore``, so the guard has the MERGE
  writer's replay argument: batch N's guard delta is a pure function of
  the batch and the pre-batch guard snapshot. ``guard_walk`` folds each
  hash's batch events with ``functions/loopguard.loop_walk`` — the walk
  the batch ``with_loop_blocked`` runs — seeded with the snapshot's
  last applied time, in one partition with no exchange while the
  guard snapshot it reads fits one task. Compaction evicts hashes more
  than ``HASH_TTL_US`` (10 minutes, st03) behind the second-newest
  folded one, so the state stays bounded and one far-future event
  cannot empty it; the very-late-event case this opens is documented
  at ``HASH_TTL_US``.
  ``tests/test_tws_dedup.py`` checks that the guard blocks the rows the
  batch walk and the DuckDB ``WALK_CTES`` block.

``stateful_dedup`` (``applyInPandasWithState`` over
``functions/loopguard.walk_kernel``) is off the shipped stream; it stays
only while the benchmark's traced stream composition imports it.
"""

from __future__ import annotations

import shutil

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_sync_poc_spark.functions.loopguard import (
    HASH_TTL_US,
    loop_walk,
    stage1_invalid,
    walk_kernel,
)
from cdc_sync_poc_spark.streaming.delta_store import LastWinsDeltaStore

LOOP_WINDOW = "5 minutes"  # FN_IS_LOOP interval (:40)


def watermark_dedup(cdc: DataFrame, watermark: str = LOOP_WINDOW) -> DataFrame:
    """Built-in streaming dedup: first event per hash passes, duplicates
    within the watermark window are dropped silently."""
    return cdc.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["change_hash"]
    )


class LoopGuardStore(LastWinsDeltaStore):
    """The stream loop guard's state: one row per change_hash holding
    ``last_us``, its last applied event time in epoch microseconds.
    Rows are never tombstoned; compaction drops the hashes whose
    ``last_us`` is more than ``HASH_TTL_US`` behind the clock of the
    rows it folds. That clock is their second-newest ``last_us``, so
    one far-future event cannot evict every other hash (it takes two),
    and it is a function of the folded rows, so a replay cannot move
    the cutoff."""

    def __init__(self, spark: SparkSession, root: str, n_buckets: int = 16):
        super().__init__(
            spark, root, "change_hash", "change_hash string, last_us long",
            n_buckets,
        )
        self.root = root

    def clear(self) -> None:
        """Forget every hash by deleting the store's directory: the
        guard's init, which starts no Spark job."""
        shutil.rmtree(self.root, ignore_errors=True)

    def _fold(self, rows: DataFrame) -> DataFrame:
        live = self.newest(rows).filter(~F.col("deleted"))
        newest_first = Window.orderBy(F.desc("last_us")).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        clock = F.coalesce(
            F.nth_value("last_us", 2).over(newest_first), F.col("last_us")
        )
        return self._with_watermark_row(
            live.withColumn("clock", clock).filter(
                F.col("last_us") >= F.col("clock") - HASH_TTL_US
            )
        )

    def write_walk(self, walked: DataFrame, batch_id: int) -> None:
        """Batch N's guard delta: the hashes whose last applied time the
        walk moved."""
        last = F.col("last")
        self.write_delta(
            walked.filter(last.isNotNull() & ~last.eqNullSafe(F.col("seed"))).select(
                "change_hash", last.alias("last_us"), F.lit(False).alias("deleted")
            ),
            batch_id,
        )


def guard_walk(events: DataFrame, snap: DataFrame, one_task: bool) -> DataFrame:
    """The stream guard's fold: one row per batch hash with ``seed``
    (its newest snapshot ``last_us``), ``evs`` (its batch events,
    sorted), and the walk's ``last`` and ``blocked``.

    ``events`` holds ``change_hash``, ``us`` (event time in epoch
    microseconds), ``invalid`` and the MERGE writer's op columns
    (``cdc_seq``, ``pk``, ``operation``, ``val``), which each event
    carries as its ``row``; ``snap`` is the guard store's pre-batch
    snapshot rows. With ``one_task`` both sides go into one partition,
    whose ``SinglePartition`` satisfies the group-by's clustered
    distribution, so the plan has no exchange. Snapshot-only hashes
    fold no event and are dropped."""
    event = F.struct(
        "us", "cdc_seq", "invalid",
        F.struct("cdc_seq", "pk", "operation", "val").alias("row"),
    )
    rows = events.select("change_hash", event.alias("ev")).unionByName(
        snap.select("change_hash", "last_us", "batch_id"), allowMissingColumns=True
    )
    if one_task:
        rows = rows.coalesce(1)
    return (
        rows.groupBy("change_hash")
        .agg(
            F.array_sort(F.collect_list("ev")).alias("evs"),
            F.max_by("last_us", "batch_id").alias("seed"),
        )
        .filter(F.size("evs") > 0)
        .select(
            "change_hash", "seed", "evs",
            loop_walk(F.col("evs"), F.col("seed")).alias("walk"),
        )
        .select("change_hash", "seed", "evs", "walk.last", "walk.blocked")
    )


def stateful_dedup(cdc: DataFrame) -> DataFrame:
    """Streaming loop-guard via applyInPandasWithState keyed by
    change_hash: emits every row with a loop_blocked flag, carrying
    last-applied state across micro-batches through the checkpointed
    state store. Not on the shipped stream, whose guard is
    ``LoopGuardStore`` inside the MERGE writer; it stays only because
    the benchmark's traced stream composition
    (``perfbench/streams.py::start_pipeline``) imports it, and goes with
    the benchmark change that re-points that composition. Its state
    never expires (``GroupStateTimeout.NoTimeout``)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    kernel = walk_kernel()

    def guard_fn(key, pdfs, state):
        rows, last = kernel(
            pd.concat(list(pdfs)), state.get[0] if state.exists else None
        )
        if last is not None:
            state.update((int(last),))
        yield rows

    flagged = cdc.withColumn("__invalid", stage1_invalid(cdc))
    schema = T.StructType(
        list(flagged.schema.fields) + [T.StructField("loop_blocked", T.BooleanType())]
    )
    return (
        flagged.groupBy("change_hash")
        .applyInPandasWithState(
            guard_fn,
            outputStructType=schema,
            stateStructType="last_applied_us LONG",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        .drop("__invalid")
    )
