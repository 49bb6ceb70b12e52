"""foreachBatch MERGE writer (SURVEY §2.7 ap01-ap05, streaming side),
merge-on-read on the shared delta-store recipe
(streaming/delta_store.py::LastWinsDeltaStore), with the stream's loop
guard (streaming/dedup.py::LoopGuardStore) folded into the same batch.

Per micro-batch N (the 5 s trigger replaces the reference's Oracle
Scheduler job, st04), in one partition while the inputs fit one task —
the batch is bounded by the source's per-trigger cap, each snapshot by
its touched buckets' bytes against ``ONE_TASK_BYTES``, and
``SinglePartition`` satisfies every keyed aggregate's clustered
distribution, so the plan has no exchange and no broadcast:

1. the batch is persisted once (filled in parallel, then read as one
   partition), and one driver ``collect`` gives each store the base
   buckets its keys touch (``LastWinsDeltaStore.begin_batch``: compact
   if due, read the immutable pre-batch snapshot of those buckets). A
   snapshot past one task's bytes is cut to the batch keys by a
   broadcast semi-join instead, and its aggregate shuffles;
2. with a guard (``guard_dir``), ``dedup.guard_walk`` folds each
   change_hash's events from its snapshot ``last_us`` with the batch
   loop guard's walk; the hashes whose ``last_us`` moved become the
   guard delta ``batch_id=N``, and blocked events leave the batch;
3. one keyed aggregate over the kept rows and the MERGE snapshot rows
   (``_decide``) is both the per-key batch reduction and the probe: the
   deciding row per key — ``strategy="last_wins"`` (default: the newest
   row, s01/ap01 semantics) or ``strategy="net"`` (ap08's net_effect
   compaction first: replay-exact ap06 semantics at any batch
   granularity, each key still written once) — beside ``exists``,
   whether the key's newest snapshot row is live, which decides every
   key as in operators/apply.py::merge_final_state;
4. two more outputs, each owned by batch N and written with
   mode=overwrite: ``deltas/batch_id=N`` (an upsert row per applied
   key, a tombstone per DELETE of an existing key; an UPDATE or DELETE
   of a missing key writes nothing, ap03/ap04) and the audit partition
   ``audit/batch_id=N`` (sink_audit_log statuses: TARGET_NOT_FOUND
   log, and LOOP_BLOCKED for each event the guard blocked).

A warm guarded batch runs six Spark jobs: the collect, the three
writes, and (AQE plans a cache as its own query stage) one job each to
fill the batch and decided-keys caches. The guard walk is not cached:
re-running it over the cached batch costs less than a seventh job. A
read (``current_state``) is the newest row per pk over base ∪
live deltas, tombstones dropped. A batch writes O(changed keys) rows;
the base (hash-bucketed by pk, ``n_buckets`` partitions, so a batch
with fewer keys than buckets opens only the buckets it needs) is
rewritten only by compaction.

Replay/crash semantics (at-least-once foreachBatch made effectively
exactly-once):

* a batch's outputs are a pure function of the batch and its
  snapshots, and a replay of N sees the same snapshots: no partition
  >= N is part of either, and compaction never folds the running batch.
  A replay therefore overwrites all of N's partitions with the same
  rows, audit statuses included — whichever write a crash interrupted
  (the guard delta is written first, then the MERGE delta, then the
  audit).
* compaction (``LastWinsDeltaStore.begin_batch``, the batch-start
  step this writer shares with the SCD2 writer: at the start of a
  batch N once ``_compact_at`` delta partitions are live, folding
  batches <= N-1) swaps a base atomically through SwapStore with the
  watermark inside it; a crash between its renames is healed before the
  next read, and folded-but-not-yet-deleted partitions are ignored by
  the watermark. A batch at or below either store's watermark was fully
  applied before it was folded, so its replay is a no-op.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_sync_poc_spark.functions.loopguard import flagged_rows, stage1_invalid
from cdc_sync_poc_spark.streaming.dedup import (
    LoopGuardStore,
    guard_walk,
    watermark_dedup,
)
from cdc_sync_poc_spark.streaming.delta_store import (
    LastWinsDeltaStore,
    LastWinsWriter,
)
from cdc_sync_poc_spark.streaming.util import persisted

# The snapshot bytes one task reads: Spark's default
# spark.sql.files.maxPartitionBytes, the input it gives one scan task.
ONE_TASK_BYTES = 128 * 1024 * 1024


def _ops(changes: DataFrame, strategy: str) -> DataFrame:
    """The rows the decide aggregate reduces: (cdc_seq, pk, operation,
    val, first_op). ``last_wins``: the changes as they are. ``net``:
    ap08's net_effect — each key's in-batch op sequence compacts to its
    replay-exact net op; the key's LAST real cdc_seq rides along so
    audit rows keep a joinable sequence number, and first_op rides
    along so a net DELETE of a key CREATED in the same batch is not
    audited TARGET_NOT_FOUND."""
    rows = changes.select("cdc_seq", "pk", "operation", "val")
    if strategy == "net":
        from cdc_sync_poc_spark.operators.apply import net_effect

        last_seq = rows.groupBy("pk").agg(F.max("cdc_seq").alias("cdc_seq"))
        return net_effect(rows).join(last_seq, "pk").select(
            "cdc_seq",
            "pk",
            F.col("net_op").alias("operation"),
            F.col("net_val").alias("val"),
            "first_op",
        )
    # last-wins audits the literal surviving op; no net algebra, so no
    # in-batch-creation exemption applies
    return rows.withColumn("first_op", F.lit(None).cast("string"))


def _decide(ops: DataFrame, snap: DataFrame, one_task: bool) -> DataFrame:
    """The per-key reduce and the probe in one keyed aggregate: each key
    of ``ops`` with its newest op (``max_by`` on cdc_seq) beside
    ``exists`` — whether its newest ``snap`` row (by batch_id) is a live
    row. With ``one_task`` both sides go into one partition, so the
    aggregate needs no exchange; snapshot-only keys carry no op and are
    dropped."""
    rows = ops.select(
        "pk",
        F.struct("cdc_seq", "operation", "val", "first_op").alias("op"),
        F.col("cdc_seq").alias("seq"),
    ).unionByName(snap.select("pk", "deleted", "batch_id"), allowMissingColumns=True)
    if one_task:
        rows = rows.coalesce(1)
    return (
        rows.groupBy("pk")
        .agg(
            F.max_by("op", "seq").alias("op"),
            F.coalesce(~F.max_by("deleted", "batch_id"), F.lit(False)).alias(
                "exists"
            ),
        )
        .filter(F.col("op").isNotNull())
        .select("op.*", "pk", "exists")
    )


class ParquetMergeWriter(LastWinsWriter):
    """MERGE-into-parquet state maintainer for foreachBatch: one delta
    partition per micro-batch over a pk-hash-bucketed compacted base,
    behind the stream loop guard when ``guard_dir`` is given."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        audit_dir: str,
        n_buckets: int = 16,
        strategy: str = "last_wins",
        guard_dir: str | None = None,
    ):
        if strategy not in ("last_wins", "net"):
            raise ValueError(f"unknown merge strategy: {strategy}")
        self.spark = spark
        self.state_dir = state_dir
        self.audit_dir = audit_dir
        self.n_buckets = n_buckets
        # "last_wins": ap01 semantics — the newest row per key decides
        #   (in-batch chains collapse; the documented batch-MERGE form).
        # "net": ap08's net_effect — each key's in-batch op SEQUENCE
        #   compacts to its replay-exact net op (ap06 semantics at any
        #   batch granularity; see test_writer_net_strategy_matches_
        #   sequential_replay). Same decision table either way: the net
        #   op vocabulary {UPSERT, UPDATE, DELETE} flows through the
        #   last-wins rules unchanged (UPSERT = unconditional
        #   create-or-update, exactly how INSERT is treated).
        self.strategy = strategy
        self.store = LastWinsDeltaStore(
            spark, state_dir, "pk", "pk long, name string, acctbal double",
            n_buckets,
        )
        self.guard = (
            None if guard_dir is None
            else LoopGuardStore(spark, guard_dir, n_buckets)
        )

    def init_state(self, base: DataFrame) -> None:
        """Reset the MERGE state to ``base`` and forget every guarded
        hash (the guard's reset deletes its directory; no Spark job)."""
        self.store.reset(
            base.select(
                F.col("c_custkey").cast("long").alias("pk"),
                F.col("c_name").cast("string").alias("name"),
                F.col("c_acctbal").cast("double").alias("acctbal"),
            )
        )
        if self.guard is not None:
            self.guard.clear()

    def current_state(self) -> DataFrame:
        return self.store.live().select("pk", "name", "acctbal")

    def apply_batch(self, changes: DataFrame, batch_id: int) -> None:
        """The foreachBatch body: one collect for both stores'
        batch-start steps, the guard walk, then one decide aggregate ->
        guard delta, MERGE delta and audit partitions."""
        stores = [self.store]
        cols = ["cdc_seq", "pk", "operation", "val"]
        if self.guard is not None:
            stores.append(self.guard)
            cols += [
                "change_hash",
                F.unix_micros("ts").alias("us"),
                stage1_invalid(changes).alias("invalid"),
            ]
        # cached as the input is partitioned, so the cache fills in
        # parallel; every plan reads it as ONE partition, since the
        # source's per-trigger cap bounds it
        with persisted(changes.select(*cols)) as cached:
            batch = cached.coalesce(1)
            touched = batch.select(*[s.bucket() for s in stores]).distinct().collect()
            snaps, one_task = [], []
            for i, s in enumerate(stores):
                buckets = {r[i] for r in touched}
                snaps.append(s.begin_batch(buckets, batch_id, self._compact_at()))
                # a snapshot past one task's bytes is cut to the batch
                # keys first, and its aggregate shuffles
                one_task.append(s.snapshot_bytes(buckets, batch_id) <= ONE_TASK_BYTES)
                if snaps[i] is not None and not one_task[i]:
                    snaps[i] = snaps[i].join(
                        F.broadcast(batch.select(s.key)), s.key, "left_semi"
                    )
            if any(snap is None for snap in snaps):
                return
            blocked = None
            if self.guard is not None:
                walked = guard_walk(batch, snaps[1], one_task[1])
                self.guard.write_walk(walked, batch_id)
                flagged = flagged_rows(walked)
                batch = flagged.filter(~F.col("loop_blocked"))
                blocked = flagged.filter(F.col("loop_blocked"))
            with persisted(
                _decide(_ops(batch, self.strategy), snaps[0], one_task[0])
            ) as decided:
                self._write(decided, batch_id, blocked)

    def _write(
        self, decided: DataFrame, batch_id: int, blocked: DataFrame | None
    ) -> None:
        """Batch N's MERGE delta and audit partitions from the probe.
        Delta: the decision table of operators/apply.py::merge_final_state
        — INSERT/UPSERT writes the row, UPDATE writes it only for an
        existing key, DELETE of an existing key writes a tombstone.
        Audit: each key's DECIDING row gets a status — UPDATE/DELETE on a
        missing key -> TARGET_NOT_FOUND (ap03), everything else ->
        SUCCESS (INSERT on an existing key is the ap02 dup->update path)
        — and each ``blocked`` event is LOOP_BLOCKED. Under
        strategy='net' a net DELETE whose first op was INSERT means the
        key was created AND deleted inside this batch: the sequential
        replay it claims parity with would log INSERT=SUCCESS then
        DELETE=SUCCESS, so it is audited SUCCESS too (ADVICE r4)."""
        op, exists, pk = F.col("operation"), F.col("exists"), F.col("pk")
        deleted = op == "DELETE"
        self.store.write_delta(
            decided.filter(op.isin("INSERT", "UPSERT") | exists).select(
                pk,
                F.when(~deleted, F.concat(F.lit("U"), pk.cast("string"))).alias(
                    "name"
                ),
                F.when(~deleted, F.col("val")).alias("acctbal"),
                deleted.alias("deleted"),
            ),
            batch_id,
        )
        created_in_batch = F.coalesce(F.col("first_op") == "INSERT", F.lit(False))
        audit = decided.select(
            "cdc_seq",
            "pk",
            "operation",
            F.when(
                op.isin("UPDATE", "DELETE") & ~exists & ~created_in_batch,
                "TARGET_NOT_FOUND",
            )
            .otherwise("SUCCESS")
            .alias("status"),
        )
        if blocked is not None:
            audit = audit.unionByName(
                blocked.select(
                    "cdc_seq", "pk", "operation", F.lit("LOOP_BLOCKED").alias("status")
                )
            ).coalesce(1)
        audit.write.mode("overwrite").parquet(
            os.path.join(self.audit_dir, f"batch_id={batch_id}")
        )


def run_stream_pipeline(
    spark: SparkSession,
    events_path: str,
    base: DataFrame,
    out_dir: str,
    trigger: dict | None = None,
    dedup: str = "watermark",
    strategy: str = "last_wins",
):
    """Wire source -> cdc view -> loop dedup -> foreachBatch merge.
    Returns (StreamingQuery, writer). Default trigger availableNow for
    tests; production uses processingTime='5 seconds' (st04).

    dedup: 'watermark' (built-in first-seen-wins
    ``dropDuplicatesWithinWatermark`` in front of the writer),
    'stateful' (the reference's exact sequential loop guard, run by the
    writer inside its own batch over a guard store under
    ``out_dir/guard``: the CDC view goes straight to foreachBatch, and
    blocked events are audited LOOP_BLOCKED instead of merged), or
    'none' (no loop dedup — required for strategy='net' sequential
    parity, since dropping equal-hash rows can flip a net
    classification). No mode runs a Python worker.

    strategy: forwarded to ParquetMergeWriter — 'last_wins' (ap01) or
    'net' (ap06-exact compaction)."""
    from cdc_sync_poc_spark.streaming.source import file_event_stream, stream_cdc_view

    if dedup not in ("watermark", "stateful", "none"):
        raise ValueError(f"unknown dedup mode: {dedup}")
    writer = ParquetMergeWriter(
        spark,
        state_dir=os.path.join(out_dir, "state"),
        audit_dir=os.path.join(out_dir, "audit"),
        strategy=strategy,
        guard_dir=os.path.join(out_dir, "guard") if dedup == "stateful" else None,
    )
    writer.init_state(base)
    cdc = stream_cdc_view(file_event_stream(spark, events_path))
    deduped = watermark_dedup(cdc) if dedup == "watermark" else cdc
    q = (
        deduped.writeStream.foreachBatch(writer.apply_batch)
        .option("checkpointLocation", os.path.join(out_dir, "checkpoint"))
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
    return q, writer
