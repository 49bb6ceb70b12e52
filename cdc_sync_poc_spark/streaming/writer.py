"""foreachBatch MERGE writer (SURVEY §2.7 ap01-ap05, streaming side),
merge-on-read on the shared delta-store recipe
(streaming/delta_store.py::LastWinsDeltaStore).

Per micro-batch N (the 5 s trigger replaces the reference's Oracle
Scheduler job, st04):

1. per-key batch reduction (``reduce_batch``) — ``strategy="last_wins"``
   (default: the newest row per key decides, s01/ap01 semantics) or
   ``strategy="net"`` (ap08's net_effect compaction: replay-exact ap06
   semantics at any batch granularity, each key still written once);
2. one probe of the batch's keys against the immutable pre-batch
   snapshot — the compacted base plus the live deltas with
   ``upto < batch_id < N``, newest row per pk — which decides every key
   as in operators/apply.py::merge_final_state;
3. two outputs from that probe, each owned by batch N and written with
   mode=overwrite: ``deltas/batch_id=N`` (an upsert row per applied
   key, a tombstone per DELETE of an existing key; an UPDATE or DELETE
   of a missing key writes nothing, ap03/ap04) and the audit partition
   ``audit/batch_id=N`` (sink_audit_log statuses, TARGET_NOT_FOUND log).

A read (``current_state``) is the newest row per pk over base ∪ live
deltas, tombstones dropped. A batch writes O(changed keys) rows; the
base (hash-bucketed by pk, ``n_buckets`` partitions, so a probe with
fewer keys than buckets opens only the buckets it needs) is rewritten
only by compaction.

Replay/crash semantics (at-least-once foreachBatch made effectively
exactly-once):

* a batch's outputs are a pure function of the batch and its snapshot,
  and a replay of N sees the same snapshot: no partition >= N is part
  of it, and compaction never folds the running batch. A replay
  therefore overwrites both of N's partitions with the same rows,
  audit statuses included.
* compaction (``LastWinsDeltaStore.begin_batch``, the batch-start
  step this writer shares with the SCD2 writer: at the start of a
  batch N once ``_compact_at`` delta partitions are live, folding
  batches <= N-1) swaps the base atomically through
  SwapStore with the watermark inside it; a crash between its renames
  is healed before the next read, and folded-but-not-yet-deleted
  partitions are ignored by the watermark. A batch at or below the
  watermark was fully applied before it was folded, so its replay is a
  no-op.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdc_sync_poc_spark.streaming.delta_store import (
    LastWinsDeltaStore,
    LastWinsWriter,
)


def reduce_batch(changes: DataFrame, strategy: str) -> DataFrame:
    """Per-key batch reduction of ParquetMergeWriter. Returns one row
    per key: (cdc_seq, pk, operation, val, first_op).

    ``last_wins``: the newest row per key decides (s01/ap01 semantics).
    ``net``: ap08's net_effect — each key's in-batch op sequence
    compacts to its replay-exact net op; the key's LAST real cdc_seq
    rides along so audit rows keep a joinable sequence number (same
    key, same shuffle — the extra agg shares the pk exchange), and
    first_op rides along so a net DELETE of a key CREATED in the same
    batch is not audited TARGET_NOT_FOUND."""
    if strategy == "net":
        from cdc_sync_poc_spark.operators.apply import net_effect

        rows = changes.select("cdc_seq", "pk", "operation", "val")
        last_seq = rows.groupBy("pk").agg(F.max("cdc_seq").alias("cdc_seq"))
        return (
            net_effect(rows)
            .join(last_seq, "pk")
            .select(
                "cdc_seq",
                "pk",
                F.col("net_op").alias("operation"),
                F.col("net_val").alias("val"),
                "first_op",
            )
        )
    w = Window.partitionBy("pk").orderBy(F.desc("cdc_seq"))
    return (
        changes.select("cdc_seq", "pk", "operation", "val")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        # last-wins audits the literal surviving op; no net algebra,
        # so no in-batch-creation exemption applies
        .withColumn("first_op", F.lit(None).cast("string"))
    )


class ParquetMergeWriter(LastWinsWriter):
    """MERGE-into-parquet state maintainer for foreachBatch: one delta
    partition per micro-batch over a pk-hash-bucketed compacted base."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        audit_dir: str,
        n_buckets: int = 16,
        strategy: str = "last_wins",
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

    def init_state(self, base: DataFrame) -> None:
        self.store.reset(
            base.select(
                F.col("c_custkey").cast("long").alias("pk"),
                F.col("c_name").cast("string").alias("name"),
                F.col("c_acctbal").cast("double").alias("acctbal"),
            )
        )

    def current_state(self) -> DataFrame:
        return self.store.live().select("pk", "name", "acctbal")

    def apply_batch(self, changes: DataFrame, batch_id: int) -> None:
        """The foreachBatch body: reduce -> the store's batch-start step
        (compact if due, probe the pre-batch snapshot) -> decide ->
        delta partition + audit partition."""
        from cdc_sync_poc_spark.streaming.util import persisted

        # ``last`` and ``decided`` hold one row per changed key, a count
        # the source's per-trigger cap bounds, so each is cached as ONE
        # partition: cached plans keep their shuffle partitioning (AQE
        # does not coalesce them), and 2x cores near-empty partitions
        # would cost every job over them that many tasks and every
        # delta/audit partition that many files
        with persisted(reduce_batch(changes, self.strategy).coalesce(1)) as last:
            snap = self.store.begin_batch(
                last.select("pk"), batch_id, self._compact_at()
            )
            if snap is None:
                return
            with persisted(self._decide(last, snap).coalesce(1)) as decided:
                self._write(decided, batch_id)

    @staticmethod
    def _decide(last: DataFrame, snap: DataFrame) -> DataFrame:
        """The one probe: each batch key's reduced op beside ``exists``
        — whether its newest snapshot row is a live row. A union and one
        hash aggregate on pk instead of a join: each group holds the
        key's one batch row (the op) and its snapshot rows (tombstone
        flag and batch_id), so the probe costs a single small shuffle."""
        op_cols = ["cdc_seq", "operation", "val", "first_op"]
        types = dict(last.dtypes)
        rows = last.select(
            "pk", *op_cols,
            F.lit(None).cast("boolean").alias("deleted"),
            F.lit(None).cast("long").alias("batch_id"),
        ).unionByName(
            snap.select(
                "pk", *[F.lit(None).cast(types[c]).alias(c) for c in op_cols],
                "deleted", F.col("batch_id").cast("long"),
            )
        )
        return rows.groupBy("pk").agg(
            *[F.max(c).alias(c) for c in op_cols],
            F.coalesce(
                ~F.max_by("deleted", "batch_id"), F.lit(False)
            ).alias("exists"),
        )

    def _write(self, decided: DataFrame, batch_id: int) -> None:
        """Batch N's two partitions from the probe. Delta: the decision
        table of operators/apply.py::merge_final_state — INSERT/UPSERT
        writes the row, UPDATE writes it only for an existing key,
        DELETE of an existing key writes a tombstone. Audit: each key's
        DECIDING row gets a status — UPDATE/DELETE on a missing key ->
        TARGET_NOT_FOUND (ap03), everything else -> SUCCESS (INSERT on
        an existing key is the ap02 dup->update path). Under
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
        decided.select(
            "cdc_seq",
            "pk",
            "operation",
            F.when(
                op.isin("UPDATE", "DELETE") & ~exists & ~created_in_batch,
                "TARGET_NOT_FOUND",
            )
            .otherwise("SUCCESS")
            .alias("status"),
        ).write.mode("overwrite").parquet(
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
    Returns the started StreamingQuery. Default trigger availableNow for
    tests; production uses processingTime='5 seconds' (st04).

    dedup: 'watermark' (built-in first-seen-wins, production default),
    'stateful' (applyInPandasWithState, exact sequential semantics with
    blocked rows dropped before the merge), or 'none' (no loop dedup —
    required for strategy='net' sequential parity, since dropping
    equal-hash rows can flip a net classification).

    strategy: forwarded to ParquetMergeWriter — 'last_wins' (ap01) or
    'net' (ap06-exact compaction)."""
    from cdc_sync_poc_spark.streaming.dedup import stateful_dedup, watermark_dedup
    from cdc_sync_poc_spark.streaming.source import file_event_stream, stream_cdc_view

    if dedup not in ("watermark", "stateful", "none"):
        raise ValueError(f"unknown dedup mode: {dedup}")
    writer = ParquetMergeWriter(
        spark,
        state_dir=os.path.join(out_dir, "state"),
        audit_dir=os.path.join(out_dir, "audit"),
        strategy=strategy,
    )
    writer.init_state(base)
    cdc = stream_cdc_view(file_event_stream(spark, events_path))
    if dedup == "stateful":
        deduped = stateful_dedup(cdc).filter("NOT loop_blocked").drop("loop_blocked")
    elif dedup == "none":
        deduped = cdc
    else:
        deduped = watermark_dedup(cdc)
    q = (
        deduped.writeStream.foreachBatch(writer.apply_batch)
        .option("checkpointLocation", os.path.join(out_dir, "checkpoint"))
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
    return q, writer
