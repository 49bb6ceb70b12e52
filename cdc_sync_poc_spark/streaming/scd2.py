"""Streaming SCD Type-2 history writer (the foreachBatch twin of batch
``ap07_scd2_history``, operators/scd.py:47).

The reference's apply path keeps only current rows plus a log
(poc/tobe-oracle/init/04_create_procedures.sql:184-232 is
history-destroying); SCD2 is the standard lake-side upgrade. The batch
operator re-derives the whole version table from the full changelog;
this writer maintains the same table INCREMENTALLY, one micro-batch at
a time, with the invariant (tested in tests/test_streaming.py and
tests/test_properties.py):

    history after processing batches 0..N  ==  ap07 over events 0..N

Design — merge-on-read, on the MERGE writer's store and recipe
(streaming/delta_store.py::LastWinsDeltaStore, streaming/writer.py):

* open versions — at most one per live pk — are last-wins rows keyed
  by pk with values ``version_seq, val, valid_from_ms``;
* closed versions are immutable: a version closes at most once, in the
  batch that delivers its successor event, so they are APPEND-ONLY
  under ``scd2_closed/batch_id=N``, like the MERGE writer's audit.

Per batch N, the store's batch-start step compacts if due and returns
the pre-batch snapshot (base plus deltas ``upto < batch_id < N``) for
the batch keys; each key's newest live row is its open version. It
re-enters the batch as a pseudo-event ordered by its version_seq, one
``lead()`` pass over the union closes what got superseded, and batch N
writes two partitions it owns, each with mode=overwrite:

* ``deltas/batch_id=N`` — one row per batch pk: its new open version,
  or a tombstone when the key's last event was a DELETE;
* ``scd2_closed/batch_id=N`` — the versions this batch closed.

Exactly-once: both partitions are a pure function of the batch and its
snapshot, and a replay of N sees the same snapshot (no partition >= N
is part of it, and compaction never folds the running batch). A replay
therefore overwrites both with the same rows, whichever write a crash
interrupted; a batch at or below the base watermark was written in
full before it was folded, so its replay is a no-op.

Ordering assumption (same as the merge writer): micro-batches deliver
each key's events in cdc_seq order across batches — true for a Kafka
key-partitioned topic and for the file source's ordered parts.

Scale: per batch the shuffle is (batch rows + open rows of the batch
keys), keyed by pk; the probe opens only the base buckets holding
batch keys. Closed partitions compact with the maintenance compactor
(sources/maintenance.py) like any append log.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdc_sync_poc_spark.streaming.delta_store import (
    LastWinsDeltaStore,
    LastWinsWriter,
)
from cdc_sync_poc_spark.streaming.util import persisted


class Scd2StreamWriter(LastWinsWriter):
    """foreachBatch body maintaining an SCD2 version table incrementally:
    open versions in a LastWinsDeltaStore under ``out_dir``, closed
    versions appended under ``out_dir/scd2_closed``."""

    def __init__(self, spark: SparkSession, out_dir: str) -> None:
        self.spark = spark
        self.closed_dir = os.path.join(out_dir, "scd2_closed")
        self.store = LastWinsDeltaStore(
            spark, out_dir, "pk",
            "pk long, version_seq long, val double, valid_from_ms long",
        )

    def history(self) -> DataFrame:
        """The full SCD2 table, ap07-shaped: (version_seq, pk, val,
        valid_from_ms, valid_to_ms, is_current)."""
        out = self.store.live().select(
            "version_seq",
            "pk",
            "val",
            "valid_from_ms",
            F.lit(None).cast("long").alias("valid_to_ms"),
            F.lit(True).alias("is_current"),
        )
        if os.path.isdir(self.closed_dir):
            closed = (
                self.spark.read.parquet(self.closed_dir)
                .drop("batch_id")
                .withColumn("is_current", F.lit(False))
            )
            out = closed.unionByName(out)
        return out

    def apply_batch(self, changes: DataFrame, batch_id: int) -> None:
        """The foreachBatch body: the store's batch-start step -> one
        lead() pass over open versions + batch -> delta partition +
        closed partition."""
        with persisted(
            changes.select("cdc_seq", "pk", "operation", "ts_ms", "val")
        ) as rows:
            keys = rows.select("pk").distinct()
            snap = self.store.begin_batch(
                {r[0] for r in keys.select(self.store.bucket()).collect()},
                batch_id,
                self._compact_at(),
            )
            if snap is None:
                return
            snap = snap.join(F.broadcast(keys), "pk", "left_semi")
            # the open version re-enters the window as a pseudo-event:
            # its version_seq slots it BEFORE every batch event of its
            # key (the cross-batch ordering assumption), so lead()
            # closes it with the first successor exactly as the batch
            # window would have
            pseudo = (
                self.store.newest(snap)
                .filter(~F.col("deleted"))
                .select(
                    F.col("version_seq").alias("cdc_seq"),
                    "pk",
                    F.lit("OPEN").alias("operation"),
                    F.col("valid_from_ms").alias("ts_ms"),
                    "val",
                )
            )
            w = Window.partitionBy("pk").orderBy("cdc_seq")
            with persisted(
                pseudo.unionByName(rows).select(
                    "*",
                    F.lead("ts_ms").over(w).alias("next_ms"),
                    F.lead("cdc_seq").over(w).alias("next_seq"),
                )
            ) as vers:
                is_delete = F.col("operation") == "DELETE"
                vers.filter(
                    ~is_delete & F.col("next_seq").isNotNull()
                ).select(
                    F.col("cdc_seq").alias("version_seq"),
                    "pk",
                    "val",
                    F.col("ts_ms").alias("valid_from_ms"),
                    F.col("next_ms").alias("valid_to_ms"),
                ).write.mode("overwrite").parquet(
                    os.path.join(self.closed_dir, f"batch_id={batch_id}")
                )
                # each batch key's last event: its new open version, or
                # a tombstone when it was a DELETE
                self.store.write_delta(
                    vers.filter(F.col("next_seq").isNull()).select(
                        "pk",
                        F.col("cdc_seq").alias("version_seq"),
                        "val",
                        F.col("ts_ms").alias("valid_from_ms"),
                        is_delete.alias("deleted"),
                    ),
                    batch_id,
                )


def run_scd2_stream(
    spark: SparkSession,
    events_path: str,
    out_dir: str,
    trigger: dict | None = None,
):
    """Wire file source -> cdc view -> SCD2 history writer. Returns
    (StreamingQuery, writer); default availableNow trigger for tests."""
    from cdc_sync_poc_spark.streaming.source import file_event_stream, stream_cdc_view

    writer = Scd2StreamWriter(spark, out_dir)
    cdc = stream_cdc_view(file_event_stream(spark, events_path))
    q = (
        cdc.writeStream.foreachBatch(writer.apply_batch)
        .option("checkpointLocation", os.path.join(out_dir, "scd2_checkpoint"))
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
    return q, writer
