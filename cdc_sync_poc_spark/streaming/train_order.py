"""Streaming epoch-shuffle — the continuous form of train_order_shuffle
(llm/preprocess.py): documents arrive in micro-batches and each batch's
rows are appended to their shards' training order CONTINUING each
shard's position count from where the previous batch left it.

The cross-batch state is one counter per shard (TRAIN_SHARDS numbers) —
the broadcast carry level of the batch op's two-level banded rank, made
temporal, exactly the StreamingPacker recipe: within a batch the banded
two-level rank runs as in batch mode (train_order_frame), then the
shard's carry count shifts every position. Carry snapshots are written
per batch (``carry/batch_id=N`` = counts AFTER batch N) and batch N
reads its PREDECESSOR's snapshot (max batch_id < N), so a replayed
batch recomputes from the same pre-state and overwrites its own output
partition byte-identically — the at-least-once foreachBatch contract
shared with streaming/packing.py and streaming/writer.py.

Ordering contract (the packer's, applied to ordering): the batch op
ranks the whole corpus by (hash, doc_id); the streaming assigner ranks
in ARRIVAL order (batch sequence, then (hash, doc_id) within the
batch) — the only order a continuous pipeline can honor. A single-batch
arrival is IDENTICAL to the batch op; across batches each shard's
positions remain a gapless 1..n permutation whose per-batch blocks are
internally hash-ordered (pinned in tests/test_streaming_docs.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_sync_poc_spark.streaming.delta_store import newest_batch_id
from cdc_sync_poc_spark.streaming.util import persisted

from cdc_sync_poc_spark.llm.preprocess import train_order_frame
from cdc_sync_poc_spark.sources.loader import literal_frame

_CARRY_DDL = "shard bigint, total bigint"


class StreamingOrderAssigner:
    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.out_dir = os.path.join(root, "order")
        self.carry_dir = os.path.join(root, "carry")

    def _carry_before(self, batch_id: int) -> dict[int, int]:
        """Per-shard position counts after the newest snapshot older
        than ``batch_id`` (empty on the first batch). TRAIN_SHARDS-row
        driver collect — design-bounded."""
        latest = newest_batch_id(self.carry_dir, before=batch_id)
        if latest is None:
            return {}
        snap = self.spark.read.schema(_CARRY_DDL).parquet(
            os.path.join(self.carry_dir, f"batch_id={latest}")
        )
        return {int(r.shard): int(r.total) for r in snap.collect()}

    def assign_batch(self, docs: DataFrame, batch_id: int) -> None:
        with persisted(docs) as docs:
            carry = self._carry_before(batch_id)
            order = train_order_frame(docs.select("doc_id"))
            if carry:
                cdf = F.broadcast(
                    literal_frame(
                        self.spark, list(carry.items()), "shard bigint, c bigint"
                    )
                )
                order = (
                    order.join(cdf, "shard", "left")
                    .withColumn("pos", F.col("pos") + F.coalesce("c", F.lit(0)))
                    .drop("c")
                )
            order.write.mode("overwrite").parquet(
                os.path.join(self.out_dir, f"batch_id={batch_id}")
            )
            totals = {
                int(r.shard): int(r.n)
                for r in train_order_frame(docs.select("doc_id"))
                .groupBy("shard")
                .agg(F.count("*").alias("n"))
                .collect()
            }
            after = dict(carry)
            for shard, n in totals.items():
                after[shard] = after.get(shard, 0) + n
            literal_frame(
                self.spark, list(after.items()), _CARRY_DDL
            ).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(self.carry_dir, f"batch_id={batch_id}")
            )

    def order(self) -> DataFrame:
        return self.spark.read.parquet(self.out_dir)


def run_streaming_train_order(
    spark: SparkSession, in_dir: str, root: str, checkpoint: str
):
    """Wire the document file-stream through the continuous assigner."""
    from cdc_sync_poc_spark.streaming.docs_dedup import doc_stream

    assigner = StreamingOrderAssigner(spark, root)
    return (
        doc_stream(spark, in_dir)
        .writeStream.foreachBatch(assigner.assign_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
