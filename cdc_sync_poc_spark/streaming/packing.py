"""Streaming sequence packing — the continuous form of seq_packing
(llm/preprocess.py): documents arrive in micro-batches and each batch
is packed into PACK_BUDGET-token context windows CONTINUING each
language's token stream from where the previous batch left it.

The cross-batch state is one number per language — the total tokens
emitted so far — which is exactly the "broadcast carry-in" level of the
batch packer's two-level prefix sum, made temporal: within a batch the
two-level prefix sum runs as in batch mode (packing_prev_frame), then
the language's carry offset shifts every position. State snapshots are
written per batch (``carry/batch_id=N`` = the totals AFTER batch N) and
batch N reads the snapshot of its PREDECESSOR (max batch_id < N), so a
replayed batch recomputes from the same pre-state and overwrites its
own output partition byte-identically — the at-least-once foreachBatch
recipe shared with streaming/writer.py and streaming/docs_index.py.

Ordering contract: the batch packer orders each language stream by
doc_id; the streaming packer packs in ARRIVAL order (batch sequence,
then doc_id within the batch) — the only order a continuous pipeline
can honor. When documents arrive in doc_id order the two are
IDENTICAL, which is the cross-check pinned in
tests/test_streaming_docs.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_sync_poc_spark.streaming.delta_store import newest_batch_id
from cdc_sync_poc_spark.streaming.util import persisted

from cdc_sync_poc_spark.llm.preprocess import (
    _bins_from_prev,
    packing_prev_frame,
)

_CARRY_DDL = "lang string, total long"


class StreamingPacker:
    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.out_dir = os.path.join(root, "packed")
        self.carry_dir = os.path.join(root, "carry")

    def _carry_before(self, batch_id: int) -> dict[str, int]:
        """Per-language token totals after the newest snapshot older
        than ``batch_id`` (empty on the first batch). Langs-sized
        driver collect — design-bounded."""
        latest = newest_batch_id(self.carry_dir, before=batch_id)
        if latest is None:
            return {}
        snap = self.spark.read.schema(_CARRY_DDL).parquet(
            os.path.join(self.carry_dir, f"batch_id={latest}")
        )
        return {r.lang: int(r.total) for r in snap.collect()}

    def pack_batch(self, docs: DataFrame, batch_id: int) -> None:
        with persisted(docs) as docs:
            carry = self._carry_before(batch_id)
            prev = packing_prev_frame(docs)
            if carry:
                cdf = F.broadcast(
                    self.spark.createDataFrame(
                        list(carry.items()), "lang string, c long"
                    )
                )
                prev = (
                    prev.join(cdf, "lang", "left")
                    .withColumn("prev", F.col("prev") + F.coalesce("c", F.lit(0)))
                    .drop("c")
                )
            _bins_from_prev(prev).write.mode("overwrite").parquet(
                os.path.join(self.out_dir, f"batch_id={batch_id}")
            )
            totals = {
                r.lang: int(r.t)
                for r in docs.select(
                    "lang",
                    F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n"),
                )
                .groupBy("lang")
                .agg(F.sum("n").alias("t"))
                .collect()
            }
            after = dict(carry)
            for lang, t in totals.items():
                after[lang] = after.get(lang, 0) + t
            self.spark.createDataFrame(
                list(after.items()), _CARRY_DDL
            ).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(self.carry_dir, f"batch_id={batch_id}")
            )

    def packed(self) -> DataFrame:
        return self.spark.read.parquet(self.out_dir)


def run_streaming_packing(
    spark: SparkSession, in_dir: str, root: str, checkpoint: str
):
    """Wire the document file-stream through the continuous packer."""
    from cdc_sync_poc_spark.streaming.docs_dedup import doc_stream

    packer = StreamingPacker(spark, root)
    return (
        doc_stream(spark, in_dir)
        .writeStream.foreachBatch(packer.pack_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
