"""Streaming media near-dup screen — the multimodal twin of the text
dedup index (streaming/docs_index.py): media rows arrive in
micro-batches, each batch's perceptual fingerprints are banded with the
BATCH operator's map-side expressions (llm/multimodal.py
phash_band_frame — one shared core, so stream- and backfill-built
fingerprints are bit-identical and ONE stored index serves both), and
near-dup pairs are found by band equi-join against the stored
fingerprints, verified by exact Hamming distance.

State & idempotence: the band index is append-only per batch
(``bands/batch_id=N``, overwrite); pair output is per-batch
(``pairs/batch_id=N``, overwrite). A batch screens itself against
fingerprints with ``batch_id < N`` only — the predecessor-state read
every carry-state twin uses — so a replayed batch sees the same
pre-state and rewrites both of its partitions byte-identically.

Pair semantics: a near-dup pair is reported exactly once, in the batch
where its LATER member arrives (cross-batch pairs via the stored-index
probe, within-batch pairs via the batch operator's self-join) — the
union of per-batch pair outputs equals mm_dedup_phash over the union
corpus (pinned by test).

Scale shape: per batch one blob-column pass for fingerprints (the blob
prunes out of every join — only 16-bit fingerprints and band keys
shuffle), one band equi-join against an index that is
PHASH_BANDS x corpus rows of integers, and one xor+bit_count per
candidate; nothing is ever all-pairs. At the production 64-bit pHash
width each band key spans 65 536 buckets, which is what shards the
probe join at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_sync_poc_spark.streaming.util import persisted

from cdc_sync_poc_spark.llm.multimodal import (
    PHASH_HAMMING_MAX,
    media_frame,
    phash_band_frame,
    phash_pairs_frame,
)
from cdc_sync_poc_spark.streaming.delta_store import AppendDeltaStore


class StreamingMediaIndex:
    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.pairs_dir = os.path.join(root, "pairs")
        # append-only fingerprint store (rows keep batch_id so the
        # predecessor-state filter still works after folding); delta
        # bookkeeping + watermark compaction are the shared recipe
        self.store = AppendDeltaStore(
            spark,
            root,
            ddl="doc_id bigint, phash bigint, band_id int, band_key bigint,"
            " batch_id bigint",
            deltas_name="bands",
        )

    def compact(self, upto_batch_id: int) -> None:
        """Fold fingerprint partitions with batch_id <= ``upto_batch_id``
        into one base — bounds the stored-index file count at O(1) dirs
        instead of O(batches); crash windows analyzed in
        streaming/delta_store.py, replay-invisible because screening
        reads through the store."""
        self.store.compact(upto_batch_id)

    def screen_batch(self, docs: DataFrame, batch_id: int) -> None:
        """Fingerprint one micro-batch of documents' media payloads,
        emit its near-dup pairs, and append its fingerprints."""
        with persisted(phash_band_frame(media_frame(docs))) as bd:

            # within-batch pairs: the batch operator itself
            pairs = phash_pairs_frame(bd)

            # cross-batch pairs: probe the stored index (predecessor state
            # only), normalized to the batch operator's (lower id, higher
            # id) orientation — hamming is symmetric, so only the ids need
            # the least/greatest swap
            s = (
                self.store.rows()
                .filter(F.col("batch_id") < batch_id)
                .drop("batch_id")
                .alias("s")
            )
            n = bd.alias("n")
            cross = (
                s.join(
                    n,
                    (F.col("s.band_id") == F.col("n.band_id"))
                    & (F.col("s.band_key") == F.col("n.band_key"))
                    & (F.col("s.doc_id") != F.col("n.doc_id")),
                )
                .select(
                    F.least("s.doc_id", "n.doc_id").alias("doc_a"),
                    F.greatest("s.doc_id", "n.doc_id").alias("doc_b"),
                    F.col("s.phash").alias("pa"),
                    F.col("n.phash").alias("pb"),
                )
                .distinct()
                .withColumn(
                    "hamming", F.expr("bit_count(pa ^ pb)").cast("bigint")
                )
                .filter(F.col("hamming") <= PHASH_HAMMING_MAX)
                .select("doc_a", "doc_b", "hamming")
            )
            pairs = pairs.unionByName(cross).distinct()

            pairs.write.mode("overwrite").parquet(
                os.path.join(self.pairs_dir, f"batch_id={batch_id}")
            )
            self.store.write_delta(bd, batch_id)

    def pairs(self) -> DataFrame:
        return self.spark.read.parquet(self.pairs_dir)


def run_streaming_media_index(
    spark: SparkSession, in_dir: str, root: str, checkpoint: str
):
    """Wire the document file-stream through the media screen."""
    from cdc_sync_poc_spark.streaming.docs_dedup import doc_stream

    idx = StreamingMediaIndex(spark, root)
    return (
        doc_stream(spark, in_dir)
        .writeStream.foreachBatch(idx.screen_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
