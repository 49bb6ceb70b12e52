"""Streaming BPE vocabulary maintenance — the ingest half of tokenizer
induction at corpus scale.

The batch BPE family (llm/tokenizer.py) touches the corpus exactly once
— ONE explode + hash aggregate builds the (word, n) vocabulary; every
merge step after that is vocab-sized. At 100 TB the right production
shape is therefore: maintain the word-frequency vocabulary
INCREMENTALLY as documents arrive (this module — per batch one
map-side-combined count agg into a sum-folded KeyedDeltaStore, zero reads of
prior state on the write path), and learn/refresh the merge table
OFFLINE from the stored vocabulary whenever the tokenizer is re-cut —
re-scanning the corpus for a tokenizer refresh is the anti-pattern
this store exists to remove.

``merges()`` feeds the stored totals through the SAME learn loop the
batch query runs (llm/tokenizer._bpe_chain_from_vocab), so winners and
tie-breaks are identical whether the vocabulary was built by stream or
by backfill — pinned by the equals-batch test in
tests/test_streaming_docs.py.

Replay safety: the shared delta-store contract — per-batch
delta partitions owned by batch_id (a replayed batch overwrites its
own partition byte-identically), compaction crash-safe via the
base's watermark directory (streaming/delta_store.py).

Reference parity: the reference ships no tokenizer; this is part of
the M6 training-data surface (SURVEY §2 extension).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_sync_poc_spark.streaming.delta_store import KeyedDeltaStore


def word_counts(docs: DataFrame) -> DataFrame:
    """Per-batch (word, n) counts — the identical tokenization the
    batch vocab build uses (whitespace split, empty tokens dropped)."""
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


class StreamingBPEVocab:
    """foreachBatch body maintaining the live word-frequency
    vocabulary; ``merges()`` learns the current BPE merge table from
    the store through the batch code path."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.store = KeyedDeltaStore(
            spark,
            root,
            key_cols=["word"],
            ddl="word string, n bigint",
            deltas_name="word_counts",
        )

    def absorb_batch(self, docs: DataFrame, batch_id: int) -> None:
        self.store.write_delta(word_counts(docs), batch_id)

    def compact(self, upto_batch_id: int) -> None:
        self.store.compact(upto_batch_id)

    def vocab(self) -> DataFrame:
        """Accumulated (word, n) — typed-empty before the first batch."""
        return self.store.totals()

    def merges(self) -> DataFrame:
        """The BPE merge table (step, pair, merged, cnt) learned from
        the CURRENT stored vocabulary — the offline tokenizer re-cut.
        Persisted vocab: the learn loop consumes it 2·BPE_STEPS-1
        times (llm/tokenizer's cost model)."""
        from cdc_sync_poc_spark.llm.tokenizer import _bpe_chain_from_vocab

        vocab = self.vocab().persist()
        _cur, merges = _bpe_chain_from_vocab(vocab)
        out = merges[0]
        for m in merges[1:]:
            out = out.unionAll(m)
        return out


def run_streaming_bpe_vocab(
    spark: SparkSession, in_dir: str, root: str, checkpoint: str
):
    """Wire the document file-stream through the vocab maintainer."""
    from cdc_sync_poc_spark.streaming.docs_dedup import doc_stream

    body = StreamingBPEVocab(spark, root)
    return (
        doc_stream(spark, in_dir)
        .writeStream.foreachBatch(
            lambda df, bid: body.absorb_batch(df, bid)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
