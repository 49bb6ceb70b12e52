"""Streaming DSIR term statistics — the continuous form of the
frequency-ratio table behind dsir_importance (llm/lm_quality.py): the
per-term raw/target counts DSIR needs are VOCABULARY-sized additive
state, maintained through the sum-folded KeyedDeltaStore
(streaming/delta_store.py) — per-batch delta partitions replay-safe by
ownership, compaction crash-safe by the watermark directory.

Unlike the BM25 maintainer (whose per-query-term state is bounded by
the query), the DSIR ratio table covers EVERY term, so this is the
store that actually needs compaction: without it, reading the ratio
table costs O(vocab x batches); with it, O(vocab + recent deltas).

The derived scalars come from the same state: n_r = sum(c_r),
n_t = sum(c_t), v = row count of the totals table — exactly the batch
operator's tok-level aggregates, because a document lives entirely
inside its batch. ``ratio_table()`` evaluates the IDENTICAL smoothed
fixed-point expression as the batch dsir_ratio_frame, so once the same
documents are absorbed the stored-state ratio table is bit-identical
to the batch one (pinned by test), and any batch scoring pass
(importance weights, resampling) can consume it unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_sync_poc_spark.llm.lm_quality import DSIR_FIX
from cdc_sync_poc_spark.streaming.delta_store import KeyedDeltaStore


class StreamingDSIRStats:
    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.store = KeyedDeltaStore(
            spark,
            root,
            key_cols=["term"],
            ddl="term string, c_r bigint, c_t bigint",
        )

    def absorb_batch(self, docs: DataFrame, batch_id: int) -> None:
        """One tokenize pass -> one per-term hash agg -> one delta
        write. Raw and target counts share the agg (conditional count),
        so the power-law term column shuffles once per batch."""
        tok = docs.select(
            "lang", F.explode(F.split(F.col("text"), " ")).alias("term")
        )
        agg = tok.groupBy("term").agg(
            F.count("*").alias("c_r"),
            F.count(F.when(F.col("lang") == "en", 1)).alias("c_t"),
        )
        self.store.write_delta(agg, batch_id)

    def compact(self, upto_batch_id: int) -> None:
        self.store.compact(upto_batch_id)

    def ratio_table(self) -> DataFrame:
        """(term, q): the DSIR fixed-point frequency-ratio table from
        stored state — same smoothed expression as dsir_ratio_frame.

        The totals frame is read twice (scalar agg + the join) but NOT
        persisted: a long-lived maintainer calling this repeatedly
        would otherwise accumulate cached blocks nobody unpersists
        (advisor finding, r9), and the state read is O(vocab + recent
        deltas) — bounded by compaction cadence — so the second scan
        is cheaper than the leak."""
        t = self.store.totals()
        tot = t.agg(
            F.sum("c_r").alias("n_r"),
            F.sum("c_t").alias("n_t"),
            F.count("*").alias("v"),
        )
        return t.crossJoin(F.broadcast(tot)).select(
            "term",
            F.floor(
                F.expr(
                    f"(CAST(coalesce(c_t, 0) + 1 AS DOUBLE) / (n_t + v))"
                    f" / (CAST(c_r + 1 AS DOUBLE) / (n_r + v)) * {DSIR_FIX}"
                )
            )
            .cast("bigint")
            .alias("q"),
        )


def run_streaming_dsir(
    spark: SparkSession,
    in_dir: str,
    root: str,
    checkpoint: str,
    compact_every: int | None = None,
):
    """Wire the document file-stream through the stats maintainer,
    optionally compacting every N batches (lagging one batch, the
    in-flight policy streaming/pagerank.py uses)."""
    from cdc_sync_poc_spark.streaming.docs_dedup import doc_stream

    st = StreamingDSIRStats(spark, root)

    def body(docs: DataFrame, batch_id: int) -> None:
        st.absorb_batch(docs, batch_id)
        if compact_every and (batch_id + 1) % compact_every == 0:
            st.compact(batch_id - 1)

    return (
        doc_stream(spark, in_dir)
        .writeStream.foreachBatch(body)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
