"""Streaming n-gram novelty — the continuous form of
``text_ngram_novelty`` (llm/preprocess.py): document micro-batches
maintain the corpus-wide first-owner gram index incrementally, so the
novelty-decay curve an incremental crawl watches is readable at any
point WITHOUT ever rescanning document text.

State, on the shared delta-store recipes (streaming/delta_store.py):

* gram ownership in a min-folded :class:`KeyedDeltaStore` keyed by the
  128-bit gram hash: per batch ONE per-gram min(doc_id) hash agg -> one
  delta partition; reads/compaction re-fold with min, so ownership follows
  the BATCH operator's min-doc_id definition — a later batch carrying
  a smaller doc_id legitimately steals grams, and arrival order never
  matters (min is associative, commutative, idempotent).
* per-document distinct-gram counts in an :class:`AppendDeltaStore`
  (immutable once computed — a doc lives entirely inside its batch).

``novelty()`` is STATE-ONLY: count grams per owner (one agg over the
ownership table), left-join onto the stored per-doc counts, derive the
fraction with the batch operator's exact expression — so once the same
documents are absorbed the stored-state table is bit-identical to
``text_ngram_novelty`` over the union (pinned by test), including
cross-batch ownership steals.

Scale shape: per batch one gram explode (per-doc distinctness
map-side via array_distinct, the batch operator's own trick) + two
keyed hash aggs on uniform keys; the ownership state is
O(distinct grams) — the same asymptotics as every dedup index here —
with read amplification bounded by the shared compaction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_sync_poc_spark.streaming.util import persisted

from cdc_sync_poc_spark.llm.preprocess import DUP_N
from cdc_sync_poc_spark.streaming.delta_store import (
    AppendDeltaStore,
    KeyedDeltaStore,
)


class StreamingNovelty:
    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.owners = KeyedDeltaStore(
            spark,
            root,
            key_cols=["gh"],
            ddl="gh string, owner bigint",
            agg="min",
            deltas_name="owners",
            base_name="owners_base",
        )
        self.doc_counts = AppendDeltaStore(
            spark,
            root,
            ddl="doc_id bigint, n_distinct bigint, batch_id bigint",
            deltas_name="docs",
            base_name="docs_base",
        )

    @staticmethod
    def _grams(docs: DataFrame) -> DataFrame:
        """(doc_id, gh): each doc's DISTINCT DUP_N-gram hashes — the
        batch operator's exact expression (distinctness map-side)."""
        base = docs.select(
            "doc_id", F.split(F.col("text"), " ").alias("w")
        ).filter(F.size("w") >= DUP_N)
        return base.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(1, size(w) - {DUP_N - 1}),"
                        f" i -> md5(concat_ws(' ', slice(w, i, {DUP_N}))))"
                    )
                )
            ).alias("gh"),
        )

    def absorb_batch(self, docs: DataFrame, batch_id: int) -> None:
        with persisted(self._grams(docs)) as grams:
            self.owners.write_delta(
                grams.groupBy("gh").agg(F.min("doc_id").alias("owner")),
                batch_id,
            )
            self.doc_counts.write_delta(
                grams.groupBy("doc_id").agg(F.count("*").alias("n_distinct")),
                batch_id,
            )

    def compact(self, upto_batch_id: int) -> None:
        self.owners.compact(upto_batch_id)
        self.doc_counts.compact(upto_batch_id)

    def novelty(self) -> DataFrame:
        """(doc_id, n_distinct, n_novel, novelty_frac) over everything
        absorbed so far — the batch operator's output shape, computed
        from state alone (no document text is ever re-read)."""
        owned = (
            self.owners.totals()
            .groupBy("owner")
            .agg(F.count("*").alias("n_novel"))
            .withColumnRenamed("owner", "doc_id")
        )
        novel = F.coalesce(F.col("n_novel"), F.lit(0)).cast("bigint")
        return (
            self.doc_counts.rows()
            .select("doc_id", "n_distinct")
            .join(owned, "doc_id", "left")
            .select(
                "doc_id",
                "n_distinct",
                novel.alias("n_novel"),
                F.round(
                    novel.cast("double") / F.col("n_distinct"), 6
                ).alias("novelty_frac"),
            )
        )


def run_streaming_novelty(
    spark: SparkSession,
    in_dir: str,
    root: str,
    checkpoint: str,
    compact_every: int | None = None,
):
    """Wire the document file-stream through the novelty maintainer,
    optionally compacting every N batches (lagging one batch, the
    shared in-flight policy)."""
    from cdc_sync_poc_spark.streaming.docs_dedup import doc_stream

    st = StreamingNovelty(spark, root)

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
