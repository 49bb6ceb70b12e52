"""Streaming decontamination — the continuous form of
llm/hygiene.corpus_contamination, running the SAME delta algebra the
batch query corpus_decontam_incremental proves against the one-shot
oracle, but per micro-batch with persisted stores:

* corpus docs are screened ON ARRIVAL against every benchmark shingle
  seen so far (delta 1/2 of the batch query);
* NEW benchmark shingles retro-screen the EXISTING corpus index
  (delta 3) — an eval suite dropped mid-stream back-flags documents
  ingested months earlier, without rescreening anything already known.

Every doc shingle is counted exactly once: when the doc arrives if the
shingle is already benchmarked, or when the shingle's FIRST benchmark
occurrence arrives otherwise (``new_bench`` is anti-joined against the
accumulated bench store, so a shingle can be "new" only once).
``contamination()`` therefore converges to the batch
corpus_contamination output for ANY arrival order — pinned in
tests/test_streaming_docs.py with benchmark docs arriving last.

Replay safety (the at-least-once foreachBatch contract shared with
streaming/docs_index.py): every read excludes the current batch's own
partition (hive-pruned at listing time) and every write overwrites it,
so a replayed batch recomputes byte-identical deltas from identical
prior state.

Scale shape: the bench stores broadcast (eval suites are tiny next to
the corpus; the retro join's build side is only the batch's NEW bench
shingles); the corpus side is a map-only shingle explode, broadcast
hash joins, and one doc-keyed additive delta. The stored corpus index
is (doc_id, shingle) — the artifact any incremental decontam service
persists; at 100 TB it lives partitioned and is touched O(new
benchmark) per suite drop, never rescanned per batch.

Reference parity: the reference ships no decontamination; this extends
the M6 training-data surface (SURVEY §7.1) like the other streaming
twins.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_sync_poc_spark.llm.dedup import _shingles
from cdc_sync_poc_spark.llm.hygiene import BENCH_MOD
from cdc_sync_poc_spark.streaming.delta_store import KeyedDeltaStore

_BENCH_SCHEMA = T.StructType([T.StructField("shingle", T.StringType())])
_CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("shingle", T.StringType()),
    ]
)


class StreamingDecontam:
    """foreachBatch body maintaining the benchmark shingle store, the
    corpus shingle index, and the additive per-doc hit counters."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.bench_dir = os.path.join(root, "bench_idx")
        self.corpus_dir = os.path.join(root, "corpus_idx")
        self.hits = KeyedDeltaStore(
            spark,
            root,
            key_cols=["doc_id"],
            ddl="doc_id bigint, n_hits bigint",
            deltas_name="hits",
        )
        self.nsh = KeyedDeltaStore(
            spark,
            root,
            key_cols=["doc_id"],
            ddl="doc_id bigint, n_shingles bigint",
            deltas_name="nsh",
            base_name="nsh_base",
        )

    def _read_idx(
        self, path: str, schema: T.StructType, exclude_batch: int
    ) -> DataFrame:
        """Stored index minus ``exclude_batch``'s own partition — the
        replayed batch must recompute from the same prior state it saw
        the first time (partition filter prunes at LISTING time)."""
        if not os.path.isdir(path):
            return self.spark.createDataFrame([], schema)
        cols = [f.name for f in schema.fields]
        return (
            self.spark.read.parquet(path)
            .filter(F.col("batch_id") != exclude_batch)
            .select(*cols)
        )

    def screen_batch(self, docs: DataFrame, batch_id: int) -> None:
        docs = docs.persist()
        try:
            self._screen_batch(docs, batch_id)
        finally:
            # released even when a write dies mid-batch — the replay
            # re-persists; without the finally, every crash-and-retry
            # cycle would strand one cache entry (the VERDICT r11 #1
            # leak class, crash-path variant)
            docs.unpersist()

    def _screen_batch(self, docs: DataFrame, batch_id: int) -> None:
        # cache=False twin of the docs_index rule does not apply here
        # (no signature agg) — _shingles is map-only, no library cache
        sh = _shingles(docs)
        is_bench = F.col("doc_id") % BENCH_MOD == 0

        prior_bench = self._read_idx(
            self.bench_dir, _BENCH_SCHEMA, batch_id
        )
        new_bench = (
            sh.filter(is_bench)
            .select("shingle")
            .distinct()
            .join(prior_bench, "shingle", "left_anti")
        )
        new_bench.write.mode("overwrite").parquet(
            os.path.join(self.bench_dir, f"batch_id={batch_id}")
        )

        corpus_sh = sh.filter(~is_bench).select("doc_id", "shingle")
        corpus_sh.write.mode("overwrite").parquet(
            os.path.join(self.corpus_dir, f"batch_id={batch_id}")
        )
        self.nsh.write_delta(
            corpus_sh.groupBy("doc_id").agg(
                F.count("*").alias("n_shingles")
            ),
            batch_id,
        )

        # read the just-written partitions back rather than recomputing
        # the anti-join/explode subtrees for the hit deltas: the stored
        # form IS the canonical state, and parquet round-trips exactly
        new_bench_stored = self.spark.read.parquet(
            os.path.join(self.bench_dir, f"batch_id={batch_id}")
        ).select("shingle")
        corpus_stored = self.spark.read.parquet(
            os.path.join(self.corpus_dir, f"batch_id={batch_id}")
        ).select("doc_id", "shingle")
        full_bench = prior_bench.unionByName(new_bench_stored)
        prior_corpus = self._read_idx(
            self.corpus_dir, _CORPUS_SCHEMA, batch_id
        )
        delta = (
            # arrivals screened against everything benchmarked so far
            corpus_stored.join(F.broadcast(full_bench), "shingle")
            .select("doc_id")
            # retro: new bench shingles back-flag the existing corpus
            .unionByName(
                prior_corpus.join(
                    F.broadcast(new_bench_stored), "shingle"
                ).select("doc_id")
            )
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_hits"))
        )
        self.hits.write_delta(delta, batch_id)

    def compact(self, upto_batch_id: int) -> None:
        self.hits.compact(upto_batch_id)
        self.nsh.compact(upto_batch_id)

    def contamination(self) -> DataFrame:
        """Current per-doc contamination — same columns and values as
        the batch corpus_contamination over everything ingested."""
        hits = self.hits.totals().filter(F.col("n_hits") > 0)
        nsh = self.nsh.totals()
        return hits.join(nsh, "doc_id").select(
            "doc_id",
            "n_hits",
            "n_shingles",
            F.round(
                F.col("n_hits").cast("double") / F.col("n_shingles"), 6
            ).alias("contamination_frac"),
        )


def run_streaming_decontam(
    spark: SparkSession, in_dir: str, root: str, checkpoint: str
):
    """Wire the document file-stream through the decontam maintainer."""
    from cdc_sync_poc_spark.streaming.docs_dedup import doc_stream

    body = StreamingDecontam(spark, root)
    return (
        doc_stream(spark, in_dir)
        .writeStream.foreachBatch(
            lambda df, bid: body.screen_batch(df, bid)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
