"""Streaming BM25 corpus statistics — the continuous form of
text_bm25_rank (llm/lm_quality.py): documents arrive in micro-batches
and every corpus statistic BM25 needs is maintained incrementally, so
ranking the fixed query is O(state read), never a corpus rescan.

What Okapi BM25 needs, and why it streams cleanly:

* ``n_docs`` and ``sum_len`` (for avgdl) — additive scalars;
* per-query-term ``df`` — additive, because a document lives entirely
  inside its batch (doc_ids are unique, so per-batch distinct-doc
  counts sum to the corpus distinct count);
* the postings for the QUERY TERMS only: (doc_id, term, tf, dl) for
  documents containing at least one query term — append-only, since
  documents are immutable once ingested.

Both halves of the state live on the shared delta-store recipes
(streaming/delta_store.py): the per-term stats delta (one row per
query term + the two scalars, a bounded literal_frame) in a
sum-folded KeyedDeltaStore, the postings in an AppendDeltaStore — so
replay safety is partition ownership, compaction is the shared
watermark-directory fold, and this module owns only the BM25
math.

``score()`` folds the stats deltas (a bounded batches x |terms| read),
attaches df / n_docs / avgdl to the stored postings as broadcast
literal frames, and evaluates the IDENTICAL per-term conditional
aggregate the batch operator uses (_bm25_term_case, the SQL text shared
verbatim with the DuckDB oracle) — so once the same documents are
absorbed, the streaming ranking is bit-identical to bm25_rank_frame
over the union (pinned by test).

Scale shape: per batch one tokenize pass + two keyed aggs on the
query-term-filtered stream (the isin filter reaches the explode, so
postings stay O(matching docs), not O(corpus)); scoring reads
|terms|-bounded state plus the matching postings and never touches
document text again. ``compact()`` on either store bounds the
small-file count by the shared fold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_sync_poc_spark.streaming.util import persisted

from cdc_sync_poc_spark.llm.lm_quality import (
    BM25_TERMS,
    BM25_TOP,
    _bm25_term_case,
)
from cdc_sync_poc_spark.sources.loader import literal_frame
from cdc_sync_poc_spark.streaming.delta_store import (
    AppendDeltaStore,
    KeyedDeltaStore,
)


class StreamingBM25Stats:
    def __init__(self, spark: SparkSession, root: str, terms=BM25_TERMS) -> None:
        self.spark = spark
        self.terms = tuple(terms)
        self.stats = KeyedDeltaStore(
            spark,
            root,
            key_cols=["term"],
            ddl="term string, df bigint, n_docs bigint, sum_len bigint",
            deltas_name="stats",
            base_name="stats_base",
        )
        self.postings = AppendDeltaStore(
            spark,
            root,
            ddl="doc_id bigint, term string, tf bigint, dl bigint,"
            " batch_id bigint",
            deltas_name="postings",
            base_name="postings_base",
        )

    def absorb_batch(self, docs: DataFrame, batch_id: int) -> None:
        with persisted(docs) as docs:
            tok = docs.select(
                "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
            )
            dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
            tf = (
                tok.filter(F.col("term").isin(*self.terms))
                .groupBy("doc_id", "term")
                .agg(F.count("*").alias("tf"))
            )
            # postings carry dl so scoring never rejoins the corpus
            self.postings.write_delta(tf.join(dl, "doc_id"), batch_id)

            # bounded collects: 1 scalar row + <= |terms| df rows. The
            # sum coalesces to 0 because sum() over ZERO rows is NULL — a
            # file-source stream can deliver an empty batch after a restart
            # and the delta must still be written (partition ownership
            # requires the replayed batch to own its partition), just with
            # all-zero counts (advisor finding, r9)
            scal = docs.agg(
                F.count("*").alias("n_docs"),
                F.coalesce(F.expr("sum(size(split(text, ' ')))"), F.lit(0))
                .cast("bigint")
                .alias("sum_len"),
            ).collect()[0]
            dfs = {
                r.term: int(r.df)
                for r in tok.filter(F.col("term").isin(*self.terms))
                .groupBy("term")
                .agg(F.count_distinct("doc_id").alias("df"))
                .collect()
            }
            rows = [
                (t, dfs.get(t, 0), int(scal.n_docs), int(scal.sum_len))
                for t in self.terms
            ]
            self.stats.write_delta(
                literal_frame(
                    self.spark,
                    rows,
                    "term string, df bigint, n_docs bigint, sum_len bigint",
                ),
                batch_id,
            )

    def totals(self) -> tuple[dict[str, int], int, int]:
        """Fold the per-batch deltas: (df per term, n_docs, sum_len).
        Bounded read — (base + recent deltas) x |terms| rows. Before
        any batch is absorbed this returns ({}, 0, 0) instead of
        raising, mirroring the sibling stores' typed-empty reads
        (advisor finding, r9)."""
        agg = self.stats.totals().collect()
        if not agg:
            return {}, 0, 0
        df = {r.term: int(r.df) for r in agg}
        n_docs = int(agg[0].n_docs)
        sum_len = int(agg[0].sum_len)
        return df, n_docs, sum_len

    def score(self, top: int = BM25_TOP) -> DataFrame:
        """Rank the fixed query against everything absorbed so far —
        the stored-state twin of bm25_rank_frame's corpus pass.
        Typed-empty (no ranking, not an error) while the corpus is
        empty, which also guards the avgdl division."""
        df, n_docs, sum_len = self.totals()
        if n_docs == 0:
            return literal_frame(self.spark, [], "doc_id bigint, bm25 double")
        # same IEEE division the batch op's JVM agg performs
        stats = F.broadcast(
            literal_frame(
                self.spark,
                [(n_docs, sum_len / n_docs)],
                "n_docs bigint, avgdl double",
            )
        )
        dfs = F.broadcast(
            literal_frame(
                self.spark,
                [(t, df.get(t, 0)) for t in self.terms],
                "term string, df bigint",
            )
        )
        scored = (
            self.postings.rows()
            .join(dfs, "term")
            .crossJoin(stats)
            .groupBy("doc_id")
            .agg(
                *[
                    F.expr(_bm25_term_case(t)).alias(f"s{i}")
                    for i, t in enumerate(self.terms)
                ]
            )
        )
        # left-to-right add chain, same float order as the batch op
        acc = F.coalesce(F.col("s0"), F.lit(0))
        for i in range(1, len(self.terms)):
            acc = acc + F.coalesce(F.col(f"s{i}"), F.lit(0))
        bm25 = F.round(acc, 6)
        return (
            scored.select("doc_id", bm25.alias("bm25"))
            .orderBy(F.desc("bm25"), F.asc("doc_id"))
            .limit(top)
        )


def run_streaming_bm25(
    spark: SparkSession, in_dir: str, root: str, checkpoint: str
):
    """Wire the document file-stream through the stats maintainer."""
    from cdc_sync_poc_spark.streaming.docs_dedup import doc_stream

    st = StreamingBM25Stats(spark, root)
    return (
        doc_stream(spark, in_dir)
        .writeStream.foreachBatch(st.absorb_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
