"""Streaming quality-classifier calibration stats — the monitoring
half of the model-based filter (llm/classifier.py).

A production quality filter is trusted with deletes, so its verdict
distribution is watched CONTINUOUSLY: a crawler config change or a
source mix shift moves the keep rate and the score histogram long
before anyone re-runs the offline confusion harness. This maintainer
keeps both live:

* confusion counts keyed (clf_label, ref_label) — the streaming twin
  of ``text_classifier_confusion``;
* a score histogram keyed by integer score band (floor(score * 10)
  clamped to [-10, 9]; the normalized score lives in [-1, 1]) — the
  drift curve a dashboard alerts on.

Both are sum-folded KeyedDeltaStores: per batch ONE map-only scoring
pass (the shared ``scored_frame`` expression — bit-identical scores to
the batch queries) feeding two map-side-combined count aggs; zero reads
of prior state on the write path; replay-safe by partition ownership
+ the compaction watermark (streaming/delta_store.py).

Banding is pure integer arithmetic on the exact BIGINT margin
(margin_fix * 10 integer-divided by the normalizer), so bands are
deterministic and engine-portable — no float boundary can flip a
document's band between runs.

Reference parity: the reference ships no quality classifier; this is
part of the M6 training-data surface (SURVEY §2 extension).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_sync_poc_spark.llm.classifier import CLF_WOFF, scored_frame
from cdc_sync_poc_spark.streaming.delta_store import KeyedDeltaStore


def confusion_counts(docs: DataFrame) -> DataFrame:
    """Per-batch (clf_label, ref_label, n) — the batch confusion
    query's grouping, computed on one micro-batch."""
    s = scored_frame(docs)
    return (
        s.select(
            F.when(F.col("margin_fix") >= 0, "keep")
            .otherwise("drop")
            .alias("clf_label"),
            F.when(F.col("lang") == "en", "en")
            .otherwise("other")
            .alias("ref_label"),
        )
        .groupBy("clf_label", "ref_label")
        .agg(F.count("*").alias("n"))
    )


def score_band_counts(docs: DataFrame) -> DataFrame:
    """Per-batch (band, n): integer score band per document —
    floor(score * 10) on the EXACT integer margin (score = margin_fix
    / (n_tokens * CLF_WOFF)), clamped to [-10, 9]. Integer floor
    division keeps banding exact: no double ever decides a band."""
    s = scored_frame(docs)
    # true integer floor division (a - pmod(a, b)) / b with b > 0: the
    # subtraction makes the quotient exactly integral, so the double
    # divide is exact — F.floor(a / b) would floor a correctly-ROUNDED
    # double quotient, which can flip a band when the true ratio sits
    # just below an integer
    a = F.col("margin_fix") * 10
    b = F.col("n_tokens") * F.lit(CLF_WOFF)
    band = F.least(
        F.greatest(
            ((a - F.pmod(a, b)) / b).cast("bigint"),
            F.lit(-10),
        ),
        F.lit(9),
    )
    return s.groupBy(band.alias("band")).agg(F.count("*").alias("n"))


class StreamingClfStats:
    """foreachBatch body maintaining live classifier calibration
    state: confusion counts and the score-band histogram."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        import os

        self.confusion_store = KeyedDeltaStore(
            spark,
            os.path.join(root, "confusion"),
            key_cols=["clf_label", "ref_label"],
            ddl="clf_label string, ref_label string, n bigint",
            deltas_name="counts",
        )
        self.hist_store = KeyedDeltaStore(
            spark,
            os.path.join(root, "hist"),
            key_cols=["band"],
            ddl="band bigint, n bigint",
            deltas_name="counts",
        )

    def absorb_batch(self, docs: DataFrame, batch_id: int) -> None:
        self.confusion_store.write_delta(confusion_counts(docs), batch_id)
        self.hist_store.write_delta(score_band_counts(docs), batch_id)

    def compact(self, upto_batch_id: int) -> None:
        self.confusion_store.compact(upto_batch_id)
        self.hist_store.compact(upto_batch_id)

    def confusion(self) -> DataFrame:
        """(clf_label, ref_label, n, frac_of_pred) over everything
        absorbed — the same shape/formula as the batch
        text_classifier_confusion query."""
        from pyspark.sql import Window

        counts = self.confusion_store.totals()
        per_pred = Window.partitionBy("clf_label")
        return counts.select(
            "clf_label",
            "ref_label",
            "n",
            F.round(
                F.col("n").cast("double") / F.sum("n").over(per_pred), 6
            ).alias("frac_of_pred"),
        )

    def histogram(self) -> DataFrame:
        """(band, n) score histogram over everything absorbed."""
        return self.hist_store.totals()


def run_streaming_clf_stats(
    spark: SparkSession, in_dir: str, root: str, checkpoint: str
):
    """Wire the document file-stream through the calibration stats."""
    from cdc_sync_poc_spark.streaming.docs_dedup import doc_stream

    body = StreamingClfStats(spark, root)
    return (
        doc_stream(spark, in_dir)
        .writeStream.foreachBatch(
            lambda df, bid: body.absorb_batch(df, bid)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
