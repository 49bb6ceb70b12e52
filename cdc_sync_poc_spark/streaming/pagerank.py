"""Streaming incremental PageRank — the continuous form of
graph_pagerank_dist (operators/graph.py): events arrive in
micro-batches, the transition-count edge table accumulates across
batches, and the K-iteration BIGINT fixed point recomputes on demand
from the accumulated counts, matching the batch operator exactly once
the same events have been absorbed (pinned in
tests/test_streaming_pagerank.py).

Two pieces of cross-batch state, both replay-safe:

* **edge deltas** (``edges/batch_id=N``): each batch's transition
  counts land in their own partition, overwritten byte-identically on
  replay — the same at-least-once foreachBatch recipe as
  streaming/packing.py and streaming/writer.py. Counts are additive,
  so idempotency comes from partition ownership, NOT from the merge
  (an accumulate-in-place store would double-count a replayed batch).
* **user tails** (``tails/batch_id=N``): each user's LAST event after
  batch N — the carry that lets the boundary transition (last event of
  batch k -> first event of batch k+1, same user) form. Batch N reads
  its PREDECESSOR's snapshot, so a replay recomputes from the same
  pre-state. The snapshot is active-users-sized: ``ttl_batches``
  evicts a user's row after that many event-free batches (exactly the
  TTL a transformWithState operator would put on this state), at the
  documented cost of dropping the ONE boundary transition across an
  idle gap for a user that later returns; ``None`` keeps tails
  forever for exact batch parity.
* **compacted base** (the store's SwapStore): ``compact()`` folds the
  delta partitions up to a watermark into one summed table so the
  per-batch read amplification of ``ranks()`` stays bounded. The
  watermark is the base's ``upto=U`` directory, so base and watermark
  move in one atomic rename — ``ranks()`` reads base + deltas with
  ``batch_id > upto`` and a crash between the swap and the delta
  cleanup merely leaves already-folded partitions on disk, EXCLUDED by
  the watermark, never double-counted.

Ordering contract (same as StreamingPacker): transitions form in
ARRIVAL order — batch sequence first, then (ts, event_id) within a
batch. When batches partition event time (the normal ingest case) this
is IDENTICAL to the batch operator's per-user (ts, event_id) order.

Scale shape: per batch, one per-user lead window over (tails ∪ batch)
— the batch is the dominant side and is user-partitioned,
embarrassingly parallel — plus one (src, dst) count agg. The rank
recompute reads the edge-delta partitions (|types|² rows per batch,
pruned by the parquet partition layout) and runs the shared
join-iteration fixed point; nothing is ever collected to the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_sync_poc_spark.streaming.util import persisted
from pyspark.sql import Window

from cdc_sync_poc_spark.operators.graph import pr_fixed_point_frames
from cdc_sync_poc_spark.sources.maintenance import expire_old_batches
from cdc_sync_poc_spark.streaming.delta_store import (
    KeyedDeltaStore,
    newest_batch_id,
)

_EV_COLS = ["user_id", "ts", "event_id", "event_type"]
# tail snapshots are written in these types (the batch's columns are
# cast to them), so a snapshot is read without inferring a schema
_TAILS_DDL = (
    "user_id long, ts timestamp, event_id long, event_type string, "
    "last_batch long"
)


class StreamingPageRank:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        ttl_batches: int | None = None,
    ) -> None:
        """``ttl_batches``: evict a user's tail row once it has gone
        that many batches without an event (VERDICT r8 #5) — bounds
        the snapshot at the ACTIVE user set instead of the all-time
        one. Documented deviations vs batch: (a) an evicted-then-
        returning user loses exactly the ONE boundary transition
        across the idle gap (its last pre-gap event no longer pairs
        with its first post-gap event); (b) an event TYPE whose only
        remaining occurrence is an evicted idle user's tail leaves the
        node domain that ``ranks()`` unions from edges + tails, which
        shrinks |V| and therefore shifts every node's fixed-point
        registers — on real event streams types live in many
        transitions and (b) never fires, but it is a real divergence,
        not just a missing edge. Eviction is a pure function of
        (predecessor snapshot, batch, batch_id), so replays stay
        byte-identical. None (default) keeps tails forever — exact
        batch parity."""
        if ttl_batches is not None and ttl_batches < 1:
            # 0 would evict EVERY tail each batch (last_batch <=
            # batch_id always), silently dropping all boundary edges
            raise ValueError(
                f"ttl_batches must be >= 1, got {ttl_batches}"
            )
        self.spark = spark
        # edge counts live in the shared sum-folded store (this
        # module is where its delta/compaction recipe was first built;
        # the mechanics now live in streaming/delta_store.py)
        self.edge_store = KeyedDeltaStore(
            spark,
            root,
            key_cols=["src", "dst"],
            ddl="src string, dst string, n long",
            deltas_name="edges",
        )
        self.tails_dir = os.path.join(root, "tails")
        self.tails_schema = spark.createDataFrame([], _TAILS_DDL).schema
        self.ttl_batches = ttl_batches

    def _tails(self, batch_id: int) -> DataFrame:
        return self.spark.read.schema(self.tails_schema).parquet(
            os.path.join(self.tails_dir, f"batch_id={batch_id}")
        )

    def _tails_before(self, batch_id: int) -> DataFrame | None:
        """The newest tails snapshot older than ``batch_id`` (None on
        the first batch) — read as a frame, never collected."""
        latest = newest_batch_id(self.tails_dir, before=batch_id)
        if latest is None:
            return None
        # migration: a snapshot written before last_batch existed reads
        # it as null; its rows count as last seen at their snapshot
        # batch (the most recent information the old format holds)
        return self._tails(latest).withColumn(
            "last_batch",
            F.coalesce(F.col("last_batch"), F.lit(latest).cast("long")),
        )

    def absorb_batch(self, events: DataFrame, batch_id: int) -> None:
        """Fold one micro-batch of events into the edge and tail state."""
        ev = events.withColumn("last_batch", F.lit(batch_id)).select(
            *[F.col(f.name).cast(f.dataType) for f in self.tails_schema]
        )
        prev = self._tails_before(batch_id)
        # the tail row is each user's last ALREADY-ABSORBED event: its
        # lead() inside the unioned frame is exactly the boundary
        # transition, and intra-batch pairs form as in the batch
        # operator — one window, both kinds of edge
        with persisted((ev.unionByName(prev) if prev is not None else ev)) as aug:
            w = Window.partitionBy("user_id").orderBy("ts", "event_id")
            # every pair in the unioned frame is NEW: the single tail row
            # per user is the only pre-batch element, so its pair is the
            # boundary transition and all others are intra-batch
            deltas = (
                aug.select(
                    F.col("event_type").alias("src"),
                    F.lead("event_type").over(w).alias("dst"),
                )
                .filter(F.col("dst").isNotNull())
                .groupBy("src", "dst")
                .agg(F.count("*").alias("n"))
            )
            self.edge_store.write_delta(deltas, batch_id)
            tails = (
                aug.withColumn(
                    "__rn",
                    F.row_number().over(
                        Window.partitionBy("user_id").orderBy(
                            F.desc("ts"), F.desc("event_id")
                        )
                    ),
                )
                .filter(F.col("__rn") == 1)
                .select(*_EV_COLS, "last_batch")
            )
            if self.ttl_batches is not None:
                # idle-user eviction: the surviving row's last_batch is the
                # batch that produced the user's newest event (carried
                # forward untouched while the user is idle)
                tails = tails.filter(
                    F.col("last_batch") > batch_id - self.ttl_batches
                )
            tails.write.mode("overwrite").parquet(
                os.path.join(self.tails_dir, f"batch_id={batch_id}")
            )

    def _newest_tails(self) -> DataFrame | None:
        latest = newest_batch_id(self.tails_dir)
        return None if latest is None else self._tails(latest)

    def _edge_counts(self) -> DataFrame:
        """Accumulated (src, dst, n): compacted base + deltas newer
        than the base watermark (KeyedDeltaStore.totals —
        folded-but-not-yet-deleted or replay-recreated partitions are
        excluded by the watermark, never double-counted)."""
        return self.edge_store.totals()

    def compact(self, upto_batch_id: int) -> None:
        """Fold delta partitions with batch_id <= ``upto_batch_id``
        into the summed base (KeyedDeltaStore.compact): the
        watermark is the base's upto= directory, cleanup only
        removes partitions the NEW watermark already excludes, and
        calling before any absorb_batch is a clean no-op (ADVICE r8) —
        re-running compact() or crashing mid-cleanup changes nothing
        ``ranks()`` reads."""
        self.edge_store.compact(upto_batch_id)

    def prune_tails(self, keep: int = 2) -> None:
        """Drop tail snapshots older than the newest ``keep``. Two are
        enough under the streaming checkpoint contract: only the most
        recent batch can replay after a restart, and it reads its
        PREDECESSOR's snapshot — everything older is never read again.
        Deletion is crash-safe trivially (pruned snapshots have no
        reader); a replay never recreates them because it overwrites
        its OWN snapshot, not its predecessor's."""
        expire_old_batches(self.tails_dir, keep)

    def ranks(self, redistribute_dangling: bool = False) -> DataFrame:
        """PageRank over everything absorbed so far — identical output
        (bit-for-bit pr_fixed) to graph_pagerank_dist over the same
        events when ``ttl_batches`` is None; under TTL the documented
        eviction deviations apply (see __init__), including the node
        domain below losing a type whose only occurrence was an
        evicted tail. ``redistribute_dangling=True`` selects the
        mass-conserving variant instead — then the match is
        graph_pagerank_mass, same flag on the shared fixed point."""
        tails = self._newest_tails()
        if tails is None:
            return self.spark.createDataFrame(
                [], "event_type string, pr_fixed long, pagerank double"
            )
        edges = self._edge_counts()
        # every type seen is either inside some transition or is a
        # user's final (tail) event — a superseded occurrence always
        # formed an edge with its successor, so this union IS the full
        # node domain of the batch operator (under ttl_batches, minus
        # types whose only occurrence was an evicted idle tail)
        nodes = (
            edges.select(F.col("src").alias("node"))
            .unionByName(edges.select(F.col("dst").alias("node")))
            .unionByName(tails.select(F.col("event_type").alias("node")))
            .distinct()
        )
        return pr_fixed_point_frames(
            self.spark,
            nodes,
            edges,
            redistribute_dangling=redistribute_dangling,
        )


def run_streaming_pagerank(
    spark: SparkSession,
    in_dir: str,
    root: str,
    checkpoint: str,
    compact_every: int | None = None,
    ttl_batches: int | None = None,
):
    """Wire an event file-stream through the incremental PageRank
    state; returns the started query (availableNow for tests). One
    parquet file per trigger so each file becomes one micro-batch —
    the same wiring as run_streaming_hll_rollup. With
    ``compact_every=K`` the delta log folds into the base after every
    K-th batch (lagging one batch so a replay of the just-absorbed
    batch still finds its pre-state tails snapshot intact);
    ``ttl_batches`` bounds the tail snapshots at the active user set
    (see StreamingPageRank)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    pr = StreamingPageRank(spark, root, ttl_batches=ttl_batches)

    def absorb(events: DataFrame, batch_id: int) -> None:
        pr.absorb_batch(events, batch_id)
        if compact_every and (batch_id + 1) % compact_every == 0:
            pr.compact(upto_batch_id=batch_id - 1)
            pr.prune_tails()

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
        .writeStream.foreachBatch(absorb)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
