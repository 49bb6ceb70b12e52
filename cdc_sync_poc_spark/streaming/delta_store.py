"""Keyed streaming state as per-batch delta partitions + a compacted
base — the shared recipe behind every foreachBatch maintainer in this
package, extracted once so the crash-window analysis lives in ONE
place instead of per-store copies (VERDICT r9 "Next round" #3).

Contract (two mechanisms, each carrying half the safety):

* **Deltas are replay-safe by PARTITION OWNERSHIP**: batch N writes its
  rows to ``deltas/batch_id=N`` with mode=overwrite; the rows a batch
  produces are a pure function of the batch, so idempotency comes from
  a replayed batch overwriting its OWN partition byte-identically,
  never from merge logic.
* **Compaction is crash-safe by the WATERMARK INSIDE THE FRAME**:
  ``compact(upto)`` folds delta partitions with batch_id <= upto (plus
  any existing base) into one base carrying an ``upto`` column,
  swapped atomically through SwapStore; cleanup after the swap only
  removes partitions the live watermark already excludes, so a crash
  between swap and cleanup — or an at-least-once replay RECREATING an
  already-folded partition — leaves the read path unchanged (folded
  partitions are filtered out by ``batch_id > upto``, never
  double-counted).

Four fold disciplines share that skeleton:

* :class:`AdditiveDeltaStore` — sum-mergeable keyed counters (term
  counts, document frequencies, edge weights): folding re-sums per
  key, reads re-sum base + post-watermark deltas. Read amplification
  O(keys + recent deltas), bounded by compaction cadence.
* :class:`MinDeltaStore` — min-mergeable keyed state (first-owner
  gram index, earliest-occurrence tables): same skeleton with a min
  fold, which is additionally idempotent per row.
* :class:`AppendDeltaStore` — append-only row sets (IVF index rows,
  media fingerprints, BM25 postings): folding is a plain union (a row
  never changes once written), reads union base + post-watermark
  deltas. Optional hive partitioning on both the per-batch delta
  (``delta_partition_by``) and the compacted base
  (``base_partition_by``) keeps key-pruned probes — e.g. the IVF
  cell_id layout — pruning at planning time after compaction too.
* :class:`LastWinsDeltaStore` — keyed last-writer-wins rows with
  tombstones (the MERGE target of streaming/writer.py and the open
  versions of streaming/scd2.py): each delta row is a resolved
  decision for its key, the newest row per key by ``batch_id``
  decides, folding keeps that row and drops tombstones.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from cdc_sync_poc_spark.streaming.swapstore import SwapStore


class _DeltaStoreBase:
    """Delta-partition bookkeeping shared by both fold disciplines.

    ``cols`` is the logical row schema of the store as read back —
    append stores include ``batch_id`` (a hive partition column on the
    delta side, a plain column inside the folded base), additive
    stores exclude it (their rows are re-summed, so provenance is
    meaningless after folding).
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        cols: list[str],
        deltas_name: str = "deltas",
        base_name: str = "base",
    ) -> None:
        self.spark = spark
        self.deltas_dir = os.path.join(root, deltas_name)
        self.base = SwapStore(spark, root, base_name)
        self.cols = list(cols)
        self.base_partition_by: list[str] | None = None
        # read schemas (partition columns included) of stores that know
        # them; None infers one with a footer-reading Spark job per read
        self.delta_schema: StructType | None = None
        self.base_schema: StructType | None = None

    def _delta_frame(self) -> DataFrame | None:
        if not os.path.isdir(self.deltas_dir):
            return None
        if not any(
            d.startswith("batch_id=") for d in os.listdir(self.deltas_dir)
        ):
            return None
        reader = self.spark.read
        if self.delta_schema is not None:
            reader = reader.schema(self.delta_schema)
        return reader.parquet(self.deltas_dir)

    def _base_frame(self) -> tuple[DataFrame | None, int | None]:
        """The live base and its watermark (None, None when absent or
        degenerate-empty)."""
        base = self.base.read(self.base_schema)
        if base is None:
            return None, None
        upto = base.agg(F.max("upto").alias("u")).collect()[0].u
        if upto is None:
            return None, None
        return base, upto

    def _rows(self) -> DataFrame | None:
        """Everything stored so far: base + deltas newer than the base
        watermark (folded-then-replayed partitions excluded)."""
        base, upto = self._base_frame()
        deltas = self._delta_frame()
        if base is not None and deltas is not None:
            return (
                deltas.filter(F.col("batch_id") > upto)
                .select(*self.cols)
                .unionByName(base.select(*self.cols))
            )
        if base is not None:
            return base.select(*self.cols)
        if deltas is not None:
            return deltas.select(*self.cols)
        return None

    def _fold(self, rows: DataFrame) -> DataFrame:
        """Subclass hook: collapse the pre-watermark rows for the new
        base (re-sum for additive state, identity for append-only)."""
        return rows

    def compact(self, upto_batch_id: int) -> None:
        """Fold deltas with batch_id <= ``upto_batch_id`` into the
        base; see module docstring for the crash-window analysis."""
        if upto_batch_id < 0:
            return
        base, prev_upto = self._base_frame()
        if prev_upto is not None and upto_batch_id <= prev_upto:
            return  # already folded this far
        deltas = self._delta_frame()
        if deltas is None:
            return
        folded = deltas.filter(
            (F.col("batch_id") <= upto_batch_id)
            & (
                F.col("batch_id") > prev_upto
                if prev_upto is not None
                else F.lit(True)
            )
        ).select(*self.cols)
        if base is not None:
            folded = folded.unionByName(base.select(*self.cols))
        new_base = self._fold(folded).withColumn(
            "upto", F.lit(upto_batch_id).cast("long")
        )
        self.base.swap(new_base, partition_by=self.base_partition_by)
        # cleanup AFTER the swap: these partitions are now <= the live
        # watermark, so the read path already ignores them
        if os.path.isdir(self.deltas_dir):
            for d in os.listdir(self.deltas_dir):
                if d.startswith("batch_id="):
                    try:
                        bid = int(d.split("=", 1)[1])
                    except ValueError:
                        continue
                    if bid <= upto_batch_id:
                        shutil.rmtree(os.path.join(self.deltas_dir, d))


    def newer_deltas(self, watermark: int | None) -> list[int]:
        """Live delta partition ids newer than ``watermark`` (ALL of
        them when watermark is None) — the quiesce probe shared by
        replace_base_rows and the maintenance pre-gates that must
        refuse to mutate state while unabsorbed deltas are live."""
        if not os.path.isdir(self.deltas_dir):
            return []
        newer = []
        for d in os.listdir(self.deltas_dir):
            if not d.startswith("batch_id="):
                continue
            try:
                bid = int(d.split("=", 1)[1])
            except ValueError:
                continue
            if watermark is None or bid > watermark:
                newer.append(bid)
        return newer

    def replace_base_rows(
        self,
        drop_keys: DataFrame,
        on: list[str],
        replacement: DataFrame,
        upto_batch_id: int | None = None,
    ) -> None:
        """Quiesce-guarded WHOLESALE replacement of base rows — the one
        store operation whose safety a fold cannot provide: a repair
        that must LOWER a max-folded value or re-route an append-only
        row needs the old rows GONE, not merged (the r14 cell-split
        re-derives). With ``upto_batch_id`` given, folds deltas to it
        first; either way the call refuses to run while any delta
        partition newer than the base watermark is live, because the
        next read would fold a replaced row straight back. The new
        base is (rows anti-joined against ``drop_keys`` on ``on``) ∪
        (``replacement`` — full ``cols`` schema — stamped with the
        carried watermark), swapped atomically with the store's own
        partition layout. Extracted from the per-client copies in
        streaming/semdedup.py and streaming/proto_prune.py so the
        crash-window analysis stays in ONE place (the VERDICT r9 #3
        rule that created this module). A pure function of its inputs:
        replaying it after a crash is idempotent. No base (and, by the
        guard, no live deltas) -> nothing to replace, no-op."""
        if upto_batch_id is not None:
            self.compact(upto_batch_id)
        base, upto = self._base_frame()
        wm = upto_batch_id if upto_batch_id is not None else upto
        newer = self.newer_deltas(wm)
        if newer:
            raise RuntimeError(
                f"{type(self).__name__}.replace_base_rows requires "
                f"quiesced ingest: delta partitions {sorted(newer)} "
                f"are newer than the fold watermark ({wm}) and would "
                "fold replaced rows straight back — pass the last "
                "absorbed batch id"
            )
        if base is None:
            return
        new_base = (
            base.select(*self.cols, "upto")
            .join(drop_keys, on, "left_anti")
            .unionByName(
                replacement.select(*self.cols).withColumn(
                    "upto", F.lit(int(upto)).cast("long")
                )
            )
        )
        self.base.swap(new_base, partition_by=self.base_partition_by)


class _KeyedFoldDeltaStore(_DeltaStoreBase):
    """Keyed state whose per-key values merge through an associative,
    commutative, idempotent-under-replay fold (``_AGG``): sum for
    counters, min for first-owner / earliest-event state. Folding and
    reading re-apply the same aggregate, so arrival order never
    matters and a replayed batch's overwritten delta changes
    nothing."""

    _AGG = staticmethod(F.sum)

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        key_cols: list[str],
        fold_cols: list[str],
        ddl: str,
        deltas_name: str = "deltas",
        base_name: str = "base",
    ) -> None:
        super().__init__(
            spark, root, list(key_cols) + list(fold_cols), deltas_name,
            base_name,
        )
        self.key_cols = list(key_cols)
        self.fold_cols = list(fold_cols)
        self.ddl = ddl  # "key1 type, ..., val1 bigint, ..." (no batch_id)

    def write_delta(self, agg: DataFrame, batch_id: int) -> None:
        """Persist one batch's per-key fold values under its own
        partition."""
        agg.select(*self.key_cols, *self.fold_cols).write.mode(
            "overwrite"
        ).parquet(os.path.join(self.deltas_dir, f"batch_id={batch_id}"))

    def _fold(self, rows: DataFrame) -> DataFrame:
        return rows.groupBy(*self.key_cols).agg(
            *[self._AGG(c).alias(c) for c in self.fold_cols]
        )

    def totals(self) -> DataFrame:
        """Accumulated per-key state: compacted base + deltas newer
        than the base watermark, re-folded. Typed-empty when nothing
        has been absorbed yet."""
        rows = self._rows()
        if rows is None:
            return self.spark.createDataFrame([], self.ddl)
        return self._fold(rows)


class AdditiveDeltaStore(_KeyedFoldDeltaStore):
    """Keyed additive counters — the generalized form of the edge-count
    store inside streaming/pagerank.py, reusable for any sum-mergeable
    keyed statistic (term counts, document frequencies, n-gram
    tables)."""

    _AGG = staticmethod(F.sum)

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        key_cols: list[str],
        sum_cols: list[str],
        ddl: str,
        deltas_name: str = "deltas",
        base_name: str = "base",
    ) -> None:
        super().__init__(
            spark, root, key_cols, sum_cols, ddl, deltas_name, base_name
        )
        self.sum_cols = self.fold_cols  # historical public name


class MinDeltaStore(_KeyedFoldDeltaStore):
    """Keyed min-fold — first-owner / earliest-occurrence state (the
    streaming n-gram novelty index keys gram-hash -> min doc_id).
    min is associative, commutative AND idempotent, so on top of the
    shared replay safety, even a DOUBLE-counted row could not corrupt
    this store."""

    _AGG = staticmethod(F.min)

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        key_cols: list[str],
        min_cols: list[str],
        ddl: str,
        deltas_name: str = "deltas",
        base_name: str = "base",
    ) -> None:
        super().__init__(
            spark, root, key_cols, min_cols, ddl, deltas_name, base_name
        )
        self.min_cols = self.fold_cols


class MaxDeltaStore(_KeyedFoldDeltaStore):
    """Keyed max-fold — running-peak state (the streaming SemDeDup
    maintainer keys vec_id -> max within-cell cosine seen so far).
    Like min, max is associative, commutative AND idempotent, so even
    a double-counted pair delta cannot corrupt this store — the
    strongest replay story a keyed fold can have."""

    _AGG = staticmethod(F.max)

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        key_cols: list[str],
        max_cols: list[str],
        ddl: str,
        deltas_name: str = "deltas",
        base_name: str = "base",
    ) -> None:
        super().__init__(
            spark, root, key_cols, max_cols, ddl, deltas_name, base_name
        )
        self.max_cols = self.fold_cols


class AppendDeltaStore(_DeltaStoreBase):
    """Append-only row sets — the union-fold twin of
    :class:`AdditiveDeltaStore`, extracted from the hand-rolled copies
    in streaming/ann_index.py, streaming/mm_index.py and
    streaming/bm25_stats.py's postings path (VERDICT r9 #3). A row
    never changes once written (frozen quantizer assignments,
    immutable fingerprints, immutable postings), so folding is a plain
    union and replay safety is pure partition ownership."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        cols: list[str],
        ddl: str | None = None,
        delta_partition_by: list[str] | None = None,
        base_partition_by: list[str] | None = None,
        deltas_name: str = "deltas",
        base_name: str = "base",
    ) -> None:
        assert "batch_id" in cols, "append stores read batch provenance"
        super().__init__(spark, root, cols, deltas_name, base_name)
        self.ddl = ddl  # full row DDL incl. batch_id, for rows_or_empty
        self.delta_partition_by = delta_partition_by
        self.base_partition_by = base_partition_by

    def write_delta(self, df: DataFrame, batch_id: int) -> None:
        """Persist one batch's rows (WITHOUT a batch_id column — the
        partition directory carries it) under its own partition."""
        w = df.write.mode("overwrite")
        if self.delta_partition_by:
            w = w.partitionBy(*self.delta_partition_by)
        w.parquet(os.path.join(self.deltas_dir, f"batch_id={batch_id}"))

    def rows(self) -> DataFrame | None:
        return self._rows()

    def rows_or_empty(self) -> DataFrame:
        rows = self._rows()
        if rows is None:
            if self.ddl is None:
                raise ValueError("empty store and no ddl to type it")
            return self.spark.createDataFrame([], self.ddl)
        return rows


def pk_bucket_col(col: F.Column, n_buckets: int) -> F.Column:
    """Deterministic key bucket (stable across batches, retries and
    engines): the one definition of the bucketed base layout."""
    return F.pmod(F.xxhash64(col.cast("long")), F.lit(n_buckets))


class LastWinsDeltaStore(_DeltaStoreBase):
    """Keyed last-writer-wins state with tombstones — MERGE as
    merge-on-read. A delta row is a resolved decision for its key: a
    full row (``deleted`` false) or a tombstone (``deleted`` true).
    The newest row per key decides, ordered by ``batch_id``; base rows
    keep the batch_id that wrote them, all <= the watermark, so every
    live delta outranks them.

    Folding keeps each key's newest row and drops tombstones, so the
    base holds live rows only — plus one watermark row (null key,
    tombstone) so ``upto`` survives a fold that deletes every key.
    Newest-row-wins is idempotent, so a replayed batch that re-derives
    its partition from the same snapshot changes nothing.

    The base is laid out as ``upto=U/bucket=K/`` (``n_buckets`` hash
    buckets of the key): the watermark is one directory listing
    (:meth:`watermark`), not a Spark job, because a writer needs it
    every micro-batch, and a probe of few keys opens few buckets.
    ``ddl`` types the key and value columns, so no read infers a schema.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        key: str,
        ddl: str,
        n_buckets: int = 16,
        deltas_name: str = "deltas",
        base_name: str = "base",
    ) -> None:
        schema = spark.createDataFrame(
            [], f"{ddl}, bucket long, deleted boolean, batch_id long"
        ).schema
        super().__init__(
            spark, root, schema.fieldNames(), deltas_name, base_name
        )
        self.key = key
        self.n_buckets = n_buckets
        self.base_partition_by = ["upto", "bucket"]
        self.delta_schema = schema
        self.base_schema = StructType(
            [*schema.fields, StructField("upto", LongType())]
        )

    def _bucket(self) -> F.Column:
        return pk_bucket_col(F.col(self.key), self.n_buckets)

    def watermark(self) -> int | None:
        """The base's ``upto`` (None before the first base exists)."""
        self.base.recover()
        if not os.path.isdir(self.base.cur_dir):
            return None
        for d in os.listdir(self.base.cur_dir):
            if d.startswith("upto="):
                return int(d.split("=", 1)[1])
        return None

    def _with_watermark_row(self, rows: DataFrame) -> DataFrame:
        marker = self.spark.range(1).select(
            *[
                F.lit(True if f.name == "deleted" else None)
                .cast(f.dataType)
                .alias(f.name)
                for f in self.delta_schema.fields
            ]
        )
        return rows.select(*self.cols).unionByName(marker)

    def reset(self, rows: DataFrame) -> None:
        """Replace the whole store by ``rows`` (key + value columns, one
        live row per key) as a base at watermark -1. The deltas go
        first: a crash in between leaves the old base and no deltas,
        never an old delta outranking the new base."""
        if os.path.isdir(self.deltas_dir):
            shutil.rmtree(self.deltas_dir)
        base = rows.select(
            "*",
            self._bucket().alias("bucket"),
            F.lit(False).alias("deleted"),
            F.lit(-1).cast("long").alias("batch_id"),
        )
        self.base.swap(
            self._with_watermark_row(base).withColumn(
                "upto", F.lit(-1).cast("long")
            ),
            partition_by=self.base_partition_by,
        )

    def write_delta(self, df: DataFrame, batch_id: int) -> None:
        """Persist one batch's decisions (key + value columns and
        ``deleted``, one row per key) under its own partition."""
        df.withColumn("bucket", self._bucket()).write.mode(
            "overwrite"
        ).parquet(os.path.join(self.deltas_dir, f"batch_id={batch_id}"))

    def rows(self, upto: int | None, before: int | None = None) -> DataFrame:
        """Base rows plus the live deltas ``upto < batch_id < before``
        (``upto`` as returned by :meth:`watermark`; no upper bound when
        ``before`` is None), unreduced — several rows per key."""
        base = self.base.read(self.base_schema) if upto is not None else None
        deltas = self._delta_frame()
        if deltas is not None:
            live = F.col("batch_id") > (upto if upto is not None else -1)
            if before is not None:
                live &= F.col("batch_id") < before
            deltas = deltas.filter(live).select(*self.cols)
        if base is None:
            if deltas is None:
                return self.spark.createDataFrame([], self.delta_schema)
            return deltas
        base = base.select(*self.cols)
        return base if deltas is None else base.unionByName(deltas)

    def begin_batch(
        self, keys: DataFrame, batch_id: int, compact_at: int
    ) -> DataFrame | None:
        """The batch-start step of a writer over this store: the rows of
        the pre-batch snapshot (base plus deltas ``upto < batch_id <
        N``, unreduced) for the batch's ``keys`` (a frame of the key
        column). None when there is nothing to write: the batch is at
        or below the watermark (it was applied in full before it was
        folded, so its replay is a no-op), or ``keys`` is empty.

        Once ``compact_at`` delta partitions older than the batch are
        live it first compacts them (``batch_id <= N-1``; the running
        batch is never folded, so a replay sees the same snapshot). The
        probe opens only the base buckets holding batch keys, never the
        watermark row's, so its cost is set by the number of changed
        keys."""
        upto = self.watermark()
        if upto is not None and batch_id <= upto:
            return None
        pending = [b for b in self.newer_deltas(upto) if b < batch_id]
        if len(pending) >= compact_at:
            self.compact(batch_id - 1)
            upto = batch_id - 1
        buckets = {r[0] for r in keys.select(self._bucket()).collect()}
        if not buckets:
            return None
        return (
            self.rows(upto, before=batch_id)
            .filter(F.col("bucket").isin(sorted(buckets)))
            .join(F.broadcast(keys), self.key, "left_semi")
        )

    def newest(self, rows: DataFrame) -> DataFrame:
        """Each key's newest row (tombstones included): one hash
        aggregate, no sort."""
        rest = [c for c in self.cols if c != self.key]
        return rows.groupBy(self.key).agg(
            F.max_by(F.struct(*rest), "batch_id").alias("r")
        ).select(self.key, *[F.col(f"r.{c}").alias(c) for c in rest])

    def _fold(self, rows: DataFrame) -> DataFrame:
        return self._with_watermark_row(
            self.newest(rows).filter(~F.col("deleted"))
        )

    def live(self) -> DataFrame:
        """Current state: each key's newest row over base + live
        deltas, tombstones dropped."""
        return self.newest(self.rows(self.watermark())).filter(
            ~F.col("deleted")
        )


class LastWinsWriter:
    """Base of the foreachBatch writers kept in a
    :class:`LastWinsDeltaStore` (``self.store``): the MERGE writer and
    the SCD2 history writer. Each batch starts with
    ``self.store.begin_batch(keys, batch_id, self._compact_at())``."""

    spark: SparkSession
    store: LastWinsDeltaStore

    def _compact_at(self) -> int:
        """Live delta partitions that trigger a compaction: Spark's
        serial-listing limit. Past it every read of the deltas lists
        them with a distributed Spark job, so a batch would pay a job
        of listing before it reads a row."""
        return int(
            self.spark.conf.get(
                "spark.sql.sources.parallelPartitionDiscovery.threshold", "32"
            )
        )
