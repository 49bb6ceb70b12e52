"""Streaming state as per-batch delta partitions plus a compacted
base: the one crash-safe recipe behind every foreachBatch maintainer
and both CDC writers in this package. Only this module knows the
directory layout:

    <root>/<deltas_name>/batch_id=N/...   one partition per batch
    <root>/<base_name>/upto=U/...         the compacted base

Every store is declared by a DDL of its row columns. The delta and
base read schemas derive from it, and ``write_delta`` writes exactly
those columns and types, so no read infers a schema from parquet
footers.

Contract (two mechanisms, each carrying half the safety, and one gate):

* **Deltas are replay-safe by partition ownership.** Batch N writes
  its rows to ``batch_id=N`` with mode=overwrite. The rows are a pure
  function of the batch, so a replayed batch overwrites its own
  partition byte-identically; idempotency never needs merge logic.
* **Compaction is crash-safe by the watermark directory.**
  ``compact(upto)`` folds the partitions with batch_id <= upto (plus
  the existing base) into a new base under ``upto=U/``, swapped
  atomically through SwapStore, so base and watermark move in one
  rename. The watermark is one directory listing (:meth:`watermark`),
  never a Spark job. Reads take the base plus the deltas with
  ``batch_id > upto``, and the cleanup after the swap removes only
  partitions at or below the watermark. A crash between swap and
  cleanup, or an at-least-once replay that recreates a folded
  partition, therefore leaves the read path unchanged: folded
  partitions are excluded, never counted twice. A fold with no rows
  writes no ``upto=`` directory and reads as "no watermark"; the
  partitions it folded held no rows either.
* **Repairs a fold cannot express** (lowering a max-folded value,
  re-routing an append-only row) rewrite the base at its watermark
  through :meth:`~_DeltaStoreBase.map_base`, behind the
  :meth:`~_DeltaStoreBase.quiesce` gate that refuses to run while a
  newer delta is live.

Three fold disciplines share that skeleton:

* :class:`KeyedDeltaStore` — keyed state merged by one associative,
  commutative aggregate: ``sum`` for counters (term counts, document
  frequencies, edge weights), ``min`` for first-owner state, ``max``
  for running peaks. Folding and reading re-apply it, so arrival order
  never matters.
* :class:`AppendDeltaStore` — append-only row sets (IVF index rows,
  media fingerprints, BM25 postings): a row never changes once
  written, so folding is a plain union.
* :class:`LastWinsDeltaStore` — keyed last-writer-wins rows with
  tombstones (the MERGE target of streaming/writer.py and the open
  versions of streaming/scd2.py): the newest row per key by
  ``batch_id`` decides; folding keeps that row and drops tombstones.
"""

from __future__ import annotations

import functools
import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from cdc_sync_poc_spark.streaming.swapstore import SwapStore


def _typed(df: DataFrame, fields: list[StructField]) -> DataFrame:
    return df.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in fields]
    )


def batch_ids(path: str) -> list[int]:
    """The ids of the ``batch_id=N`` partition directories under
    ``path``, ascending (empty when there is no ``path``): one
    directory listing, no Spark job."""
    if not os.path.isdir(path):
        return []
    ids = []
    for d in os.listdir(path):
        key, _, bid = d.partition("=")
        if key == "batch_id" and os.path.isdir(os.path.join(path, d)):
            try:
                ids.append(int(bid))
            except ValueError:
                continue
    return sorted(ids)


def newest_batch_id(path: str, before: int | None = None) -> int | None:
    """The newest ``batch_id=N`` partition under ``path`` with N <
    ``before`` (any N when None); None when there is none. Per-batch
    snapshot stores read their predecessor's snapshot through this."""
    ids = [b for b in batch_ids(path) if before is None or b < before]
    return ids[-1] if ids else None


class _DeltaStoreBase:
    """The layout and the read, compact and repair paths of all three
    fold disciplines. ``ddl`` declares the row columns as read back
    (``cols``); ``partition_by`` names the base's hive partitions
    below ``upto=``."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        ddl: str,
        partition_by: list[str] | None,
        deltas_name: str,
        base_name: str,
    ) -> None:
        self.spark = spark
        self.deltas_dir = os.path.join(root, deltas_name)
        self.base = SwapStore(spark, root, base_name)
        self.partition_by = list(partition_by or [])
        self.schema = spark.createDataFrame([], ddl).schema
        self.cols = self.schema.fieldNames()
        # read schemas, partition columns included
        batch_id = StructField("batch_id", LongType())
        self.delta_schema = StructType(
            self.schema.fields
            + ([] if "batch_id" in self.cols else [batch_id])
        )
        self.base_schema = StructType(
            [*self.schema.fields, StructField("upto", LongType())]
        )

    def _delta_dir(self, batch_id: int) -> str:
        return os.path.join(self.deltas_dir, f"batch_id={batch_id}")

    def newer_deltas(self, watermark: int | None) -> list[int]:
        """Live delta partition ids newer than ``watermark`` (all of
        them when it is None)."""
        return [
            b
            for b in batch_ids(self.deltas_dir)
            if watermark is None or b > watermark
        ]

    def watermark(self) -> int | None:
        """The base's ``upto``: the newest batch folded into it (None
        before the first fold that kept a row)."""
        self.base.recover()
        if os.path.isdir(self.base.cur_dir):
            for d in os.listdir(self.base.cur_dir):
                if d.startswith("upto="):
                    return int(d.split("=", 1)[1])
        return None

    def write_delta(self, df: DataFrame, batch_id: int) -> None:
        """Persist one batch's rows under its own partition: the
        declared columns and types, without ``batch_id`` (the directory
        carries it), laid out by ``partition_by``."""
        self._write_delta(df, batch_id, self.partition_by)

    def _write_delta(
        self, df: DataFrame, batch_id: int, partition_by: list[str]
    ) -> None:
        fields = [f for f in self.schema.fields if f.name != "batch_id"]
        w = _typed(df, fields).write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self._delta_dir(batch_id))

    def rows(self, before: int | None = None) -> DataFrame:
        """Every stored row, unfolded: the base plus the deltas newer
        than its watermark (folded-then-replayed partitions excluded)
        and, when ``before`` is given, older than ``before``.
        Typed-empty when nothing is stored."""
        upto = self.watermark()
        parts = []
        if upto is not None:
            parts.append(self.base.read(self.base_schema).select(*self.cols))
        if batch_ids(self.deltas_dir):
            deltas = self.spark.read.schema(self.delta_schema).parquet(
                self.deltas_dir
            )
            if upto is not None:
                deltas = deltas.filter(F.col("batch_id") > upto)
            if before is not None:
                deltas = deltas.filter(F.col("batch_id") < before)
            parts.append(deltas.select(*self.cols))
        if not parts:
            return self.spark.createDataFrame([], self.schema)
        return functools.reduce(DataFrame.unionByName, parts)

    def _fold(self, rows: DataFrame) -> DataFrame:
        """Collapse stored rows into the new base's rows (identity for
        append-only state)."""
        return rows

    def _swap_base(self, rows: DataFrame, upto: int) -> None:
        self.base.swap(
            _typed(rows, self.schema.fields).withColumn(
                "upto", F.lit(upto).cast("long")
            ),
            partition_by=["upto", *self.partition_by],
        )

    def compact(self, upto_batch_id: int) -> None:
        """Fold the deltas with batch_id <= ``upto_batch_id`` into the
        base; see the module docstring for the crash windows."""
        if upto_batch_id < 0 or not batch_ids(self.deltas_dir):
            return
        prev = self.watermark()
        if prev is not None and upto_batch_id <= prev:
            return  # already folded this far
        self._swap_base(
            self._fold(self.rows(before=upto_batch_id + 1)), upto_batch_id
        )
        # cleanup AFTER the swap: these partitions are now <= the live
        # watermark, so the read path already ignores them
        for bid in batch_ids(self.deltas_dir):
            if bid <= upto_batch_id:
                shutil.rmtree(self._delta_dir(bid))

    def map_base(self, fn: Callable[[DataFrame], DataFrame]) -> None:
        """Swap the base for ``fn(base rows)`` at the same watermark; a
        no-op without a base. The repairs a fold cannot express go
        through here: rows that must go (:meth:`replace_base_rows`) or
        move between partitions (the IVF cell re-split). Replaying it
        after a crash is idempotent when ``fn`` is."""
        upto = self.watermark()
        if upto is not None:
            base = self.base.read(self.base_schema).select(*self.cols)
            self._swap_base(fn(base), upto)

    def quiesce(self, upto_batch_id: int | None = None) -> None:
        """The gate before a repair of the base: fold the deltas up to
        ``upto_batch_id`` (the last absorbed batch) when given, then
        refuse while any delta partition newer than it, or than the
        watermark, is live, because the next read would fold a
        repaired row straight back."""
        if upto_batch_id is not None:
            self.compact(upto_batch_id)
        wm = upto_batch_id if upto_batch_id is not None else self.watermark()
        newer = self.newer_deltas(wm)
        if newer:
            raise RuntimeError(
                f"{type(self).__name__} repair requires quiesced ingest: "
                f"delta partitions {sorted(newer)} are newer than the "
                f"fold watermark ({wm}) and would fold repaired rows "
                "straight back; pass the last absorbed batch id"
            )

    def replace_base_rows(
        self,
        drop_keys: DataFrame,
        on: list[str],
        replacement: DataFrame,
        upto_batch_id: int | None = None,
    ) -> None:
        """Quiesce-guarded wholesale replacement of base rows: the new
        base is (rows anti-joined against ``drop_keys`` on ``on``) plus
        ``replacement`` (all of ``cols``). A repair that must lower a
        max-folded value or re-route an append-only row needs the old
        rows gone, not merged (the cell-split re-derives)."""
        self.quiesce(upto_batch_id)
        self.map_base(
            lambda base: base.join(drop_keys, on, "left_anti").unionByName(
                replacement.select(*self.cols)
            )
        )


_AGGS = {"sum": F.sum, "min": F.min, "max": F.max}


class KeyedDeltaStore(_DeltaStoreBase):
    """Keyed state merged per key by one associative, commutative
    aggregate ``agg`` ("sum", "min" or "max") over the fold columns:
    the DDL's columns other than ``key_cols``. A replayed batch's
    overwritten delta changes nothing; min and max are idempotent as
    well, so even a row counted twice could not corrupt them."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        key_cols: list[str],
        ddl: str,
        agg: str = "sum",
        deltas_name: str = "deltas",
        base_name: str = "base",
    ) -> None:
        super().__init__(spark, root, ddl, None, deltas_name, base_name)
        self.key_cols = list(key_cols)
        self.fold_cols = [c for c in self.cols if c not in self.key_cols]
        self._agg = _AGGS[agg]

    def _fold(self, rows: DataFrame) -> DataFrame:
        return rows.groupBy(*self.key_cols).agg(
            *[self._agg(c).alias(c) for c in self.fold_cols]
        )

    def totals(self) -> DataFrame:
        """Accumulated per-key state: the base plus the live deltas,
        re-folded. Typed-empty when nothing has been absorbed yet."""
        return self._fold(self.rows())


class AppendDeltaStore(_DeltaStoreBase):
    """Append-only row sets. A row never changes once written (frozen
    quantizer assignments, immutable fingerprints and postings), so
    folding is a plain union and replay safety is pure partition
    ownership. ``ddl`` includes ``batch_id``: rows keep their batch
    provenance through folding. ``partition_by`` lays out each delta
    and the base by the same key, so key-pruned probes (the IVF
    ``cell_id``) prune at planning time before and after compaction."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        ddl: str,
        partition_by: list[str] | None = None,
        deltas_name: str = "deltas",
        base_name: str = "base",
    ) -> None:
        super().__init__(
            spark, root, ddl, partition_by, deltas_name, base_name
        )
        assert "batch_id" in self.cols, "append stores read batch provenance"


def pk_bucket_col(col: F.Column, n_buckets: int) -> F.Column:
    """Deterministic key bucket (stable across batches, retries and
    engines): the one definition of the bucketed base layout. Hashes
    the key as it is typed, so any key type works."""
    return F.pmod(F.xxhash64(col), F.lit(n_buckets))


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
    buckets of the key), so a probe of few keys opens few buckets.
    ``ddl`` types the key and value columns.
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
        super().__init__(
            spark,
            root,
            f"{ddl}, bucket long, deleted boolean, batch_id long",
            ["bucket"],
            deltas_name,
            base_name,
        )
        self.key = key
        self.n_buckets = n_buckets

    def bucket(self) -> F.Column:
        """Each row's base bucket, from the key column."""
        return pk_bucket_col(F.col(self.key), self.n_buckets)

    def _with_watermark_row(self, rows: DataFrame) -> DataFrame:
        marker = self.spark.range(1).select(
            *[
                F.lit(True if f.name == "deleted" else None)
                .cast(f.dataType)
                .alias(f.name)
                for f in self.schema.fields
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
            self.bucket().alias("bucket"),
            F.lit(False).alias("deleted"),
            F.lit(-1).cast("long").alias("batch_id"),
        )
        self._swap_base(self._with_watermark_row(base), -1)

    def write_delta(self, df: DataFrame, batch_id: int) -> None:
        """Persist one batch's decisions (key + value columns and
        ``deleted``, one row per key) under its own partition. Deltas
        stay unbucketed: one small file per batch."""
        self._write_delta(
            df.withColumn("bucket", self.bucket()), batch_id, []
        )

    def begin_batch(
        self, buckets: set[int], batch_id: int, compact_at: int
    ) -> DataFrame | None:
        """The batch-start step of a writer over this store: the rows of
        the pre-batch snapshot (base plus deltas ``upto < batch_id <
        N``, unreduced) in the base ``buckets`` that hold the batch's
        keys (the caller collects them, so one driver round trip can
        serve several stores). None when there is nothing to write: the
        batch is at or below the watermark (it was applied in full
        before it was folded, so its replay is a no-op), or ``buckets``
        is empty.

        Once ``compact_at`` delta partitions older than the batch are
        live it first compacts them (``batch_id <= N-1``; the running
        batch is never folded, so a replay sees the same snapshot). The
        read opens only the given buckets, never the watermark row's,
        so its cost is set by the buckets the changed keys touch; rows
        of other keys in those buckets are the caller's to drop."""
        upto = self.watermark()
        if upto is not None and batch_id <= upto:
            return None
        pending = [b for b in self.newer_deltas(upto) if b < batch_id]
        if len(pending) >= compact_at:
            self.compact(batch_id - 1)
        if not buckets:
            return None
        rows = self.rows(before=batch_id)
        if len(buckets) < self.n_buckets:
            rows = rows.filter(F.col("bucket").isin(sorted(buckets)))
        return rows

    def snapshot_bytes(self, buckets: set[int], batch_id: int) -> int:
        """Bytes of the files ``begin_batch`` reads for ``buckets`` and
        batch ``batch_id``: those base buckets and the live deltas older
        than the batch. Directory listings only, no Spark job."""
        upto = self.watermark()
        dirs = [self._delta_dir(b) for b in self.newer_deltas(upto) if b < batch_id]
        if upto is not None:
            base = os.path.join(self.base.cur_dir, f"upto={upto}")
            dirs += [os.path.join(base, f"bucket={b}") for b in buckets]
        return sum(
            f.stat().st_size
            for d in dirs
            if os.path.isdir(d)
            for f in os.scandir(d)
            if f.name.endswith(".parquet")
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
        return self.newest(self.rows()).filter(~F.col("deleted"))


class LastWinsWriter:
    """Base of the foreachBatch writers kept in a
    :class:`LastWinsDeltaStore` (``self.store``): the MERGE writer and
    the SCD2 history writer. Each batch starts with
    ``self.store.begin_batch(buckets, batch_id, self._compact_at())``."""

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
