"""Streaming prototypicality maintenance — the continuous form of the
batch emb_proto_prune (llm/similarity.py; VERDICT r13 "Next round"
#5b): embedding micro-batches are scored AT INGEST against a FROZEN
coarse quantizer with the exact argmax expression the batch query uses
(_assign_struct_col — the winning struct carries the cell AND the
cosine-to-centroid in one map stage) and the scored rows are appended
to a delta store. The prune read then ranks stored scores only — the
expensive part (one dot product per vector per centroid) is paid once
per vector at arrival, never recomputed per prune cut.

Why this maintainer carries NO delta algebra (deliberate contrast with
streaming/semdedup.py, the template VERDICT r13 named): SemDeDup's
per-vector state (max cosine against earlier same-cell arrivals) is
PAIRWISE — a new arrival can retroactively change stored vectors'
state, so the store must fold monotone deltas. Prototypicality under a
frozen quantizer is a pure per-row function of (v, quantizer): no
arrival ever changes another vector's score, so the correct streaming
design is score-at-ingest into an append-only store — idempotent by
partition ownership like every AppendDeltaStore client, with nothing
to re-derive on replay. What IS batch-dependent — the in-cell rank and
the PROTO_PRUNE_FRAC cut — is a read-side view over the stored scores
(ranks shift as cells grow, so materializing them would be rework per
batch; scores never shift, so materializing them is pure savings).

Interaction with cell re-split (``rederive_cells`` below): after
StreamingIVFIndex.split_cell re-routes a cell, stored scores for that
cell are stale (score = cosine to the RETIRED centroid) and the
maintainer's own frozen centroid list is stale for FUTURE arrivals.
Unlike SemDeDup's monotone max — whose fold can never lower a value —
a stale score is repaired by one re-scoring pass over the split
cells' re-laid members (the score is a pure row function of
(v, quantizer)); because this store is append-only, the repair is a
quiesce-folded base swap scoped to the affected cells: drop the
family's rows, union their re-scored rows, adopt the post-split
quantizer for subsequent batches. The method is a pure idempotent
replacement, so a crash between the index split and the repair is
healed by simply re-running it; the self-healing journaled
composition (for a maintainer that OWNS its index) is
StreamingSemDedup.split_cell — here the index is a sibling consumer
of the same arrival stream, so the crash marker belongs to the
maintenance job that orchestrates both.

Scale shape: ingest is ONE map stage per batch (constant-folded
centroid literal, zero shuffles, zero data collects); the store holds
(vec_id, cell_id, proto) — 3 scalars per vector, no raw vectors, so
compaction folds a frame 100x slimmer than the index itself. The read
is the shared banded two-level rank (_proto_rank_frame), which never
sorts a whole cell in one task.

Reference parity: the reference ships no embedding operators; this is
part of the M6 training-data surface (Sorscher et al. 2022 / D4 —
PAPERS.md) built on the repo's shared streaming-state recipe
(streaming/delta_store.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_sync_poc_spark.llm.similarity import (
    _assign_struct_col,
    normed_frame,
)
from cdc_sync_poc_spark.streaming.delta_store import AppendDeltaStore

_DDL = "vec_id long, cell_id bigint, proto double, batch_id long"


class StreamingProtoPrune:
    """Maintains per-vector prototypicality scores under a frozen
    quantizer; ``cents_rows`` is the same driver-local centroid list
    every batch IVF consumer inlines."""

    def __init__(self, spark: SparkSession, root: str, cents_rows) -> None:
        self.spark = spark
        self.cents = list(cents_rows)
        self.store = AppendDeltaStore(
            spark,
            root,
            ddl=_DDL,
            deltas_name="scores",
        )

    def absorb_batch(self, embs: DataFrame, batch_id: int) -> None:
        """Score one micro-batch (vec_id, embedding) and append under
        its own batch partition. Replay-safe: scoring is deterministic,
        so a replayed batch overwrites its own partition
        byte-identically (partition ownership, the shared contract)."""
        scored = (
            normed_frame(embs)
            .select("vec_id", _assign_struct_col(self.cents).alias("mx"))
            .select(
                "vec_id",
                (-F.col("mx").getField("nc")).alias("cell_id"),
                F.col("mx").getField("cosc").alias("proto"),
            )
        )
        self.store.write_delta(scored, batch_id)

    def compact(self, upto_batch_id: int) -> None:
        self.store.compact(upto_batch_id)

    def scored(self) -> DataFrame:
        """(vec_id, cell_id, proto) for everything ingested — identical
        rows to the batch argmax map stage under the same quantizer."""
        return self.store.rows().select("vec_id", "cell_id", "proto")

    def prune(self) -> DataFrame:
        """Current prune verdicts — same columns and values as the
        batch emb_proto_prune over everything ingested."""
        from cdc_sync_poc_spark.llm.similarity import _proto_rank_frame

        return _proto_rank_frame(self.scored())

    def rederive_cells(
        self,
        fam_cells: list[int],
        members: DataFrame,
        sub_cents,
        new_cents,
        upto_batch_id: int,
    ) -> None:
        """Post-split repair (module docstring): replace the family
        cells' stored scores with one re-scoring pass and adopt the
        post-split quantizer for future batches.

        ``members`` is the re-laid index's rows for ``fam_cells``
        (vec_id, v, nrm, batch_id — batch provenance is carried
        through so replay semantics are unchanged); ``sub_cents`` is
        the RESTRICTED sub-quantizer the index's re-lay assigned
        against (family rows re-assign among the subs only — scoring
        against the full quantizer could disagree with the stored
        layout for boundary vectors); ``new_cents`` is the full
        post-split quantizer subsequent ``absorb_batch`` calls must
        score with, exactly as the index assigns new arrivals.

        Quiesce contract (shared with StreamingSemDedup.split_cell):
        ``upto_batch_id`` must be the last absorbed batch — pre-gated
        here BEFORE any frame is built (analysis of ``members`` must
        not outrun the refusal), and enforced again inside the shared
        replace_base_rows (delta_store.py)."""
        from cdc_sync_poc_spark.sources.loader import literal_frame

        self.store.quiesce(upto_batch_id)
        rescored = members.select(
            "vec_id",
            _assign_struct_col(sub_cents).alias("mx"),
            "batch_id",
        ).select(
            "vec_id",
            (-F.col("mx").getField("nc")).alias("cell_id"),
            F.col("mx").getField("cosc").alias("proto"),
            "batch_id",
        )
        drop = literal_frame(
            self.spark,
            [(int(c),) for c in fam_cells],
            "cell_id bigint",
        )
        self.store.replace_base_rows(
            drop, ["cell_id"], rescored, upto_batch_id
        )
        self.cents = list(new_cents)
