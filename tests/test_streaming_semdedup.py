"""Streaming SemDeDup maintainer (streaming/semdedup.py): the
foreachBatch twin of sem_dedup / sem_dedup_incremental. Convergence is
pinned against the BATCH sem_dedup output with batch splits
deliberately different from the batch query's wave mod (vec_id % 3 vs
% 2), so arrival-order independence is exercised, plus replay,
mid-stream compaction, retro-flip evidence, and the at-least-once
crash window."""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
import pytest


def _emb_batches(n_batches: int):
    """Fixture embeddings split by vec_id % n_batches, as pylists."""
    t = pq.read_table(f"{SF_DIR}/embeddings.parquet").select(
        ["vec_id", "embedding", "label"]
    )
    rows = t.to_pylist()
    return [
        [r for r in rows if r["vec_id"] % n_batches == b]
        for b in range(n_batches)
    ]


_EMB_PA_SCHEMA = pa.schema(
    [
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]
)


def test_streaming_semdedup_converges_replays_and_compacts(spark, tmp_path):
    """Three arrival batches (vec_id % 3 — NOT the batch query's % 2
    waves) through the file stream must converge to the batch
    sem_dedup verdicts exactly; a replayed batch and a mid-stream
    compaction change nothing; later batches retro-screen earlier
    vectors (delta partitions carry earlier-batch vec_ids)."""
    from cdc_sync_poc_spark.llm.similarity import _ivf_refined, sem_dedup
    from cdc_sync_poc_spark.streaming.semdedup import (
        StreamingSemDedup,
        run_streaming_semdedup,
    )

    batches = _emb_batches(3)
    in_dir = tmp_path / "sd_in"
    in_dir.mkdir()
    now = time.time()
    for i, rows in enumerate(batches):
        f = in_dir / f"part-{i}.parquet"
        pq.write_table(pa.Table.from_pylist(rows, schema=_EMB_PA_SCHEMA), f)
        os.utime(f, (now + i * 10, now + i * 10))

    _n, _c0, cents1 = _ivf_refined(spark, SF_DIR)
    root = tmp_path / "sd_root"
    q = run_streaming_semdedup(
        spark, str(in_dir), str(root), str(tmp_path / "ckpt_sd"), cents1
    )
    q.awaitTermination()

    body = StreamingSemDedup(spark, str(root), cents_rows=cents1)
    got = {
        r.vec_id: (r.cell_id, r.max_cos, r.kept)
        for r in body.semdedup().collect()
    }
    want = {
        r.vec_id: (r.cell_id, r.max_cos, r.kept)
        for r in sem_dedup(spark, SF_DIR).collect()
    }
    assert got == want and got

    # retro evidence: a later batch's max-cos delta touches vec_ids
    # that arrived EARLIER (their verdicts were updated after the fact)
    later = spark.read.parquet(
        str(root / "maxcos" / "batch_id=2")
    ).select("vec_id")
    earlier_ids = {r["vec_id"] for b in batches[:2] for r in b}
    retro_ids = {r.vec_id for r in later.collect()} & earlier_ids
    assert retro_ids, "batch 2 delta carried no earlier-batch vec_ids"

    # replay the last batch: verdicts unchanged (max is idempotent AND
    # the replay recomputes from prior-only state)
    last = spark.createDataFrame(
        [(r["vec_id"], r["embedding"], r["label"]) for r in batches[2]],
        "vec_id long, embedding array<float>, label int",
    )
    body.absorb_batch(last, batch_id=2)
    again = {
        r.vec_id: (r.cell_id, r.max_cos, r.kept)
        for r in body.semdedup().collect()
    }
    assert again == want

    # compaction folds both stores without changing the answer
    body.compact(1)  # mid-stream: batch 2 stays a live delta
    folded = {
        r.vec_id: (r.cell_id, r.max_cos, r.kept)
        for r in body.semdedup().collect()
    }
    assert folded == want
    body.compact(2)
    assert {
        r.vec_id: (r.cell_id, r.max_cos, r.kept)
        for r in body.semdedup().collect()
    } == want


def test_streaming_semdedup_recovers_from_mid_batch_crash(spark, tmp_path):
    """At-least-once crash window: a batch that dies AFTER indexing its
    arrivals but BEFORE its max-cos delta must, on replay, recompute a
    byte-identical delta from identical prior state (index reads
    exclude the batch's own partition) and converge to the
    straight-line answer."""
    from cdc_sync_poc_spark.llm.similarity import _ivf_refined
    from cdc_sync_poc_spark.streaming.semdedup import StreamingSemDedup

    batches = _emb_batches(2)
    _n, _c0, cents1 = _ivf_refined(spark, SF_DIR)

    def frame(rows):
        return spark.createDataFrame(
            [(r["vec_id"], r["embedding"], r["label"]) for r in rows],
            "vec_id long, embedding array<float>, label int",
        )

    ref = StreamingSemDedup(spark, str(tmp_path / "ref"), cents_rows=cents1)
    for i, rows in enumerate(batches):
        ref.absorb_batch(frame(rows), batch_id=i)
    want = sorted(map(tuple, ref.semdedup().collect()))
    assert want

    body = StreamingSemDedup(
        spark, str(tmp_path / "crash"), cents_rows=cents1
    )
    body.absorb_batch(frame(batches[0]), batch_id=0)
    real_write = body.maxcos.write_delta
    calls = {"n": 0}

    def dying_write(df, batch_id):
        calls["n"] += 1
        raise RuntimeError("simulated crash before the max-cos delta")

    body.maxcos.write_delta = dying_write
    # the crash path must not strand the per-batch persist (the
    # persisted() contract): compare against the PRE-crash cache set —
    # other tests' session-shared caches are legitimately live when
    # the whole suite runs
    before = {
        i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }
    try:
        body.absorb_batch(frame(batches[1]), batch_id=1)
    except RuntimeError:
        pass
    assert calls["n"] == 1  # crashed exactly in the window
    after = {
        i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }
    assert after <= before, "crash path stranded a persisted frame"
    body.maxcos.write_delta = real_write
    # arrivals for batch 1 are already indexed; the replay overwrites
    # the partition and recomputes the delta from prior-only state
    body.absorb_batch(frame(batches[1]), batch_id=1)
    assert sorted(map(tuple, body.semdedup().collect())) == want


def _frame(spark, rows):
    return spark.createDataFrame(
        [(r["vec_id"], r["embedding"], r["label"]) for r in rows],
        "vec_id long, embedding array<float>, label int",
    )


def _oneshot_from_index(body):
    """One-shot semdedup recompute over the index's CURRENT stored
    state — the oracle for every split/re-derive test: whatever the
    incremental path did, it must equal this pure recompute."""
    from pyspark.sql import functions as F

    from cdc_sync_poc_spark.llm.similarity import SEM_TAU
    from cdc_sync_poc_spark.streaming.semdedup import _lower_pairs

    rows = body.idx.index().select("vec_id", "cell_id", "v", "nrm")
    maxes = (
        _lower_pairs(rows, rows)
        .groupBy("vec_id")
        .agg(F.max("cos").alias("max_cos"))
    )
    return {
        r.vec_id: (r.cell_id, r.max_cos, r.kept)
        for r in rows.select("vec_id", "cell_id")
        .join(maxes, "vec_id", "left")
        .select(
            "vec_id",
            "cell_id",
            F.round("max_cos", 6).alias("max_cos"),
            F.coalesce(
                F.col("max_cos") <= SEM_TAU, F.lit(True)
            ).alias("kept"),
        )
        .collect()
    }


def _heaviest_cell(body):
    from pyspark.sql import functions as F

    occ = (
        body.idx.index()
        .groupBy("cell_id")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    return int(max(occ, key=lambda r: (r.n, -r.cell_id)).cell_id)


@pytest.mark.slow
def test_split_cell_rederive_converges_mid_stream(spark, tmp_path):
    """VERDICT r13 #3's done-criterion: split a cell mid-stream under
    the live maintainer, keep ingesting, and the verdicts still equal
    a one-shot recompute over the final index state (pairs between
    pre-split members re-derived on the new layout, pre/post-split
    arrival pairs from the normal deltas)."""
    from cdc_sync_poc_spark.llm.similarity import _ivf_refined
    from cdc_sync_poc_spark.streaming.semdedup import StreamingSemDedup

    batches = _emb_batches(3)
    _n, _c0, cents1 = _ivf_refined(spark, SF_DIR)
    body = StreamingSemDedup(spark, str(tmp_path / "sp"), cents_rows=cents1)
    body.absorb_batch(_frame(spark, batches[0]), batch_id=0)
    body.absorb_batch(_frame(spark, batches[1]), batch_id=1)

    cell = _heaviest_cell(body)
    new_ids = body.split_cell(cell, upto_batch_id=1)
    assert len(new_ids) == 2 and new_ids[0] == cell
    assert not os.path.exists(body.rederive_journal_path)

    # post-split state already equals the one-shot recompute
    got = {
        r.vec_id: (r.cell_id, r.max_cos, r.kept)
        for r in body.semdedup().collect()
    }
    assert got == _oneshot_from_index(body) and got

    # ingest continues against the re-laid index; still converges
    body.absorb_batch(_frame(spark, batches[2]), batch_id=2)
    got = {
        r.vec_id: (r.cell_id, r.max_cos, r.kept)
        for r in body.semdedup().collect()
    }
    assert got == _oneshot_from_index(body)


def test_rederive_replaces_keys_downward(spark, tmp_path):
    """The property the monotone fold can NEVER provide: re-derive
    REPLACES a family key's state, so an inflated (stale) max_cos
    drops to the recomputed pair max — and a member with no remaining
    lower-id pair loses its entry entirely (kept flips back true)."""
    from pyspark.sql import functions as F

    from cdc_sync_poc_spark.llm.similarity import _ivf_refined
    from cdc_sync_poc_spark.streaming.semdedup import StreamingSemDedup

    batches = _emb_batches(2)
    _n, _c0, cents1 = _ivf_refined(spark, SF_DIR)
    body = StreamingSemDedup(spark, str(tmp_path / "lw"), cents_rows=cents1)
    for i, rows in enumerate(batches):
        body.absorb_batch(_frame(spark, rows), batch_id=i)
    body.compact(1)

    cell = _heaviest_cell(body)
    victims = sorted(
        r.vec_id
        for r in body.idx.index()
        .filter(F.col("cell_id") == cell)
        .select("vec_id")
        .collect()
    )
    assert len(victims) >= 2
    victim = victims[-1]  # highest id -> certainly has lower-id pairs
    true_val = {
        r.vec_id: r.max_cos for r in body.semdedup().collect()
    }[victim]

    # inflate the victim's folded state to a value the max fold could
    # never take back
    body.maxcos.map_base(
        lambda base: base.withColumn(
            "max_cos",
            F.when(F.col("vec_id") == victim, F.lit(0.999999)).otherwise(
                F.col("max_cos")
            ),
        )
    )
    assert {
        r.vec_id: r.max_cos for r in body.semdedup().collect()
    }[victim] == 0.999999

    # journal the family and re-derive: the value is REPLACED downward
    import json

    with open(body.rederive_journal_path, "w") as fh:
        json.dump({"cells": [cell]}, fh)
    body._apply_rederive()
    assert not os.path.exists(body.rederive_journal_path)
    assert {
        r.vec_id: r.max_cos for r in body.semdedup().collect()
    }[victim] == true_val


def test_split_cell_guards_and_journal_hygiene(spark, tmp_path):
    """split_cell refuses to run over live post-watermark deltas (a
    live delta would max-fold a replaced key back up) and cleans its
    journal up when the index rejects the split before mutating."""
    import pytest

    from cdc_sync_poc_spark.llm.similarity import _ivf_refined
    from cdc_sync_poc_spark.streaming.semdedup import StreamingSemDedup

    batches = _emb_batches(2)
    _n, _c0, cents1 = _ivf_refined(spark, SF_DIR)
    body = StreamingSemDedup(spark, str(tmp_path / "gd"), cents_rows=cents1)
    for i, rows in enumerate(batches):
        body.absorb_batch(_frame(spark, rows), batch_id=i)

    cell = _heaviest_cell(body)
    with pytest.raises(RuntimeError, match="quiesced"):
        body.split_cell(cell, upto_batch_id=0)  # batch 1 still live
    assert not os.path.exists(body.rederive_journal_path)

    with pytest.raises(ValueError, match="unknown cell_id"):
        body.split_cell(10**9, upto_batch_id=1)
    assert not os.path.exists(body.rederive_journal_path)


@pytest.mark.slow
def test_split_crash_before_rederive_heals_at_construction(spark, tmp_path):
    """Crash window between the index split and the max-cos
    replacement: the re-derive journal written BEFORE the split is the
    healing marker — a fresh maintainer on the same root replays the
    replacement and converges; without it the stale state would
    persist silently (the exact r13 hazard)."""
    from cdc_sync_poc_spark.llm.similarity import _ivf_refined
    from cdc_sync_poc_spark.streaming.semdedup import StreamingSemDedup

    batches = _emb_batches(2)
    _n, _c0, cents1 = _ivf_refined(spark, SF_DIR)
    root = tmp_path / "cr"
    body = StreamingSemDedup(spark, str(root), cents_rows=cents1)
    for i, rows in enumerate(batches):
        body.absorb_batch(_frame(spark, rows), batch_id=i)
    cell = _heaviest_cell(body)

    # replay split_cell's steps, crashing before _apply_rederive
    import json

    body.maxcos.compact(1)
    with open(body.rederive_journal_path, "w") as fh:
        by_id = sorted(int(c.cell_id) for c in body.idx.centroids())
        json.dump({"cells": [cell, by_id[-1] + 1]}, fh)
    body.idx.split_cell(cell, 2)
    # "crash": body is abandoned with the journal still on disk

    healed = StreamingSemDedup(spark, str(root), cents_rows=cents1)
    assert not os.path.exists(healed.rederive_journal_path)
    got = {
        r.vec_id: (r.cell_id, r.max_cos, r.kept)
        for r in healed.semdedup().collect()
    }
    assert got == _oneshot_from_index(healed) and got
