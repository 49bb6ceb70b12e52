"""Streaming IVF index maintenance (streaming/ann_index.py): embedding
micro-batches assigned against a frozen quantizer must land in the same
cells the batch assignment puts them in; a probe must read only its
probe cells' files; replays and maintainer restarts must be no-ops for
assignment semantics."""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _emb_batches(tmp_path, n_batches=3):
    t = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    rows = sorted(t.to_pylist(), key=lambda r: r["vec_id"])[:90]
    cuts = [rows[i::n_batches] for i in range(n_batches)]
    in_dir = tmp_path / "emb_in"
    in_dir.mkdir()
    schema = pa.schema(
        [
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]
    )
    now = time.time()
    for i, batch in enumerate(cuts):
        f = in_dir / f"part-{i}.parquet"
        pq.write_table(pa.Table.from_pylist(batch, schema=schema), f)
        os.utime(f, (now + i * 10, now + i * 10))
    return in_dir, rows, cuts


def test_streaming_ivf_index_matches_batch_assignment(spark, tmp_path):
    from cdc_sync_poc_spark.llm.similarity import (
        _assign_col,
        _ivf_refined,
        normed_frame,
    )
    from cdc_sync_poc_spark.streaming.ann_index import (
        StreamingIVFIndex,
        run_streaming_ann_index,
    )

    in_dir, rows, cuts = _emb_batches(tmp_path)
    _n, _c0, cents = _ivf_refined(spark, SF_DIR)

    root = tmp_path / "ann_root"
    q = run_streaming_ann_index(
        spark, str(in_dir), str(root), str(tmp_path / "ckpt_ann"), cents
    )
    q.awaitTermination()
    idx = StreamingIVFIndex(spark, str(root))

    got = {
        r.vec_id: (int(r.cell_id), int(r.label))
        for r in idx.index().collect()
    }
    union = spark.createDataFrame(
        [(r["vec_id"], r["embedding"], r["label"]) for r in rows],
        "vec_id long, embedding array<float>, label int",
    )
    want = {
        r.vec_id: (int(r.cell_id), int(r.label))
        for r in normed_frame(union)
        .select("vec_id", "label", _assign_col(cents).alias("cell_id"))
        .collect()
    }
    assert got == want

    # search == the same probe run batch-side over the union frame
    qrow = rows[7]
    qv = [float(x) for x in qrow["embedding"]]
    hits = [(r.vec_id, r.cell_id, r.cosine) for r in idx.search(qv).collect()]

    import math

    from cdc_sync_poc_spark.llm.similarity import ANN_TOP_K, _probe_cells_for

    qn = math.sqrt(sum(x * x for x in qv))
    probe = _probe_cells_for(qv, qn, idx.centroids())
    qarr = "array(" + ",".join(f"{x!r}D" for x in qv) + ")"
    cos = F.expr(
        f"aggregate(zip_with(v, {qarr}, (x, y) -> x * y),"
        " CAST(0.0 AS DOUBLE), (acc, z) -> acc + z)"
    ) / (F.col("nrm") * F.lit(qn))
    want_hits = [
        (r.vec_id, r.cell_id, r.cosine)
        for r in normed_frame(union)
        .select("vec_id", "v", "nrm", _assign_col(cents).alias("cell_id"))
        .filter(F.col("cell_id").isin(probe))
        .withColumn("cosr", cos)
        .orderBy(F.desc("cosr"), F.asc("vec_id"))
        .limit(ANN_TOP_K)
        .select("vec_id", "cell_id", F.round(F.col("cosr"), 6).alias("cosine"))
        .collect()
    ]
    assert hits == want_hits
    assert hits[0][0] == qrow["vec_id"]  # the query vector is stored too

    # a probe scans ONLY files under its probe cells (partition pruning)
    scanned = {
        os.path.basename(os.path.dirname(r.f))
        for r in idx.index()
        .filter(F.col("cell_id").isin(probe))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    assert scanned == {f"cell_id={c}" for c in probe if f"cell_id={c}" in scanned}
    assert all(
        part.split("=")[1] in {str(c) for c in probe} for part in scanned
    ), scanned

    # replaying the middle batch leaves the store byte-identical
    before = sorted(
        (r.vec_id, int(r.cell_id), int(r.batch_id)) for r in idx.index().collect()
    )
    mid = spark.createDataFrame(
        [(r["vec_id"], r["embedding"], r["label"]) for r in cuts[1]],
        "vec_id long, embedding array<float>, label int",
    )
    idx.absorb_batch(mid, batch_id=1)
    after = sorted(
        (r.vec_id, int(r.cell_id), int(r.batch_id)) for r in idx.index().collect()
    )
    assert after == before

    # a RESTARTED maintainer (no cents passed) reloads the stored
    # quantizer and keeps assigning identically
    idx2 = StreamingIVFIndex(spark, str(root))
    extra = spark.createDataFrame(
        [(r["vec_id"] + 100000, r["embedding"], r["label"]) for r in cuts[0][:5]],
        "vec_id long, embedding array<float>, label int",
    )
    idx2.absorb_batch(extra, batch_id=3)
    got3 = {
        r.vec_id: int(r.cell_id)
        for r in idx2.index().filter(F.col("batch_id") == 3).collect()
    }
    want3 = {
        r.vec_id: int(r.cell_id)
        for r in normed_frame(extra)
        .select("vec_id", _assign_col(cents).alias("cell_id"))
        .collect()
    }
    assert got3 == want3


def test_quantizer_partial_write_recovers(spark, tmp_path):
    """A crash mid-quantizer-write leaves a partial dir (no _SUCCESS):
    a maintainer re-constructed WITH centroids overwrites it; one
    constructed WITHOUT centroids refuses loudly instead of reading a
    possibly-partial quantizer."""
    import pytest

    from cdc_sync_poc_spark.llm.similarity import _ivf_refined
    from cdc_sync_poc_spark.streaming.ann_index import StreamingIVFIndex

    _n, _c0, cents = _ivf_refined(spark, SF_DIR)
    root = tmp_path / "ann_crash"
    qdir = root / "quantizer"
    qdir.mkdir(parents=True)
    (qdir / "part-00000.parquet").write_bytes(b"partial garbage")

    # without centroids: loud failure, the partial dir is not trusted
    broken = StreamingIVFIndex(spark, str(root))
    with pytest.raises(RuntimeError, match="no complete quantizer"):
        broken.centroids()

    # with centroids: the partial write is overwritten and usable
    idx = StreamingIVFIndex(spark, str(root), cents)
    got = idx.centroids()
    assert [(c.cell_id, c.cn) for c in got] == [
        (int(r.cell_id), float(r.cn)) for r in sorted(cents, key=lambda r: r.cell_id)
    ]

    # a SECOND construction with centroids is a no-op (complete store)
    again = StreamingIVFIndex(spark, str(root), cents)
    assert [(c.cell_id, c.cn) for c in again.centroids()] == [
        (c.cell_id, c.cn) for c in got
    ]


def test_ivf_index_compaction_relayouts_by_cell(spark, tmp_path):
    """compact() folds batch partitions into a cell-partitioned base:
    index() content is unchanged (batch_id preserved), probes prune on
    the base's top-level cell dirs, a replay recreating a folded
    partition is excluded by the watermark, and re-compacting at the
    same watermark is a no-op."""
    import math

    from cdc_sync_poc_spark.llm.similarity import _ivf_refined, _probe_cells_for
    from cdc_sync_poc_spark.streaming.ann_index import (
        StreamingIVFIndex,
        run_streaming_ann_index,
    )

    in_dir, rows, cuts = _emb_batches(tmp_path)
    _n, _c0, cents = _ivf_refined(spark, SF_DIR)
    root = tmp_path / "annc_root"
    q = run_streaming_ann_index(
        spark, str(in_dir), str(root), str(tmp_path / "ckpt_annc"), cents
    )
    q.awaitTermination()
    idx = StreamingIVFIndex(spark, str(root))

    before = sorted(
        (r.vec_id, int(r.cell_id), int(r.batch_id))
        for r in idx.index().collect()
    )
    qv = [float(x) for x in rows[11]["embedding"]]
    hits_before = [(r.vec_id, r.cosine) for r in idx.search(qv).collect()]

    idx.compact(1)  # fold batches 0..1, keep 2 as delta
    assert sorted(
        (r.vec_id, int(r.cell_id), int(r.batch_id))
        for r in idx.index().collect()
    ) == before
    assert [(r.vec_id, r.cosine) for r in idx.search(qv).collect()] == hits_before
    left = sorted(
        d for d in os.listdir(idx.index_dir) if d.startswith("batch_id=")
    )
    assert left == ["batch_id=2"]
    # the base really is cell-partitioned, below its watermark level
    upto_dir = os.path.join(idx.base.cur_dir, "upto=1")
    base_cells = sorted(
        d for d in os.listdir(upto_dir) if d.startswith("cell_id=")
    )
    assert base_cells

    # probe scan only touches probe-cell directories (base + delta)
    qn = math.sqrt(sum(x * x for x in qv))
    probe = {str(c) for c in _probe_cells_for(qv, qn, idx.centroids())}
    from pyspark.sql import functions as F

    scanned = {
        os.path.basename(os.path.dirname(r.f))
        for r in idx.index()
        .filter(F.col("cell_id").isin([int(c) for c in probe]))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    assert all(p.split("=")[1] in probe for p in scanned), scanned

    # at-least-once replay of a FOLDED batch: partition reappears but
    # the watermark excludes it
    mid = spark.createDataFrame(
        [(r["vec_id"], r["embedding"], r["label"]) for r in cuts[1]],
        "vec_id long, embedding array<float>, label int",
    )
    idx.absorb_batch(mid, batch_id=1)
    assert os.path.isdir(os.path.join(idx.index_dir, "batch_id=1"))
    assert sorted(
        (r.vec_id, int(r.cell_id), int(r.batch_id))
        for r in idx.index().collect()
    ) == before

    # same-watermark recompaction: no-op
    idx.compact(1)
    assert sorted(
        (r.vec_id, int(r.cell_id), int(r.batch_id))
        for r in idx.index().collect()
    ) == before

    # fold everything (incl. the replayed partition) into the base
    idx.compact(2)
    assert not any(
        d.startswith("batch_id=") for d in os.listdir(idx.index_dir)
    )
    assert sorted(
        (r.vec_id, int(r.cell_id), int(r.batch_id))
        for r in idx.index().collect()
    ) == before


def test_split_cell_relayout_and_crash_heal(spark, tmp_path):
    """split_cell (the action emb_index_growth's needs_split triggers):
    after splitting the fullest cell, (a) the vector set is preserved
    exactly and every family row sits in the sub nearest to it (other
    cells byte-identical); (b) absorb_batch after the split assigns
    into the subs; (c) search returns true cosines from the new
    routing; (d) a crash between the quantizer swap and the base swap
    is healed by heal_splits() to the identical end state; (e) a
    replayed heal / double split are rejected or no-ops."""
    import pytest
    from unittest import mock

    from cdc_sync_poc_spark.llm.similarity import _ivf_refined
    from cdc_sync_poc_spark.streaming.ann_index import StreamingIVFIndex

    in_dir, rows, cuts = _emb_batches(tmp_path)
    _n, _c0, cents = _ivf_refined(spark, SF_DIR)

    def build(root):
        idx = StreamingIVFIndex(spark, str(root), cents)
        for i, batch in enumerate(cuts):
            idx.absorb_batch(
                spark.read.parquet(str(in_dir / f"part-{i}.parquet")), i
            )
        return idx

    idx = build(tmp_path / "sp_root")
    before = {
        (r.vec_id, int(r.cell_id)) for r in idx.index().collect()
    }
    counts = {}
    for _v, c in before:
        counts[c] = counts.get(c, 0) + 1
    big = max(counts, key=lambda c: (counts[c], -c))

    sub_ids = idx.split_cell(big)
    assert sub_ids[0] == big and len(sub_ids) == 2
    after = {(r.vec_id, int(r.cell_id)) for r in idx.index().collect()}
    # (a) same vectors; non-family rows unchanged; family rows in subs
    assert {v for v, _ in after} == {v for v, _ in before}
    fam_before = {v for v, c in before if c == big}
    for v, c in after:
        if v in fam_before:
            assert c in sub_ids
        else:
            assert (v, c) in before
    # both subs non-empty for a fullest-cell split on real data
    assert {c for v, c in after if v in fam_before} == set(sub_ids)
    # family rows sit in their NEAREST sub (re-derive via assignment)
    subs = [c for c in idx.centroids() if int(c.cell_id) in set(sub_ids)]
    from cdc_sync_poc_spark.llm.similarity import _assign_col

    want_cell = {
        r.vec_id: int(r.c)
        for r in idx.index()
        .filter(F.col("cell_id").isin(sub_ids))
        .select("vec_id", _assign_col(subs).alias("c"))
        .collect()
    }
    got_cell = {v: c for v, c in after if v in fam_before}
    assert got_cell == want_cell
    # quantizer sizes: one cell replaced by two
    assert len(idx.centroids()) == len(cents) + 1

    # (c) search returns true cosines under the new routing
    qv = [float(x) for x in rows[7]["embedding"]]
    hits = idx.search(qv).collect()
    assert len(hits) > 0
    import math

    byv = {r["vec_id"]: r for r in rows}
    for h in hits:
        w = [float(x) for x in byv[h.vec_id]["embedding"]]
        acc = sum(a * b for a, b in zip(qv, w))
        qn = math.sqrt(sum(a * a for a in qv))
        wn = math.sqrt(sum(a * a for a in w))
        assert abs(h.cosine - round(acc / (qn * wn), 6)) < 1e-5

    # (b) post-split ingest assigns into the subs
    extra = spark.createDataFrame(
        [(9000 + i, byv[v]["embedding"], 0) for i, v in
         enumerate(sorted(fam_before)[:3])],
        "vec_id long, embedding array<float>, label int",
    )
    idx.absorb_batch(extra, 99)
    new_rows = {
        r.vec_id: int(r.cell_id)
        for r in idx.index().filter(F.col("vec_id") >= 9000).collect()
    }
    # a copy of a family vector must land in the same sub
    for i, v in enumerate(sorted(fam_before)[:3]):
        assert new_rows[9000 + i] == got_cell[v]

    # (d) crash between quantizer swap and base swap, then heal. The
    # bomb fires only once the journal exists — the pre-split compact()
    # also swaps the base and must succeed first.
    idx2 = build(tmp_path / "sp_crash")
    real_swap = type(idx2.store.base).swap

    def bomb(store_self, df, partition_by=None):
        if os.path.exists(idx2.journal_path):
            raise RuntimeError("chaos: base swap lost")
        return real_swap(store_self, df, partition_by=partition_by)

    with mock.patch.object(
        type(idx2.store.base), "swap", side_effect=bomb, autospec=True,
    ):
        with pytest.raises(RuntimeError, match="chaos"):
            idx2.split_cell(big)
    # journal survives; a second split is refused until healed
    with pytest.raises(RuntimeError, match="journal"):
        idx2.split_cell(big)
    # a RESTARTED maintainer self-heals in its constructor
    idx3 = StreamingIVFIndex(spark, str(tmp_path / "sp_crash"))
    assert not os.path.exists(idx3.journal_path)
    assert idx2.heal_splits() is False  # nothing left to heal
    healed = {(r.vec_id, int(r.cell_id)) for r in idx3.index().collect()}
    clean = {(v, c) for v, c in after if v < 9000}
    assert healed == clean

    # (e) guards
    with pytest.raises(ValueError, match="unknown cell_id"):
        idx.split_cell(10**9)
    with pytest.raises(ValueError, match="n_sub"):
        idx.split_cell(big, n_sub=1)


def test_split_heal_survives_crash_between_quantizer_renames(spark, tmp_path):
    """ADVICE r10 (medium): _apply_journal swaps the quantizer through
    SwapStore, and a crash BETWEEN its two renames leaves no live
    quantizer/ dir while quantizer_next is complete. The old __init__
    gated journal healing on a raw _SUCCESS check without first running
    SwapStore.recover(), so a maintainer restarted inside that window
    could not heal — centroids() raised — and a restart WITH cents_rows
    would have overwritten the post-split quantizer with the original
    seed. Both restart paths must recover to the healed post-split
    state."""
    import pytest
    from unittest import mock

    from cdc_sync_poc_spark.llm.similarity import _ivf_refined
    from cdc_sync_poc_spark.streaming.ann_index import StreamingIVFIndex
    from cdc_sync_poc_spark.streaming.swapstore import SwapStore

    in_dir, _rows, cuts = _emb_batches(tmp_path)
    _n, _c0, cents = _ivf_refined(spark, SF_DIR)
    root = tmp_path / "sp_qcrash"
    idx = StreamingIVFIndex(spark, str(root), cents)
    for i in range(len(cuts)):
        idx.absorb_batch(
            spark.read.parquet(str(in_dir / f"part-{i}.parquet")), i
        )
    counts = {
        int(r.cell_id): r.c
        for r in idx.index().groupBy("cell_id").agg(
            F.count("*").alias("c")
        ).collect()
    }
    big = max(counts, key=lambda c: (counts[c], -c))

    real_swap = SwapStore.swap

    def bomb(store_self, df, partition_by=None):
        if not store_self.cur_dir.endswith("quantizer"):
            return real_swap(store_self, df, partition_by=partition_by)
        # reproduce SwapStore.swap up to the crash point: next state
        # fully written, live dir renamed aside — then die between the
        # two renames
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(store_self.tmp_dir)
        os.rename(store_self.cur_dir, store_self.old_dir)
        raise RuntimeError("chaos: crashed between quantizer renames")

    with mock.patch.object(SwapStore, "swap", side_effect=bomb, autospec=True):
        with pytest.raises(RuntimeError, match="chaos"):
            idx.split_cell(big)

    # the crash window state: no live quantizer, complete next, journal
    assert not os.path.isdir(idx.quant_dir)
    assert os.path.exists(os.path.join(str(root), "quantizer_next", "_SUCCESS"))
    assert os.path.exists(idx.journal_path)

    # restart WITHOUT cents: must roll the swap forward and heal
    idx2 = StreamingIVFIndex(spark, str(root))
    assert not os.path.exists(idx2.journal_path)
    assert len(idx2.centroids()) == len(cents) + 1
    sub_ids = {int(c.cell_id) for c in idx2.centroids()} - {
        int(c.cell_id) for c in cents
    } | {big}
    fam = {
        int(r.cell_id)
        for r in idx2.index().filter(F.col("cell_id").isin(list(sub_ids)))
        .select("cell_id").distinct().collect()
    }
    assert fam <= sub_ids and len(fam) == 2  # base swap replayed too

    # restart WITH the ORIGINAL cents must NOT clobber the healed
    # quantizer (the overwrite gate sees the recovered live dir)
    idx3 = StreamingIVFIndex(spark, str(root), cents)
    assert len(idx3.centroids()) == len(cents) + 1


def test_index_balance_matches_straightline_and_improves_after_split(
    spark, tmp_path
):
    """StreamingIVFIndex.balance(): the one-row occupancy audit equals
    a straight-line Python computation over the stored rows, and
    splitting the fullest cell strictly reduces max-cell occupancy
    (the metric the audit exists to watch)."""
    import math

    from cdc_sync_poc_spark.llm.similarity import _ivf_refined
    from cdc_sync_poc_spark.streaming.ann_index import StreamingIVFIndex

    in_dir, _rows, cuts = _emb_batches(tmp_path)
    _n, _c0, cents = _ivf_refined(spark, SF_DIR)
    idx = StreamingIVFIndex(spark, str(tmp_path / "bal_root"), cents)
    for i in range(len(cuts)):
        idx.absorb_batch(
            spark.read.parquet(str(in_dir / f"part-{i}.parquet")), i
        )

    def straightline():
        counts: dict[int, int] = {}
        for r in idx.index().collect():
            c = int(r.cell_id)
            counts[c] = counts.get(c, 0) + 1
        ns = list(counts.values())
        k, tot, sumsq = len(ns), sum(ns), sum(n * n for n in ns)
        return {
            "n_cells_used": k,
            "n_vecs": tot,
            "min_cell": min(ns),
            "max_cell": max(ns),
            "imbalance": round(max(ns) * k / tot, 6),
            "cv": round(math.sqrt(k * sumsq - tot * tot) / tot, 6),
        }

    before_ref = straightline()
    before = idx.balance().collect()[0].asDict()
    assert before == before_ref

    # split the fullest cell; the audit must agree with straight-line
    # again AND report a strictly smaller max cell
    big_row = max(
        idx.index().groupBy("cell_id").agg(
            F.count("*").alias("c")
        ).collect(),
        key=lambda r: (r.c, -int(r.cell_id)),
    )
    idx.split_cell(int(big_row.cell_id))
    after = idx.balance().collect()[0].asDict()
    assert after == straightline()
    assert after["max_cell"] < before["max_cell"]
    assert after["n_cells_used"] == before["n_cells_used"] + 1
    assert after["n_vecs"] == before["n_vecs"]
