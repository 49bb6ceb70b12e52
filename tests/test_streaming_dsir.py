"""Streaming DSIR term statistics (streaming/dsir_stats.py) on the
sum-folded KeyedDeltaStore: stored-state ratio table bit-identical
to the batch dsir_ratio_frame over the union; compaction changes
nothing; a replay recreating an already-folded delta partition is
excluded by the watermark, never double-counted."""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _doc_batches(tmp_path, n=60, n_batches=3):
    t = pq.read_table(f"{SF_DIR}/documents.parquet")
    docs = sorted(t.to_pylist(), key=lambda d: d["doc_id"])[:n]
    cuts = [docs[i::n_batches] for i in range(n_batches)]
    in_dir = tmp_path / "ds_in"
    in_dir.mkdir()
    schema = pa.schema(
        [
            ("doc_id", pa.int64()), ("text", pa.string()),
            ("lang", pa.string()), ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]
    )
    now = time.time()
    for i, rows in enumerate(cuts):
        f = in_dir / f"part-{i}.parquet"
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), f)
        os.utime(f, (now + i * 10, now + i * 10))
    return in_dir, docs, cuts


def _frame(spark, rows):
    return spark.createDataFrame(
        [(d["doc_id"], d["lang"], d["text"]) for d in rows],
        "doc_id long, lang string, text string",
    )


def test_streaming_dsir_ratio_matches_batch(spark, tmp_path):
    from cdc_sync_poc_spark.llm.lm_quality import dsir_ratio_frame
    from cdc_sync_poc_spark.streaming.dsir_stats import (
        StreamingDSIRStats,
        run_streaming_dsir,
    )

    in_dir, docs, cuts = _doc_batches(tmp_path)
    root = tmp_path / "ds_root"
    # compact_every=2 fires the in-flight lagging compaction at batch 1
    # (folding batch 0) — the stream itself exercises the policy path
    q = run_streaming_dsir(
        spark, str(in_dir), str(root), str(tmp_path / "ckpt_ds"),
        compact_every=2,
    )
    q.awaitTermination()
    st = StreamingDSIRStats(spark, str(root))

    tok = _frame(spark, docs).select(
        "doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    want = {(r.term, r.q) for r in dsir_ratio_frame(tok).collect()}
    got = {(r.term, r.q) for r in st.ratio_table().collect()}
    assert got == want
    assert len(got) > 20  # a real vocabulary, not a trivial pass

    # compaction folds deltas without changing the ratio table, and
    # drops the folded partitions
    st.compact(1)
    assert {(r.term, r.q) for r in st.ratio_table().collect()} == want
    left = sorted(
        d
        for d in os.listdir(st.store.deltas_dir)
        if d.startswith("batch_id=")
    )
    assert left == ["batch_id=2"]

    # an at-least-once replay of an already-folded batch recreates its
    # delta partition; the watermark excludes it (no double count)
    st.absorb_batch(_frame(spark, cuts[1]), batch_id=1)
    assert os.path.isdir(os.path.join(st.store.deltas_dir, "batch_id=1"))
    assert {(r.term, r.q) for r in st.ratio_table().collect()} == want

    # compact everything, replay the LAST batch, still identical
    st.compact(2)
    st.absorb_batch(_frame(spark, cuts[2]), batch_id=2)
    assert {(r.term, r.q) for r in st.ratio_table().collect()} == want

    # totals really are the batch tok-level aggregates
    tots = {r.term: (r.c_r, r.c_t) for r in st.store.totals().collect()}
    n_r = sum(c for c, _ in tots.values())
    n_t = sum(c for _, c in tots.values())
    assert n_r == tok.count()
    assert n_t == tok.filter(F.col("lang") == "en").count()


def test_additive_delta_store_compaction_is_idempotent(spark, tmp_path):
    """Re-running compact() at the same or an older watermark is a
    no-op; compacting with no deltas is a clean no-op; an interrupted
    cleanup (folded partition left behind) never double-counts."""
    from cdc_sync_poc_spark.streaming.delta_store import KeyedDeltaStore

    store = KeyedDeltaStore(
        spark, str(tmp_path / "ads"), ["k"], "k string, n bigint"
    )
    # compact before any delta: clean no-op
    store.compact(5)
    assert store.totals().count() == 0

    def delta(rows, bid):
        store.write_delta(
            spark.createDataFrame(rows, "k string, n bigint"), bid
        )

    delta([("a", 1), ("b", 2)], 0)
    delta([("a", 10)], 1)
    delta([("c", 5)], 2)
    want = {("a", 11), ("b", 2), ("c", 5)}
    assert {(r.k, r.n) for r in store.totals().collect()} == want

    store.compact(1)
    assert {(r.k, r.n) for r in store.totals().collect()} == want
    store.compact(1)  # same watermark: no-op
    store.compact(0)  # older watermark: no-op
    assert {(r.k, r.n) for r in store.totals().collect()} == want

    # simulate a crash between swap and cleanup: recreate a folded
    # partition by hand — the watermark must exclude it
    delta([("a", 10)], 1)
    assert {(r.k, r.n) for r in store.totals().collect()} == want

    store.compact(2)
    assert {(r.k, r.n) for r in store.totals().collect()} == want
    assert not any(
        d.startswith("batch_id=") for d in os.listdir(store.deltas_dir)
    )
