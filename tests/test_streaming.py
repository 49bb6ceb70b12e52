"""Structured Streaming shell: file-source stream -> cdc view ->
watermark dedup -> foreachBatch MERGE writer; final state must equal the
batch MERGE (ap01) final state (single micro-batch => identical
semantics; duplicate-hash drops cannot change the merged row because
equal hash implies equal (pk, operation, val))."""

from __future__ import annotations

import shutil

import pytest

from tests.conftest import SF_DIR


@pytest.fixture()
def stream_dirs(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    events_dir = tmp_path / "events_in"
    events_dir.mkdir()
    # fixture stores ts as TIMESTAMP(NANOS); the stream schema declares
    # microsecond timestamps, so down-cast on the way in
    t = pq.read_table(f"{SF_DIR}/events.parquet")
    idx = t.schema.get_field_index("ts")
    import pyarrow.compute as pc

    t = t.set_column(
        idx, "ts", pc.floor_temporal(t["ts"], unit="microsecond").cast(pa.timestamp("us"))
    )
    pq.write_table(t, events_dir / "part-0.parquet")
    out_dir = tmp_path / "out"
    return str(events_dir), str(out_dir)


def test_stream_pipeline_matches_batch_merge(spark, stream_dirs):
    from pyspark.sql import functions as F

    from cdc_sync_poc_spark.operators.apply import apply_final_state
    from cdc_sync_poc_spark.sources.loader import load_table
    from cdc_sync_poc_spark.streaming.writer import run_stream_pipeline

    events_path, out_dir = stream_dirs
    base = load_table(spark, SF_DIR, "customer")
    q, writer = run_stream_pipeline(spark, events_path, base, out_dir)
    q.awaitTermination(120)

    got = {
        (r.pk, r.name, round(r.acctbal, 6))
        for r in writer.current_state().collect()
    }
    want = {
        (r.pk, r.name, round(r.acctbal, 6))
        for r in apply_final_state(spark, SF_DIR)
        .select("pk", "name", "acctbal")
        .collect()
    }
    assert got == want

    audit = spark.read.parquet(f"{out_dir}/audit")
    statuses = {r.status for r in audit.select("status").distinct().collect()}
    assert "SUCCESS" in statuses
    assert "TARGET_NOT_FOUND" in statuses


def test_watermark_dedup_drops_duplicates(spark, tmp_path):
    """dropDuplicatesWithinWatermark keeps one row per change_hash
    within the window (st01's built-in streaming form)."""
    import pandas as pd

    from cdc_sync_poc_spark.streaming.dedup import watermark_dedup
    from cdc_sync_poc_spark.streaming.source import file_event_stream, stream_cdc_view

    pdf = pd.DataFrame(
        {
            "event_id": [0, 1, 2, 3],
            "ts": pd.to_datetime(
                [
                    "2024-01-01 00:00:00",
                    "2024-01-01 00:01:00",  # same payload -> same hash, within 5 min
                    "2024-01-01 00:02:00",  # again
                    "2024-01-01 00:03:00",  # different payload
                ]
            ),
            "user_id": [1, 1, 1, 1],
            "event_type": ["click", "click", "click", "click"],
            "value": [10.0, 10.0, 10.0, 99.0],
            "props": ['{"k": 1}'] * 4,
        }
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    in_dir = tmp_path / "dup_in"
    in_dir.mkdir()
    pdf.to_parquet(in_dir / "part-0.parquet")

    out = []
    stream = watermark_dedup(stream_cdc_view(file_event_stream(spark, str(in_dir))))
    q = (
        stream.writeStream.foreachBatch(
            lambda df, _bid: out.extend(df.select("cdc_seq", "change_hash").collect())
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    hashes = [r.change_hash for r in out]
    assert len(out) == 2  # 3 duplicates collapsed to 1, plus the distinct one
    assert len(set(hashes)) == 2


def test_multibatch_sequential_merge(spark, tmp_path):
    """Two micro-batches applied in order: an INSERT landing in batch 1
    makes the key exist, so batch 2's UPDATE on it applies — the
    sequential semantics the reference's worker has row-by-row, here
    realized batch-by-batch (maxFilesPerTrigger=1)."""
    import pandas as pd

    from cdc_sync_poc_spark.sources.loader import load_table
    from cdc_sync_poc_spark.streaming.writer import run_stream_pipeline

    def events(ids, ts, etypes, vals):
        return pd.DataFrame(
            {
                "event_id": ids,
                "ts": pd.to_datetime(ts).astype("datetime64[us]"),
                "user_id": [200] * len(ids),  # pk = 2200, not in customer
                "event_type": etypes,
                "value": vals,
                "props": ['{"k": 1}'] * len(ids),
            }
        )

    in_dir = tmp_path / "mb_in"
    in_dir.mkdir()
    # batch 1: INSERT pk=2200
    events([0], ["2024-01-01 00:00:00"], ["signup"], [10.0]).to_parquet(
        in_dir / "b1.parquet"
    )
    # batch 2: UPDATE pk=2200 (applies only because batch 1 inserted it)
    events([1], ["2024-01-01 01:00:00"], ["click"], [77.0]).to_parquet(
        in_dir / "b2.parquet"
    )

    base = load_table(spark, SF_DIR, "customer")
    q, writer = run_stream_pipeline(spark, str(in_dir), base, str(tmp_path / "mb_out"))
    q.awaitTermination(120)

    row = writer.current_state().filter("pk = 2200").collect()
    assert len(row) == 1
    assert row[0].acctbal == 77.0  # batch-2 UPDATE applied to batch-1 INSERT

    audit = spark.read.parquet(str(tmp_path / "mb_out/audit"))
    by_batch = {
        (r.batch_id, r.operation): r.status for r in audit.collect() if r.pk == 2200
    }
    assert by_batch[(0, "INSERT")] == "SUCCESS"  # insert of a new key
    assert by_batch[(1, "UPDATE")] == "SUCCESS"  # key exists since batch 1


def test_kafka_reader_options_parity():
    """The Kafka reader options must carry the reference consumer's
    config (application.yml:24-25 + KafkaConfig.java:41-59): earliest
    offsets, the 6-topic subscribe pattern, bounded micro-batches, and
    loud failure on lost offsets. No broker needed — the builder and the
    option dict are separate."""
    from cdc_sync_poc_spark.streaming.source import kafka_reader_options

    opts = kafka_reader_options("broker:9092")
    assert opts["kafka.bootstrap.servers"] == "broker:9092"
    assert opts["subscribePattern"] == "asis\\..*|tobe\\..*"
    assert opts["startingOffsets"] == "earliest"
    assert opts["maxOffsetsPerTrigger"] == "100000"
    assert opts["failOnDataLoss"] == "true"
    custom = kafka_reader_options(
        "b:1", pattern="only\\.this", starting_offsets="latest",
        max_offsets_per_trigger=500,
    )
    assert custom["subscribePattern"] == "only\\.this"
    assert custom["startingOffsets"] == "latest"
    assert custom["maxOffsetsPerTrigger"] == "500"


def _keyed_base(spark, n):
    from pyspark.sql import functions as F

    return spark.range(0, n).select(
        F.col("id").alias("c_custkey"),
        F.concat(F.lit("name"), F.col("id")).alias("c_name"),
        F.col("id").cast("double").alias("c_acctbal"),
    )


def _tree_digests(root):
    """File path -> sha256 of every parquet file under ``root``."""
    import hashlib
    from pathlib import Path

    return {
        str(f.relative_to(root)): hashlib.sha256(f.read_bytes()).hexdigest()
        for f in sorted(Path(root).rglob("*.parquet"))
    }


def test_merge_batch_writes_one_delta_partition_base_untouched(spark, tmp_path):
    """Merge-on-read: a batch that does not compact leaves every base
    file byte-identical and writes ONE delta partition holding one row
    per applied key — an upsert row, or a tombstone for a DELETE of an
    existing key; an UPDATE or DELETE of a missing key writes nothing.
    The base is laid out by pk bucket, so n_buckets stays meaningful."""
    import pyarrow.parquet as pq

    from cdc_sync_poc_spark.streaming.writer import ParquetMergeWriter

    out = tmp_path / "mor"
    writer = ParquetMergeWriter(
        spark, str(out / "state"), str(out / "audit"), n_buckets=8
    )
    writer.init_state(_keyed_base(spark, 400))
    base_dir = out / "state" / "base"
    before = _tree_digests(base_dir)
    buckets = {p.name for p in base_dir.glob("upto=-1/bucket=*")}
    assert {f"bucket={k}" for k in range(8)} <= buckets

    changes = spark.createDataFrame(
        [
            (1, 7, "UPDATE", 123.0),      # existing -> upsert row
            (2, 8, "DELETE", None),       # existing -> tombstone
            (3, 1000, "INSERT", 5.0),     # new -> upsert row
            (4, 2000, "UPDATE", 6.0),     # missing -> no row
            (5, 2001, "DELETE", None),    # missing -> no row
        ],
        "cdc_seq long, pk long, operation string, val double",
    )
    writer.apply_batch(changes, batch_id=0)

    assert _tree_digests(base_dir) == before
    deltas = out / "state" / "deltas"
    assert [p.name for p in deltas.iterdir()] == ["batch_id=0"]
    rows = pq.read_table(deltas / "batch_id=0").to_pylist()
    assert sorted((r["pk"], r["deleted"], r["acctbal"]) for r in rows) == [
        (7, False, 123.0), (8, True, None), (1000, False, 5.0),
    ]
    state = {r.pk: (r.name, r.acctbal) for r in writer.current_state().collect()}
    assert len(state) == 400  # -8, +1000
    assert state[7] == ("U7", 123.0) and state[1000] == ("U1000", 5.0)
    assert 8 not in state and 2000 not in state and 2001 not in state


def test_replayed_delete_of_existing_key_keeps_audit(spark, tmp_path):
    """A replayed batch probes the same pre-batch snapshot, so its audit
    partition is identical — including a DELETE of an existing key,
    which must stay SUCCESS (not TARGET_NOT_FOUND) after its own first
    attempt already tombstoned the key. The replay runs on a new writer,
    as after a restart, and leaves the state unchanged."""
    from cdc_sync_poc_spark.streaming.writer import ParquetMergeWriter

    out = tmp_path / "replay"
    dirs = (str(out / "state"), str(out / "audit"))
    writer = ParquetMergeWriter(spark, *dirs, n_buckets=8)
    writer.init_state(_keyed_base(spark, 50))
    changes = spark.createDataFrame(
        [(1, 7, "UPDATE", 1.0), (2, 8, "DELETE", None), (3, 99, "DELETE", None)],
        "cdc_seq long, pk long, operation string, val double",
    )

    def audit():
        return sorted(
            tuple(r)
            for r in spark.read.parquet(str(out / "audit" / "batch_id=0")).collect()
        )

    writer.apply_batch(changes, batch_id=0)
    first, state = audit(), sorted(writer.current_state().collect())
    assert first == [
        (1, 7, "UPDATE", "SUCCESS"),
        (2, 8, "DELETE", "SUCCESS"),
        (3, 99, "DELETE", "TARGET_NOT_FOUND"),
    ]
    ParquetMergeWriter(spark, *dirs, n_buckets=8).apply_batch(changes, batch_id=0)
    assert audit() == first
    assert sorted(writer.current_state().collect()) == state


def test_stream_pipeline_stateful_dedup_variant(spark, stream_dirs):
    """The stateful (applyInPandasWithState) dedup variant produces the
    same final merged state: blocked rows are exact-content duplicates,
    so dropping them cannot change last-wins results."""
    from cdc_sync_poc_spark.operators.apply import apply_final_state
    from cdc_sync_poc_spark.sources.loader import load_table
    from cdc_sync_poc_spark.streaming.writer import run_stream_pipeline

    events_path, out_dir = stream_dirs
    base = load_table(spark, SF_DIR, "customer")
    q, writer = run_stream_pipeline(
        spark, events_path, base, out_dir + "_stateful", dedup="stateful"
    )
    q.awaitTermination(120)
    got = {
        (r.pk, r.name, round(r.acctbal, 6))
        for r in writer.current_state().collect()
    }
    want = {
        (r.pk, r.name, round(r.acctbal, 6))
        for r in apply_final_state(spark, SF_DIR)
        .select("pk", "name", "acctbal")
        .collect()
    }
    assert got == want


@pytest.mark.parametrize("failing_rename", ["live_to_old", "next_to_live"])
def test_crash_between_compaction_renames_converges(
    spark, tmp_path, monkeypatch, failing_rename
):
    """A compaction swaps the base through SwapStore's two renames. A
    crash at either rename must converge: the restarted writer heals
    the swap (roll back, or roll forward from the complete next base),
    replays the interrupted batch, and lands the same state as a run
    without the crash — folded delta partitions are never applied
    twice."""
    import os

    from cdc_sync_poc_spark.streaming import swapstore
    from cdc_sync_poc_spark.streaming.writer import ParquetMergeWriter

    monkeypatch.setattr(ParquetMergeWriter, "_compact_at", lambda self: 2)
    schema = "cdc_seq long, pk long, operation string, val double"
    batches = [
        [(0, 1, "UPDATE", 10.0), (1, 2, "DELETE", None)],
        [(2, 1, "UPDATE", 11.0), (3, 100, "INSERT", 1.0)],
        [(4, 100, "DELETE", None), (5, 3, "UPDATE", 12.0)],
    ]

    def run(out, crash):
        dirs = (str(out / "state"), str(out / "audit"))
        writer = ParquetMergeWriter(spark, *dirs, n_buckets=4)
        writer.init_state(_keyed_base(spark, 20))
        for bid, rows in enumerate(batches[:2]):
            writer.apply_batch(spark.createDataFrame(rows, schema), bid)
        last = spark.createDataFrame(batches[2], schema)
        if crash:
            rename = os.rename
            tmp, cur = writer.store.base.tmp_dir, writer.store.base.cur_dir
            src = cur if failing_rename == "live_to_old" else tmp

            def crashing_rename(a, b):
                if a == src:
                    raise OSError("simulated crash")
                rename(a, b)

            monkeypatch.setattr(swapstore.os, "rename", crashing_rename)
            with pytest.raises(OSError, match="simulated crash"):
                writer.apply_batch(last, 2)
            monkeypatch.setattr(swapstore.os, "rename", rename)
            writer = ParquetMergeWriter(spark, *dirs, n_buckets=4)  # restart
        writer.apply_batch(last, 2)
        assert writer.store.watermark() == 1  # batches 0 and 1 folded
        return sorted(writer.current_state().collect()), sorted(
            spark.read.parquet(dirs[1]).collect()
        )

    want = run(tmp_path / "clean", crash=False)
    got = run(tmp_path / "crash", crash=True)
    assert got == want
    state = {r.pk: r.acctbal for r in got[0]}
    assert state[1] == 11.0 and state[3] == 12.0
    assert 2 not in state and 100 not in state and len(state) == 19


def test_stream_final_state_matches_duckdb_oracle(spark, duck, stream_dirs):
    """E2E ground truth: the stateful-dedup stream's final state equals
    the DuckDB oracle of ap01_merge_cdc row-for-row at sf0.001 — the
    stream -> writer-state path checked against an independent engine,
    not just against our own batch plan."""
    from cdc_sync_poc_spark.registry import ORACLES, load_all_queries
    from cdc_sync_poc_spark.sources.loader import load_table
    from cdc_sync_poc_spark.streaming.writer import run_stream_pipeline

    load_all_queries()
    events_path, out_dir = stream_dirs
    base = load_table(spark, SF_DIR, "customer")
    q, writer = run_stream_pipeline(
        spark, events_path, base, out_dir + "_oracle", dedup="stateful"
    )
    q.awaitTermination(120)

    got = {
        (r.pk, r.name, round(r.acctbal, 6))
        for r in writer.current_state().collect()
    }
    oracle = duck.sql(ORACLES["ap01_merge_cdc"]).fetchall()  # pk,name,acctbal,src
    want = {(pk, name, round(acctbal, 6)) for pk, name, acctbal, _src in oracle}
    assert got == want


def test_streaming_session_window_matches_batch(spark, stream_dirs):
    """The native session_window operator produces the same sessions in
    a readStream plan as the batch query (events_session_window's
    docstring claims the batch oracle is ground truth for the
    streaming path — this pins it)."""
    from pyspark.sql import functions as F

    from cdc_sync_poc_spark.registry import QUERIES, load_all_queries

    load_all_queries()
    events_path, _ = stream_dirs
    schema = spark.read.parquet(events_path).schema
    sdf = spark.readStream.schema(schema).parquet(events_path)
    agg = (
        sdf.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.expr(
                "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100"
            ).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
            for r in spark.sql("SELECT * FROM sess_stream").collect()
        }
    finally:
        q.stop()
    want = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
        for r in QUERIES["events_session_window"](spark, SF_DIR).collect()
    }
    assert got == want


def test_streaming_kmv_sketch_merge_is_lossless(spark, tmp_path):
    """Maintain the KMV distinct sketch incrementally over a 3-batch
    stream (foreachBatch merges each batch's bottom-k into k-bounded
    state) and require the final estimate to EQUAL the batch operator's
    — bottom-k merge is lossless for the union's bottom-k, which is
    the property that lets a 100 TB rollup keep per-day sketches and
    never rescan raw events."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from cdc_sync_poc_spark.operators.sketches import KMV_K
    from cdc_sync_poc_spark.registry import QUERIES, load_all_queries

    load_all_queries()
    src = tmp_path / "ev_batches"
    src.mkdir()
    t = pq.read_table(f"{SF_DIR}/events.parquet")
    idx = t.schema.get_field_index("ts")
    t = t.set_column(
        idx, "ts", pc.floor_temporal(t["ts"], unit="microsecond").cast(pa.timestamp("us"))
    )
    # 3 near-equal micro-batch slices on event_id % 3
    mod = pc.subtract(t["event_id"], pc.multiply(pc.divide(t["event_id"], 3), 3))
    for i in range(3):
        pq.write_table(t.filter(pc.equal(mod, i)), src / f"b{i}.parquet")

    state: dict[str, list[int]] = {}

    def merge_batch(batch_df, _bid):
        hv = F.conv(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 12), 16, 10
        ).cast("bigint")
        rows = (
            batch_df.select("event_type", hv.alias("hv"))
            .distinct()
            .collect()  # test-scale shortcut; production keeps this distributed
        )
        per_type: dict[str, set] = {}
        for r in rows:
            per_type.setdefault(r.event_type, set()).add(r.hv)
        for et, hs in per_type.items():
            merged = sorted(set(state.get(et, [])) | hs)[:KMV_K]
            state[et] = merged  # k-bounded state: THE sketch property

    schema = spark.read.parquet(str(src)).schema
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(merge_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch = {
        r.event_type: (r.n_exact, r.kmv_estimate)
        for r in QUERIES["events_kmv_distinct"](spark, SF_DIR).collect()
    }
    assert set(state) == set(batch)
    for et, sk in state.items():
        n_exact, want_est = batch[et]
        if n_exact <= KMV_K:
            got = float(len(sk))
        else:
            got = round((KMV_K - 1) * (1 << 48) / sk[KMV_K - 1], 3)
        assert got == want_est, (et, got, want_est)


def test_writer_net_strategy_matches_sequential_replay(spark, tmp_path):
    """The MERGE writer's 'net' strategy (ap08 compaction per batch)
    must land the exact sequential-replay state (ap06) — the
    reference's row-at-a-time worker semantics, reproduced by writing
    each key ONCE per batch through the bucket-swap machinery. The
    default last_wins strategy intentionally differs on in-batch
    chains (the documented ap01 deviation); this test pins that the
    opt-in strategy closes that gap."""
    from cdc_sync_poc_spark.cdc.envelope import cdc_view
    from cdc_sync_poc_spark.registry import QUERIES, load_all_queries
    from cdc_sync_poc_spark.sources.loader import load_table
    from cdc_sync_poc_spark.streaming.writer import ParquetMergeWriter

    load_all_queries()
    out = tmp_path / "net_writer"
    writer = ParquetMergeWriter(
        spark, str(out / "state"), str(out / "audit"), n_buckets=8,
        strategy="net",
    )
    writer.init_state(load_table(spark, SF_DIR, "customer"))
    changes = cdc_view(spark, SF_DIR).select("cdc_seq", "pk", "operation", "val")
    writer.apply_batch(changes, batch_id=0)

    got = {
        (r.pk, r.name, round(r.acctbal, 6))
        for r in writer.current_state().collect()
    }
    want = {
        (r.pk, r.name, round(r.acctbal, 6))
        for r in QUERIES["ap06_sequential_replay"](spark, SF_DIR)
        .select("pk", "name", "acctbal")
        .collect()
    }
    assert got == want


def test_writer_net_strategy_replay_is_idempotent(spark, tmp_path):
    """Replaying the same batch through strategy='net' must leave the
    state byte-identical (the at-least-once foreachBatch contract the
    last_wins path already honors): every net op — UPSERT, UPDATE,
    DELETE — is idempotent against the post-batch state."""
    from pyspark.sql import functions as F

    from cdc_sync_poc_spark.streaming.writer import ParquetMergeWriter

    out = tmp_path / "net_replay"
    writer = ParquetMergeWriter(
        spark, str(out / "state"), str(out / "audit"), n_buckets=4,
        strategy="net",
    )
    base = spark.range(0, 50).select(
        F.col("id").alias("c_custkey"),
        F.concat(F.lit("name"), F.col("id")).alias("c_name"),
        F.col("id").cast("double").alias("c_acctbal"),
    )
    writer.init_state(base)
    changes = spark.createDataFrame(
        [
            (0, 7, "UPDATE", 1.0), (1, 7, "DELETE", None),   # net DELETE
            (2, 8, "INSERT", 2.0), (3, 8, "UPDATE", 3.0),    # net UPSERT(3.0)
            (4, 99, "INSERT", 4.0), (5, 99, "DELETE", None), # net DELETE (absent)
            (6, 9, "UPDATE", 5.0),                            # net UPDATE
        ],
        "cdc_seq long, pk long, operation string, val double",
    )
    writer.apply_batch(changes, batch_id=0)
    first = {(r.pk, r.name, r.acctbal) for r in writer.current_state().collect()}
    writer.apply_batch(changes, batch_id=0)  # replay
    second = {(r.pk, r.name, r.acctbal) for r in writer.current_state().collect()}
    assert first == second
    assert (7, "name7", 7.0) not in second and not any(pk == 7 for pk, *_ in second)
    assert (8, "U8", 3.0) in second
    assert (9, "U9", 5.0) in second


def test_writer_net_audit_in_batch_create_delete_is_success(spark, tmp_path):
    """strategy='net' audit parity with sequential replay (ADVICE r4):
    a key INSERTed and DELETEd within one batch compacts to net DELETE,
    but the replay it claims parity with would log INSERT=SUCCESS then
    DELETE=SUCCESS — so the compacted decision must audit SUCCESS, not
    TARGET_NOT_FOUND, even though the key is absent from pre-batch
    state. A plain UPDATE/DELETE on an absent key (no in-batch INSERT)
    still audits TARGET_NOT_FOUND."""
    from pyspark.sql import functions as F

    from cdc_sync_poc_spark.streaming.writer import ParquetMergeWriter

    out = tmp_path / "net_audit"
    writer = ParquetMergeWriter(
        spark, str(out / "state"), str(out / "audit"), n_buckets=4,
        strategy="net",
    )
    base = spark.range(0, 10).select(
        F.col("id").alias("c_custkey"),
        F.concat(F.lit("name"), F.col("id")).alias("c_name"),
        F.col("id").cast("double").alias("c_acctbal"),
    )
    writer.init_state(base)
    changes = spark.createDataFrame(
        [
            (0, 99, "INSERT", 1.0), (1, 99, "DELETE", None),  # created+deleted in batch
            (2, 98, "UPDATE", 2.0),                            # absent, no insert
            (3, 97, "DELETE", None),                           # absent, no insert
            (4, 5, "UPDATE", 3.0),                             # present
        ],
        "cdc_seq long, pk long, operation string, val double",
    )
    writer.apply_batch(changes, batch_id=0)
    audit = {
        r.pk: r.status
        for r in spark.read.parquet(str(out / "audit")).collect()
    }
    assert audit[99] == "SUCCESS"
    assert audit[98] == "TARGET_NOT_FOUND"
    assert audit[97] == "TARGET_NOT_FOUND"
    assert audit[5] == "SUCCESS"
    # and the state itself is unaffected: 99 stays absent
    assert not any(r.pk == 99 for r in writer.current_state().collect())


def test_stream_net_pipeline_matches_sequential_replay(spark, stream_dirs):
    """The end-to-end wiring for sequential parity: strategy='net' with
    dedup='none' through run_stream_pipeline must land ap06's exact
    sequential-replay state (single batch here; the composition
    property in test_properties.py covers multi-batch)."""
    from cdc_sync_poc_spark.registry import QUERIES, load_all_queries
    from cdc_sync_poc_spark.sources.loader import load_table
    from cdc_sync_poc_spark.streaming.writer import run_stream_pipeline

    load_all_queries()
    events_path, out_dir = stream_dirs
    base = load_table(spark, SF_DIR, "customer")
    q, writer = run_stream_pipeline(
        spark, events_path, base, out_dir + "_net", dedup="none",
        strategy="net",
    )
    q.awaitTermination(120)
    got = {
        (r.pk, r.name, round(r.acctbal, 6))
        for r in writer.current_state().collect()
    }
    want = {
        (r.pk, r.name, round(r.acctbal, 6))
        for r in QUERIES["ap06_sequential_replay"](spark, SF_DIR)
        .select("pk", "name", "acctbal")
        .collect()
    }
    assert got == want


def _event_batch_df(rows):
    """(event_id, ts, user_id, event_type) rows -> the event-stream
    frame shape (shared by the stream-join tests)."""
    import pandas as pd

    return pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": pd.to_datetime([r[1] for r in rows]).astype("datetime64[us]"),
            "user_id": [r[2] for r in rows],
            "event_type": [r[3] for r in rows],
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        }
    )


def _write_event_batches(in_dir, batches):
    import os
    import time

    now = time.time()
    for i, rows in enumerate(batches):
        f = in_dir / f"part-{i}.parquet"
        _event_batch_df(rows).to_parquet(f)
        os.utime(f, (now + i * 10, now + i * 10))


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """The watermarked stream-stream interval join (view->click
    attribution, streaming/stream_join.py) emits, across all
    micro-batches, exactly the pairs the batch interval join produces
    on the full event set — including a cross-micro-batch pair (the
    view arrives in batch 1, its click in batch 2, within the window:
    the buffered view must still be in the join state)."""
    import pandas as pd

    from cdc_sync_poc_spark.streaming.source import file_event_stream
    from cdc_sync_poc_spark.streaming.stream_join import (
        interval_join_batch,
        interval_join_stream,
    )

    b1 = [
        (1, "2024-01-01 00:00:00", 1, "view"),
        (2, "2024-01-01 00:05:00", 1, "click"),   # in-window, same batch
        (3, "2024-01-01 00:00:00", 2, "view"),
        (4, "2024-01-01 00:20:00", 2, "click"),   # out of window
    ]
    b2 = [
        (5, "2024-01-01 00:08:00", 1, "click"),   # in-window, CROSS batch
        (6, "2024-01-01 00:30:00", 3, "view"),
        (7, "2024-01-01 00:31:00", 3, "click"),   # in-window
    ]
    in_dir = tmp_path / "sj_in"
    in_dir.mkdir()
    _write_event_batches(in_dir, (b1, b2))

    rows_out = []
    q = (
        interval_join_stream(file_event_stream(spark, str(in_dir)))
        .writeStream.foreachBatch(lambda df, _b: rows_out.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck_sj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    all_events = spark.createDataFrame(
        pd.concat([_event_batch_df(b1), _event_batch_df(b2)], ignore_index=True)
    )
    expected = {
        (r.user_id, r.view_id, r.click_id)
        for r in interval_join_batch(all_events).collect()
    }
    got = {(r.user_id, r.view_id, r.click_id) for r in rows_out}
    assert got == expected
    assert (1, 1, 5) in got  # the cross-batch attribution pair
    assert (2, 3, 4) not in got  # out-of-window pair stays out


def test_stream_stream_outer_join_emits_unmatched_after_watermark(spark, tmp_path):
    """LEFT OUTER stream-stream join: a view with no in-window click is
    emitted with a NULL click_id — but only after the click-side
    watermark PASSES view_ts + window (a later heartbeat batch advances
    it), because only then can the state store prove the negative."""
    from cdc_sync_poc_spark.streaming.source import file_event_stream
    from cdc_sync_poc_spark.streaming.stream_join import interval_join_stream_outer

    b1 = [
        (1, "2024-01-01 00:00:00", 1, "view"),   # will match
        (2, "2024-01-01 00:05:00", 1, "click"),
        (3, "2024-01-01 00:00:00", 2, "view"),   # never matches
    ]
    # heartbeat far past view_ts + window on BOTH sides -> watermark
    # advances -> the unmatched view can be null-completed
    b2 = [
        (8, "2024-01-01 02:00:00", 9, "view"),
        (9, "2024-01-01 02:00:00", 9, "click"),
    ]
    in_dir = tmp_path / "sjo_in"
    in_dir.mkdir()
    _write_event_batches(in_dir, (b1, b2))

    rows_out = []
    q = (
        interval_join_stream_outer(file_event_stream(spark, str(in_dir)))
        .writeStream.foreachBatch(lambda df, _b: rows_out.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck_sjo"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {(r.view_id, r.click_id) for r in rows_out}
    assert (1, 2) in got          # matched pair
    assert (3, None) in got       # null-completed after watermark passed


# ---------------------------------------------------------------------------
# Streaming SCD2 history writer (VERDICT r7 #2)
# ---------------------------------------------------------------------------


@pytest.fixture()
def chunked_events(tmp_path):
    """The sf0.001 events split into 4 ordered parquet files so the
    file source delivers 4 micro-batches (maxFilesPerTrigger=1), with
    ts down-cast to microseconds like the stream schema declares.
    Ordered chunking preserves each key's cdc_seq order across batches
    (the writer's documented ordering assumption)."""
    import time

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    events_dir = tmp_path / "scd2_events_in"
    events_dir.mkdir()
    t = pq.read_table(f"{SF_DIR}/events.parquet")
    idx = t.schema.get_field_index("ts")
    t = t.set_column(
        idx, "ts", pc.floor_temporal(t["ts"], unit="microsecond").cast(pa.timestamp("us"))
    )
    t = t.sort_by("event_id")
    n = t.num_rows
    now = time.time()
    for i in range(4):
        f = events_dir / f"part-{i}.parquet"
        pq.write_table(t.slice(i * n // 4, (i + 1) * n // 4 - i * n // 4), f)
        import os

        os.utime(f, (now + i * 10, now + i * 10))
    return str(events_dir)


def _hist_set(df):
    return {
        (r.version_seq, r.pk, round(r.val, 6), r.valid_from_ms, r.valid_to_ms, r.is_current)
        for r in df.collect()
    }


def test_scd2_stream_matches_batch_ap07(spark, chunked_events, tmp_path):
    """Incremental SCD2 over 4 micro-batches == batch ap07 over the
    full changelog (VERDICT r7 #2 'done' condition)."""
    from cdc_sync_poc_spark.operators.scd import ap07_scd2_history
    from cdc_sync_poc_spark.streaming.scd2 import run_scd2_stream

    q, writer = run_scd2_stream(spark, chunked_events, str(tmp_path / "scd2_out"))
    q.awaitTermination(180)

    got = _hist_set(writer.history())
    want = _hist_set(ap07_scd2_history(spark, SF_DIR))
    assert got == want
    assert any(r[5] for r in got)       # has open versions
    assert any(not r[5] for r in got)   # and closed ones


@pytest.mark.slow
def test_scd2_replay_and_crash_windows_are_idempotent(spark, tmp_path):
    """Exactly-once under foreachBatch at-least-once: (a) a fully
    committed batch replayed verbatim is a no-op (commit marker), and
    (b) a crash AFTER the closed-partition write but BEFORE the open
    swap (simulated by restoring the pre-batch open store) replays to
    the identical history."""
    import shutil as sh

    from cdc_sync_poc_spark.cdc.envelope import cdc_view
    from cdc_sync_poc_spark.operators.scd import ap07_scd2_history
    from cdc_sync_poc_spark.streaming.scd2 import Scd2StreamWriter

    out = tmp_path / "scd2_crash"
    writer = Scd2StreamWriter(spark, str(out))
    cdc = cdc_view(spark, SF_DIR)
    n = cdc.count()
    chunks = [
        cdc.orderBy("cdc_seq").limit((i + 1) * n // 3).subtract(
            cdc.orderBy("cdc_seq").limit(i * n // 3)
        )
        for i in range(3)
    ]
    writer.apply_batch(chunks[0], 0)
    writer.apply_batch(chunks[1], 1)

    # snapshot the pre-batch-2 open store, then run batch 2 fully
    open_dir = writer.open_store.cur_dir
    sh.copytree(open_dir, str(tmp_path / "open_snapshot"))
    writer.apply_batch(chunks[2], 2)
    want = _hist_set(writer.history())

    # (a) replay of a committed batch is a no-op
    writer.apply_batch(chunks[2], 2)
    assert _hist_set(writer.history()) == want

    # (b) crash window: closed/batch_id=2 written, open swap lost
    sh.rmtree(open_dir)
    sh.copytree(str(tmp_path / "open_snapshot"), open_dir)
    writer.apply_batch(chunks[2], 2)
    assert _hist_set(writer.history()) == want

    # and the final history is the batch ap07 answer
    assert want == _hist_set(ap07_scd2_history(spark, SF_DIR))


@pytest.mark.slow
def test_scd2_bucketed_matches_whole_swap(spark, chunked_events, tmp_path):
    """VERDICT r8 #8: the bucketed MVCC open store produces the exact
    whole-swap history (== batch ap07), while touching only changed
    buckets per batch and keeping one committed version per bucket."""
    import os

    from cdc_sync_poc_spark.operators.scd import ap07_scd2_history
    from cdc_sync_poc_spark.streaming.scd2 import run_scd2_stream

    q, writer = run_scd2_stream(
        spark, chunked_events, str(tmp_path / "scd2_b"), n_buckets=8
    )
    q.awaitTermination(180)
    got = _hist_set(writer.history())
    assert got == _hist_set(ap07_scd2_history(spark, SF_DIR))
    # post-prune: exactly one committed version per bucket remains
    for b in os.listdir(writer.buckets_dir):
        if b.startswith("bucket="):
            vs = [
                v
                for v in os.listdir(os.path.join(writer.buckets_dir, b))
                if v.startswith("v=")
            ]
            assert len(vs) == 1, (b, vs)


@pytest.mark.slow
def test_scd2_bucketed_crash_windows_are_idempotent(spark, tmp_path):
    """Bucketed-mode exactly-once: (a) replay of a committed batch is a
    no-op (marker), and (b) a crash AFTER some bucket version dirs are
    written but BEFORE the marker swap leaves them invisible — the
    replay reads the pre-batch state and commits identical history."""
    from unittest import mock

    from cdc_sync_poc_spark.cdc.envelope import cdc_view
    from cdc_sync_poc_spark.operators.scd import ap07_scd2_history
    from cdc_sync_poc_spark.streaming.scd2 import Scd2StreamWriter

    writer = Scd2StreamWriter(
        spark, str(tmp_path / "scd2_bc"), n_buckets=8
    )
    cdc = cdc_view(spark, SF_DIR)
    n = cdc.count()
    chunks = [
        cdc.orderBy("cdc_seq").limit((i + 1) * n // 3).subtract(
            cdc.orderBy("cdc_seq").limit(i * n // 3)
        )
        for i in range(3)
    ]
    writer.apply_batch(chunks[0], 0)
    writer.apply_batch(chunks[1], 1)

    # (b) crash: bucket v=2 dirs written, marker swap suppressed
    with mock.patch.object(
        type(writer.marker_store), "swap", lambda self, df: None
    ):
        writer.apply_batch(chunks[2], 2)
    # the uncommitted v=2 dirs are invisible: state is still batch-1
    _, committed = writer._open_state()
    assert committed == 1
    # replay commits for real and lands on the batch answer
    writer.apply_batch(chunks[2], 2)
    want = _hist_set(ap07_scd2_history(spark, SF_DIR))
    assert _hist_set(writer.history()) == want

    # (a) replay of the committed batch is a no-op
    writer.apply_batch(chunks[2], 2)
    assert _hist_set(writer.history()) == want


def test_scd2_bucketed_partial_rename_crash(spark, tmp_path):
    """The nastiest bucketed window: crash AFTER some (but not all)
    touched buckets renamed their v=B version in. Those dirs are
    uncommitted (marker still at B-1), so the replay must see pure
    pre-batch state, overwrite the orphan versions, and commit the
    identical history."""
    import os as _os
    from unittest import mock

    from cdc_sync_poc_spark.cdc.envelope import cdc_view
    from cdc_sync_poc_spark.operators.scd import ap07_scd2_history
    from cdc_sync_poc_spark.streaming.scd2 import Scd2StreamWriter

    writer = Scd2StreamWriter(
        spark, str(tmp_path / "scd2_pr"), n_buckets=8
    )
    cdc = cdc_view(spark, SF_DIR)
    n = cdc.count()
    chunks = [
        cdc.orderBy("cdc_seq").limit((i + 1) * n // 2).subtract(
            cdc.orderBy("cdc_seq").limit(i * n // 2)
        )
        for i in range(2)
    ]
    writer.apply_batch(chunks[0], 0)

    real_rename = _os.rename
    calls = {"n": 0}

    def failing_rename(src, dst):
        # let the first bucket land, then crash the process mid-commit
        if "scd2_open_buckets" in dst:
            calls["n"] += 1
            if calls["n"] > 1:
                raise OSError("simulated crash mid bucket renames")
        return real_rename(src, dst)

    import pytest as _pytest

    with mock.patch("os.rename", side_effect=failing_rename):
        with _pytest.raises(Exception, match="simulated crash"):
            writer.apply_batch(chunks[1], 1)
    assert calls["n"] > 1  # the crash actually hit a later rename
    # marker never advanced: the orphan v=1 dirs are invisible
    _, committed = writer._open_state()
    assert committed == 0
    # replay completes and lands on the batch answer
    writer.apply_batch(chunks[1], 1)
    want = _hist_set(ap07_scd2_history(spark, SF_DIR))
    assert _hist_set(writer.history()) == want


def test_scd2_bucketed_empty_first_batch_and_bad_n_buckets(spark, tmp_path):
    """Review findings: (a) an all-empty FIRST batch (touched = [])
    never creates the buckets dir — the post-commit prune must no-op,
    not FileNotFoundError after the marker already advanced; (b)
    n_buckets < 1 fails loudly at construction."""
    import pytest as _pytest

    from cdc_sync_poc_spark.cdc.envelope import cdc_view
    from cdc_sync_poc_spark.operators.scd import ap07_scd2_history
    from cdc_sync_poc_spark.streaming.scd2 import Scd2StreamWriter

    with _pytest.raises(ValueError, match="n_buckets"):
        Scd2StreamWriter(spark, str(tmp_path / "bad"), n_buckets=0)

    writer = Scd2StreamWriter(spark, str(tmp_path / "scd2_e"), n_buckets=4)
    cdc = cdc_view(spark, SF_DIR)
    writer.apply_batch(cdc.limit(0), 0)  # empty first batch
    _, committed = writer._open_state()
    assert committed == 0 and writer.history().count() == 0
    writer.apply_batch(cdc, 1)  # then the whole changelog
    assert _hist_set(writer.history()) == _hist_set(
        ap07_scd2_history(spark, SF_DIR)
    )


def test_scd2_bucketed_replay_behind_committed_marker(spark, tmp_path):
    """Checkpoint loss can replay a batch the marker already proves
    FULLY committed (committed > batch_id, not just ==): the
    `committed >= batch_id` early-return must make it a pure no-op —
    no bucket version dir from the replayed OR any future batch may be
    re-created, overwritten, or double-counted, and current()/history()
    must be byte-identical (VERDICT r9 #7)."""
    import os as _os

    from cdc_sync_poc_spark.cdc.envelope import cdc_view
    from cdc_sync_poc_spark.streaming.scd2 import Scd2StreamWriter

    out = tmp_path / "scd2_behind"
    writer = Scd2StreamWriter(spark, str(out), n_buckets=8)
    cdc = cdc_view(spark, SF_DIR)
    n = cdc.count()
    chunks = [
        cdc.orderBy("cdc_seq").limit((i + 1) * n // 3).subtract(
            cdc.orderBy("cdc_seq").limit(i * n // 3)
        )
        for i in range(3)
    ]
    for i, ch in enumerate(chunks):
        writer.apply_batch(ch, i)
    _, committed = writer._open_state()
    assert committed == 2

    def tree_snapshot(root):
        """Every file path + size + mtime under the store."""
        snap = {}
        for dirpath, _dirs, files in _os.walk(root):
            for f in files:
                p = _os.path.join(dirpath, f)
                st = _os.stat(p)
                snap[_os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
        return snap

    before_tree = tree_snapshot(str(out))
    before_hist = _hist_set(writer.history())
    before_open = {
        tuple(r) for r in writer._open_state()[0].collect()
    }

    # a FRESH writer (post-checkpoint-loss process) replays batches 0
    # and 1 — both strictly behind the committed marker
    replayer = Scd2StreamWriter(spark, str(out), n_buckets=8)
    replayer.apply_batch(chunks[0], 0)
    replayer.apply_batch(chunks[1], 1)

    assert tree_snapshot(str(out)) == before_tree  # not one byte moved
    assert _hist_set(replayer.history()) == before_hist
    assert {
        tuple(r) for r in replayer._open_state()[0].collect()
    } == before_open
    _, committed = replayer._open_state()
    assert committed == 2


def test_streaming_cluster_sampler_matches_batch(spark, tmp_path):
    """Per-cell bottom-k associativity: streaming the embeddings in 3
    micro-batches through StreamingClusterSampler (fixed quantizer =
    the batch operator's own refined centroids) must land on exactly
    sample_cluster_balanced's draw, and replaying the last batch must
    change nothing."""
    from pyspark.sql import functions as F

    from cdc_sync_poc_spark.llm.similarity import _ivf_refined
    from cdc_sync_poc_spark.registry import QUERIES, load_all_queries
    from cdc_sync_poc_spark.sources.loader import load_table
    from cdc_sync_poc_spark.streaming.cluster_sample import (
        StreamingClusterSampler,
    )

    load_all_queries()
    _, _c0, cents1 = _ivf_refined(spark, SF_DIR)
    emb = load_table(spark, SF_DIR, "embeddings")
    s = StreamingClusterSampler(spark, str(tmp_path / "cs"), cents1)
    for i in range(3):
        s.absorb_batch(emb.filter(F.col("vec_id") % 3 == i), i)
    got = {
        (r.vec_id, r.cell_id, r.cell_rank) for r in s.sample().collect()
    }
    want = {
        (r.vec_id, r.cell_id, r.cell_rank)
        for r in QUERIES["sample_cluster_balanced"](spark, SF_DIR).collect()
    }
    assert got == want and len(got) > 0
    # at-least-once replay of the final batch is a no-op
    s.absorb_batch(emb.filter(F.col("vec_id") % 3 == 2), 2)
    assert {
        (r.vec_id, r.cell_id, r.cell_rank) for r in s.sample().collect()
    } == want


def test_kafka_frame_decode_matches_batch_debezium_parse(spark):
    """The Kafka wire-frame decode glue (streaming/source.py::
    kafka_frame_to_envelope): binary UTF-8 envelopes in the EXACT
    schema format("kafka").load() yields must parse to the same rows
    as the oracle-checked batch src_debezium_parse, with malformed
    payloads surfaced as parse_ok=false rather than dropped."""
    from pyspark.sql import functions as F

    from cdc_sync_poc_spark.cdc.envelope import _envelope_raw, cdc_view
    from cdc_sync_poc_spark.registry import QUERIES, load_all_queries
    from cdc_sync_poc_spark.streaming.source import (
        KAFKA_FRAME_SCHEMA,
        kafka_frame_to_envelope,
    )
    from tests.conftest import SF_DIR

    load_all_queries()
    raw = _envelope_raw(cdc_view(spark, SF_DIR)).collect()
    rows = [
        (
            str(r.orig_seq).encode(),
            r.json.encode(),
            "asis.ASIS_USER.CDC",
            int(r.orig_seq % 3),
            int(r.orig_seq),
            None,
            0,
        )
        for r in raw
    ] + [(b"bad", b"{not json at all", "asis.ASIS_USER.CDC", 0, 10**9, None, 0)]
    frame = spark.createDataFrame(rows, KAFKA_FRAME_SCHEMA)
    out = kafka_frame_to_envelope(frame)

    good = out.filter(F.col("parse_ok"))
    got = {
        r.cdc_seq: (r.op, r.ts_ms, r.table_name, r.before_v, r.after_v)
        for r in good.collect()
    }
    want = {
        r.cdc_seq: (r.op, r.ts_ms, r.table_name, r.before_v, r.after_v)
        for r in QUERIES["src_debezium_parse"](spark, SF_DIR).collect()
    }
    assert got == want and got

    bad = out.filter(~F.col("parse_ok")).collect()
    assert len(bad) == 1 and bad[0].offset == 10**9
    assert bad[0].cdc_seq is None  # malformed -> NULL fields, not dropped
