"""Streaming loop-guard (``run_stream_pipeline(dedup="stateful")``, the
MERGE writer's guard store): the reference's sequential dedup semantics
with blocked rows audited LOOP_BLOCKED and per-hash state carried
across micro-batches (batch twin: functions/loopguard.with_loop_blocked).
The first test also checks ``streaming/dedup.stateful_dedup`` while the
benchmark's traced stream composition still uses it."""

from __future__ import annotations

import pandas as pd


def _guarded_run(spark, in_dir, out_dir):
    """Run the shipped stateful-dedup stream over ``in_dir``; return the
    audit's LOOP_BLOCKED cdc_seqs and its other statuses by cdc_seq."""
    from pyspark.sql import functions as F

    from cdc_sync_poc_spark.streaming.writer import run_stream_pipeline

    base = spark.range(1, 4).select(
        F.col("id").alias("c_custkey"),
        F.concat(F.lit("n"), F.col("id")).alias("c_name"),
        F.col("id").cast("double").alias("c_acctbal"),
    )
    q, _writer = run_stream_pipeline(
        spark, str(in_dir), base, str(out_dir), dedup="stateful"
    )
    q.awaitTermination(120)
    assert q.exception() is None
    audit = spark.read.parquet(str(out_dir / "audit")).collect()
    blocked = {r.cdc_seq for r in audit if r.status == "LOOP_BLOCKED"}
    return blocked, {r.cdc_seq for r in audit} - blocked


def test_stateful_dedup_matches_batch_walk_and_oracle_across_files(spark, tmp_path):
    """Three files -> three micro-batches through the shipped stream
    guard. The events its audit marks LOOP_BLOCKED are the ones the
    batch with_loop_blocked over the same rows, the DuckDB WALK_CTES
    oracle and stateful_dedup block:

    * hash A (user 1): gaps 3/6/20 min, a 4-chain across all three
      files — the blocked +3 min event does not refresh the window, so
      +6 min is applied;
    * hash B (user 2): an invalid first event (k=99) never records the
      hash, so its valid repeat 3 min later, in the next file, is
      applied; +3 min after that is blocked;
    * hash C (user 3): a gap of exactly 5 min is NOT blocked (strictly
      within), 4:59 after that is."""
    import os

    import duckdb

    from cdc_sync_poc_spark.cdc.envelope import CDC_CTE
    from cdc_sync_poc_spark.functions.loopguard import WALK_CTES, with_loop_blocked
    from cdc_sync_poc_spark.streaming.dedup import stateful_dedup
    from cdc_sync_poc_spark.streaming.source import (
        EVENT_SCHEMA,
        file_event_stream,
        stream_cdc_view,
    )

    def events(rows):
        ids, ts, users, values, ks = zip(*rows)
        return pd.DataFrame(
            {
                "event_id": list(ids),
                "ts": pd.to_datetime(["2024-01-01 " + t for t in ts]).astype(
                    "datetime64[us]"
                ),
                "user_id": list(users),
                "event_type": ["click"] * len(ids),
                "value": list(values),
                "props": [f'{{"k": {k}}}' for k in ks],
            }
        )

    files = [
        [(0, "00:00:00", 1, 10.0, 1), (10, "01:00:00", 2, 20.0, 99),
         (20, "02:00:00", 3, 30.0, 1)],
        [(1, "00:03:00", 1, 10.0, 1), (2, "00:06:00", 1, 10.0, 1),
         (11, "01:03:00", 2, 20.0, 1), (21, "02:05:00", 3, 30.0, 1)],
        [(3, "00:26:00", 1, 10.0, 1), (4, "00:26:30", 1, 42.0, 1),
         (12, "01:06:00", 2, 20.0, 1), (22, "02:09:59", 3, 30.0, 1)],
    ]
    in_dir = tmp_path / "chain_in"
    in_dir.mkdir()
    for i, rows in enumerate(files):
        path = in_dir / f"part-{i}.parquet"
        events(rows).to_parquet(path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))  # file order

    got = []
    q = (
        stateful_dedup(stream_cdc_view(file_event_stream(spark, str(in_dir))))
        .writeStream.foreachBatch(lambda df, _b: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream = {r.cdc_seq: r.loop_blocked for r in got}

    batch_cdc = stream_cdc_view(spark.read.schema(EVENT_SCHEMA).parquet(str(in_dir)))
    batch = {r.cdc_seq: r.loop_blocked for r in with_loop_blocked(batch_cdc).collect()}

    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{in_dir}/*.parquet'")
    oracle = dict(
        con.sql(
            f"WITH RECURSIVE {CDC_CTE}, {WALK_CTES} SELECT cdc_seq, loop_blocked FROM walk"
        ).fetchall()
    )
    con.close()

    assert stream == {
        0: False, 1: True, 2: False, 3: False, 4: False,
        10: False, 11: False, 12: True,
        20: False, 21: False, 22: True,
    }
    assert stream == batch == oracle

    blocked, applied = _guarded_run(spark, in_dir, tmp_path / "guarded")
    assert blocked == {seq for seq, b in oracle.items() if b} == {1, 12, 22}
    # the other audit rows are each key's deciding event per batch
    assert applied <= {seq for seq, b in oracle.items() if not b}


def test_stateful_dedup_carries_state_across_microbatches(spark, tmp_path):
    """The guard store carries each hash's last applied time between
    micro-batches: an event in micro-batch 2 within 5 min of an applied
    event from micro-batch 1 is audited LOOP_BLOCKED, and one 13 min
    later is applied."""

    def batch(ids, ts_list):
        return pd.DataFrame(
            {
                "event_id": ids,
                "ts": pd.to_datetime(ts_list).astype("datetime64[us]"),
                "user_id": [1] * len(ids),
                "event_type": ["click"] * len(ids),
                "value": [10.0] * len(ids),
                "props": ['{"k": 1}'] * len(ids),
            }
        )

    import os

    in_dir = tmp_path / "st_in"
    in_dir.mkdir()
    # batch 1 (file a): applied at t0
    batch([0], ["2024-01-01 00:00:00"]).to_parquet(in_dir / "a.parquet")
    # batch 2 (file b): +3 min -> blocked by batch-1 state; +13 min -> applied
    batch([1, 2], ["2024-01-01 00:03:00", "2024-01-01 00:13:00"]).to_parquet(
        in_dir / "b.parquet"
    )
    for i, name in enumerate("ab"):  # file order
        os.utime(in_dir / f"{name}.parquet", (1_700_000_000 + i,) * 2)
    blocked, applied = _guarded_run(spark, in_dir, tmp_path / "out")
    assert (blocked, applied) == ({1}, {0, 2})
