"""The shared delta-store layout (streaming/delta_store.py): every
store kind reads its watermark from a directory and its schemas from
its DDL, so building a read frame starts no Spark job; and a
last-wins store works on a string key."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from cdc_sync_poc_spark.streaming.delta_store import (
    AppendDeltaStore,
    KeyedDeltaStore,
    LastWinsDeltaStore,
)


def _jobs_started(spark, fn) -> int:
    """Spark jobs that ``fn()`` starts in this thread."""
    sc = spark.sparkContext
    group = f"delta_store_probe_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count the jobs a store read starts")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    # job-start events reach the status tracker through the listener
    # bus; drain it so a job cannot be counted late
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_store_reads_start_no_spark_job(spark, tmp_path):
    keyed = KeyedDeltaStore(
        spark, str(tmp_path / "keyed"), ["k"], "k string, n bigint"
    )
    append = AppendDeltaStore(
        spark,
        str(tmp_path / "append"),
        "k string, n bigint, c bigint, batch_id long",
        partition_by=["c"],
    )
    last = LastWinsDeltaStore(
        spark, str(tmp_path / "last"), "k", "k string, n bigint"
    )
    rows = spark.createDataFrame(
        [("a", 1, 0), ("b", 2, 1)], "k string, n bigint, c bigint"
    )
    last.reset(rows.drop("c"))
    for bid in range(3):
        keyed.write_delta(rows, bid)
        append.write_delta(rows, bid)
        last.write_delta(
            rows.drop("c").withColumn("deleted", F.lit(False)), bid
        )
    for store in (keyed, append, last):
        store.compact(1)  # a compacted base plus one live delta
        assert store.watermark() == 1
        assert store.newer_deltas(1) == [2]

    reads = {
        "keyed": keyed.totals,
        "append": append.rows,
        "last_wins": last.live,
    }
    for name, read in reads.items():
        assert _jobs_started(spark, read) == 0, name
    for store in (keyed, append, last):
        assert _jobs_started(spark, store.watermark) == 0

    assert sorted(tuple(r) for r in keyed.totals().collect()) == [
        ("a", 3), ("b", 6)
    ]
    assert append.rows().count() == 6
    assert sorted(
        (r.k, r.n) for r in last.live().collect()
    ) == [("a", 1), ("b", 2)]


def test_last_wins_store_on_a_string_key(spark, tmp_path):
    """Buckets hash the key as typed (a cast to long would raise on
    'abc' under ANSI mode), so a string-keyed store resets, takes
    deltas, compacts at batch start and reads back the newest row per
    key."""
    store = LastWinsDeltaStore(
        spark, str(tmp_path / "s"), "k", "k string, v long", n_buckets=4
    )
    store.reset(
        spark.createDataFrame([("abc", 1), ("xyz", 2)], "k string, v long")
    )
    store.write_delta(
        spark.createDataFrame(
            [("abc", 10, False), ("xyz", None, True), ("new", 3, False)],
            "k string, v long, deleted boolean",
        ),
        0,
    )
    keys = spark.createDataFrame([("abc",), ("zzz",)], "k string")
    snap = store.begin_batch(keys, 1, compact_at=1)  # folds batch 0
    assert store.watermark() == 0
    assert [(r.k, r.v, r.deleted) for r in snap.collect()] == [
        ("abc", 10, False)
    ]
    store.write_delta(
        spark.createDataFrame(
            [("zzz", 5, False)], "k string, v long, deleted boolean"
        ),
        1,
    )
    assert sorted((r.k, r.v) for r in store.live().collect()) == [
        ("abc", 10), ("new", 3), ("zzz", 5)
    ]
