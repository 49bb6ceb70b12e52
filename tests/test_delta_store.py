"""The shared delta-store layout (streaming/delta_store.py): every
store kind reads its watermark from a directory and its schemas from
its DDL, so building a read frame starts no Spark job; a last-wins
store works on a string key; and the guarded MERGE writer keeps its
per-micro-batch job budget."""

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
    buckets = {r[0] for r in keys.select(store.bucket()).collect()}
    snap = store.begin_batch(buckets, 1, compact_at=1)  # folds batch 0
    assert store.watermark() == 0
    assert [
        (r.k, r.v, r.deleted) for r in snap.join(keys, "k", "left_semi").collect()
    ] == [("abc", 10, False)]
    store.write_delta(
        spark.createDataFrame(
            [("zzz", 5, False)], "k string, v long, deleted boolean"
        ),
        1,
    )
    assert sorted((r.k, r.v) for r in store.live().collect()) == [
        ("abc", 10), ("new", 3), ("zzz", 5)
    ]


def test_snapshot_lookups_start_at_most_their_collect(spark, tmp_path):
    """Per-batch snapshot stores find their predecessor by listing the
    ``batch_id=`` directories and read it with its DDL: building
    pagerank's tails frames starts no Spark job, and a carry lookup
    starts at most its one langs- or shards-sized collect."""
    import datetime as dtm

    from cdc_sync_poc_spark.streaming.packing import StreamingPacker
    from cdc_sync_poc_spark.streaming.pagerank import StreamingPageRank
    from cdc_sync_poc_spark.streaming.train_order import (
        StreamingOrderAssigner,
    )

    packer = StreamingPacker(spark, str(tmp_path / "pack"))
    assigner = StreamingOrderAssigner(spark, str(tmp_path / "order"))
    pr = StreamingPageRank(spark, str(tmp_path / "pr"))
    t0 = dtm.datetime(2024, 1, 1)
    tails = (
        "user_id long, ts timestamp, event_id long, event_type string, "
        "last_batch long"
    )
    for bid, n, event_type in ((0, 3, "a"), (2, 5, "b")):
        for path, ddl, row in (
            (packer.carry_dir, "lang string, total long", ("en", n)),
            (assigner.carry_dir, "shard bigint, total bigint", (0, n)),
            (pr.tails_dir, tails, (1, t0, n, event_type, bid)),
        ):
            spark.createDataFrame([row], ddl).write.parquet(
                f"{path}/batch_id={bid}"
            )

    frames = {}
    assert _jobs_started(spark, lambda: frames.update(prev=pr._tails_before(2))) == 0
    assert _jobs_started(spark, lambda: frames.update(new=pr._newest_tails())) == 0
    assert [(r.event_type, r.last_batch) for r in frames["prev"].collect()] == [
        ("a", 0)
    ]
    assert [r.event_type for r in frames["new"].collect()] == ["b"]

    carries = {}
    for name, lookup in (
        ("pack", packer._carry_before),
        ("order", assigner._carry_before),
    ):
        for before in (0, 1, 3):
            assert _jobs_started(
                spark, lambda: carries.update({(name, before): lookup(before)})
            ) <= 1, (name, before)
    assert carries == {
        ("pack", 0): {}, ("pack", 1): {"en": 3}, ("pack", 3): {"en": 5},
        ("order", 0): {}, ("order", 1): {0: 3}, ("order", 3): {0: 5},
    }


def test_guarded_merge_batch_runs_at_most_six_jobs(spark, tmp_path):
    """A warm micro-batch of the MERGE writer behind the stream loop
    guard runs at most 6 Spark jobs: the bucket collect and the guard
    delta, MERGE delta and audit writes, plus filling the two caches
    (the batch and the decided keys). The guard's init starts none: a
    guarded writer's init_state starts as many jobs as a plain one's."""
    import datetime as dtm

    from cdc_sync_poc_spark.streaming.writer import ParquetMergeWriter

    base = spark.range(0, 50).select(
        F.col("id").alias("c_custkey"),
        F.concat(F.lit("n"), F.col("id")).alias("c_name"),
        F.col("id").cast("double").alias("c_acctbal"),
    )
    plain = ParquetMergeWriter(
        spark, str(tmp_path / "p" / "state"), str(tmp_path / "p" / "audit"),
        n_buckets=4,
    )
    out = tmp_path / "g"
    guarded = ParquetMergeWriter(
        spark, str(out / "state"), str(out / "audit"), n_buckets=4,
        guard_dir=str(out / "guard"),
    )
    assert _jobs_started(spark, lambda: guarded.init_state(base)) == (
        _jobs_started(spark, lambda: plain.init_state(base))
    )

    t0 = dtm.datetime(2024, 1, 1)

    def batch(first, minute):
        # every pk echoes its hash a minute later, so the guard blocks
        return spark.createDataFrame(
            [
                (first + 2 * i + j, i, "UPDATE", float(i), f"h{i}",
                 t0 + dtm.timedelta(minutes=minute + j))
                for i in range(40) for j in range(2)
            ],
            "cdc_seq long, pk long, operation string, val double, "
            "change_hash string, ts timestamp",
        )

    guarded.apply_batch(batch(0, 0), 0)
    assert _jobs_started(spark, lambda: guarded.apply_batch(batch(80, 10), 1)) <= 6
    audit = spark.read.parquet(str(out / "audit" / "batch_id=1")).collect()
    assert sorted(r.status for r in audit) == ["LOOP_BLOCKED"] * 40 + ["SUCCESS"] * 40
