"""§2.6 — stateful / streaming-only semantics, batch-checkable forms.

Each operator here has a streaming twin in cdc_sync_poc_spark/streaming/
(watermarks, dropDuplicatesWithinWatermark, processing-time triggers);
the batch forms below define the exact semantics against the DuckDB
oracle so the streaming implementations have a ground truth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdc_sync_poc_spark.cdc.envelope import CDC_CTE, _with_walk, cdc_view
from cdc_sync_poc_spark.functions.loopguard import stage1_invalid, with_loop_blocked
from cdc_sync_poc_spark.registry import register


@register(
    "st01_loop_dedup",
    oracle=_with_walk(
        "SELECT cdc_seq, pk, change_hash, loop_blocked FROM walk"
    ),
)
def st01_loop_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash dedup over a sliding 5-min window with sequential semantics
    (FN_IS_LOOP, poc/asis-oracle/init/04_create_procedures.sql:31-44;
    rationale docs/02-설계/02_무한루프_방지.md:105-194): blocked events do
    not refresh the window. applyInPandas keyed by change_hash — the
    batch twin of streaming/dedup.stateful_dedup."""
    walk = with_loop_blocked(cdc_view(spark, sf_dir))
    return walk.select("cdc_seq", "pk", "change_hash", "loop_blocked")


@register(
    "st02_state_upsert",
    oracle=f"""
WITH {CDC_CTE}
SELECT change_hash, max(ts) AS processed_at, count(*)::BIGINT AS n_processed
FROM cdc GROUP BY change_hash
""",
)
def st02_state_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-registry write (SP_RECORD_HASH MERGE,
    poc/tobe-oracle/init/04_create_procedures.sql:47-64): every processed
    event upserts (hash -> latest PROCESSED_AT). MERGE collapses to a
    groupBy(hash).max(ts) — the state store put of transformWithState."""
    cdc = cdc_view(spark, sf_dir)
    return cdc.groupBy("change_hash").agg(
        F.max("ts").alias("processed_at"), F.count("*").alias("n_processed")
    )


@register(
    "st03_state_ttl",
    oracle=f"""
WITH {CDC_CTE},
reg AS (SELECT change_hash, max(ts) AS processed_at FROM cdc GROUP BY change_hash)
SELECT change_hash, processed_at FROM reg
WHERE epoch_us(processed_at) >= (SELECT max(epoch_us(ts)) FROM cdc) - 600000000
""",
)
def st03_state_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State TTL eviction (SP_CLEANUP_HASH: drop hashes older than 10
    minutes, poc/asis-oracle/init/04_create_procedures.sql:67-73). In
    streaming this is watermark-driven state eviction — automatic; the
    batch form keeps rows within TTL of the stream's max event time."""
    cdc = cdc_view(spark, sf_dir)
    reg = cdc.groupBy("change_hash").agg(F.max("ts").alias("processed_at"))
    max_us = cdc.agg(F.max(F.unix_micros("ts")).alias("max_us"))
    return (
        reg.crossJoin(F.broadcast(max_us))
        .filter(F.unix_micros("processed_at") >= F.col("max_us") - 600_000_000)
        .select("change_hash", "processed_at")
    )


@register(
    "st04_microbatch_trigger",
    oracle=f"""
WITH {CDC_CTE}
SELECT make_timestamp((epoch_us(ts) // 5000000) * 5000000) AS window_start,
       count(*)::BIGINT AS n_events,
       count(DISTINCT pk)::BIGINT AS n_keys
FROM cdc GROUP BY 1
""",
)
def st04_microbatch_trigger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed 5-second cadence (Oracle Scheduler FREQ=SECONDLY;INTERVAL=5,
    poc/tobe-oracle/init/04_create_procedures.sql:329-340) — in streaming
    ``trigger(processingTime='5 seconds')`` (streaming/pipeline). Batch
    form: 5-second tumbling event-time windows via F.window."""
    cdc = cdc_view(spark, sf_dir)
    return (
        cdc.groupBy(F.window("ts", "5 seconds").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("pk").alias("n_keys"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "n_keys")
    )


@register(
    "st05_late_and_order",
    oracle=f"""
WITH {CDC_CTE},
wm AS (
  SELECT cdc_seq, ts,
         max(epoch_us(ts)) OVER (ORDER BY cdc_seq
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm_us
  FROM cdc
)
SELECT cdc_seq, ts,
       coalesce(epoch_us(ts) < wm_us - 300000000, FALSE) AS is_late
FROM wm
""",
)
def st05_late_and_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data detection: watermark = running max event time over
    arrival order minus 5 min (the engine's principled replacement for
    the reference's wall-clock window, SURVEY §7.3c; event/processing
    time split per CdcKafkaConsumer.java:197-202).

    A running max is inherently sequential, but a global
    Window.orderBy funnels the whole stream through one task. Two-level
    chunked decomposition instead: rows -> 2^14-row chunks ->  2^14-chunk
    superchunks. The prefix max BEFORE each row is
    greatest(within-chunk windowed max, chunk-prefix max), where the
    chunk-prefix max combines a window PARTITIONED by superchunk with a
    broadcast triangular join over the (tiny) superchunk table — every
    window in the plan is partitioned, every per-row stage is map-side,
    and the sequential residue shrinks by 2^28 per level."""
    C1 = 1 << 14  # rows per chunk
    C2 = 1 << 14  # chunks per superchunk
    cdc = cdc_view(spark, sf_dir)
    base = cdc.select(
        "cdc_seq",
        "ts",
        F.unix_micros("ts").alias("us"),
        F.expr(f"cdc_seq div {C1}").alias("chunk"),
        F.expr(f"cdc_seq div {C1 * C2}").alias("sc"),
    )
    # per-chunk max (hash agg, map-side partial) and per-superchunk max
    cmax = base.groupBy("chunk", "sc").agg(F.max("us").alias("cmax"))
    scmax = cmax.groupBy("sc").agg(F.max("cmax").alias("scmax"))
    # prefix max over STRICTLY EARLIER superchunks: triangular broadcast
    # join on the superchunk table (rows = n / 2^28 — trivially small)
    sc_b = scmax.select(F.col("sc").alias("sc_b"), F.col("scmax").alias("scmax_b"))
    sc_prev = (
        scmax.join(F.broadcast(sc_b), F.col("sc_b") < F.col("sc"), "left")
        .groupBy("sc")
        .agg(F.max("scmax_b").alias("sc_prev_max"))
    )
    # prefix max over earlier chunks WITHIN the superchunk (partitioned
    # window over <=2^14 rows per partition), combined with the
    # superchunk prefix -> max over ALL earlier chunks
    w_chunk = (
        Window.partitionBy("sc").orderBy("chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunk_info = (
        cmax.join(F.broadcast(sc_prev), "sc")
        .select(
            "chunk",
            F.greatest(
                F.max("cmax").over(w_chunk), F.col("sc_prev_max")
            ).alias("chunk_prev_max"),
        )
    )
    # within-chunk running max (partitioned by chunk — bounded 2^14 rows
    # per task); greatest() skips NULLs, so first rows degrade correctly
    w_row = (
        Window.partitionBy("chunk").orderBy("cdc_seq")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wm_us = F.greatest(F.max("us").over(w_row), F.col("chunk_prev_max"))
    return (
        base.join(F.broadcast(chunk_info), "chunk")
        .select(
            "cdc_seq",
            "ts",
            F.coalesce(
                F.col("us") < wm_us - 300_000_000, F.lit(False)
            ).alias("is_late"),
        )
    )


@register(
    "st06_quarantine",
    oracle=f"""
WITH {CDC_CTE}
SELECT cdc_seq, pk,
       CASE WHEN prop_k > 95 OR val < 0.05 THEN 'QUARANTINED' ELSE 'OK' END AS route,
       CASE WHEN prop_k > 95 OR val < 0.05
            THEN substr(concat('VALIDATION: k=', CAST(prop_k AS VARCHAR),
                               ' val=', printf('%.2f', val)), 1, 500)
       END AS error_msg
FROM cdc
""",
)
def st06_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row error quarantine (PROCESSED_YN='E' + truncated ERROR_MSG,
    poc/tobe-oracle/init/04_create_procedures.sql:100-105,176-181).
    Spark cannot try/catch per row inside one write, so the engine
    validates-then-splits: OK rows continue, bad rows route to a
    dead-letter table with SUBSTR(msg,1,500) parity."""
    cdc = cdc_view(spark, sf_dir)
    invalid = stage1_invalid(cdc)
    msg = F.substring(
        F.concat(
            F.lit("VALIDATION: k="),
            F.col("prop_k").cast("string"),
            F.lit(" val="),
            F.format_string("%.2f", F.col("val")),
        ),
        1,
        500,
    )
    return cdc.select(
        "cdc_seq",
        "pk",
        F.when(invalid, "QUARANTINED").otherwise("OK").alias("route"),
        F.when(invalid, msg).alias("error_msg"),
    )


@register(
    "st07_backpressure_cfg",
    oracle=f"""
WITH {CDC_CTE}
SELECT cdc_seq // 100 AS poll_batch,
       count(*)::BIGINT AS n_records,
       min(cdc_seq) AS first_offset, max(cdc_seq) AS last_offset
FROM cdc GROUP BY 1
""",
)
def st07_backpressure_cfg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sizing: MAX_POLL_RECORDS=100 (KafkaConfig.java:51-88) — the
    streaming twin is maxOffsetsPerTrigger; batch form chunks the offset
    sequence into <=100-record polls and proves the cap."""
    cdc = cdc_view(spark, sf_dir)
    return (
        cdc.groupBy(F.expr("cdc_seq div 100").alias("poll_batch"))
        .agg(
            F.count("*").alias("n_records"),
            F.min("cdc_seq").alias("first_offset"),
            F.max("cdc_seq").alias("last_offset"),
        )
    )


@register(
    "st08_quarantine_replay",
    oracle=f"""
WITH {CDC_CTE},
q AS (
  SELECT cdc_seq, pk, val, prop_k FROM cdc
  WHERE prop_k > 95 OR val < 0.05
)
SELECT cdc_seq, pk,
       CASE WHEN prop_k > 95 THEN 'POISON' ELSE 'RECOVERED' END AS outcome,
       CASE WHEN prop_k > 95 THEN NULL
            ELSE round(greatest(val, 0.05), 2) END AS fixed_val
FROM q
""",
)
def st08_quarantine_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter REPLAY — the recovery half of st06's quarantine (the
    ops workflow the reference leaves manual: PROCESSED_YN='E' rows sit
    in the table until someone fixes and re-runs them). The replay job
    applies the remediation rule to each quarantined row: a clampable
    value defect (val below the 0.05 floor) is RECOVERED with the
    clamped value and re-enters the apply path; a poison defect
    (prop_k > 95, the unparseable-payload stand-in) stays POISON and
    is reported, never retried — the classification that keeps a
    dead-letter queue from looping forever.

    Scale: the quarantine table is defect-rate-sized (orders smaller
    than the stream); remediation is a pure map over it — no joins, no
    windows, replay-idempotent by construction (clamping is a fixed
    function of the row)."""
    cdc = cdc_view(spark, sf_dir)
    q = cdc.filter(stage1_invalid(cdc))
    poison = F.col("prop_k") > 95
    return q.select(
        "cdc_seq",
        "pk",
        F.when(poison, "POISON").otherwise("RECOVERED").alias("outcome"),
        F.when(~poison, F.round(F.greatest("val", F.lit(0.05)), 2)).alias(
            "fixed_val"
        ),
    )
