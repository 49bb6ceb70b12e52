"""Change-event envelope: the CDC view over the ``events`` fixture, plus
the source/sink operators of SURVEY.md §2.1.

Role mapping (FIXTURES.md §6): ``events`` plays the Debezium change
stream. The deterministic derivation used by every CDC query (and
mirrored 1:1 in the DuckDB oracle CTE ``CDC_CTE``):

* ``cdc_seq``  = event_id          (arrival order / Kafka offset;
  CDC_SEQ identity, poc/tobe-oracle/init/02_create_cdc_tables.sql:29)
* ``pk``       = user_id * 11      (spreads keys so UPDATE/DELETE hit
  both existing and missing rows of the ``customer`` base table)
* ``op``       = Debezium op char from event_type
  (signup->c, view->r, click/purchase->u, error->d; CdcEvent.java:175-185)
* ``operation``= decoded op (c/r->INSERT, u->UPDATE, d->DELETE)
* ``ts_ms``    = source timestamp millis (Debezium ts_ms)
* ``val``      = payload numeric; ``prop_k`` = parsed JSON field k
* ``change_hash`` = canonical sha256 (functions/hashing.py)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_sync_poc_spark.functions.hashing import change_hash
from cdc_sync_poc_spark.registry import register
from cdc_sync_poc_spark.sources.loader import load_table

# ---------------------------------------------------------------------------
# Shared oracle fragments (DuckDB). Every CDC oracle starts from CDC_CTE.
# ---------------------------------------------------------------------------

_OPERATION_SQL = """CASE event_type WHEN 'signup' THEN 'INSERT' WHEN 'view' THEN 'INSERT'
             WHEN 'click' THEN 'UPDATE' WHEN 'purchase' THEN 'UPDATE'
             ELSE 'DELETE' END"""

CDC_CTE = f"""
cdc AS (
  SELECT
    event_id AS cdc_seq,
    user_id * 11 AS pk,
    CASE event_type WHEN 'signup' THEN 'c' WHEN 'view' THEN 'r'
         WHEN 'click' THEN 'u' WHEN 'purchase' THEN 'u' ELSE 'd' END AS op,
    {_OPERATION_SQL} AS operation,
    ts,
    epoch_us(ts) // 1000 AS ts_ms,
    value AS val,
    CAST(json_extract(props, '$.k') AS INTEGER) AS prop_k,
    sha256(concat_ws('|', 'customer', CAST(user_id * 11 AS VARCHAR),
                     {_OPERATION_SQL}, printf('%.2f', value))) AS change_hash
  FROM events
)
"""

# classification precedence mirrors the reference worker: loop check first
# (04_create_procedures.sql:154), then transform validation (st06), then
# apply target-existence (ap03). Requires `walk` (loopguard.WALK_CTES).
CLASSIFIED_CTE = """
base_keys AS (SELECT DISTINCT c_custkey FROM customer),
classified AS (
  SELECT w.cdc_seq, w.pk, w.op, w.operation, w.ts, w.ts_ms, w.val, w.prop_k,
         w.change_hash, w.loop_blocked,
         CASE
           WHEN w.loop_blocked THEN 'LOOP_BLOCKED'
           WHEN w.prop_k > 95 OR w.val < 0.05 THEN 'FAILED'
           WHEN w.operation IN ('UPDATE', 'DELETE') AND b.c_custkey IS NULL
             THEN 'TARGET_NOT_FOUND'
           ELSE 'SUCCESS'
         END AS status
  FROM walk w LEFT JOIN base_keys b ON w.pk = b.c_custkey
)
"""


def cdc_from_events(events: DataFrame) -> DataFrame:
    """The Spark twin of CDC_CTE over an ``events``-shaped frame. Every
    expression is an ordinary Column, so the one derivation serves the
    batch fixture (``cdc_view``) and an unbounded event stream
    (``streaming.source.stream_cdc_view``) alike."""
    et = F.col("event_type")
    op = (
        F.when(et == "signup", "c")
        .when(et == "view", "r")
        .when(et.isin("click", "purchase"), "u")
        .otherwise("d")
    )
    operation = (
        F.when(et.isin("signup", "view"), "INSERT")
        .when(et.isin("click", "purchase"), "UPDATE")
        .otherwise("DELETE")
    )
    pk = F.col("user_id") * 11
    return events.select(
        F.col("event_id").alias("cdc_seq"),
        pk.alias("pk"),
        op.alias("op"),
        operation.alias("operation"),
        F.col("ts"),
        F.expr("unix_micros(ts) div 1000").alias("ts_ms"),
        F.col("value").alias("val"),
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
        change_hash(
            "customer", pk, operation, F.format_string("%.2f", F.col("value"))
        ).alias("change_hash"),
    )


def cdc_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC_CTE over the sf fixture's ``events`` table."""
    from cdc_sync_poc_spark.sources.loader import spread_small_input

    return cdc_from_events(spread_small_input(load_table(spark, sf_dir, "events")))


def classified_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of CLASSIFIED_CTE (loop-walk + validation + existence)."""
    from cdc_sync_poc_spark.functions.loopguard import stage1_invalid, with_loop_blocked

    walk = with_loop_blocked(cdc_view(spark, sf_dir))
    base_keys = (
        load_table(spark, sf_dir, "customer").select("c_custkey").distinct()
    )
    # `base_keys` is the target table's pk set — the 100 TB side. No
    # broadcast hint: shuffle on pk (AQE may broadcast `walk`, the bounded
    # changes side, at runtime if it is small enough).
    joined = walk.join(base_keys, walk.pk == base_keys.c_custkey, "left")
    status = (
        F.when(F.col("loop_blocked"), "LOOP_BLOCKED")
        .when(stage1_invalid(joined), "FAILED")
        .when(
            F.col("operation").isin("UPDATE", "DELETE")
            & F.col("c_custkey").isNull(),
            "TARGET_NOT_FOUND",
        )
        .otherwise("SUCCESS")
    )
    return joined.select(
        "cdc_seq", "pk", "op", "operation", "ts", "ts_ms", "val", "prop_k",
        "change_hash", "loop_blocked", status.alias("status"),
    )


def _with_walk(select_sql: str) -> str:
    """Compose WITH RECURSIVE cdc + walk + classified oracle."""
    from cdc_sync_poc_spark.functions.loopguard import WALK_CTES

    return (
        "WITH RECURSIVE "
        + CDC_CTE
        + ", "
        + WALK_CTES
        + ", "
        + CLASSIFIED_CTE
        + select_sql
    )


# ---------------------------------------------------------------------------
# §2.1 sources / sinks (batch forms; streaming twins in streaming/)
# ---------------------------------------------------------------------------


@register(
    "src_kafka_cdc",
    oracle=f"""
WITH {CDC_CTE}
SELECT concat('asis.ASIS_USER.', upper(c.op)) AS kafka_topic,
       c.pk % 3 AS kafka_partition,
       c.cdc_seq AS kafka_offset,
       CAST(c.pk AS VARCHAR) AS kafka_key,
       to_json(struct_pack(op := c.op, pk := c.pk,
                           val_cents := CAST(round(c.val * 100) AS BIGINT))) AS payload
FROM cdc c
""",
)
def src_kafka_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka CDC source, batch form (CdcKafkaConsumer.java:60-107).

    Streaming twin: ``spark.readStream.format("kafka")`` with topic
    routing on the `topic` column — see streaming/source.py. Here the
    events fixture is rendered into kafka-record shape (topic,
    partition, offset, key, value) with 3 partitions matching the
    reference's 3 consumer threads (KafkaConfig.java:83).
    """
    cdc = cdc_view(spark, sf_dir)
    return cdc.select(
        F.concat(F.lit("asis.ASIS_USER."), F.upper("op")).alias("kafka_topic"),
        (F.col("pk") % 3).alias("kafka_partition"),
        F.col("cdc_seq").alias("kafka_offset"),
        F.col("pk").cast("string").alias("kafka_key"),
        F.to_json(
            F.struct(
                F.col("op"),
                F.col("pk"),
                F.round(F.col("val") * 100).cast("long").alias("val_cents"),
            )
        ).alias("payload"),
    )


_ENVELOPE_INNER = T.StructType(
    [
        T.StructField("op", T.StringType()),
        T.StructField("before", T.StructType([T.StructField("v", T.DoubleType())])),
        T.StructField("after", T.StructType([T.StructField("v", T.DoubleType())])),
        T.StructField(
            "source",
            T.StructType(
                [T.StructField("table", T.StringType()), T.StructField("seq", T.LongType())]
            ),
        ),
        T.StructField("ts_ms", T.LongType()),
    ]
)
_ENVELOPE_WRAPPED = T.StructType([T.StructField("payload", _ENVELOPE_INNER)])


def _envelope_raw(cdc: DataFrame) -> DataFrame:
    """(orig_seq, json): real Debezium-style envelope JSON — ``payload``
    wrapper for even seqs, bare for odd (CdcKafkaConsumer.java:172-174);
    ``before``/``after`` present per op, and ``to_json`` drops the null
    one, so the wire key set genuinely varies per record."""
    before = F.when(
        F.col("op") == "d", F.struct((F.col("val") - 1.0).alias("v"))
    )
    after = F.when(F.col("op") != "d", F.struct(F.col("val").alias("v")))
    inner = F.struct(
        F.col("op"),
        before.alias("before"),
        after.alias("after"),
        F.struct(F.lit("customer").alias("table"), F.col("cdc_seq").alias("seq")).alias(
            "source"
        ),
        F.col("ts_ms"),
    )
    return cdc.select(
        F.col("cdc_seq").alias("orig_seq"),
        F.when(F.col("cdc_seq") % 2 == 0, F.to_json(F.struct(inner.alias("payload"))))
        .otherwise(F.to_json(inner))
        .alias("json"),
    )


@register(
    "src_debezium_parse",
    oracle=f"""
WITH {CDC_CTE}
SELECT cdc_seq, op, ts_ms, 'customer' AS table_name,
       CASE WHEN op = 'd' THEN val - 1.0 END AS before_v,
       CASE WHEN op <> 'd' THEN val END AS after_v
FROM cdc
""",
)
def src_debezium_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debezium envelope parse (CdcKafkaConsumer.java:161-217).

    Builds real JSON envelopes — with the ``payload`` wrapper for even
    seqs, bare for odd seqs, exercising the reference's tolerance of
    both (CdcKafkaConsumer.java:172-174) — then parses them back with
    ``from_json`` + ``coalesce``, all JVM-side. The oracle states the
    expected round-trip result directly.
    """
    raw = _envelope_raw(cdc_view(spark, sf_dir))
    wrapped = F.from_json(F.col("json"), _ENVELOPE_WRAPPED)
    bare = F.from_json(F.col("json"), _ENVELOPE_INNER)
    env = F.coalesce(wrapped.getField("payload"), bare)
    parsed = raw.select(env.alias("e"))
    return parsed.select(
        F.col("e.source.seq").alias("cdc_seq"),
        F.col("e.op").alias("op"),
        F.col("e.ts_ms").alias("ts_ms"),
        F.col("e.source.table").alias("table_name"),
        F.col("e.before.v").alias("before_v"),
        F.col("e.after.v").alias("after_v"),
    )


@register(
    "src_jdbc_snapshot",
    oracle="""
SELECT c_custkey AS pk, 'r' AS op, 'INSERT' AS operation,
       c_name AS name, c_acctbal AS acctbal
FROM customer
""",
)
def src_jdbc_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Initial snapshot: existing rows emitted as op='r' -> INSERT
    (snapshot.mode=initial, register-connectors.sh:104; r->INSERT at
    CdcEvent.java:182). Batch ``spark.read`` unioned ahead of the stream.
    """
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        F.col("c_custkey").alias("pk"),
        F.lit("r").alias("op"),
        F.lit("INSERT").alias("operation"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
    )


@register(
    "src_jdbc_lookup",
    oracle="SELECT * FROM orders ORDER BY o_orderkey LIMIT 20",
)
def src_jdbc_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-20 page browse (SimulatorController.java:92-96): ORDER BY +
    FETCH FIRST 20 — Spark plans this as TakeOrderedAndProject (no full
    sort; per-partition top-K then merge, which is the scalable plan)."""
    return load_table(spark, sf_dir, "orders").orderBy("o_orderkey").limit(20)


@register(
    "sink_cdc_append",
    oracle=f"""
WITH {CDC_CTE}
SELECT cdc_seq, operation, pk, val, prop_k, ts AS source_timestamp,
       'N' AS processed_yn, change_hash
FROM cdc
""",
)
def sink_cdc_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-column landing append (CdcSyncService.java:107-191): meta
    columns (OPERATION, SOURCE_TIMESTAMP, CHANGE_HASH, PROCESSED_YN='N')
    + payload columns. RECEIVED_AT (SYSTIMESTAMP default) is
    intentionally omitted — nondeterministic. The write itself is an
    append-only parquet/Delta bronze write in foreachBatch; this query
    is the row-shape contract.
    """
    cdc = cdc_view(spark, sf_dir)
    return cdc.select(
        "cdc_seq",
        "operation",
        "pk",
        "val",
        "prop_k",
        F.col("ts").alias("source_timestamp"),
        F.lit("N").alias("processed_yn"),
        "change_hash",
    )


@register(
    "sink_target_apply",
    oracle=f"""
WITH {CDC_CTE},
last AS (
  SELECT * FROM (
    SELECT cdc_seq, pk, operation, val,
           row_number() OVER (PARTITION BY pk ORDER BY cdc_seq DESC) AS rn
    FROM cdc) WHERE rn = 1
)
SELECT coalesce(b.c_custkey, l.pk) AS pk,
       CASE WHEN l.pk IS NULL THEN b.c_name ELSE concat('U', CAST(l.pk AS VARCHAR)) END AS name,
       CASE WHEN l.pk IS NULL THEN b.c_acctbal ELSE l.val END AS acctbal,
       CASE WHEN l.pk IS NULL THEN 'BASE' ELSE 'APPLIED' END AS src
FROM customer b FULL OUTER JOIN last l ON b.c_custkey = l.pk
WHERE NOT (l.operation = 'DELETE' AND l.pk IS NOT NULL)
  AND NOT (b.c_custkey IS NULL AND l.operation = 'UPDATE')
""",
)
def sink_target_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Base-table apply sink (SP_WORKER stage 2,
    poc/tobe-oracle/init/04_create_procedures.sql:184-232), batch
    final-state form — identical semantics to the foreachBatch Delta
    MERGE (operators/apply.py::ap01 documents the MERGE mapping)."""
    from cdc_sync_poc_spark.operators.apply import apply_final_state

    return apply_final_state(spark, sf_dir)


@register(
    "sink_audit_log",
    oracle=_with_walk(
        """
SELECT cdc_seq, 'ASIS_TO_TOBE' AS direction, 'customer' AS table_name,
       operation, pk, status, change_hash
FROM classified
"""
    ),
)
def sink_audit_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit log sink (CDC_SYNC_LOG appends: SUCCESS / LOOP_BLOCKED /
    TARGET_NOT_FOUND / FAILED per event,
    poc/tobe-oracle/init/04_create_procedures.sql:156-157,212-218,228-229)."""
    cls = classified_view(spark, sf_dir)
    return cls.select(
        "cdc_seq",
        F.lit("ASIS_TO_TOBE").alias("direction"),
        F.lit("customer").alias("table_name"),
        "operation",
        "pk",
        "status",
        "change_hash",
    )


@register(
    "src_point_lookup",
    oracle="SELECT * FROM customer WHERE c_custkey = 42",
)
def src_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-row point lookup by PK (SELECT * FROM t WHERE pk = ?,
    SimulatorController.java:433,521). In Spark the equality predicate
    pushes to the parquet scan; on a lake laid out with min/max column
    stats (or Delta/Iceberg data skipping) this reads only the files
    whose range contains the key."""
    return load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") == 42)


@register(
    "src_schema_drift",
    oracle=f"""
WITH {CDC_CTE},
fp AS (
  SELECT cdc_seq % 2 = 0 AS wrapped,
         CASE WHEN op = 'd' THEN 'before,op,source,ts_ms'
              ELSE 'after,op,source,ts_ms' END AS schema_fp
  FROM cdc
),
c AS (
  SELECT wrapped, schema_fp, count(*)::BIGINT AS n FROM fp GROUP BY 1, 2
)
SELECT wrapped, schema_fp, n,
       round(CAST(n AS DOUBLE) / sum(n) OVER (), 6) AS frac,
       CASE WHEN row_number() OVER (ORDER BY n DESC, schema_fp, wrapped) = 1
            THEN 'CANONICAL' ELSE 'DRIFTED' END AS status
FROM c
""",
)
def src_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift detection on the CDC wire format: fingerprint every
    envelope by its actual top-level JSON key set (``json_object_keys``
    on the unwrapped payload — computed from the bytes on the wire, NOT
    from the op column) and count records per (wrapper-style, key-set)
    shape. The most common shape is CANONICAL; everything else is
    DRIFTED — the alarm a CDC pipeline fires when a producer deploy
    adds/renames envelope fields mid-stream, BEFORE from_json starts
    silently nulling columns. The oracle states the expected
    fingerprints directly (the src_debezium_parse convention: Spark
    computes the round-trip, the oracle pins the answer).

    Scale: map-side key extraction + a |shapes|-sized hash agg — the
    analytic windows run on the tiny shape table, never on events."""
    raw = _envelope_raw(cdc_view(spark, sf_dir))
    inner = F.coalesce(
        F.get_json_object(F.col("json"), "$.payload"), F.col("json")
    )
    fp = raw.select(
        (F.col("orig_seq") % 2 == 0).alias("wrapped"),
        F.concat_ws(
            ",", F.array_sort(F.json_object_keys(inner))
        ).alias("schema_fp"),
    )
    c = fp.groupBy("wrapped", "schema_fp").agg(F.count("*").alias("n"))
    from pyspark.sql import Window

    w_all = Window.partitionBy()
    w_rank = Window.orderBy(F.desc("n"), F.asc("schema_fp"), F.asc("wrapped"))
    return c.select(
        "wrapped",
        "schema_fp",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(w_all), 6).alias("frac"),
        F.when(F.row_number().over(w_rank) == 1, "CANONICAL")
        .otherwise("DRIFTED")
        .alias("status"),
    )
