"""§2.7 — apply / upsert semantics (the write side of the engine).

The reference applies changes row-at-a-time in PL/SQL with per-row
commits (poc/tobe-oracle/init/04_create_procedures.sql:184-232). Here the
same semantics are one set-based plan: last-change-per-key window, then a
single full-outer join against the base table. In production the write
is a Delta ``MERGE INTO`` inside ``foreachBatch``:

    MERGE INTO base USING changes ON base.pk = changes.pk
      WHEN MATCHED AND op = 'DELETE' THEN DELETE
      WHEN MATCHED THEN UPDATE SET *              -- covers ap02 (dup INSERT)
      WHEN NOT MATCHED AND op = 'INSERT' THEN INSERT *
    -- UPDATE/DELETE on missing key: no-op + audit (ap03/ap04)

The batch final-state form below is the oracle-checkable ground truth for
that MERGE (SURVEY.md §7.3e). Scale: the join shuffles on pk (the MERGE
key); with the base table bucketed/partitioned by pk this is a co-located
join, and AQE handles skewed keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdc_sync_poc_spark.cdc.envelope import CDC_CTE, cdc_view
from cdc_sync_poc_spark.registry import register
from cdc_sync_poc_spark.sources.loader import load_table

_LAST_CTE = """
last AS (
  SELECT * FROM (
    SELECT cdc_seq, pk, operation, val,
           row_number() OVER (PARTITION BY pk ORDER BY cdc_seq DESC) AS rn
    FROM cdc) WHERE rn = 1
)
"""


def last_change_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key last change (s01 last-wins; ORDER BY CDC_SEQ apply order
    collapsed to final state — SURVEY.md §7.3b documents the deviation:
    intermediate states differ, final state is preserved)."""
    cdc = cdc_view(spark, sf_dir)
    w = Window.partitionBy("pk").orderBy(F.desc("cdc_seq"))
    return (
        cdc.select("cdc_seq", "pk", "operation", "val")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )


def merge_final_state(base: DataFrame, last: DataFrame) -> DataFrame:
    """MERGE-semantics final state (shared by ap01, sink_target_apply and
    pipeline_e2e).

    ``base``: (c_custkey, c_name, c_acctbal, ...); ``last``: one change
    per pk with (pk, operation, val).
    """
    j = base.join(last, base.c_custkey == last.pk, "full_outer")
    keep = ~(
        (F.col("operation") == "DELETE") & F.col("pk").isNotNull()
    ).eqNullSafe(True) & ~(
        F.col("c_custkey").isNull() & (F.col("operation") == "UPDATE")
    ).eqNullSafe(True)
    untouched = F.col("pk").isNull()
    return j.filter(keep).select(
        F.coalesce(F.col("c_custkey"), F.col("pk")).alias("pk"),
        F.when(untouched, F.col("c_name"))
        .otherwise(F.concat(F.lit("U"), F.col("pk").cast("string")))
        .alias("name"),
        F.when(untouched, F.col("c_acctbal")).otherwise(F.col("val")).alias("acctbal"),
        F.when(untouched, "BASE").otherwise("APPLIED").alias("src"),
    )


def apply_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final base-table state after applying all changes (I/U/D dispatch,
    poc/tobe-oracle/init/04_create_procedures.sql:189-232)."""
    base = load_table(spark, sf_dir, "customer")
    last = last_change_per_key(spark, sf_dir)
    return merge_final_state(base, last)


_MERGED_STATE_SQL = """
SELECT coalesce(b.c_custkey, l.pk) AS pk,
       CASE WHEN l.pk IS NULL THEN b.c_name ELSE concat('U', CAST(l.pk AS VARCHAR)) END AS name,
       CASE WHEN l.pk IS NULL THEN b.c_acctbal ELSE l.val END AS acctbal,
       CASE WHEN l.pk IS NULL THEN 'BASE' ELSE 'APPLIED' END AS src
FROM customer b FULL OUTER JOIN last l ON b.c_custkey = l.pk
WHERE NOT coalesce(l.operation = 'DELETE' AND l.pk IS NOT NULL, FALSE)
  AND NOT coalesce(b.c_custkey IS NULL AND l.operation = 'UPDATE', FALSE)
"""


@register(
    "ap01_merge_cdc",
    oracle=f"""
WITH {CDC_CTE}, {_LAST_CTE}
{_MERGED_STATE_SQL}
""",
)
def ap01_merge_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply I/U/D dispatch -> final state (see module docstring)."""
    return apply_final_state(spark, sf_dir)


@register(
    "ap02_ins_to_upd",
    oracle=f"""
WITH {CDC_CTE}, {_LAST_CTE}
SELECT l.pk, l.operation, 'SYNC_E_002_HANDLED' AS resolution
FROM last l JOIN (SELECT DISTINCT c_custkey FROM customer) b ON l.pk = b.c_custkey
WHERE l.operation = 'INSERT'
""",
)
def ap02_ins_to_upd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT on duplicate key -> UPDATE (DUP_VAL_ON_INDEX handler,
    poc/tobe-oracle/init/04_create_procedures.sql:221-224; error code
    SYNC_E_002, docs/02-설계/05_에러코드_체계.md:50). In MERGE terms this
    is simply WHEN MATCHED -> UPDATE; this query lists the rows that take
    that path (left-semi join against base keys)."""
    last = last_change_per_key(spark, sf_dir)
    base_keys = load_table(spark, sf_dir, "customer").select("c_custkey").distinct()
    return (
        last.filter(F.col("operation") == "INSERT")
        .join(base_keys, last.pk == base_keys.c_custkey, "left_semi")
        .select("pk", "operation", F.lit("SYNC_E_002_HANDLED").alias("resolution"))
    )


@register(
    "ap03_notfound_log",
    oracle=f"""
WITH {CDC_CTE}, {_LAST_CTE}
SELECT l.pk, l.operation, 'TARGET_NOT_FOUND' AS status,
       CASE l.operation WHEN 'UPDATE' THEN 'SYNC_E_001' ELSE 'SYNC_W_001' END AS error_code
FROM last l
WHERE l.operation IN ('UPDATE', 'DELETE')
  AND NOT EXISTS (SELECT 1 FROM customer b WHERE b.c_custkey = l.pk)
""",
)
def ap03_notfound_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE/DELETE against a missing key -> TARGET_NOT_FOUND audit row,
    pipeline continues (SQL%ROWCOUNT=0 check,
    poc/tobe-oracle/init/04_create_procedures.sql:193-202,210-218; codes
    docs/02-설계/05_에러코드_체계.md:49,54). Left-anti join against base."""
    last = last_change_per_key(spark, sf_dir)
    base = load_table(spark, sf_dir, "customer").select("c_custkey")
    return (
        last.filter(F.col("operation").isin("UPDATE", "DELETE"))
        .join(base, last.pk == base.c_custkey, "left_anti")
        .select(
            "pk",
            "operation",
            F.lit("TARGET_NOT_FOUND").alias("status"),
            F.when(F.col("operation") == "UPDATE", "SYNC_E_001")
            .otherwise("SYNC_W_001")
            .alias("error_code"),
        )
    )


@register(
    "ap04_delete_idempotent",
    oracle=f"""
WITH {CDC_CTE}, {_LAST_CTE}
SELECT l.pk, 'ALREADY_DELETED_OK' AS status
FROM last l
WHERE l.operation = 'DELETE'
  AND NOT EXISTS (SELECT 1 FROM customer b WHERE b.c_custkey = l.pk)
""",
)
def ap04_delete_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE of an absent row is a warning-grade no-op (SYNC_W_001
    auto-OK, docs/02-설계/03_케이스_분류.md:155-160) — in MERGE terms a
    natural no-match no-op."""
    last = last_change_per_key(spark, sf_dir)
    base = load_table(spark, sf_dir, "customer").select("c_custkey")
    return (
        last.filter(F.col("operation") == "DELETE")
        .join(base, last.pk == base.c_custkey, "left_anti")
        .select("pk", F.lit("ALREADY_DELETED_OK").alias("status"))
    )


@register(
    "ap05_exactly_once_mark",
    oracle=None,  # set below via envelope composition
)
def ap05_exactly_once_mark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Processed-state transitions N->Y / N->S (loop-skip) / N->E (error)
    (poc/tobe-oracle/init/04_create_procedures.sql:97,173,204). Spark's
    checkpoint replaces the flag as the progress marker (SURVEY §2.7
    ap05); the column is kept for audit parity."""
    from cdc_sync_poc_spark.cdc.envelope import classified_view

    cls = classified_view(spark, sf_dir)
    mark = (
        F.when(F.col("status") == "LOOP_BLOCKED", "S")
        .when(F.col("status") == "FAILED", "E")
        .otherwise("Y")
    )
    return cls.select("cdc_seq", "pk", mark.alias("processed_yn"))


# oracle for ap05 needs the recursive walk CTE from envelope
def _ap05_oracle() -> str:
    from cdc_sync_poc_spark.cdc.envelope import _with_walk

    return _with_walk(
        """
SELECT cdc_seq, pk,
       CASE WHEN status = 'LOOP_BLOCKED' THEN 'S'
            WHEN status = 'FAILED' THEN 'E'
            ELSE 'Y' END AS processed_yn
FROM classified
"""
    )


from cdc_sync_poc_spark.registry import ORACLES  # noqa: E402

ORACLES["ap05_exactly_once_mark"] = _ap05_oracle()


@register(
    "ap06_sequential_replay",
    oracle=f"""
WITH RECURSIVE {CDC_CTE},
g AS (
  SELECT pk, operation, val,
         row_number() OVER (PARTITION BY pk ORDER BY cdc_seq) AS rn
  FROM cdc
),
keys AS (SELECT pk, max(rn) AS n FROM g GROUP BY pk),
init AS (
  SELECT k.pk, (b.c_custkey IS NOT NULL) AS ex, b.c_acctbal AS cur_val, 0 AS rn
  FROM keys k LEFT JOIN customer b ON k.pk = b.c_custkey
),
replay AS (
  SELECT pk, ex, cur_val, rn FROM init
  UNION ALL
  SELECT g.pk,
         CASE g.operation WHEN 'DELETE' THEN FALSE
                          WHEN 'INSERT' THEN TRUE ELSE r.ex END,
         CASE WHEN g.operation = 'INSERT'
                OR (g.operation = 'UPDATE' AND r.ex) THEN g.val
              ELSE r.cur_val END,
         g.rn
  FROM g JOIN replay r ON g.pk = r.pk AND g.rn = r.rn + 1
),
final_changed AS (
  SELECT r.pk, r.ex, r.cur_val
  FROM replay r JOIN keys k ON r.pk = k.pk AND r.rn = k.n
)
SELECT pk, concat('U', CAST(pk AS VARCHAR)) AS name, cur_val AS acctbal,
       'APPLIED' AS src
FROM final_changed WHERE ex
UNION ALL
SELECT b.c_custkey AS pk, b.c_name AS name, b.c_acctbal AS acctbal, 'BASE' AS src
FROM customer b
WHERE NOT EXISTS (SELECT 1 FROM keys k WHERE k.pk = b.c_custkey)
""",
)
def ap06_sequential_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact row-at-a-time replay of the reference worker's apply loop
    (cursor FOR ... ORDER BY CDC_SEQ with per-row I/U/D dispatch,
    poc/tobe-oracle/init/04_create_procedures.sql:184-232): a per-key
    state machine where INSERT creates-or-updates (ap02), UPDATE applies
    only if the row currently exists (ap03), DELETE is idempotent (ap04)
    — including intra-changeset chains (INSERT then UPDATE on a key the
    base never had), which the single-shot MERGE form (ap01) collapses
    to last-wins.

    Each key's op sequence compacts to its replay-equal net op
    (``net_effect``: DELETE, UPSERT or UPDATE, equal for both
    pre-batch states of the key) and that one op per key goes through
    the same MERGE as ap01 (``merge_final_state``; UPSERT creates or
    updates like an INSERT). One pk hash agg plus the pk join, no
    Python worker. The recursive-CTE oracle replays row by row.
    """
    net = net_effect(cdc_view(spark, sf_dir)).select(
        "pk", F.col("net_op").alias("operation"), F.col("net_val").alias("val")
    )
    return merge_final_state(load_table(spark, sf_dir, "customer"), net)


def net_effect(cdc: DataFrame) -> DataFrame:
    """Collapse each pk's op sequence (ordered by cdc_seq) to ONE net
    op whose application is replay-equivalent to the full sequence
    under the engine's tolerant apply semantics (ap02: INSERT on an
    existing key updates it; ap03: UPDATE on a missing key is a no-op;
    ap04: DELETE is idempotent) — for BOTH possible pre-batch states
    of the key (present or absent), which is what makes the algebra
    safe without consulting the target:

    * last op is DELETE          -> DELETE (idempotent, both states)
    * an INSERT after the last DELETE -> UPSERT(last_val): the INSERT
      forces existence, later UPDATEs retarget the value
    * a DELETE with only UPDATEs after -> DELETE (the UPDATEs were
      no-ops on the tombstone in the full replay)
    * UPDATEs only               -> UPDATE(last_val) (no-op if absent)

    The naive first/last-op rule misclassifies two of these (INSERT…
    DELETE is NOT "nothing" if the key pre-existed; DELETE…UPDATE is
    NOT an UPDATE) — test_properties.py replays random sequences
    against a straight-line state machine to pin all four branches.

    Property verified there; shape: ONE hash agg on pk (min_by/max_by
    + filtered max fold map-side, no window, no sort) and the output
    is keys-sized, not ops-sized. At 100 TB the hot-key batches (the
    skew case for the MERGE shuffle) are exactly the ones compaction
    shrinks hardest."""
    g = cdc.groupBy("pk").agg(
        F.count("*").alias("n_ops"),
        F.expr("min_by(operation, cdc_seq)").alias("first_op"),
        F.expr("max_by(operation, cdc_seq)").alias("last_op"),
        F.expr("max_by(val, cdc_seq)").alias("last_val"),
        F.max(
            F.when(F.col("operation") == "DELETE", F.col("cdc_seq"))
        ).alias("last_del_seq"),
        F.max(
            F.when(F.col("operation") == "INSERT", F.col("cdc_seq"))
        ).alias("last_ins_seq"),
    )
    ins_after_del = F.col("last_ins_seq") > F.coalesce(
        F.col("last_del_seq"), F.lit(-1)
    )
    net = (
        F.when(F.col("last_op") == "DELETE", "DELETE")
        .when(F.coalesce(ins_after_del, F.lit(False)), "UPSERT")
        .when(F.col("last_del_seq").isNotNull(), "DELETE")
        .otherwise("UPDATE")
    )
    return g.select(
        "pk",
        "n_ops",
        "first_op",
        "last_op",
        net.alias("net_op"),
        F.when(net != "DELETE", F.col("last_val")).alias("net_val"),
    )


@register(
    "ap08_net_effect_compaction",
    oracle=f"""
WITH {CDC_CTE},
g AS (
  SELECT pk, count(*)::BIGINT AS n_ops,
         min_by(operation, cdc_seq) AS first_op,
         max_by(operation, cdc_seq) AS last_op,
         max_by(val, cdc_seq) AS last_val,
         max(cdc_seq) FILTER (operation = 'DELETE') AS last_del_seq,
         max(cdc_seq) FILTER (operation = 'INSERT') AS last_ins_seq
  FROM cdc GROUP BY pk
),
n AS (
  SELECT pk, n_ops, first_op, last_op, last_val,
         CASE WHEN last_op = 'DELETE' THEN 'DELETE'
              WHEN coalesce(last_ins_seq > coalesce(last_del_seq, -1), FALSE)
                THEN 'UPSERT'
              WHEN last_del_seq IS NOT NULL THEN 'DELETE'
              ELSE 'UPDATE' END AS net_op
  FROM g
)
SELECT pk, n_ops, first_op, last_op, net_op,
       CASE WHEN net_op <> 'DELETE' THEN last_val END AS net_val
FROM n
""",
)
def ap08_net_effect_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction over the CDC batch: the MERGE then writes
    each key at most once (reference contrast: the worker replays
    every row one by one, 04_create_procedures.sql — compaction is why
    a batch engine can be orders faster on hot keys). Semantics and
    scale shape documented on :func:`net_effect`."""
    return net_effect(cdc_view(spark, sf_dir))


@register(
    "ap09_reconciliation",
    oracle=f"""
WITH {CDC_CTE}, {_LAST_CTE},
tgt AS ({_MERGED_STATE_SQL}),
diff AS (
  SELECT CASE
           WHEN t.pk IS NULL THEN 'MISSING_IN_TARGET'
           WHEN s.c_custkey IS NULL THEN 'EXTRA_IN_TARGET'
           WHEN CAST(round(s.c_acctbal * 100) AS BIGINT)
                IS DISTINCT FROM CAST(round(t.acctbal * 100) AS BIGINT)
             THEN 'VALUE_MISMATCH'
           ELSE 'MATCH'
         END AS status
  FROM customer s FULL OUTER JOIN tgt t ON s.c_custkey = t.pk
)
SELECT status, count(*)::BIGINT AS n
FROM diff GROUP BY status
""",
)
def ap09_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source/target reconciliation — the automated form of the
    reference's golden acceptance check ("both sides converge to equal
    data", docs/04-운영/02_테스트_시나리오.md + the seed fixtures of
    05_insert_sample_data.sql): full-outer compare of the pre-sync
    source snapshot against the post-MERGE target state, each key
    classified MATCH / MISSING_IN_TARGET / EXTRA_IN_TARGET /
    VALUE_MISMATCH (values compared in exact integer cents). On a live
    pipeline the non-MATCH rows ARE the drift report; applied changes
    legitimately diverge from the frozen source snapshot, so the
    mismatch counts here quantify exactly what the batch changed.

    Scale: ONE full-outer shuffle join on pk + a 4-group agg (r15,
    guide §2.4). The naive form materialized the MERGE state and
    full-outer-joined customer against it AGAIN — two customer scans
    and two pk shuffle chains. But every diff status is a pure
    function of the merge join row itself (base key present? change
    present? operation? applied value vs base value), and both
    customer.c_custkey and last-change pk are unique, so diff rows map
    1:1 onto merge join rows: classify the SAME full-outer join the
    MERGE reads instead of rebuilding its output and re-joining.
    Dropped-by-merge rows with no base key (UPDATE/DELETE on a missing
    key) appear on neither side of the oracle's diff and are filtered
    out. A 100 TB reconciliation sorts/joins once — this plan — and
    never collects; per-status drill-down is a filter on the same
    joined frame."""
    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    )
    last = last_change_per_key(spark, sf_dir)
    j = base.join(last, base.c_custkey == last.pk, "full_outer")
    cents = lambda c: F.round(F.col(c) * 100).cast("bigint")  # noqa: E731
    status = (
        # no base row: an INSERT creates an extra target key; a
        # dropped UPDATE/DELETE leaves the key on neither side
        F.when(
            F.col("c_custkey").isNull(),
            F.when(F.col("operation") == "INSERT", "EXTRA_IN_TARGET"),
        )
        # base row untouched by the batch: target value IS the base
        # value, so it can only MATCH
        .when(F.col("pk").isNull(), "MATCH")
        .when(F.col("operation") == "DELETE", "MISSING_IN_TARGET")
        .when(~cents("c_acctbal").eqNullSafe(cents("val")), "VALUE_MISMATCH")
        .otherwise("MATCH")
    )
    return (
        j.select(status.alias("status"))
        .filter(F.col("status").isNotNull())
        .groupBy("status")
        .agg(F.count("*").alias("n"))
    )
