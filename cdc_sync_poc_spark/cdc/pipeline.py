"""The flagship end-to-end pipeline (SURVEY.md §7.2) and the
mapping-compiler showcase.

``pipeline_e2e`` is the batch form of the full sync lifecycle
(SURVEY.md §3.1 stages 3-7 collapsed into one plan):

    parse (src_debezium_parse) -> loop-dedup (st01 greedy walk) ->
    quarantine split (st06) -> last-wins per key (s01) ->
    MERGE apply against the base table (ap01) -> final state

Streaming twin: streaming/writer.py::run_stream_pipeline (readStream ->
loop dedup -> foreachBatch MERGE, 5 s trigger in production).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdc_sync_poc_spark.cdc.envelope import _with_walk, cdc_view
from cdc_sync_poc_spark.operators.apply import merge_final_state
from cdc_sync_poc_spark.plans.mapping import ColumnMapping, TableMapping, compile_select
from cdc_sync_poc_spark.registry import register
from cdc_sync_poc_spark.sources.loader import load_table


@register(
    "pipeline_e2e",
    oracle=_with_walk(
        """
, eligible AS (
  SELECT * FROM classified WHERE status NOT IN ('LOOP_BLOCKED', 'FAILED')
),
last AS (
  SELECT * FROM (
    SELECT cdc_seq, pk, operation, val,
           row_number() OVER (PARTITION BY pk ORDER BY cdc_seq DESC) AS rn
    FROM eligible) WHERE rn = 1
)
SELECT coalesce(b.c_custkey, l.pk) AS pk,
       CASE WHEN l.pk IS NULL THEN b.c_name ELSE concat('U', CAST(l.pk AS VARCHAR)) END AS name,
       CASE WHEN l.pk IS NULL THEN b.c_acctbal ELSE l.val END AS acctbal,
       CASE WHEN l.pk IS NULL THEN 'BASE' ELSE 'APPLIED' END AS src
FROM customer b FULL OUTER JOIN last l ON b.c_custkey = l.pk
WHERE NOT coalesce(l.operation = 'DELETE' AND l.pk IS NOT NULL, FALSE)
  AND NOT coalesce(b.c_custkey IS NULL AND l.operation = 'UPDATE', FALSE)
"""
    ),
)
def pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASIS change reaches TOBE: the full lifecycle as ONE Catalyst plan.

    Every stage is a §2 operator; the composition is the integration
    test. Shuffles: one on change_hash (loop walk), one on pk (last-wins
    + merge join) — at 100 TB both keys are high-cardinality and evenly
    distributed, and the mapping dims stay broadcast.
    """
    # eligibility only needs the loop flag + validity — the
    # TARGET_NOT_FOUND classification (a join against base keys) is an
    # apply-time outcome, so the merge join below already decides it;
    # skipping classified_view avoids one broadcast join + distinct.
    from cdc_sync_poc_spark.functions.loopguard import stage1_invalid, with_loop_blocked

    walk = with_loop_blocked(cdc_view(spark, sf_dir))
    eligible = walk.filter(~F.col("loop_blocked") & ~stage1_invalid(walk))
    w = Window.partitionBy("pk").orderBy(F.desc("cdc_seq"))
    last = (
        eligible.select("cdc_seq", "pk", "operation", "val")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    base = load_table(spark, sf_dir, "customer")
    return merge_final_state(base, last)


_BOOK_SPEC = TableMapping(
    source_table="customer",
    target_table="tb_member",
    key="c_custkey",
    columns=(
        ColumnMapping("c_custkey", "member_id"),
        ColumnMapping("c_name", "member_name"),
        ColumnMapping("c_nationkey", "nation_cd", "CODE_MAP", "NATION_MAP"),
        ColumnMapping("c_mktsegment", "segment_cd"),
        ColumnMapping("c_acctbal", "balance", "CAST", "decimal(18,2)"),
        ColumnMapping(None, "created_by", "DEFAULT", "SYNC"),
    ),
)


@register(
    "plan_mapping_compile",
    oracle="""
SELECT c.c_custkey AS member_id, c.c_name AS member_name,
       coalesce(m.target_value, CAST(c.c_nationkey AS VARCHAR)) AS nation_cd,
       c.c_mktsegment AS segment_cd,
       CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS balance,
       'SYNC' AS created_by
FROM customer c
LEFT JOIN (SELECT CAST(n_nationkey AS VARCHAR) AS source_value, n_name AS target_value
           FROM nation WHERE n_nationkey < 20) m
  ON CAST(c.c_nationkey AS VARCHAR) = m.source_value
""",
)
def plan_mapping_compile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapping compiler applied to a full table spec — the Spark
    analog of the reference's config-driven sync
    (application.yml:87-192 + SYNC_COLUMN_MAPPING design,
    docs/02-설계/01_동기화_설계.md:182-194): RENAME + CODE_MAP(with
    fallback) + CAST + DEFAULT compiled into one select."""
    cust = load_table(spark, sf_dir, "customer")
    nation_dim = (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_nationkey") < 20)
        .select(
            F.col("n_nationkey").cast("string").alias("source_value"),
            F.col("n_name").alias("target_value"),
        )
    )
    out = compile_select(cust, _BOOK_SPEC, {"NATION_MAP": nation_dim})
    # surface decimal as double for the oracle compare
    return out.withColumn("balance", F.col("balance").cast("double"))


@register(
    "plan_mapping_roundtrip",
    oracle="""
WITH m AS (SELECT CAST(n_nationkey AS VARCHAR) AS sk, n_name AS tv
           FROM nation WHERE n_nationkey < 20),
fwd AS (
  SELECT c.c_custkey, c.c_nationkey,
         coalesce(mm.tv, CAST(c.c_nationkey AS VARCHAR)) AS nation_cd
  FROM customer c LEFT JOIN m mm ON CAST(c.c_nationkey AS VARCHAR) = mm.sk
),
rev AS (
  SELECT f.c_custkey, f.c_nationkey,
         CAST(coalesce(r.sk, f.nation_cd) AS INTEGER) AS nationkey_rt
  FROM fwd f LEFT JOIN m r ON f.nation_cd = r.tv
)
SELECT c_custkey AS member_id, c_nationkey AS nationkey_orig, nationkey_rt,
       (c_nationkey = nationkey_rt) AS roundtrip_ok
FROM rev
""",
)
def plan_mapping_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional topology (SURVEY §7.1 M4): the SAME mapping spec
    machinery drives both directions (ASIS->TOBE and TOBE->ASIS are two
    TableMappings with mirrored code dims — the reference's reverse
    mapping rows, poc/asis-oracle/init/03_create_mapping_tables.sql:24-35).
    The round-trip must be the identity: mapped codes invert through the
    reverse dim, unmapped codes invert through the stringified fallback.
    """
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 20)
    fwd_dim = nation.select(
        F.col("n_nationkey").cast("string").alias("source_value"),
        F.col("n_name").alias("target_value"),
    )
    rev_dim = nation.select(
        F.col("n_name").alias("source_value"),
        F.col("n_nationkey").cast("string").alias("target_value"),
    )
    fwd_spec = TableMapping(
        "customer",
        "tb_member",
        "c_custkey",
        (
            ColumnMapping("c_custkey", "member_id"),
            ColumnMapping("c_nationkey", "nationkey_orig"),
            ColumnMapping("c_nationkey", "nation_cd", "CODE_MAP", "NATION_MAP"),
        ),
    )
    fwd = compile_select(cust, fwd_spec, {"NATION_MAP": fwd_dim})
    rev_spec = TableMapping(
        "tb_member",
        "customer",
        "member_id",
        (
            ColumnMapping("member_id", "member_id"),
            ColumnMapping("nationkey_orig", "nationkey_orig"),
            ColumnMapping("nation_cd", "nationkey_rt_str", "CODE_MAP", "NATION_REV"),
        ),
    )
    rev = compile_select(fwd, rev_spec, {"NATION_REV": rev_dim})
    return rev.select(
        "member_id",
        "nationkey_orig",
        F.col("nationkey_rt_str").cast("int").alias("nationkey_rt"),
        (F.col("nationkey_orig") == F.col("nationkey_rt_str").cast("int")).alias(
            "roundtrip_ok"
        ),
    )
