"""Streaming loop-prevention (SURVEY §2.6 st01-st03, streaming twins).

Two tiers, by fidelity:

* ``watermark_dedup`` — built-in ``dropDuplicatesWithinWatermark`` on
  change_hash with a 5-minute watermark: drops any event whose hash was
  seen within the watermark window. State eviction (st03's 10-minute
  SP_CLEANUP_HASH job) is automatic watermark GC — no cleanup job at
  all. This is the production default: fully JVM-side, in Spark's
  default HDFS-backed state store (no provider is configured).
  First-seen-wins within the window — NOT the exact
  sequential semantics.
* ``stateful_dedup`` — the reference's exact sequential semantics
  (blocked and validation-failed events do NOT refresh the window —
  FN_IS_LOOP + SP_RECORD_HASH,
  poc/asis-oracle/init/04_create_procedures.sql:31-44), emitting
  blocked rows for PROCESSED_YN='S' audit parity. Each event's block
  decision depends on earlier DECISIONS for its hash, so it needs
  arbitrary per-key state carried across micro-batches; it is
  ``applyInPandasWithState`` rather than ``transformWithStateInPandas``
  because the latter's state server needs ``google.protobuf``, which
  this package does not depend on. The update function
  runs ``functions/loopguard.walk_kernel``, seeded with the
  checkpointed last-applied time. The batch ``with_loop_blocked`` folds
  the same rule JVM-side; ``tests/test_tws_dedup.py`` checks that both
  flag the same rows.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from cdc_sync_poc_spark.functions.loopguard import stage1_invalid, walk_kernel

LOOP_WINDOW = "5 minutes"  # FN_IS_LOOP interval (:40)


def watermark_dedup(cdc: DataFrame, watermark: str = LOOP_WINDOW) -> DataFrame:
    """Built-in streaming dedup: first event per hash passes, duplicates
    within the watermark window are dropped silently."""
    return cdc.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["change_hash"]
    )


def stateful_dedup(cdc: DataFrame) -> DataFrame:
    """Streaming loop-guard via applyInPandasWithState keyed by
    change_hash: emits every row with a loop_blocked flag, carrying
    last-applied state across micro-batches through the checkpointed
    state store. The streaming twin of
    functions/loopguard.with_loop_blocked: same validity flag, same
    walk rule (in pandas here, a SQL fold there)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    kernel = walk_kernel()

    def guard_fn(key, pdfs, state):
        rows, last = kernel(
            pd.concat(list(pdfs)), state.get[0] if state.exists else None
        )
        if last is not None:
            state.update((int(last),))
        yield rows

    flagged = cdc.withColumn("__invalid", stage1_invalid(cdc))
    schema = T.StructType(
        list(flagged.schema.fields) + [T.StructField("loop_blocked", T.BooleanType())]
    )
    return (
        flagged.groupBy("change_hash")
        .applyInPandasWithState(
            guard_fn,
            outputStructType=schema,
            stateStructType="last_applied_us LONG",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        .drop("__invalid")
    )
