"""cdc_sync_poc_spark — a PySpark-native engine with the query and
data-processing capabilities of the KBroJ/cdc-sync-poc reference
(a bidirectional Oracle<->Oracle CDC sync PoC), re-expressed Spark-first.

The reference's computational surface (see SURVEY.md §2) is:

* a Debezium/Kafka change-event source,
* a library of row transforms (rename / code-map / cast / default / hash),
* a stateful time-windowed dedup (infinite-loop prevention),
* ordered upsert/delete apply (MERGE semantics),
* per-row error quarantine, and
* monitoring aggregations,

plus the LLM-data-pipeline extensions (dedup, similarity search,
multimodal columns, text analysis) this engine adds as first-class
operators.

Everything is declared through the DataFrame API so Catalyst picks the
physical plan: broadcast hash joins for the small mapping dimensions,
whole-stage-codegen column expressions for the row transforms, window
functions for last-writer-wins, and Structured Streaming (watermark +
dropDuplicatesWithinWatermark / applyInPandasWithState) for the stateful
loop-guard. No row-at-a-time Python UDFs are used in any hot path; the
only Python-side kernels are Arrow-batched pandas UDFs (Debezium decimal
decode, multimodal byte decode).
"""

from cdc_sync_poc_spark.session import get_spark

__all__ = ["get_spark"]
