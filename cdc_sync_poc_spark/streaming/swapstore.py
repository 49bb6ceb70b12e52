"""Crash-safe single-directory parquet state store — the shared swap
machinery of the streaming bottom-N sampler (streaming/sampling.py)
and the HLL register rollup (streaming/hll_rollup.py), whose state is
one small table overwritten per micro-batch by an idempotent fold
(bottom-k cut / register-wise max), so replays need no partition
bookkeeping: the state IS the whole output.

Protocol (rename-aside, the compactor's recipe — rmtree NEVER touches
the live directory, so no crash can leave a partially-deleted state
that still passes an isdir check):

    write next state to  <name>_next      (Spark leaves _SUCCESS)
    rename <name>     -> .<name>_old      (atomic)
    rename <name>_next -> <name>          (atomic)
    rmtree .<name>_old

``read()`` heals every crash window before reading:

- live present: any ``_old`` is post-swap debris (drop); any temp is a
  pre-swap leftover whose batch will replay (drop).
- live missing, temp COMPLETE (has _SUCCESS): crashed between the two
  renames — roll FORWARD (the replayed batch re-merges idempotently).
- live missing, temp partial/absent, ``_old`` present: roll BACK.
- live missing, temp partial, nothing else: a crashed FIRST write —
  delete the partial temp and report empty (promoting it would poison
  the store permanently).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class SwapStore:
    def __init__(self, spark: SparkSession, root: str, name: str) -> None:
        self.spark = spark
        self.cur_dir = os.path.join(root, name)
        self.tmp_dir = os.path.join(root, f"{name}_next")
        self.old_dir = os.path.join(root, f".{name}_old")

    def _tmp_complete(self) -> bool:
        return os.path.exists(os.path.join(self.tmp_dir, "_SUCCESS"))

    def recover(self) -> None:
        """Finish or roll back a crash-interrupted swap (idempotent)."""
        if os.path.isdir(self.cur_dir):
            if os.path.isdir(self.old_dir):
                shutil.rmtree(self.old_dir)
            if os.path.isdir(self.tmp_dir):
                shutil.rmtree(self.tmp_dir)
            return
        if os.path.isdir(self.tmp_dir) and self._tmp_complete():
            os.rename(self.tmp_dir, self.cur_dir)  # roll forward
            if os.path.isdir(self.old_dir):
                shutil.rmtree(self.old_dir)
            return
        if os.path.isdir(self.old_dir):
            os.rename(self.old_dir, self.cur_dir)  # roll back
        if os.path.isdir(self.tmp_dir):
            shutil.rmtree(self.tmp_dir)  # partial temp, never promoted

    def read(self, schema: StructType | None = None) -> DataFrame | None:
        """The live state; ``schema`` (partition columns included) skips
        the footer-reading job Spark runs to infer one."""
        self.recover()
        if not os.path.isdir(self.cur_dir):
            return None
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(self.cur_dir)

    def swap(self, df: DataFrame, partition_by: list[str] | None = None) -> None:
        """Persist ``df`` as the new state; atomic at every step.
        ``partition_by`` lays the state out as hive partitions (the
        _SUCCESS marker still lands at the root, so completion
        detection is unchanged) — used by stores whose readers prune on
        a key, e.g. the IVF index base's cell_id."""
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.tmp_dir)
        if os.path.isdir(self.cur_dir):
            if os.path.isdir(self.old_dir):  # stale debris
                shutil.rmtree(self.old_dir)
            os.rename(self.cur_dir, self.old_dir)
        os.rename(self.tmp_dir, self.cur_dir)
        if os.path.isdir(self.old_dir):
            shutil.rmtree(self.old_dir)
