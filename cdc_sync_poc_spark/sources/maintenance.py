"""Lake maintenance: small-file compaction for hive-partitioned parquet
sinks — the OPTIMIZE step every streaming/incremental writer needs
(each micro-batch or dynamic-partition overwrite leaves one-file-per-
task debris; a 100 TB lake accumulating thousands of KB-sized files per
partition turns every scan into a listing + open storm).

``compact_partitions`` rewrites each partition directory whose file
population is worse than the target (more files than ``ceil(bytes /
target_bytes)``) into exactly that many files, via coalesce — a
map-only rewrite, no shuffle — and swaps the directory atomically
(write to a sibling temp dir, rename old out, rename new in; the same
crash-recoverable two-phase swap as streaming/swapstore.py::SwapStore).
Partitions already at or under the target file count are NOT touched —
compaction cost is proportional to the debris, not the lake.

Crash safety: swap scratch dirs are dot-prefixed and ``=``-free
(``.compact-tmp.lang%3Den``), so neither Spark's hidden-file
convention nor a Hive partition parser that ignores it can ever see a
phantom partition value mid-swap. ``recover_compaction`` (run
automatically at the start of every ``compact_partitions``) finishes
or rolls back any swap a crash interrupted: a complete temp (has
``_SUCCESS``) with its partition renamed away rolls FORWARD; an
incomplete temp rolls BACK to the preserved old copy; leftover
scratch next to an intact partition is deleted as debris.

This is the manual recipe for a plain parquet directory; on a table
format (Delta/Iceberg) the same decision logic drives OPTIMIZE /
rewrite_data_files, which add snapshot isolation on top. Readers racing
the rename see either the old or the new directory listing — both are
complete copies of the data (document-level atomicity per partition,
not table-level; the table-format upgrade is exactly about making this
table-level).
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import SparkSession

from cdc_sync_poc_spark.streaming.delta_store import batch_ids


def _dir_stats(path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) of the parquet files in ``path``."""
    n = b = 0
    for f in os.listdir(path):
        if f.endswith(".parquet") and not f.startswith((".", "_")):
            n += 1
            b += os.path.getsize(os.path.join(path, f))
    return n, b


_TMP_PREFIX = ".compact-tmp."
_OLD_PREFIX = ".compact-old."


def _encode_part(part: str) -> str:
    """'='-free scratch-name encoding. '%' is escaped FIRST so the
    mapping is injective — a partition value that itself contains
    '%3D' (Spark escapes '=' in values exactly this way) must decode
    back to itself, not to a '='."""
    return part.replace("%", "%25").replace("=", "%3D")


def _decode_part(safe: str) -> str:
    return safe.replace("%3D", "=").replace("%25", "%")


def _swap_paths(path: str, part: str) -> tuple[str, str, str]:
    """(pdir, tmp, old) for one partition swap. Scratch names are
    dot-prefixed (hidden from Spark file listings) and '='-free
    (``%3D``-encoded, so no partition parser can read them as a
    partition value)."""
    if part:
        pdir = os.path.join(path, part)
        safe = _encode_part(part)
        tmp = os.path.join(path, _TMP_PREFIX + safe)
        old = os.path.join(path, _OLD_PREFIX + safe)
    else:  # unpartitioned: swap `path` itself via siblings in its parent
        pdir = path.rstrip("/")
        parent, base = os.path.split(pdir)
        tmp = os.path.join(parent, _TMP_PREFIX + base)
        old = os.path.join(parent, _OLD_PREFIX + base)
    return pdir, tmp, old


def recover_compaction(path: str) -> list[dict]:
    """Finish or roll back compaction swaps a crash interrupted.

    Swap protocol per partition P: (1) write tmp (Spark leaves a
    ``_SUCCESS`` marker), (2) rename P -> old, (3) rename tmp -> P,
    (4) delete old. Recovery decides from what survived:

    - P missing, tmp complete (has ``_SUCCESS``): crashed between
      (2) and (3) — roll FORWARD (rename tmp -> P, delete old).
    - P missing, tmp incomplete/absent, old present: roll BACK
      (rename old -> P, delete tmp).
    - P intact: any tmp/old is pre-swap or post-swap debris — delete.

    Idempotent; run before every compaction pass and at sink startup.
    Returns [{partition, action}] for every swap touched."""
    report: list[dict] = []
    swaps: dict[str, dict[str, str]] = {}
    if os.path.isdir(path):
        for d in os.listdir(path):
            full = os.path.join(path, d)
            if d.startswith(_TMP_PREFIX) and os.path.isdir(full):
                swaps.setdefault(d[len(_TMP_PREFIX):], {})["tmp"] = full
            elif d.startswith(_OLD_PREFIX) and os.path.isdir(full):
                swaps.setdefault(d[len(_OLD_PREFIX):], {})["old"] = full
    root_pdir, root_tmp, root_old = _swap_paths(path, "")
    root_key = os.path.basename(root_tmp)[len(_TMP_PREFIX):]
    if os.path.isdir(root_tmp):
        swaps.setdefault("\0" + root_key, {})["tmp"] = root_tmp
    if os.path.isdir(root_old):
        swaps.setdefault("\0" + root_key, {})["old"] = root_old
    for key, s in sorted(swaps.items()):
        if key.startswith("\0"):
            part, pdir = "", root_pdir
        else:
            part = _decode_part(key)
            pdir = os.path.join(path, part)
        tmp, old = s.get("tmp"), s.get("old")
        complete = tmp and os.path.exists(os.path.join(tmp, "_SUCCESS"))
        if not os.path.isdir(pdir) and complete:
            # live gone but a COMPLETE temp exists: roll forward whether
            # or not an .old survives — the temp may be the only copy
            # (e.g. scratch from a concurrent crashed writer whose own
            # swap got further than ours)
            os.rename(tmp, pdir)
            if old:
                shutil.rmtree(old)
            action = "rolled_forward"
        elif not os.path.isdir(pdir) and old:
            os.rename(old, pdir)
            if tmp:
                shutil.rmtree(tmp)
            action = "rolled_back"
        elif not os.path.isdir(pdir):
            # partial temp, no live, no .old: nothing here is provably
            # redundant — refuse to delete, surface for operator review
            action = "orphaned"
        else:
            if tmp:
                shutil.rmtree(tmp)
            if old and os.path.isdir(old):
                shutil.rmtree(old)
            action = "cleaned"
        report.append({"partition": part or ".", "action": action})
    return report


def compact_partitions(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> list[dict]:
    """Compact each hive partition dir under ``path`` (or ``path``
    itself when unpartitioned) to ``ceil(bytes / target_bytes)`` files.
    Returns a per-partition report: partition, files_before,
    files_after, bytes (only touched partitions appear)."""
    recover_compaction(path)  # heal any crash-interrupted prior swap
    parts = [
        d
        for d in sorted(os.listdir(path))
        if "=" in d
        and not d.startswith((".", "_"))
        and os.path.isdir(os.path.join(path, d))
    ]
    targets = parts if parts else [""]
    report: list[dict] = []
    for part in targets:
        pdir, tmp, old = _swap_paths(path, part)
        n_files, n_bytes = _dir_stats(pdir)
        want = max(1, math.ceil(n_bytes / target_bytes))
        if n_files <= want:
            continue
        # read THIS partition's data files only (no partition-column
        # recursion) and rewrite as `want` files — coalesce is a
        # map-only fan-in, no shuffle
        spark.read.parquet(pdir).coalesce(want).write.mode("overwrite").parquet(tmp)
        os.rename(pdir, old)
        os.rename(tmp, pdir)
        shutil.rmtree(old)
        after, _ = _dir_stats(pdir)
        report.append(
            {
                "partition": part or ".",
                "files_before": n_files,
                "files_after": after,
                "bytes": n_bytes,
            }
        )
    return report


def expire_old_batches(path: str, keep_latest: int) -> list[int]:
    """Retention for per-batch partition sinks (the audit log, the
    streaming dedup-index dirs): delete ``batch_id=N`` partitions older
    than the newest ``keep_latest`` — the TTL sweep that keeps an
    append-forever sink bounded (the reference's SP_CLEANUP_HASH job,
    generalized to any batch-partitioned directory). Returns the
    deleted batch ids (empty when nothing is old enough).

    Pure directory-listing work — no Spark job; idempotent (a second
    sweep finds nothing). Readers racing the delete see partition-level
    atomicity, same contract as compaction above."""
    batches = batch_ids(path)
    doomed = batches[:-keep_latest] if keep_latest > 0 else batches
    for b in doomed:
        shutil.rmtree(os.path.join(path, f"batch_id={b}"))
    return doomed
