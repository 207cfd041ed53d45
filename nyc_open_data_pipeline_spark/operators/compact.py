"""Small-file compaction for parquet tables (the OPTIMIZE primitive).

Long-lived ingest tables accumulate small files (every upsert/append batch
writes at least one file per task); scan parallelism then degrades to
per-file tasks and the NameNode/listing cost grows unboundedly. Compaction
rewrites a table (or a subset of its partitions) into ~target-sized files —
the same maintenance op Delta/Iceberg expose as OPTIMIZE, expressed over
plain parquet directories.

Scale design: file sizes come from the filesystem listing (no data scan);
the rewrite itself is one job whose output-file count is
ceil(bytes / target) per partition, applied by a write-then-swap of each
rewritten directory (two renames). Partitions already at target
density are SKIPPED — a steady-state nightly compaction touches only the
partitions the day's ingest fragmented.
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql import SparkSession

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024


@dataclass(frozen=True)
class CompactionStats:
    partitions_seen: int
    partitions_compacted: int
    files_before: int
    files_after: int
    bytes_total: int


def _leaf_partitions(root: str) -> list[str]:
    """Leaf directories holding parquet files ('' = unpartitioned root)."""
    leaves = []
    for dirpath, _dirnames, filenames in os.walk(root):
        if any(f.endswith(".parquet") for f in filenames):
            leaves.append(os.path.relpath(dirpath, root))
    return leaves or ["."]


def _parquet_files(d: str) -> list[str]:
    return [
        os.path.join(d, f)
        for f in os.listdir(d)
        if f.endswith(".parquet") and not f.startswith(".")
    ]


def compact(
    spark: SparkSession,
    path: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    min_files: int = 2,
) -> CompactionStats:
    """Rewrite each fragmented leaf partition of ``path`` into
    ceil(bytes/target) files. A partition is fragmented when it has
    >= ``min_files`` files AND more files than its data needs; others are
    left untouched (idempotence: a second run is a no-op)."""
    seen = compacted = before = after = total = 0
    for rel in _leaf_partitions(path):
        part_dir = os.path.normpath(os.path.join(path, rel))
        files = _parquet_files(part_dir)
        seen += 1
        before += len(files)
        nbytes = sum(os.path.getsize(f) for f in files)
        total += nbytes
        want = max(1, -(-nbytes // target_bytes))  # ceil
        if len(files) < min_files or len(files) <= want:
            after += len(files)
            continue
        df = spark.read.parquet(part_dir)
        tmp = f"{part_dir}__compact_{uuid.uuid4().hex[:8]}"
        df.coalesce(want).write.mode("overwrite").parquet(tmp)
        old = f"{part_dir}__old_{uuid.uuid4().hex[:8]}"
        os.rename(part_dir, old)
        os.rename(tmp, part_dir)
        shutil.rmtree(old)
        compacted += 1
        after += len(_parquet_files(part_dir))
    return CompactionStats(seen, compacted, before, after, total)
