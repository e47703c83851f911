"""Small-file compaction: bin-pack a partition's files to target size.

Streaming ingest and per-bucket re-drives leave lake partitions littered
with small files (every micro-batch commit = one file per task).  At
100 TB the cost is real and threefold: file-listing time on the driver,
per-file task/open overhead on every scan, and parquet row groups too
small for effective min/max pruning or dictionary encoding.  The fix is
the maintenance job every table format ships (Iceberg
``rewrite_data_files``, Delta ``OPTIMIZE``), rebuilt on the parquet
stand-in with the same structure:

* ``plan_compaction`` is pure control plane: one FileSystem listing
  (file counts + bytes per partition — never a data scan) selects the
  partitions worth rewriting (``min_files`` or more data files AND mean
  file size under half the target) and sizes each rewrite as
  ``ceil(bytes / target_bytes)`` output files;
* ``compact_table`` rewrites ONLY the flagged partitions: read the one
  directory, ``repartition(n_out)`` (or range-partition on a Z-order
  key when ``zorder_cols`` is given — compaction is the natural moment
  to also fix clustering, exactly like ``OPTIMIZE ... ZORDER BY``),
  write to a hidden scratch dir, then swap directories.  Partitions not
  in the plan are never touched, read, or rewritten.

Crash-safety stand-in (documented, same contract as jobs/lake.py): the
scratch write is invisible to readers (dot-prefixed dir); the
delete+rename swap is the non-transactional parquet analogue of
Iceberg's RewriteFiles snapshot commit.  Compaction is content-
preserving by construction, so a re-drive after any crash point simply
re-plans (an already-swapped partition no longer qualifies; a
half-written scratch dir is overwritten).

Reference context: no analogue — the reference keeps per-upload JSON
files (backend/main_v1.py:43-120); this is 100 TB operational surface.
"""
from __future__ import annotations

import math
import os
from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

from ..operators.zorder import zorder_key
from .lake import _hadoop_fs

DEFAULT_TARGET_BYTES = 128 << 20  # the usual lake file-size target


def _is_data_file(name: str) -> bool:
    return not (name.startswith("_") or name.startswith("."))


@dataclass
class PartitionPlan:
    relpath: str        # "" for an unpartitioned table, else "bucket=3"
    n_files: int
    bytes: int
    n_out: int


def partition_file_stats(spark: SparkSession,
                         table_path: str) -> list[tuple[str, int, int]]:
    """-> [(partition_relpath, n_data_files, total_bytes)] from ONE
    FileSystem listing — the control-plane read, no data scan."""
    fs, root = _hadoop_fs(spark, table_path)
    out = []

    def scan_dir(dirpath, rel):
        files, dirs = [], []
        for st in fs.listStatus(dirpath):
            name = st.getPath().getName()
            if st.isDirectory():
                if _is_data_file(name):
                    dirs.append((st.getPath(), name))
            elif _is_data_file(name):
                files.append(st.getLen())
        if files:
            out.append((rel, len(files), int(sum(files))))
        for d, name in dirs:
            scan_dir(d, f"{rel}/{name}" if rel else name)

    scan_dir(root, "")
    return out


def plan_compaction(spark: SparkSession, table_path: str,
                    target_bytes: int = DEFAULT_TARGET_BYTES,
                    min_files: int = 2) -> list[PartitionPlan]:
    """Partitions worth rewriting: at least ``min_files`` data files and
    mean file size below half the target (files near target size are
    already fine — rewriting them would churn bytes for nothing)."""
    plans = []
    for rel, n_files, nbytes in partition_file_stats(spark, table_path):
        if n_files >= min_files and nbytes / n_files < target_bytes / 2:
            n_out = max(1, math.ceil(nbytes / target_bytes))
            if n_out < n_files:
                plans.append(PartitionPlan(rel, n_files, nbytes, n_out))
    return sorted(plans, key=lambda p: p.relpath)


def compact_table(spark: SparkSession, table_path: str,
                  target_bytes: int = DEFAULT_TARGET_BYTES,
                  min_files: int = 2,
                  zorder_cols: Sequence[str] | None = None) -> dict:
    """Execute ``plan_compaction``; returns the audit report.

    Only flagged partition directories are read or written.  With
    ``zorder_cols`` the rewrite also re-clusters each partition along
    the Morton curve (sorted within the new files), so compaction
    doubles as ``OPTIMIZE ... ZORDER BY``.
    """
    plans = plan_compaction(spark, table_path, target_bytes, min_files)
    fs, _ = _hadoop_fs(spark, table_path)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    report = {"partitions": len(plans), "files_before": 0, "files_after": 0}
    for p in plans:
        src = os.path.join(table_path, p.relpath) if p.relpath else table_path
        # scratch is a dot-prefixed SIBLING of src (never inside it — the
        # swap deletes src recursively), invisible to parquet readers
        scratch = os.path.join(
            os.path.dirname(src.rstrip("/")),
            f".{os.path.basename(src.rstrip('/'))}.__compact_scratch__")
        df = spark.read.parquet(src)
        if zorder_cols:
            df = (zorder_key(df, list(zorder_cols))
                  .repartitionByRange(p.n_out, "z")
                  .sortWithinPartitions("z").drop("z"))
        else:
            df = df.repartition(p.n_out)
        df.write.mode("overwrite").parquet(scratch)
        # swap: the parquet stand-in for Iceberg's RewriteFiles commit
        fs.delete(Path(src), True)
        fs.rename(Path(scratch), Path(src))
        report["files_before"] += p.n_files
        report["files_after"] += p.n_out
    return report
