"""Input fan-out for CPU-bound stages (optimization guide §2.5 / §2.2).

Two standing hazards make expensive per-row work serialize onto a
handful of tasks:

* **Under-split scans.** A table whose bytes fit one
  ``spark.sql.files.maxPartitionBytes`` split (a single small parquet
  file standing in for a many-file lake partition, an unsplittable
  gzip, a tiny dimension snapshot) yields ONE scan task no matter how
  many cores the cluster has.  Byte-cheap rows can still be CPU-dear
  (HTML parsing, shingling, hashing, per-pair cosines) — the guide's
  "input skew" case: *repartition immediately after the read*.
* **Byte-based AQE coalescing.** ``df.repartition("key")`` (no explicit
  count) is fair game for AQE partition coalescing, which targets
  ``advisoryPartitionSizeInBytes`` — so a few-MB shuffle collapses back
  to one or two partitions and serializes exactly the CPU-heavy stage
  the repartition was meant to spread.  User-specified counts are
  exempt (the operators/layout.py precedent).

``fan_out`` applies the first fix conditionally: it is a no-op whenever
the input already carries at least cluster-parallelism partitions — at
real lake scale (thousands of splits) no shuffle is ever added, so this
is scale-adaptive, not a local[32] tuning.  ``cpu_parts`` is the
explicit partition count for the second fix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

FAN_IN_FACTOR = 2      # fan_in's target: this many x cluster parallelism
FAN_IN_MAX_EXCESS = 4  # fan_in merges only inputs over this many x target


def cpu_parts(df: DataFrame) -> int:
    """Partition count for CPU-bound shuffles: every core busy, and never
    below the session's configured shuffle width."""
    sess = df.sparkSession
    return max(sess.sparkContext.defaultParallelism,
               int(sess.conf.get("spark.sql.shuffle.partitions", "200")))


def fan_in(df: DataFrame) -> DataFrame:
    """The dual fix: MERGE an over-split scan before a per-row Python
    stage.  Every task pays a fixed Python-worker cost (a warm identity
    pass over 4 one-row tasks: ~0.19 s, against ~0.05 s without the
    Python stage; ~0.5 s when every task gets a fresh worker), so a
    many-thousand-tiny-file scan feeding mapInArrow spends more on task
    churn than on work (guide §2.2/§6: fewer, larger map tasks; small
    files hurt twice).  ``coalesce`` (no shuffle) to ``FAN_IN_FACTOR``x
    cluster parallelism, applied only when the scan is more than
    ``FAN_IN_MAX_EXCESS``x over-split — on a sanely-split input this is
    a no-op."""
    target = df.sparkSession.sparkContext.defaultParallelism * FAN_IN_FACTOR
    if df.rdd.getNumPartitions() > FAN_IN_MAX_EXCESS * target:
        return df.coalesce(target)
    return df


def fan_out(df: DataFrame, *key_cols: str) -> DataFrame:
    """Spread an under-partitioned input across the cluster before
    CPU-heavy per-row work.  No-op when the plan already yields at least
    ``cpu_parts`` partitions (the normal case at lake scale); otherwise
    one narrow repartition — hash on ``key_cols`` when given (no
    round-robin pre-sort, deterministic placement per guide §2.5), else
    round-robin.  Row values are untouched, so oracle results can never
    change."""
    target = cpu_parts(df)
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, *key_cols) if key_cols \
        else df.repartition(target)
