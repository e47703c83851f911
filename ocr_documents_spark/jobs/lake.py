"""Lake protocol: doc_id-bucketed writes, checkpoints, metrics sidecar.

Implements the north-rule job-control contract (SURVEY.md §4.2):

* results land partitioned by ``bucket = pmod(xxhash64(doc_id), n_buckets)``
  — the parquet stand-in for an Iceberg table written ``bucket(N, doc_id)``;
* a run claims a set of buckets, processes them in ONE Spark job, writes
  results + EAV fields with **dynamic partition overwrite** (only the
  claimed buckets are replaced — the parquet equivalent of
  ``MERGE INTO lake.results ON doc_id``, and exactly as idempotent: a
  re-driven bucket rewrites to the same bytes);
* per-bucket lineage rows (doc/span/status counts) append to a sidecar
  ``metrics`` table;
* a ``checkpoints`` table appends one row per completed bucket **after**
  the results commit, so a crash between the two replays the bucket —
  never loses it.  ``pending = claimed − checkpointed`` is the resume set.

Each rule is written once, here: ``extracted`` (validate → extract →
bucket) for the batch, incremental and streaming jobs, ``bucketed_fields``
for every fields_long row (so it never disagrees with results),
``_overwrite_partitions`` for every dynamic overwrite, ``merge_bucketed``
for re-drives, deletes, corrections and stream compaction, and
``read_table`` for every read.

Every write makes as few files as it can: a dynamic overwrite writes
each bucket as ONE data file, and a sidecar append writes one file.  On
a local filesystem without libhadoop each file costs ``chmod``
subprocesses, which made the file count most of a lake job's wall (see
``session.py`` for the checksum sidecar files, which local sessions no
longer write).

On a cluster with an Iceberg catalog the same protocol maps 1:1:
``CREATE TABLE … PARTITIONED BY (bucket(N, doc_id))``, ``MERGE INTO`` for
results, plain appends for metrics/checkpoints.  This sandbox has no
Iceberg runtime jar, so the protocol rides parquet.

Reference lineage: the v1 status ladder pending → processing → completed
(backend/main_v1.py:117-157) is exactly this checkpoint table, with the
bucket range as the unit of work instead of one upload.
"""

from __future__ import annotations

import os
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Dict, Iterator, List, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (DoubleType, IntegerType, LongType,
                               StringType, StructField, StructType)

from ..functions.fanout import cpu_parts
from ..pipeline import RESULT_SCHEMA, fields_long, run_pipeline
from ..sources.ingest import split_valid

RESULTS = "results"
FIELDS_LONG = "fields_long"
METRICS = "metrics"
CHECKPOINTS = "checkpoints"
REJECTS = "rejects"

# streaming surface: its OWN tables, partitioned (ingest_batch, bucket), so
# at-least-once micro-batch replays overwrite their own partitions instead
# of appending duplicates, and batch/stream writers never mix directory
# layouts under one table path.  compact_stream folds results_stream into
# results through merge_bucketed, which re-derives fields_long.
STREAM_RESULTS = "results_stream"
STREAM_REJECTS = "rejects_stream"
STREAM_METRICS = "metrics_stream"
STREAM = {REJECTS: STREAM_REJECTS, RESULTS: STREAM_RESULTS,
          METRICS: STREAM_METRICS}

# Declared table schemas.  Every lake read goes through read_table with
# these, so an empty table (a partitioned write of zero rows leaves no data
# file) reads as zero rows instead of failing schema inference.
_BUCKET = StructField("bucket", IntegerType())
_FIELD = RESULT_SCHEMA["fields"].dataType.elementType
SCHEMAS = {
    REJECTS: StructType([RESULT_SCHEMA["doc_id"],
                         StructField("reject_reason", StringType()), _BUCKET]),
    RESULTS: StructType(RESULT_SCHEMA.fields + [_BUCKET]),
    # pipeline.fields_long's projection: one row per element of ``fields``
    FIELDS_LONG: StructType(
        [RESULT_SCHEMA["doc_id"], RESULT_SCHEMA["document_type"]]
        + [StructField(name, _FIELD[src].dataType) for src, name in (
            ("name", "field_name"), ("value", "field_value"),
            ("confidence", "confidence"), ("page", "page_number"))]
        + [_BUCKET]),
    # bucket_metrics' aggregate
    METRICS: StructType(
        [_BUCKET]
        + [StructField(c, LongType()) for c in (
            "n_docs", "n_spans", "n_completed", "n_partial",
            "n_rejected_quality", "n_rejected_classification", "n_fields")]
        + [StructField("avg_confidence", DoubleType()),
           StructField("approx_distinct_doc_ids", LongType()),
           StructField("run_id", StringType()),
           StructField("run_wall_s", DoubleType()),
           StructField("committed_at", DoubleType())]),
    CHECKPOINTS: StructType([StructField("run_id", StringType()), _BUCKET,
                             StructField("committed_at", DoubleType())]),
}
# a stream table is its main table plus the micro-batch partition column
SCHEMAS.update({
    stream: StructType(SCHEMAS[main].fields
                       + [StructField("ingest_batch", IntegerType())])
    for main, stream in STREAM.items()})


@dataclass
class Lake:
    root: str
    n_buckets: int

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def bucket_col(self) -> F.Column:
        return F.pmod(F.xxhash64("doc_id"), F.lit(self.n_buckets)).cast("int")


def read_table(spark: SparkSession, lake: Lake,
               table: str) -> DataFrame | None:
    """``table`` read with its declared schema, or None when it is absent.

    An explicit existence check, not a broad except: a read failure must
    PROPAGATE — read as 'no table', it would re-drive every bucket or
    make a merge overwrite buckets without their other rows.
    """
    path = lake.path(table)
    if not _path_exists(spark, path):
        return None
    return spark.read.schema(SCHEMAS[table]).parquet(path)


def completed_buckets(spark: SparkSession, lake: Lake) -> List[int]:
    """Buckets already checkpointed (any prior run)."""
    done = read_table(spark, lake, CHECKPOINTS)
    if done is None:
        return []
    return sorted(r["bucket"]
                  for r in done.select("bucket").distinct().collect())


def pending_buckets(spark: SparkSession, lake: Lake,
                    claimed: Sequence[int]) -> List[int]:
    done = set(completed_buckets(spark, lake))
    return [b for b in claimed if b not in done]


@contextmanager
def extracted(docs: DataFrame, lake: Lake, skip_quality_check: bool = False,
              forced_type: str | None = None) -> Iterator[Dict[str, DataFrame]]:
    """Validate and extract ``docs(doc_id, spans)`` once; yield the frames
    to commit, each with ``bucket``: ``{REJECTS, RESULTS}``.

    ``results`` stays persisted until exit, so fields_long and metrics
    reuse it instead of re-running the UDF stages.  No Spark action runs
    here: the caller's writes run the job.
    """
    valid, rejects = split_valid(docs.select("doc_id", "spans"))
    results = (run_pipeline(valid, skip_quality_check=skip_quality_check,
                            forced_type=forced_type)
               .withColumn("bucket", lake.bucket_col()).persist())
    try:
        yield {REJECTS: rejects.select("doc_id", "reject_reason")
               .withColumn("bucket", lake.bucket_col()),
               RESULTS: results}
    finally:
        results.unpersist()


def bucketed_fields(lake: Lake, results: DataFrame) -> DataFrame:
    """``pipeline.fields_long(results)``, each row in its doc's bucket."""
    return fields_long(results).withColumn("bucket", lake.bucket_col())


def _overwrite_partitions(df: DataFrame, path: str,
                          partition_cols: Sequence[str]) -> None:
    """Replace exactly the ``partition_cols`` partitions present in
    ``df`` (dynamic overwrite), so a re-driven write never duplicates.

    The rows are first hash-partitioned on ``partition_cols`` (Iceberg's
    ``hash`` write distribution), so each partition is written by one
    task as ONE data file.  Unclustered, a write of N partitions by T
    tasks makes about T x N files, and on a local filesystem without
    libhadoop every file costs ``chmod`` subprocesses.  The task count is
    explicit: AQE may coalesce a count-less repartition of a small
    shuffle into one task."""
    (df.repartition(cpu_parts(df), *partition_cols).write
       .option("partitionOverwriteMode", "dynamic")
       .partitionBy(*partition_cols).mode("overwrite").parquet(path))


def write_bucketed(df: DataFrame, lake: Lake, table: str) -> None:
    """Replace exactly the bucket partitions present in ``df``."""
    _overwrite_partitions(df, lake.path(table), ["bucket"])


def append(df: DataFrame, lake: Lake, table: str) -> None:
    """Append ``df`` to ``table`` as one file.  The appended tables
    (metrics, checkpoints) take at most one row per claimed bucket."""
    df.coalesce(1).write.mode("append").parquet(lake.path(table))


def merge_bucketed(lake: Lake, table: str, fresh: DataFrame,
                   stale_ids: DataFrame, touched: Sequence[int]) -> None:
    """``MERGE INTO table USING fresh``: in the ``touched`` buckets (which
    hold every ``fresh`` row), the rows of ``stale_ids(doc_id)`` give way
    to ``fresh`` and the others stay.  A touched bucket the merge empties
    is dropped: dynamic overwrite cannot delete a partition it writes no
    rows to.  An absent table is created from ``fresh``.  A merge into
    results re-derives fields_long in the touched buckets and appends a
    metrics row per touched bucket (all zero for an emptied one), so the
    latest row of every bucket stays its census."""
    t0 = time.perf_counter()
    spark = fresh.sparkSession
    main = read_table(spark, lake, table)
    merged = fresh if main is None else (
        main.filter(F.col("bucket").isin(list(touched)))
        .join(stale_ids, "doc_id", "left_anti")
        .unionByName(fresh))
    merged = merged.persist()
    try:
        writes = [(table, merged)]
        # fields_long and the census first: ``merged`` reads the results
        # table it replaces, and once that path is written Spark recomputes
        # every persisted frame reading it from the NEW files
        if table == RESULTS:
            writes.insert(0, (FIELDS_LONG, bucketed_fields(lake, merged)))
            census = {r["bucket"]: r for r in
                      bucket_metrics(merged, "", 0.0).collect()}
        for name, df in writes:
            present = {r["bucket"]
                       for r in df.select("bucket").distinct().collect()}
            # every row has a bucket, so no bucket means no rows to write
            if present:
                write_bucketed(df, lake, name)
            for b in set(touched) - present:
                _delete_partition_dir(spark, f"{lake.path(name)}/bucket={b}")
        if table == RESULTS:
            _append_census(spark, lake, census, touched,
                           time.perf_counter() - t0)
    finally:
        merged.unpersist()


def _append_census(spark: SparkSession, lake: Lake, census: Dict[int, Row],
                   touched: Sequence[int], wall_s: float) -> None:
    """Append one metrics row per touched bucket: its ``bucket_metrics``
    row from ``census``, or all zeros when the merge emptied it."""
    names = SCHEMAS[METRICS].fieldNames()
    empty = {**dict.fromkeys(names, 0), "avg_confidence": None}
    run_id, now = new_run_id(), time.time()
    rows = []
    for b in sorted({int(b) for b in touched}):
        row = census[b].asDict() if b in census else dict(empty)
        row.update(bucket=b, run_id=run_id, run_wall_s=wall_s,
                   committed_at=now)
        rows.append(row)
    append(_local_rows(spark, rows, METRICS), lake, METRICS)


def bucket_metrics(results_with_bucket: DataFrame, run_id: str,
                   wall_s: float) -> DataFrame:
    """Per-bucket lineage rows for the sidecar metrics table.

    One row per (run, bucket): how many docs/spans, the status census, and
    field volume — enough to audit a range without scanning results.
    """
    s = F.col("status")
    return (results_with_bucket.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_pages").alias("n_spans"),
        F.sum(F.when(s == "completed", 1).otherwise(0)).alias("n_completed"),
        F.sum(F.when(s == "partial", 1).otherwise(0)).alias("n_partial"),
        F.sum(F.when(s == "rejected_quality", 1).otherwise(0)).alias("n_rejected_quality"),
        F.sum(F.when(s == "rejected_classification", 1).otherwise(0)).alias("n_rejected_classification"),
        F.sum(F.size("fields")).alias("n_fields"),
        F.avg("overall_confidence").alias("avg_confidence"),
        # HLL++ sketch: cheap dedup audit per range without a distinct shuffle
        F.approx_count_distinct("doc_id").alias("approx_distinct_doc_ids"))
        .withColumn("run_id", F.lit(run_id))
        .withColumn("run_wall_s", F.lit(float(wall_s)))
        .withColumn("committed_at", F.lit(time.time())))


def checkpoint_rows(spark: SparkSession, run_id: str,
                    buckets: Sequence[int]) -> DataFrame:
    return _local_rows(spark, [{"run_id": run_id, "bucket": int(b),
                                "committed_at": time.time()}
                               for b in buckets], CHECKPOINTS)


def _local_rows(spark: SparkSession, rows: Sequence[dict],
                table: str) -> DataFrame:
    """Driver-side ``rows`` (dicts keyed by ``SCHEMAS[table]``'s columns)
    as a local relation.  They reach the JVM as one Arrow table, so
    writing them runs no Python worker.  ``createDataFrame`` of a list
    builds a Python RDD instead, one Python task per slice, which a
    one-file ``append`` would run one after another."""
    return spark.createDataFrame(pa.Table.from_pylist(
        rows, schema=to_arrow_schema(SCHEMAS[table])))


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]


def apply_field_corrections(spark: SparkSession, lake: Lake,
                            corrections: DataFrame) -> int:
    """S9 manual field update (backend/main_v1.py:349-370) as a MERGE.

    ``corrections(doc_id, field_name, new_value)`` sets the ``value`` of
    matching ``results.fields`` elements (``out_spans`` keeps what the
    extraction emitted).  Parquet stand-in for ``MERGE INTO lake.results
    USING corrections ON doc_id WHEN MATCHED THEN UPDATE``: only the
    buckets containing corrected documents are rewritten (merge_bucketed),
    everything else is untouched — same touched-partition cost profile as
    Iceberg's copy-on-write MERGE.  Returns the number of touched buckets.

    MERGE semantics (like SQL MERGE, where duplicate source keys are an
    error): corrections are deduplicated per (doc_id, field_name) —
    ``max(new_value)`` keeps the deterministic non-null winner — and an
    explicit NULL ``new_value`` CLEARS the field (match, not coalesce).
    A field the document lacks, or a NULL ``field_name``, matches nothing.
    """
    corr = (corrections.filter(F.col("field_name").isNotNull())
            .groupBy("doc_id", "field_name")
            .agg(F.max("new_value").alias("new_value"))
            .groupBy("doc_id")
            .agg(F.map_from_entries(F.collect_list(
                F.struct("field_name", "new_value"))).alias("__new"))
            .withColumn("bucket", lake.bucket_col()))
    buckets = [r["bucket"] for r in corr.select("bucket").distinct().collect()]
    results = read_table(spark, lake, RESULTS)
    if not buckets or results is None:
        return 0
    new = F.col("__new")
    fresh = (results.filter(F.col("bucket").isin(buckets))
             .join(F.broadcast(corr.drop("bucket")), "doc_id")
             .withColumn("fields", F.transform("fields", lambda f: f.withField(
                 "value", F.when(F.map_contains_key(new, f["name"]),
                                 F.element_at(new, f["name"]))
                 .otherwise(f["value"]))))
             .drop("__new"))
    merge_bucketed(lake, RESULTS, fresh, corr.select("doc_id"), buckets)
    return len(buckets)


def doc_bucket(spark: SparkSession, lake: Lake, doc_id: str) -> int:
    """The bucket a doc_id hashes to, computed WITHOUT scanning any table
    (one-row local relation through the same xxhash64 expression)."""
    return spark.createDataFrame([(doc_id,)], "doc_id string").select(
        lake.bucket_col().alias("b")).first()["b"]


def _hadoop_fs(spark: SparkSession, path: str):
    """-> (Hadoop FileSystem, Path) for ``path`` — works on any FS the
    cluster mounts, not just local disk."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _delete_partition_dir(spark: SparkSession, path: str) -> None:
    """Drop a partition directory via the Hadoop FileSystem API."""
    fs, hpath = _hadoop_fs(spark, path)
    fs.delete(hpath, True)


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Hadoop FileSystem existence probe — the deliberate alternative to a
    bare ``except Exception`` around a read: only a genuinely-absent table
    is 'not there'; every other failure mode stays fatal."""
    fs, hpath = _hadoop_fs(spark, path)
    return bool(fs.exists(hpath))


def delete_document(spark: SparkSession, lake: Lake, doc_id: str) -> None:
    """S8 delete + cascade (backend/main_v1.py:328-346): row-level delete
    via a merge of nothing over the single bucket holding the doc (Iceberg
    path: ``DELETE FROM lake.results WHERE doc_id = …``).

    The bucket is COMPUTED from the doc_id (pmod(xxhash64(doc_id), n)) so
    the scan partition-prunes to that one directory instead of reading the
    full table to discover where the doc lives.
    """
    merge_bucketed(lake, RESULTS,
                   spark.createDataFrame([], SCHEMAS[RESULTS]),
                   spark.createDataFrame([(doc_id,)], "doc_id string"),
                   [doc_bucket(spark, lake, doc_id)])


def compact_stream(spark: SparkSession, lake: Lake) -> dict:
    """Fold the streaming surface into the main lake tables.

    For every doc in results_stream, its LATEST micro-batch row wins: the
    parquet stand-in for ``MERGE INTO lake.results USING results_stream ON
    doc_id`` (``merge_bucketed`` re-derives fields_long), followed by
    truncating the staging table.  Only buckets that streamed data are
    rewritten.  Idempotent: a crash after a main write but before the
    stream clear re-merges the same rows.
    """
    stream = read_table(spark, lake, STREAM_RESULTS)
    if stream is None:
        return {"docs": 0, "buckets": 0}
    latest = (stream.groupBy("doc_id")
              .agg(F.max("ingest_batch").alias("ingest_batch")))
    n_docs = latest.count()
    buckets = [r["bucket"]
               for r in stream.select("bucket").distinct().collect()]

    fresh = stream.join(latest, ["doc_id", "ingest_batch"]).drop("ingest_batch")
    merge_bucketed(lake, RESULTS, fresh, latest.select("doc_id"), buckets)
    _delete_partition_dir(spark, lake.path(STREAM_RESULTS))
    return {"docs": n_docs, "buckets": len(buckets)}


def export_results_csv(results: DataFrame, path: str) -> None:
    """S10 CSV export (frontend ResultsTable.tsx:51-74): doc summary,
    single headered file."""
    (results.select(
        "doc_id", "document_type", "status",
        F.round("overall_confidence", 2).alias("confidence"),
        F.size("fields").alias("n_fields"), "n_pages")
     .coalesce(1).write.option("header", True).mode("overwrite").csv(path))
