"""Incremental re-extraction: process only what a new snapshot changed.

At 10^12 documents a re-crawl that touches 0.5% of the corpus must not
cost a full re-extraction.  This job closes the loop on
``operators/snapshot_diff``:

1. both snapshots reduce scan-side to (doc_id, 15-hex fingerprint of
   the canonical span JSON) — the diff join shuffles fixed-width
   columns, never span payloads;
2. only ``added`` + ``changed`` documents run the extraction pipeline
   (the expensive Arrow stages see 0.5% of the corpus, not 100%);
3. the lake merge rewrites ONLY the buckets holding touched ids:
   surviving main rows are kept via an anti-join on the stale-id set,
   new results union in, dynamic partition overwrite commits — the
   parquet stand-in for ``MERGE INTO`` (jobs/lake.py contract), plus
   explicit directory drops for buckets the removals emptied
   (dynamic overwrite cannot delete a partition it writes no rows to);
4. ``removed`` ids cascade out of results/fields/rejects in the same
   merge — the S8 delete semantics applied set-wise.

Equivalence contract (tested): starting from a lake holding the full
extraction of snapshot A, incrementally applying snapshot B yields
byte-for-byte the same results/fields tables as a from-scratch full
extraction of snapshot B — while actually processing only the diff.

Reference context: the reference re-uploads and re-processes whole
documents one at a time (backend/main_v1.py:111-157); incremental
corpus maintenance has no analogue there — 100 TB operational surface.
"""
from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_documents_spark.jobs import lake as L
from ocr_documents_spark.operators.snapshot_diff import snapshot_diff
from ocr_documents_spark.pipeline import fields_long, run_pipeline
from ocr_documents_spark.sources.ingest import split_valid


def span_payload(docs: DataFrame) -> DataFrame:
    """(doc_id, text=canonical span JSON) — the fingerprint input.
    ``to_json`` is deterministic for a fixed schema, so equal span
    sequences fingerprint equal on any engine/partitioning."""
    return docs.select("doc_id", F.to_json("spans").alias("text"))


def _merge_table(spark: SparkSession, lake: L.Lake, table: str,
                 fresh: DataFrame, stale_ids: DataFrame,
                 touched: list[int]) -> None:
    """Replace ``stale_ids``' rows in ``table``'s touched buckets with
    ``fresh`` rows; drop buckets the merge emptied."""
    path = lake.path(table)
    if L._path_exists(spark, path):
        kept = (spark.read.parquet(path)
                .filter(F.col("bucket").isin(touched))
                .join(stale_ids, "doc_id", "left_anti"))
        merged = kept.unionByName(fresh.select(*kept.columns))
    else:
        merged = fresh
    merged = merged.persist()
    try:
        present = {r["bucket"] for r in
                   merged.select("bucket").distinct().collect()}
        # every row has a bucket, so no bucket means no rows to write
        if present:
            L.write_bucketed(merged, lake, table)
        for b in set(touched) - present:
            L._delete_partition_dir(spark, f"{path}/bucket={b}")
    finally:
        merged.unpersist()


def incremental_extract(spark: SparkSession, lake: L.Lake,
                        old_docs: DataFrame, new_docs: DataFrame,
                        skip_quality_check: bool = False,
                        forced_type: str | None = None) -> dict:
    """Apply snapshot ``new_docs`` to a lake currently holding the full
    extraction of ``old_docs``.  Returns the diff census + work report.
    """
    run_id = L.new_run_id()
    t0 = time.perf_counter()

    diff = snapshot_diff(span_payload(old_docs),
                         span_payload(new_docs)).persist()
    try:
        census = {r["status"]: r["n_docs"] for r in
                  diff.groupBy("status").agg(
                      F.count(F.lit(1)).alias("n_docs")).collect()}
        todo = (diff.filter(F.col("status").isin("added", "changed"))
                .select("doc_id"))
        # every id leaving or changing must vacate its current lake row
        stale = (diff.filter(F.col("status")
                             .isin("added", "changed", "removed"))
                 .select("doc_id").persist())
        try:
            touched = [r["bucket"] for r in
                       stale.withColumn("bucket", lake.bucket_col())
                       .select("bucket").distinct().collect()]

            to_process = new_docs.join(todo, "doc_id", "left_semi")
            valid, rejects = split_valid(to_process.select("doc_id", "spans"))
            results = (run_pipeline(valid.select("doc_id", "spans"),
                                    skip_quality_check=skip_quality_check,
                                    forced_type=forced_type)
                       .withColumn("bucket", lake.bucket_col()).persist())
            try:
                _merge_table(spark, lake, L.RESULTS, results, stale, touched)
                _merge_table(spark, lake, L.FIELDS_LONG,
                             fields_long(results).withColumn(
                                 "bucket", lake.bucket_col()),
                             stale, touched)
                _merge_table(spark, lake, L.REJECTS,
                             rejects.select("doc_id", "reject_reason")
                             .withColumn("bucket", lake.bucket_col()),
                             stale, touched)
                wall = time.perf_counter() - t0
                L.append(L.bucket_metrics(results, run_id, wall),
                         lake, L.METRICS)
                return {"run_id": run_id, **census,
                        "n_processed": results.count(),
                        "n_buckets_touched": len(touched),
                        "wall_s": round(wall, 3)}
            finally:
                results.unpersist()
        finally:
            stale.unpersist()
    finally:
        diff.unpersist()
