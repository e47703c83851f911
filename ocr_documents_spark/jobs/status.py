"""Lake observability: the v1 polling endpoints re-expressed as reads.

The reference's clients poll GET /api/documents/{id}/status and list
endpoints (backend/main_v1.py:254-325); against the lake the same answers
come from the checkpoints + metrics + rejects tables without touching
results data.  Every table is read through ``lake.read_table``: an absent
table reports none/zero, an unreadable one raises.

Usage: python -m ocr_documents_spark.jobs.status --lake /lake --buckets 256
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from ocr_documents_spark.jobs import lake as L
from ocr_documents_spark.session import get_spark


def summarize(spark: SparkSession, lake_root: str, n_buckets: int) -> dict:
    lake = L.Lake(lake_root, n_buckets)
    done = L.completed_buckets(spark, lake)
    out = {"buckets_total": n_buckets, "buckets_completed": len(done),
           "buckets_pending": n_buckets - len(done)}
    m = L.read_table(spark, lake, L.METRICS)
    if m is None:
        out["metrics"] = "none"
    else:
        latest = (m.withColumn(
            "rn", F.row_number().over(
                Window.partitionBy("bucket").orderBy(F.desc("committed_at"))))
            .filter("rn = 1"))
        agg = latest.agg(
            F.sum("n_docs").alias("docs"),
            F.sum("n_completed").alias("completed"),
            F.sum("n_partial").alias("partial"),
            F.sum("n_rejected_quality").alias("rejected_quality"),
            F.sum("n_rejected_classification").alias("rejected_classification"),
            F.sum("n_fields").alias("fields"),
        ).first()
        out.update({k: int(agg[k] or 0) for k in agg.asDict()})
    rejects = L.read_table(spark, lake, L.REJECTS)
    out["rejected_malformed"] = 0 if rejects is None else rejects.count()
    # streaming surface (idempotent per-batch partitions: no replay
    # double-count) — previously the CLI was blind to streamed docs
    sm = L.read_table(spark, lake, L.STREAM_METRICS)
    out["streamed_docs"] = (
        0 if sm is None else int(sm.agg(F.sum("n_docs")).first()[0] or 0))
    # compaction folds only results_stream: staged ingest rejects (which
    # may lack a doc_id to merge on) are counted where they lie
    sr = L.read_table(spark, lake, L.STREAM_REJECTS)
    out["streamed_rejected_malformed"] = 0 if sr is None else sr.count()
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--lake", required=True)
    p.add_argument("--buckets", type=int, default=256)
    p.add_argument("--document-types", action="store_true",
                   help="print the supported-type inventory "
                        "(GET /api/document-types analogue) and exit")
    args = p.parse_args(argv)
    if args.document_types:
        from ocr_documents_spark.extractors.registry import list_document_types
        for t in list_document_types():
            print(f"{t['type']}: {t['n_fields']} fields")
        return 0
    spark = get_spark("lake-status")
    print(summarize(spark, args.lake, args.buckets))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
