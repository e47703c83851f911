"""Resumable extraction job over doc_id bucket ranges.

spark-submit entry point (north rule: ``spark-submit --py-files``):

    zip -r engine.zip ocr_documents_spark
    spark-submit --py-files engine.zip ocr_documents_spark/jobs/extract.py \
        --input /lake/docs --lake /lake --buckets 256 --range 0:64

Each invocation claims a bucket range, subtracts already-checkpointed
buckets (resume), runs the shared extraction routine ``lake.extracted``
over just those documents, and commits rejects + results + EAV fields
(bucketed dynamic overwrite), then per-bucket lineage metrics, then
checkpoint rows last.  A failed run leaves no checkpoint for its buckets,
so the next run re-drives them; the dynamic-partition-overwrite write
makes the re-drive idempotent (Iceberg path: MERGE INTO, see
jobs/lake.py).

At production scale the input Iceberg table is written
``PARTITIONED BY (bucket(N, doc_id))`` so the claim filter partition-prunes
the scan; on a raw parquet corpus the filter evaluates post-scan.

Reference lineage: this is the v1 async lifecycle (backend/main_v1.py:111-157
pending → processing → completed, polled via status endpoints) re-expressed
as batch jobs over partition ranges with the checkpoint table as the ladder.
"""

from __future__ import annotations

import argparse
import sys
import time
from typing import List

from pyspark.sql import SparkSession

# absolute imports: spark-submit executes this file as __main__, outside the
# package; the package itself arrives via --py-files
from ocr_documents_spark.pipeline import read_docs
from ocr_documents_spark.jobs import lake as L
from ocr_documents_spark.session import get_spark


def parse_range(spec: str, n_buckets: int) -> List[int]:
    """'lo:hi' (half-open) or comma list -> bucket ids."""
    if ":" in spec:
        lo, hi = spec.split(":")
        return list(range(int(lo), min(int(hi), n_buckets)))
    return [int(b) for b in spec.split(",")]


def run(spark: SparkSession, input_path: str, lake_root: str,
        n_buckets: int, claimed: List[int],
        skip_quality_check: bool = False,
        document_type: str | None = None) -> dict:
    lake = L.Lake(lake_root, n_buckets)
    run_id = L.new_run_id()
    pending = L.pending_buckets(spark, lake, claimed)
    report = {"run_id": run_id, "claimed": len(claimed),
              "pending": len(pending), "resumed_skipped": len(claimed) - len(pending)}
    if not pending:
        report["n_docs"] = 0
        return report

    t0 = time.perf_counter()
    docs = read_docs(spark, input_path).filter(
        lake.bucket_col().isin([int(b) for b in pending]))
    with L.extracted(docs, lake, skip_quality_check=skip_quality_check,
                     forced_type=document_type) as tables:
        # bucketed dynamic overwrite: rejects, results, then fields_long
        for table, df in tables.items():
            L.write_bucketed(df, lake, table)
        results = tables[L.RESULTS]
        L.write_bucketed(L.bucketed_fields(lake, results), lake, L.FIELDS_LONG)
        wall = time.perf_counter() - t0
        L.append(L.bucket_metrics(results, run_id, wall), lake, L.METRICS)
        # checkpoint LAST: a crash before this line replays the buckets
        L.append(L.checkpoint_rows(spark, run_id, pending), lake, L.CHECKPOINTS)
        report["n_docs"] = results.count()
        report["wall_s"] = round(wall, 3)
    return report


def main(argv: List[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="docs table path")
    p.add_argument("--lake", required=True, help="output lake root")
    p.add_argument("--buckets", type=int, default=256)
    p.add_argument("--range", dest="range_spec", default=None,
                   help="bucket range lo:hi (half-open) or comma list; "
                        "default = all buckets")
    p.add_argument("--skip-quality-check", action="store_true")
    p.add_argument("--document-type", default=None,
                   help="skip classification; extract every doc as this "
                        "type (reference: explicit document_type upload)")
    args = p.parse_args(argv)

    spark = get_spark("ocr-documents-extract")
    claimed = (parse_range(args.range_spec, args.buckets)
               if args.range_spec else list(range(args.buckets)))
    report = run(spark, args.input, args.lake, args.buckets, claimed,
                 skip_quality_check=args.skip_quality_check,
                 document_type=args.document_type)
    print(report)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
