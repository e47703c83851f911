"""The pure oracle, run as a zero-coordination control, and the checks
that compare the engine's outputs with it.

``control`` runs ``extractors.pipeline_pure.process_document`` over every
document under a ``ProcessPoolExecutor`` of P spawned workers, one parquet
row group per task.  Its wall time is the ceiling Spark is compared with
(``control.docs_per_s``) and its per-document digests are the expected
outputs.  A digest covers ``(doc_id, status, document_type, out_spans)``.
"""

from __future__ import annotations

import hashlib
import multiprocessing
import time
from collections import Counter
from concurrent.futures import ProcessPoolExecutor
from pathlib import Path

from .procs import stop_resource_tracker


def digest(doc_id, status, document_type, out_spans) -> str:
    """``out_spans``: (kind, text, media_ref, order) tuples or the dicts
    Arrow yields for the OUT_SPAN struct."""
    spans = [s if isinstance(s, tuple)
             else (s["kind"], s["text"], s["media_ref"], s["order"])
             for s in out_spans]
    return hashlib.blake2b(repr((doc_id, status, document_type, spans))
                           .encode(), digest_size=16).hexdigest()


def _warm(_):
    from ocr_documents_spark.extractors import pipeline_pure  # noqa: F401
    return True


def _row_group(task):
    import pyarrow.parquet as pq
    from ocr_documents_spark.extractors.pipeline_pure import process_document

    path, group = task
    out = []
    for row in pq.ParquetFile(path).read_row_group(group).to_pylist():
        r = process_document(row["doc_id"], row["spans"])
        out.append((row["doc_id"],
                    digest(row["doc_id"], r["status"], r["document_type"],
                           r["out_spans"]),
                    len(r["fields"])))
    return out


def control(tasks: list, workers: int) -> dict:
    """-> {"docs_per_s", "expected": {doc_id: digest}, "n_fields"}."""
    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(workers, mp_context=ctx) as ex:
        list(ex.map(_warm, range(workers)))
        t0 = time.perf_counter()
        parts = list(ex.map(_row_group, tasks, chunksize=1))
        wall = time.perf_counter() - t0
    stop_resource_tracker()
    rows = [r for part in parts for r in part]
    return {"docs_per_s": len(rows) / wall, "wall_s": wall,
            "expected": {d: g for d, g, _ in rows},
            "n_fields": sum(n for _, _, n in rows)}


def compare(expected: dict, actual: list) -> dict:
    """Count documents missing, duplicated, unexpected or unequal.

    ``actual`` is a list of (doc_id, digest) pairs from the engine."""
    seen = Counter(d for d, _ in actual)
    got = dict(actual)
    missing = sum(1 for d in expected if seen[d] == 0)
    duplicated = sum(1 for d in expected if seen[d] > 1)
    unequal = sum(1 for d, g in expected.items()
                  if seen[d] == 1 and got[d] != g)
    unexpected = sum(1 for d in seen if d not in expected)
    return {"docs": len(expected), "missing": missing,
            "duplicated": duplicated, "unequal": unequal,
            "unexpected": unexpected,
            "failed": missing + duplicated + unequal + unexpected}


def digests_of(table) -> list:
    """(doc_id, digest) pairs of a results table (pyarrow)."""
    cols = table.select(["doc_id", "status", "document_type", "out_spans"])
    return [(r["doc_id"], digest(r["doc_id"], r["status"],
                                 r["document_type"], r["out_spans"]))
            for r in cols.to_pylist()]


def check_lake(lake_root: Path, expected: dict, n_fields: int,
               n_buckets: int) -> dict:
    """Read the four lake tables back and check them against the oracle."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    results = pq.read_table(lake_root / "results")
    docs = compare(expected, digests_of(results))
    fields_rows = pq.read_table(lake_root / "fields_long",
                                columns=["doc_id"]).num_rows
    metric_buckets = pq.read_table(lake_root / "metrics",
                                   columns=["bucket"]).column("bucket")
    result_buckets = pc.unique(results.column("bucket"))
    checkpoints = pq.read_table(lake_root / "checkpoints",
                                columns=["bucket"]).num_rows
    tables = {
        "fields_long_rows_equal_fields": fields_rows == n_fields,
        "metrics_one_row_per_bucket": (
            len(metric_buckets) == len(result_buckets)
            and len(pc.unique(metric_buckets)) == len(metric_buckets)),
        "checkpoints_one_row_per_bucket": checkpoints == n_buckets,
    }
    docs["tables"] = tables
    docs["tables_failed"] = sum(1 for ok in tables.values() if not ok)
    return docs
