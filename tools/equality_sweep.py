"""Large-scale span-sequence equality sweep: Spark pipeline vs the
single-node oracle over N deterministic docs, on BOTH physical plans
(cost-model direct and forced-salt explode/regroup).

Usage: python tools/equality_sweep.py [n_docs]     (default 2000)

Last full run (round 2, after the Q5 issues/warnings surface + warn-QC
fixtures): 2000/2000 docs equal on both plans; status census
completed=1534 partial=284 rejected_classification=120 rejected_quality=62.
Re-run after the html span kind landed (~15% of chunks republished as
HTML pages, DOM boilerplate strip in recovery): 2000/2000 on both plans
with the SAME census — the line-preserving strip changes no extraction
outcome.  Widened to 5000 docs end of round 2: 5000/5000 on both plans
(census completed=3837 partial=716 rejected_classification=295
rejected_quality=152).
Re-run end of round 5, after the single-dataflow heavy-gate rewrite
(rejected docs ride blanked-spans metadata rows instead of a filter +
union branch): 2000/2000 on both plans, census unchanged
(completed=1534 partial=284 rejected_classification=120
rejected_quality=62); widened to 5000/5000 on both plans with the
round-2 census (3837/716/295/152) reproduced exactly.
Re-run end of round 6, after the media-decode tweak (utf-8 decode
before json parse + itemgetter sort key): 5000/5000 on both plans,
census (3837/716/295/152) reproduced exactly.
"""

from __future__ import annotations

import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(n_docs: int = 2000) -> int:
    from ocr_documents_spark.extractors.pipeline_pure import process_document
    from ocr_documents_spark.fixtures.gen import generate_docs
    from ocr_documents_spark.pipeline import DOCS_SCHEMA, run_pipeline
    from ocr_documents_spark.session import get_spark

    spark = get_spark("equality-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    corpus = generate_docs(n_docs)
    docs = spark.createDataFrame(corpus, DOCS_SCHEMA)
    golden = {d["doc_id"]: process_document(d["doc_id"], d["spans"])
              for d in corpus}

    failures = 0
    for label, thr in (("auto-direct", None), ("forced-salt", 16)):
        rows = {r["doc_id"]: r
                for r in run_pipeline(docs, heavy_threshold=thr).collect()}
        bad = [did for did, g in golden.items()
               if rows[did]["status"] != g["status"]
               or [(s["kind"], s["text"], s["media_ref"], s["order"])
                   for s in rows[did]["out_spans"]] != g["out_spans"]]
        print(f"{label}: {n_docs - len(bad)}/{n_docs} docs equal"
              + (f"; first mismatch {bad[0]}" if bad else ""))
        failures += len(bad)
    print("status census:",
          dict(Counter(g["status"] for g in golden.values())))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(int(sys.argv[1]) if len(sys.argv) > 1 else 2000))
