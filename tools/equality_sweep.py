"""Large-scale span-sequence equality sweep: Spark pipeline vs the
single-node oracle over N deterministic docs, on BOTH physical plans
(cost-model direct and forced-salt explode/regroup).

Usage: python tools/equality_sweep.py [n_docs]     (default 2000)

Beside the n generated docs it puts adversarial documents through both
plans and reports them on their own line: each of the 8k-char pages of
``tests/adversarial_pages.py`` (long letter runs, Arabic runs, the
characters where re.I and lower() disagree) as the second text span after
a template page of every generated kind, so each page is extracted as
that kind.  They have their own census line.

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
Re-run after the ASCII fast path, the linear-time patterns and the
decode-once direct path: 5000/5000 on both plans, census
(3837/716/295/152) reproduced exactly; adversarial documents 840/840
on both plans (census completed=578 partial=129
rejected_classification=133).
"""

from __future__ import annotations

import os
import random
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def adversarial_docs() -> list:
    """One document per (template kind, adversarial page): the kind's
    template page, then the adversarial page, both as text spans."""
    from ocr_documents_spark.fixtures.gen import TEMPLATES
    from tests.adversarial_pages import pages

    docs = []
    for kind, lines_of in TEMPLATES.items():
        head = "\n".join(lines_of(random.Random(0)))
        for name, page in pages(8000):
            docs.append({"doc_id": f"adv:{kind}:{name}", "spans": [
                {"kind": "text", "text": head, "media_ref": None, "offset": 0},
                {"kind": "text", "text": page, "media_ref": None, "offset": 1}]})
    return docs


def main(n_docs: int = 2000) -> int:
    from ocr_documents_spark.extractors.pipeline_pure import process_document
    from ocr_documents_spark.fixtures.gen import generate_docs
    from ocr_documents_spark.pipeline import DOCS_SCHEMA, run_pipeline
    from ocr_documents_spark.session import get_spark

    spark = get_spark("equality-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    sets = {"generated": generate_docs(n_docs),
            "adversarial": adversarial_docs()}
    corpus = [d for docs in sets.values() for d in docs]
    docs = spark.createDataFrame(corpus, DOCS_SCHEMA)
    golden = {d["doc_id"]: process_document(d["doc_id"], d["spans"])
              for d in corpus}

    failures = 0
    for label, thr in (("auto-direct", None), ("forced-salt", 16)):
        rows = {r["doc_id"]: r
                for r in run_pipeline(docs, heavy_threshold=thr).collect()}
        for name, members in sets.items():
            bad = [d["doc_id"] for d in members
                   if rows[d["doc_id"]]["status"] != golden[d["doc_id"]]["status"]
                   or [(s["kind"], s["text"], s["media_ref"], s["order"])
                       for s in rows[d["doc_id"]]["out_spans"]]
                   != golden[d["doc_id"]]["out_spans"]]
            print(f"{label}: {len(members) - len(bad)}/{len(members)} "
                  f"{name} docs equal"
                  + (f"; first mismatch {bad[0]}" if bad else ""))
            failures += len(bad)
    for name, members in sets.items():
        print(f"{name} status census:",
              dict(Counter(golden[d["doc_id"]]["status"] for d in members)))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(int(sys.argv[1]) if len(sys.argv) > 1 else 2000))
