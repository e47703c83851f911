"""Skew-mitigation demonstration: measure (don't just assert) the salted
explode/regroup path winning when recovery is expensive.

Corpus: one media-heavy document (SPANS media spans) among light docs —
the skew unit the north rule names, invisible to AQE because it hides
inside a single row.  Recovery cost is simulated per decode via
SPARK_GRAFT_SIMULATED_OCR_MS (a real OCR engine costs 100-1000 ms/span;
the demo uses a modest value so it runs in seconds).

Two runs of the identical job:
* direct plan (heavy_threshold above the doc): the heavy doc's recovery is
  serial inside one task -> wall ~= SPANS x cost.
* salted plan (heavy_threshold 64, and 16 for the warm-up pass, passed
  explicitly): spans fan out across all cores -> wall ~= SPANS x cost /
  cores + shuffle overhead.

Usage: python tools/skew_demo.py [spans] [cost_ms]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SPANS = int(sys.argv[1]) if len(sys.argv) > 1 else 2048
COST_MS = float(sys.argv[2]) if len(sys.argv) > 2 else 2.0


def measure(salted: bool) -> float:
    """Run in a subprocess so the env-derived decode cost is fresh per
    measurement."""
    code = f"""
import time, random, sys
sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})
from ocr_documents_spark.session import get_spark
from ocr_documents_spark.pipeline import DOCS_SCHEMA, run_pipeline
from ocr_documents_spark.fixtures.gen import _media_span, QC_GOOD, generate_docs

spark = get_spark("skew-demo"); spark.sparkContext.setLogLevel("ERROR")
rng = random.Random(7)
heavy_spans = [_media_span("heavy1", i, [f"line {{i}}"], dict(QC_GOOD), rng)
               for i in range({SPANS})]
rows = [("heavy1", [(s["kind"], s["text"], s["media_ref"], s["offset"])
                    for s in heavy_spans])]
for d in generate_docs(63):
    rows.append((d["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["offset"])
                               for s in d["spans"]]))
docs = spark.createDataFrame(rows, DOCS_SCHEMA).repartition(32)
# warm python workers + both stage shapes without the heavy doc
run_pipeline(docs.filter("doc_id != 'heavy1'"), heavy_threshold={16 if salted else 10**9})\\
    .write.format("noop").mode("overwrite").save()
t0 = time.perf_counter()
run_pipeline(docs, heavy_threshold={64 if salted else 10**9})\\
    .write.format("noop").mode("overwrite").save()
print("WALL", time.perf_counter() - t0)
spark.stop()
"""
    env = dict(os.environ, SPARK_GRAFT_SIMULATED_OCR_MS=str(COST_MS))
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, env=env, timeout=1200)
    for line in out.stdout.splitlines():
        if line.startswith("WALL "):
            return float(line.split()[1])
    raise RuntimeError(out.stderr[-2000:])


def main() -> None:
    t_direct = measure(salted=False)
    t_salted = measure(salted=True)
    print(json.dumps({
        "heavy_doc_spans": SPANS,
        "simulated_ocr_ms_per_span": COST_MS,
        "serial_recovery_floor_s": round(SPANS * COST_MS / 1000, 2),
        "direct_plan_wall_s": round(t_direct, 2),
        "salted_plan_wall_s": round(t_salted, 2),
        "speedup": round(t_direct / t_salted, 2)}, indent=2))


if __name__ == "__main__":
    main()
