"""Per-layer measurements taken from outside the layers.

* ``core``: each per-document function the Spark stage calls, timed in
  this process over the whole corpus.
* ``capture_batch_fn`` / ``adapter_s``: the batch function ``run_pipeline``
  hands to ``mapInArrow``, captured at plan time and run here on the
  corpus's RecordBatches.
* ``floors``: a scan-only pass and an identity ``mapInArrow`` pass.
"""

from __future__ import annotations

import time
from pathlib import Path

from . import corpus, engine, trace


def core(layout: dict) -> dict:
    """Seconds spent in each per-document layer over the corpus, the
    decode call count, and the document / span counts they divide by."""
    from ocr_documents_spark.extractors import pipeline_pure as pp
    from ocr_documents_spark.extractors.boilerplate import html_to_page_text
    from ocr_documents_spark.extractors.classify import classify_enhanced
    from ocr_documents_spark.extractors.doc_types import extract_fields
    from ocr_documents_spark.extractors.media import decode_media_ref
    from ocr_documents_spark.extractors.registry import \
        CLASSIFY_MIN_CONFIDENCE

    docs = list(corpus.read_documents(layout))
    clock = time.perf_counter
    # the counting pass doubles as the warm-up of every timing below
    decodes = decode_calls(docs)

    t0 = clock()
    for doc_id, spans in docs:
        pp.process_document(doc_id, spans)
    total = clock() - t0

    t0 = clock()
    gates = [pp.document_quality_report(spans) for _, spans in docs]
    gate = clock() - t0
    passed = [spans for (_, spans), g in zip(docs, gates) if g[0]]

    refs = [s["media_ref"] or "" for spans in passed for s in spans
            if s["kind"] == "media"]
    t0 = clock()
    for ref in refs:
        decode_media_ref(ref)
    decode = clock() - t0

    htmls = [s["text"] or "" for spans in passed for s in spans
             if s["kind"] == "html"]
    t0 = clock()
    for html in htmls:
        html_to_page_text(html)
    html = clock() - t0

    pages = [pp.recover_pages(spans) for spans in passed]
    texts = ["\n".join(p["text"] for p in ps) for ps in pages]
    t0 = clock()
    types = [classify_enhanced(text) for text in texts]
    classify = clock() - t0

    work = [(p["text"], t) for ps, (t, conf) in zip(pages, types)
            if t != "UNKNOWN" and conf >= CLASSIFY_MIN_CONFIDENCE
            for p in ps]
    t0 = clock()
    for text, doc_type in work:
        extract_fields(text, doc_type)
    extract = clock() - t0

    return {"docs": len(docs), "total_s": total, "gate_s": gate,
            "media_decode_s": decode, "media_spans": len(refs),
            "media_decodes": decodes, "html_strip_s": html,
            "classify_s": classify, "extract_s": extract}


def decode_calls(docs: list) -> int:
    """Calls into ``decode_media_ref`` while ``process_document`` runs
    over ``docs`` — a count that repeats exactly for one corpus."""
    from ocr_documents_spark.extractors import pipeline_pure as pp

    calls = [0]

    def counting(orig):
        def decode(ref):
            calls[0] += 1
            return orig(ref)
        return decode
    with trace.patched(pp, {"decode_media_ref": counting}):
        for doc_id, spans in docs:
            pp.process_document(doc_id, spans)
    return calls[0]


def capture_batch_fn(spark, layout: dict):
    """-> (the function ``run_pipeline`` passes to ``mapInArrow`` for this
    corpus's default plan, number of mapInArrow calls seen, batch rows)."""
    df = engine.docs(spark, layout)
    cls = type(df)
    own = "mapInArrow" in cls.__dict__
    original = cls.mapInArrow
    seen = []

    def spy(self, func, schema, *args, **kwargs):
        seen.append(func)
        return original(self, func, schema, *args, **kwargs)
    cls.mapInArrow = spy
    try:
        from ocr_documents_spark.pipeline import run_pipeline
        run_pipeline(df)
    finally:
        if own:
            cls.mapInArrow = original
        else:
            del cls.mapInArrow
    rows = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    return (seen[0] if seen else None), len(seen), rows


def adapter_s(fn, layout: dict, batch_rows: int) -> float:
    """Wall time of ``fn`` over the corpus in ``batch_rows`` batches."""
    import pyarrow.parquet as pq

    batches = [b for name in layout["files"]
               for b in pq.ParquetFile(Path(layout["path"]) / name)
               .iter_batches(batch_size=batch_rows)]
    t0 = time.perf_counter()
    for _ in fn(iter(batches)):
        pass
    return time.perf_counter() - t0


def floors(spark, layout: dict, repeats: int = 3) -> dict:
    """Median wall of a scan-only pass and of an identity mapInArrow pass
    (the Arrow transfer to and from Python workers)."""
    def identity(batches):
        yield from batches

    def scan():
        engine.noop(engine.docs(spark, layout))

    def arrow():
        df = engine.docs(spark, layout)
        engine.noop(df.mapInArrow(identity, df.schema))

    engine.group(spark, "floors")
    # the first pass of each shape is a warm-up and is not counted
    scans = [engine.timed(scan) for _ in range(repeats + 1)][1:]
    arrows = [engine.timed(arrow) for _ in range(repeats + 1)][1:]
    return {"scan_s": engine.median(scans), "arrow_s": engine.median(arrows)}
