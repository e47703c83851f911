"""Single-document oracle pipeline (no Spark).

Runs the exact span->out_spans transformation the Spark pipeline must
reproduce, one document at a time.  The Spark operators import and call the
same functions from this package, so per-document span-sequence equality
``(kind, text, media_ref, order)`` is by construction — and this module is
what the pytest oracle executes to build the golden table (SURVEY.md §5.2).

Lifecycle mirrored from the reference's live path (backend/main.py:94-234):

1. recover page text per span in offset order (media spans decoded via the
   deterministic OCR stand-in; born-digital text spans pass through with the
   85.0 default confidence the reference assigns to pre-extracted text,
   backend/ocr_service.py:1536),
2. quality gate on the first media span's metrics
   (backend/image_quality_checker.py first-page probe :242-254),
3. classify the offset-ordered concatenated text with the enhanced
   classifier; reject below confidence 40 or UNKNOWN (backend/main.py:162),
4. per-page field extraction with first-match-wins merge across pages
   (backend/ocr_service.py:1609-1625),
5. status: completed when >=30% of the type's expected fields extracted
   (backend/ocr_service.py:1641).

Output span layout (FIXTURES.md §2): order 0 = doc_type span, orders 1..P =
per-page raw text (media_ref set for media-derived pages), then one
``field:<name>`` span per extracted field in dict-insertion order.
Rejected documents emit a single ``status`` span.
"""

from __future__ import annotations

from typing import Any, Dict, List, Optional, Sequence, Tuple

from .boilerplate import html_to_page_text
from .classify import classify_enhanced
from .doc_types import extract_fields
from .media import decode_media_ref
from .quality import quality_report
from .registry import CLASSIFY_MIN_CONFIDENCE, COMPLETED_FIELD_FRACTION, expected_field_count

TEXT_SPAN_CONFIDENCE = 85.0  # backend/ocr_service.py:1536 (pre-extracted text)

OutSpan = Tuple[str, Optional[str], Optional[str], int]


def recover_span(kind: Optional[str], text: Optional[str],
                 media_ref: Optional[str]) -> Dict[str, Any]:
    """One span -> its page ``{text, confidence, media_ref}``.

    Media spans go through the OCR decode seam; html spans through the
    DOM-heuristic boilerplate strip (extractors/boilerplate.py); text
    spans pass through.  Born-digital spans carry the 85.0 confidence.
    ``media_ref`` is kept only on media-derived pages.
    """
    if kind == "media":
        return _media_page(media_ref, decode_media_ref(media_ref))
    if kind == "html":
        text = html_to_page_text(text or "")
    return {"text": text or "", "confidence": TEXT_SPAN_CONFIDENCE,
            "media_ref": None}


def _media_page(media_ref: Optional[str], decoded) -> Dict[str, Any]:
    page_text, conf, _qc = decoded
    return {"text": page_text, "confidence": conf, "media_ref": media_ref}


def recover_pages(spans: Sequence[Dict[str, Any]]) -> List[Dict[str, Any]]:
    """Spans (any order) -> offset-ordered pages with recovered text.

    Spans sharing an offset keep their input order (``sorted`` is
    stable).
    """
    return [recover_span(s["kind"], s["text"], s["media_ref"])
            for s in sorted(spans, key=lambda s: s["offset"])]


def rejected_quality_result(doc_id: str, n_spans: int,
                            issues: Optional[List[str]] = None,
                            warnings: Optional[List[str]] = None
                            ) -> Dict[str, Any]:
    """Result shape for a document that failed the quality gate.

    The reference aborts BEFORE OCR on quality failure (backend/main.py:137-152
    returns HTTP 400 pre-OCR), so no page text or confidence ever exists for
    these documents; we encode that as confidence 0.0 and no recovered pages.
    ``issues``/``warnings`` carry the Q5 triage surface (the 400 body's
    ``issues[]``/``warnings[]``, image_quality_checker.py:56-62).
    """
    return {
        "doc_id": doc_id, "pages": [], "raw_text": "",
        "document_type": None, "classify_confidence": 0.0, "fields": {},
        "overall_confidence": 0.0, "status": "rejected_quality",
        "n_pages": n_spans,
        "quality_issues": list(issues or []),
        "quality_warnings": list(warnings or []),
        "out_spans": [("status", "rejected_quality", None, 0)],
    }


def process_recovered(doc_id: str, pages: Sequence[Dict[str, Any]],
                      forced_type: Optional[str] = None,
                      quality_warnings: Sequence[str] = ()) -> Dict[str, Any]:
    """Steps 3-5 over already-recovered, quality-passed pages.

    This is the exact function the Spark heavy-path finalize stage
    (mapInArrow) calls per document, after the gate (document_quality_report)
    and the per-span recovery (recover_span) ran as Arrow UDFs upstream,
    mirroring the oracle's cheap-first order.  Sharing it is what makes
    span-sequence equality structural rather than aspirational.

    ``forced_type`` mirrors the reference's explicit ``document_type``
    upload parameter (backend/main.py:175-188): classification and its
    gate are skipped entirely.  This is the ONLY way LABOR_CONTRACT
    documents are processable — neither our classifier nor the reference's
    has rules for that type (enhanced_document_classifier.py:76-328),
    so auto-detect faithfully rejects them.
    """
    raw_text = "\n".join(p["text"] for p in pages)
    confs = [p["confidence"] for p in pages]
    result: Dict[str, Any] = {
        "doc_id": doc_id,
        "pages": pages,
        "raw_text": raw_text,
        "document_type": None,
        "classify_confidence": 0.0,
        "fields": {},
        "overall_confidence": sum(confs) / len(confs) if confs else 0.0,
        "status": None,
        "n_pages": len(pages),
        "quality_issues": [],
        "quality_warnings": list(quality_warnings),
    }

    if forced_type is not None:
        doc_type, conf = forced_type, 100.0
    else:
        doc_type, conf = classify_enhanced(raw_text)
    result["document_type"] = doc_type
    result["classify_confidence"] = conf
    if doc_type == "UNKNOWN" or conf < CLASSIFY_MIN_CONFIDENCE:
        result["status"] = "rejected_classification"
        result["out_spans"] = [("status", "rejected_classification", None, 0)]
        return result

    # per-page extraction, first-match-wins across pages
    fields: Dict[str, Dict[str, Any]] = {}
    for page_num, page in enumerate(pages, start=1):
        for name, data in extract_fields(page["text"], doc_type).items():
            if name not in fields:
                fields[name] = {"value": data["value"],
                                "confidence": data["confidence"],
                                "page": page_num,
                                "media_ref": page["media_ref"]}
    result["fields"] = fields

    expected = expected_field_count(doc_type)
    if fields and len(fields) >= expected * COMPLETED_FIELD_FRACTION:
        result["status"] = "completed"
    else:
        result["status"] = "partial"

    out: List[OutSpan] = [("doc_type", doc_type, None, 0)]
    for i, page in enumerate(pages, start=1):
        out.append(("raw_text", page["text"], page["media_ref"], i))
    order = len(pages) + 1
    for name, data in fields.items():
        value = data["value"]
        out.append((f"field:{name}",
                    None if value is None else str(value),
                    data["media_ref"], order))
        order += 1
    result["out_spans"] = out
    return result


def _quality_probe(spans: Sequence[Dict[str, Any]], skip_quality_check: bool):
    """The gate rule -> (passed, issues, warnings, the probed span or None,
    its decode or None)."""
    media = [s for s in spans if s["kind"] == "media"]
    if skip_quality_check or not media:
        return True, [], [], None, None
    # min, like recover_pages' sort, keeps input order among equal offsets
    first = min(media, key=lambda s: s["offset"])
    decoded = decode_media_ref(first["media_ref"])
    passed, _score, issues, warnings = quality_report(**decoded[2])
    return passed, issues, warnings, first, decoded


def document_quality_report(spans: Sequence[Dict[str, Any]],
                            skip_quality_check: bool = False
                            ) -> Tuple[bool, List[str], List[str]]:
    """Gate on the FIRST media page's metrics only (page order; a missing
    or unreadable ref fails) — decoded BEFORE any other recovery work
    (cheap-first; the reference renders only page 1 at reduced dpi for the
    same reason, backend/image_quality_checker.py:245).
    -> (passed, issues, warnings) — the full Q5 surface.
    """
    return _quality_probe(spans, skip_quality_check)[:3]


def process_document(doc_id: str, spans: Sequence[Dict[str, Any]],
                     skip_quality_check: bool = False,
                     forced_type: Optional[str] = None) -> Dict[str, Any]:
    """Full oracle pipeline for one document (gate first, then recover).
    The gate's decode of its span is that span's page: each media ref is
    decoded once."""
    ok, issues, warnings, probed, decoded = _quality_probe(
        spans, skip_quality_check)
    if not ok:
        return rejected_quality_result(doc_id, len(spans), issues, warnings)
    pages = [_media_page(s["media_ref"], decoded) if s is probed
             else recover_span(s["kind"], s["text"], s["media_ref"])
             for s in sorted(spans, key=lambda s: s["offset"])]
    return process_recovered(doc_id, pages, forced_type,
                             quality_warnings=warnings)
