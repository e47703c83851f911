"""Every document type's canonical text must classify as ITSELF with
gate-passing confidence — guards the 13 rule sets against mutual
misclassification as they evolve (enhanced classifier rules:
/root/reference/backend/enhanced_document_classifier.py:75-328)."""

import random

import pytest

from ocr_documents_spark.extractors.classify import classify_enhanced
from ocr_documents_spark.extractors.registry import CLASSIFY_MIN_CONFIDENCE
from ocr_documents_spark.fixtures.gen import TEMPLATES

# LABOR_CONTRACT excluded BY PARITY: neither our classifier nor the
# reference's enhanced classifier has rules for it
# (enhanced_document_classifier.py:76-328) — such documents are only
# processable via the explicit document_type path (run_pipeline
# forced_type; see test_forced_type_processes_labor_contract).
TYPES = [t for t in TEMPLATES if t not in ("UNKNOWN", "LABOR_CONTRACT")]


@pytest.mark.parametrize("doc_type", TYPES)
def test_template_classifies_as_itself(doc_type):
    for trial in range(5):
        rng = random.Random(f"cls:{doc_type}:{trial}")
        text = "\n".join(TEMPLATES[doc_type](rng))
        got, conf = classify_enhanced(text)
        assert got == doc_type, f"{doc_type} -> {got} (conf {conf})\n{text}"
        assert conf >= CLASSIFY_MIN_CONFIDENCE


def test_noise_rejected():
    for trial in range(5):
        rng = random.Random(f"cls:UNKNOWN:{trial}")
        text = "\n".join(TEMPLATES["UNKNOWN"](rng))
        got, conf = classify_enhanced(text)
        assert got == "UNKNOWN" or conf < CLASSIFY_MIN_CONFIDENCE, (got, conf)


def test_empty_and_short_text_unknown():
    assert classify_enhanced("")[0] == "UNKNOWN"
    assert classify_enhanced(None)[0] == "UNKNOWN"
    assert classify_enhanced("hi there")[0] == "UNKNOWN"  # <20 chars rule


def test_labor_contract_rejected_by_autodetect():
    """Parity quirk: the reference cannot auto-detect LABOR_CONTRACT."""
    rng = random.Random("cls:LC:0")
    text = "\n".join(TEMPLATES["LABOR_CONTRACT"](rng))
    got, conf = classify_enhanced(text)
    assert got == "UNKNOWN" or conf < CLASSIFY_MIN_CONFIDENCE


def test_forced_type_processes_labor_contract(spark):
    """The explicit document_type path (backend/main.py:175-188): skip
    classification, extract as the given type — end-to-end on Spark."""
    from ocr_documents_spark.extractors.pipeline_pure import process_document
    from ocr_documents_spark.fixtures.gen import make_document
    from ocr_documents_spark.pipeline import DOCS_SCHEMA, run_pipeline

    docs_raw = []
    i = 0
    while len(docs_raw) < 8:  # find LABOR_CONTRACT fixture docs
        d = make_document(i)
        golden_auto = process_document(d["doc_id"], d["spans"])
        text = "\n".join(p["text"] for p in golden_auto["pages"]) \
            if golden_auto["pages"] else ""
        if "EMPLOYMENT CONTRACT" in text:
            docs_raw.append(d)
        i += 1

    docs = spark.createDataFrame(docs_raw, DOCS_SCHEMA)
    rows = {r["doc_id"]: r
            for r in run_pipeline(docs, forced_type="LABOR_CONTRACT").collect()}
    for d in docs_raw:
        golden = process_document(d["doc_id"], d["spans"],
                                  forced_type="LABOR_CONTRACT")
        got = rows[d["doc_id"]]
        assert got["document_type"] == "LABOR_CONTRACT"
        assert got["status"] == golden["status"]
        assert [(s["kind"], s["text"], s["media_ref"], s["order"])
                for s in got["out_spans"]] == golden["out_spans"]
        if golden["status"] != "rejected_quality":
            assert "basic_salary" in [f["name"] for f in got["fields"]]