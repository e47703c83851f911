"""The correctness gate: per-document span-sequence equality
(kind, text, media_ref, order) between the Spark pipeline and the
single-node oracle (BASELINE.json per-row invariant).
"""

import pytest

from ocr_documents_spark.extractors.pipeline_pure import process_document
from ocr_documents_spark.fixtures.gen import generate_docs

N_DOCS = 150


@pytest.fixture(scope="module")
def corpus():
    return generate_docs(N_DOCS)


# None = cost-model auto (cheap synthetic decode -> zero-shuffle direct
# path); 16 = forced low threshold so media-heavy fixture docs exercise the
# salted explode/regroup path.  Equality must hold on BOTH physical plans.
@pytest.fixture(scope="module", params=[None, 16],
                ids=["auto-direct", "forced-salt"])
def spark_results(request, spark, corpus):
    from ocr_documents_spark.pipeline import DOCS_SCHEMA, run_pipeline
    docs = spark.createDataFrame(corpus, DOCS_SCHEMA)
    rows = run_pipeline(docs, heavy_threshold=request.param).collect()
    return {r["doc_id"]: r for r in rows}


def test_span_sequence_equality(spark_results, corpus):
    assert len(spark_results) == N_DOCS
    mismatches = []
    for d in corpus:
        golden = process_document(d["doc_id"], d["spans"])
        got = spark_results[d["doc_id"]]
        got_spans = [(s["kind"], s["text"], s["media_ref"], s["order"])
                     for s in got["out_spans"]]
        if got_spans != golden["out_spans"]:
            mismatches.append((d["doc_id"], golden["out_spans"], got_spans))
    assert not mismatches, f"{len(mismatches)} docs mismatch; first: {mismatches[0]}"


def test_status_and_confidence_equality(spark_results, corpus):
    for d in corpus:
        golden = process_document(d["doc_id"], d["spans"])
        got = spark_results[d["doc_id"]]
        assert got["status"] == golden["status"], d["doc_id"]
        assert got["overall_confidence"] == pytest.approx(
            golden["overall_confidence"], abs=1e-9)
        if golden["status"] in ("completed", "partial"):
            assert got["document_type"] == golden["document_type"]
            assert [f["name"] for f in got["fields"]] == list(golden["fields"])


def test_all_statuses_exercised(spark_results):
    statuses = {r["status"] for r in spark_results.values()}
    assert {"completed", "partial", "rejected_quality",
            "rejected_classification"} <= statuses


def test_quality_surface_equality(spark_results, corpus):
    """Q5: issues[]/warnings[] must match the oracle byte-for-byte on both
    physical plans."""
    seen_warn = seen_issue = 0
    for d in corpus:
        golden = process_document(d["doc_id"], d["spans"])
        got = spark_results[d["doc_id"]]
        assert list(got["quality_issues"]) == golden["quality_issues"], d["doc_id"]
        assert list(got["quality_warnings"]) == golden["quality_warnings"], d["doc_id"]
        seen_warn += bool(golden["quality_warnings"])
        seen_issue += bool(golden["quality_issues"])
    assert seen_warn > 0 and seen_issue > 0  # corpus exercises both channels


def _gate_docs():
    """Hand-built heavy docs (8 spans each) for the gate tests; see
    test_native_gate_messages_match_oracle for what each one pins."""
    from ocr_documents_spark.extractors.media import encode_media_ref
    from ocr_documents_spark.fixtures.gen import QC_FAILS, QC_GOOD, QC_WARNS

    def media(doc_id, off, qc):
        return ("media", None,
                encode_media_ref(doc_id, off, [[3, 5, f"line {off}", 0.9]], qc),
                off)

    docs = []
    for i, qc in enumerate(QC_FAILS + QC_WARNS + [QC_GOOD,
                                                   dict(QC_GOOD, blur=12.25)]):
        doc_id = f"qc{i:03d}"
        # > heavy_threshold=4 -> heavy-path gate
        docs.append((doc_id, [media(doc_id, off, qc) for off in range(8)]))
    docs.append(("unordered", [
        media("unordered", 5, QC_FAILS[0]),
        ("text", "INVOICE\nInvoice No: 77\nTotal: 10.00", None, 3),
        media("unordered", 0, QC_WARNS[0]),
        ("media", None, None, 0),
        media("unordered", 2, QC_GOOD),
        ("text", "Bill To: Acme", None, 1),
        media("unordered", 7, QC_GOOD),
        ("text", "Subtotal: 10.00", None, 6),
    ]))
    docs.append(("born_digital", [
        ("text", f"INVOICE line {off}\nInvoice No: {off}", None, off)
        for off in range(8)]))
    docs.append(("stray_refs", [media("stray_refs", 0, QC_GOOD)] + [
        ("text", f"INVOICE\nInvoice No: {off}\nTotal: 10.00",
         f"stray-ref-{off}", off) for off in range(1, 8)]))
    docs.append(("null_ref_first", [("media", None, None, 0)] + [
        media("null_ref_first", off, QC_GOOD) for off in range(1, 8)]))
    return docs


def _compare_to_oracle(spark, docs, heavy_threshold, skip_quality_check):
    """run_pipeline over ``docs`` -> its rows by doc_id, after asserting
    every doc's messages, status and out_spans equal the pure report's."""
    from ocr_documents_spark.pipeline import DOCS_SCHEMA, run_pipeline

    df = spark.createDataFrame(docs, DOCS_SCHEMA)
    got = {r["doc_id"]: r for r in run_pipeline(
        df, skip_quality_check=skip_quality_check,
        heavy_threshold=heavy_threshold).collect()}
    assert len(got) == len(docs)
    for doc_id, spans in docs:
        golden = process_document(
            doc_id, [{"kind": k, "text": t, "media_ref": m, "offset": o}
                     for (k, t, m, o) in spans],
            skip_quality_check=skip_quality_check)
        assert list(got[doc_id]["quality_issues"]) == golden["quality_issues"], doc_id
        assert list(got[doc_id]["quality_warnings"]) == golden["quality_warnings"], doc_id
        assert got[doc_id]["status"] == golden["status"]
        assert [(s["kind"], s["text"], s["media_ref"], s["order"])
                for s in got[doc_id]["out_spans"]] == golden["out_spans"], doc_id
    return got


def test_native_gate_messages_match_oracle(spark):
    """Run hand-built warn/fail docs of every QC variant, plus the inputs
    a second gate implementation got wrong or could get wrong, through
    both plans (heavy_threshold=4 forces the heavy-path gate) and compare
    messages, status and out_spans to the pure report:

    * blur=12.25 — '%.1f' of the exact binary value rounds half-even to
      12.2 (a Java format_string rounds half-up to 12.3);
    * spans out of offset order with two media spans sharing the lowest
      offset, the rotated one first in the array and then one with a
      null media_ref: the gate reads the first media page in page order
      (stable offset order), so the rotated span's warning appears, and
      the blurry span's failure at offset 5, first in the array, does not;
    * a heavy born-digital doc with no media span;
    * text spans carrying a stray media_ref: their raw_text pages keep
      no ref on the heavy plan either;
    * a first media page with a null media_ref: unreadable, so it fails
      the gate like any bad image."""
    for heavy_threshold in (None, 4):
        got = _compare_to_oracle(spark, _gate_docs(), heavy_threshold,
                                 skip_quality_check=False)
        assert "Image is blurry (score: 12.2)" in got["qc008"]["quality_issues"][0]
        assert got["unordered"]["status"] != "rejected_quality"
        assert list(got["unordered"]["quality_warnings"]) == [
            "Document appears rotated by 7.3°. This may affect extraction "
            "accuracy."]
        assert got["null_ref_first"]["status"] == "rejected_quality"


@pytest.mark.parametrize("heavy_threshold", [None, 4],
                         ids=["auto-direct", "forced-salt"])
def test_skip_quality_check_matches_oracle(spark, heavy_threshold):
    """Q7 skip switch: with ``skip_quality_check`` no document is gated,
    on either plan, and every result equals the oracle's."""
    got = _compare_to_oracle(spark, _gate_docs(), heavy_threshold,
                             skip_quality_check=True)
    assert all(r["status"] != "rejected_quality" for r in got.values())
    assert all(not r["quality_issues"] and not r["quality_warnings"]
               for r in got.values())


def test_fields_long_explode(spark, spark_results):
    from ocr_documents_spark.pipeline import fields_long
    import pandas as pd  # noqa: F401
    from pyspark.sql import Row
    results_df = spark.createDataFrame(list(spark_results.values()))
    long_df = fields_long(results_df)
    total_fields = sum(len(r["fields"]) for r in spark_results.values()
                       if r["fields"] is not None)
    assert long_df.count() == total_fields
    assert set(long_df.columns) == {"doc_id", "document_type", "field_name",
                                    "field_value", "confidence", "page_number"}
