"""JSON-lines docs source (sources/formats.py): round trip + pipeline
parity with the parquet path and the pure oracle."""

from __future__ import annotations

from ocr_documents_spark.extractors.pipeline_pure import process_document
from ocr_documents_spark.fixtures.gen import generate_docs
from ocr_documents_spark.pipeline import DOCS_SCHEMA, run_pipeline
from ocr_documents_spark.sources.formats import read_docs_json, write_docs_json


def test_jsonl_roundtrip_and_pipeline_parity(spark, tmp_path):
    docs = generate_docs(30)
    path = str(tmp_path / "docs_jsonl")
    write_docs_json(spark.createDataFrame(docs, DOCS_SCHEMA), path)

    back = read_docs_json(spark, path)
    assert back.schema == DOCS_SCHEMA
    assert back.count() == 30

    got = {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"])
                         for s in r["out_spans"]]
           for r in run_pipeline(back).collect()}
    for d in docs:
        assert got[d["doc_id"]] == process_document(
            d["doc_id"], d["spans"])["out_spans"]


def test_jsonl_malformed_line_quarantined(spark, tmp_path):
    from ocr_documents_spark.sources.ingest import split_valid
    p = tmp_path / "bad"
    p.mkdir()
    (p / "part-0.json").write_text(
        '{"doc_id": "good", "spans": [{"kind": "text", "text": "hello", '
        '"media_ref": null, "offset": 0}]}\n'
        '{"doc_id": "no-spans"}\n'
        "this is not json at all\n")
    docs = read_docs_json(spark, str(p))
    valid, rejects = split_valid(docs)
    assert [r["doc_id"] for r in valid.collect()] == ["good"]
    reasons = {r["reject_reason"] for r in rejects.collect()}
    # schema-pinned read turns both bad lines into empty/null-span rows,
    # which ingest validation quarantines instead of failing the job
    assert reasons <= {"empty_spans", "null_doc_id"} and reasons
