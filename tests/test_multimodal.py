"""Multimodal frame-sample + resize plumbing (functions/multimodal.py)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_documents_spark.extractors.media import (decode_media_ref,
                                                  encode_media_ref)
from ocr_documents_spark.extractors.pipeline_pure import process_document
from ocr_documents_spark.extractors.quality import quality_report
from ocr_documents_spark.functions.multimodal import (FRAME_MS,
                                                      frame_rows_for_ref,
                                                      media_meta_for_ref,
                                                      sample_frame_indices)

ZERO_QC = {"w": 0, "h": 0, "blur": 0.0, "brightness": 0.0, "contrast": 0.0,
           "skew": 0.0}


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=0, max_value=5000),
       st.integers(min_value=1, max_value=16))
def test_sample_indices_invariants(n, k):
    idxs = sample_frame_indices(n, k)
    if n == 0:
        assert idxs == []
        return
    assert idxs == sorted(set(idxs))                 # strictly increasing
    assert all(0 <= i < n for i in idxs)
    assert len(idxs) <= max(k, 1)
    assert idxs[0] == 0                              # first frame always
    if n > k > 1:
        assert idxs[-1] == n - 1                     # last frame too
    if n <= k and k > 1:
        assert idxs == list(range(n))                # short clip: all


def test_corrupt_ref_yields_no_frames():
    assert frame_rows_for_ref("m:doc:0:!!notbase64!!", 4) == []
    assert frame_rows_for_ref("", 4) == []


def test_frame_rows_decode_order_and_clock():
    tokens = [[20, 1, "late", 0.5], [0, 1, "early", 0.25],
              [10, 1, "mid", 0.75]]
    ref = encode_media_ref("d7", 3, tokens, {"w": 640, "h": 480})
    rows = frame_rows_for_ref(ref, 4)
    assert [r["frame_text"] for r in rows] == ["early", "mid", "late"]
    assert [r["ts_ms"] for r in rows] == [0, FRAME_MS, 2 * FRAME_MS]
    assert rows[0]["doc_id"] == "d7" and rows[0]["media_offset"] == 3
    assert rows[0]["frame_conf"] == 0.25


def _every_reader(ref):
    spans = [{"kind": "media", "text": None, "media_ref": ref, "offset": 0}]
    return (decode_media_ref(ref), frame_rows_for_ref(ref, 4),
            media_meta_for_ref(ref), process_document("d", spans))


def test_malformed_payloads_read_alike_everywhere():
    """The OCR decode, the gate, the frame sampler and the metadata UDF all
    read a ref through read_media_ref: a payload whose qc is not an object
    reads as unreadable everywhere instead of raising, and a partial qc is
    completed with zeros everywhere."""
    tokens = [[0, 1, "only", 0.5]]
    for ref in (encode_media_ref("d", 0, tokens, [640, 480]),
                "m:d:0:!!notbase64!!"):
        decoded, frames, meta, result = _every_reader(ref)
        assert decoded == ("", 0.0, ZERO_QC)
        assert frames == []
        assert meta == {**ZERO_QC, "n_tokens": 0, "mean_token_conf": 0.0}
        assert result["status"] == "rejected_quality"
        assert result["quality_issues"] == quality_report(**ZERO_QC)[2]
    assert decode_media_ref(None) == ("", 0.0, ZERO_QC)
    assert media_meta_for_ref(None) == meta

    qc = {**ZERO_QC, "w": 640, "h": 480}
    decoded, frames, meta, result = _every_reader(
        encode_media_ref("d", 0, tokens, {"w": 640, "h": 480}))
    assert decoded == ("only", 50.0, qc)
    assert [(f["w"], f["h"]) for f in frames] == [(640, 480)]
    assert meta == {**qc, "n_tokens": 1, "mean_token_conf": 0.5}
    assert result["status"] == "rejected_quality"
    assert result["quality_issues"] == quality_report(**qc)[2]


def test_resize_dims_native(spark):
    from pyspark.sql import functions as F

    from ocr_documents_spark.functions.multimodal import resize_dims
    df = spark.createDataFrame(
        [(1240, 920), (920, 1240), (224, 224), (1, 5000), (0, 480)],
        "w int, h int")
    got = [(r["rz"]["out_w"], r["rz"]["out_h"]) for r in
           df.select(resize_dims(F.col("w"), F.col("h"), 224)
                     .alias("rz")).collect()]
    exp = []
    for w, h in [(1240, 920), (920, 1240), (224, 224), (1, 5000), (0, 480)]:
        if w <= 0 or h <= 0:
            exp.append((0, 0))
        else:
            ls = max(w, h)
            exp.append((max(1, w * 224 // ls), max(1, h * 224 // ls)))
    assert got == exp
    assert got[0] == (224, 166) and got[3] == (1, 224)
