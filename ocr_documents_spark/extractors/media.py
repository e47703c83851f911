"""Deterministic media-span text recovery (the OCR stand-in).

In production the seam below is where a real OCR engine (pytesseract /
easyocr) plugs in, batch-at-a-time.  In this sandbox no OCR engine exists, so
a media span's ``media_ref`` carries its own deterministic payload
(FIXTURES.md §3)::

    m:<doc_id>:<offset>:<b64payload>

where ``b64payload`` is base64(zlib(json)) — standard alphabet, no ':'
so the ref still splits cleanly; CPython's b64decode is C-accelerated
while b32decode is pure Python and measured 29x slower, 40% of the whole
extraction pipeline — of::

    {"tokens": [[y, x, "token_text", conf], ...],   # unsorted, EasyOCR-like
     "qc": {"w", "h", "blur", "brightness", "contrast", "skew"}}

``read_media_ref`` is the one parser of this format.  Page recovery and
the gate's QC probe (``decode_media_ref``), the frame sampler and the
metadata UDF (functions/multimodal.py) all read refs through it, so they
agree on what an unreadable payload is.  Recovery mirrors the reference's
EasyOCR post-processing exactly: tokens sorted by (top-left y, x)
(reference: backend/ocr_service.py:41), joined with newlines (:52),
stripped (:57); confidence is the mean token confidence scaled to
percent (:49-55).
"""

from __future__ import annotations

import base64
import json
import os
import time
import zlib
from operator import itemgetter
from typing import Any, Optional

MEDIA_REF_PREFIX = "m:"

# simulate an expensive OCR engine (per-media-decode latency, ms) so the
# salted skew path can be DEMONSTRATED, not just asserted — see
# tools/skew_demo.py.  0 (default) = the pure deterministic decoder.
_SIM_OCR_MS = float(os.environ.get("SPARK_GRAFT_SIMULATED_OCR_MS", "0"))
# the seam's cost per decode_media_ref call, ms: the deterministic decoder
# (~0.05 ms) plus the simulated latency; pipeline.auto_heavy_threshold
# splits the plan on it
DECODE_MS = 0.05 + _SIM_OCR_MS

# QC metrics of an unreadable media payload (fails every gate); also the
# value of each key a payload's qc lacks.
_QC_UNREADABLE = {
    "w": 0, "h": 0, "blur": 0.0, "brightness": 0.0, "contrast": 0.0, "skew": 0.0,
}


def encode_media_ref(doc_id: str, offset: int, tokens: list, qc: dict) -> str:
    """Inverse of :func:`decode_media_ref`; used by the fixture generator."""
    blob = json.dumps({"tokens": tokens, "qc": qc}, separators=(",", ":"))
    payload = base64.b64encode(zlib.compress(blob.encode("utf-8"))).decode("ascii")
    return f"{MEDIA_REF_PREFIX}{doc_id}:{offset}:{payload}"


def read_media_ref(media_ref: Optional[str]
                   ) -> tuple[str, int, list, dict[str, Any]]:
    """Parse a media ref -> ``(doc_id, offset, tokens, qc)``, tokens sorted
    by (y, x) and ``qc`` holding exactly the six QC keys (absent ones
    zero).  Anything unreadable — a None or short ref, a bad payload, a
    ``qc`` that is not an object — gives ``("", 0, [], all-zero QC)``,
    which fails every gate, rather than raising."""
    try:
        _prefix, doc_id, offset, payload = media_ref.split(":", 3)
        blob = zlib.decompress(base64.b64decode(payload))
        # decode utf-8 explicitly: json.loads on bytes runs BOM sniffing
        # (json.detect_encoding) per call, a measured ~10% of the decode;
        # the payload contract is json.dumps utf-8 (never a BOM), and a
        # malformed payload still lands in the except arm either way
        doc = json.loads(blob.decode("utf-8"))
        qc = doc.get("qc", {})
        qc = {k: qc.get(k, zero) for k, zero in _QC_UNREADABLE.items()}
        tokens = sorted(doc.get("tokens", []), key=itemgetter(0, 1))
        return doc_id, int(offset), tokens, qc
    except Exception:
        return "", 0, [], dict(_QC_UNREADABLE)


def decode_media_ref(media_ref: Optional[str]
                     ) -> tuple[str, float, dict[str, Any]]:
    """Recover ``(page_text, confidence_pct, qc_metrics)`` from a media ref.

    This is the pluggable OCR seam: swap ``read_media_ref`` for a real
    engine call and keep the (sort, join, mean-confidence) contract.
    """
    if _SIM_OCR_MS > 0:
        time.sleep(_SIM_OCR_MS / 1000.0)
    _doc_id, _offset, tokens, qc = read_media_ref(media_ref)
    text = "\n".join(t[2] for t in tokens).strip()
    confs = [float(t[3]) * 100.0 for t in tokens]
    avg_conf = sum(confs) / len(confs) if confs else 0.0
    return text, avg_conf, qc
