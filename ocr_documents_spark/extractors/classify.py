"""Document-type classifiers (pure text -> (type, confidence)).

Two rule-based classifiers, matching the reference's scoring semantics:

* :func:`classify_enhanced` — the live classifier (wired at
  backend/main.py:56,160).  Semantics transcribed from
  backend/enhanced_document_classifier.py:330-472: mandatory gate (+25 for
  the first hit, required), exclusion patterns (score hard-zeroed), +10 per
  strong indicator, +3 per weak indicator, x weight, x1.3 when >=3 strong
  hits, zeroed below the per-type required score, confidence =
  min(100, 2*score) then x0.6 when the runner-up is within 15 points.
  UNKNOWN when the stripped text is under 20 chars or nothing scores.

* :func:`classify_simple` — the v1 classifier
  (backend/document_classifier.py:116-181): +10 per keyword substring hit,
  +15 per regex hit, x weight, x1.2 when more than 2 total matches,
  confidence = min(100, score) then x0.7 when the gap to the runner-up is
  under 10.  UNKNOWN when stripped text is under 10 chars or all scores 0.

Rule tables are data; every case-insensitive pattern is compiled once at
import, as written and as its lower-case twin (extractors/casefold.py).
``classify_enhanced`` searches the twins over ``text.lower()`` when the
text is ASCII, and the exact ``re.I`` patterns otherwise; both give the
same ``(type, confidence)``.  The Spark pipeline calls it once per
document inside its ``mapInArrow`` stage.

The scoring surface is a term-frequency dot product with binary weights —
the "rules-plus-TF-IDF" classifier named by the north star.
"""

from __future__ import annotations

import re
from typing import Optional, Tuple

from .casefold import Twin

_I = re.IGNORECASE

# --------------------------------------------------------------------------
# Enhanced classifier rule base (backend/enhanced_document_classifier.py:22-328)
# --------------------------------------------------------------------------

ENHANCED_EXCLUSIONS: dict[str, list[str]] = {
    "PASSPORT": [
        r"residence\s*visa", r"visit\s*visa", r"labor\s*card", r"emirates\s*id",
        r"entry\s*permit\s*no", r"visa\s*type", r"sponsor",
    ],
    "RESIDENCE_VISA": [r"passeport", r"P<[A-Z]{3}", r"visit\s*visa", r"tourist"],
    "VISIT_VISA": [r"residence\s*permit", r"P<[A-Z]{3}", r"labor\s*card"],
    "LABOR_CARD": [r"visit\s*visa", r"residence\s*visa"],
    "EMIRATES_ID": [r"passport", r"visa", r"labor"],
    "HOME_COUNTRY_ID": [r"passport", r"visa", r"emirates"],
    "INVOICE": [r"passport", r"visa", r"purchase\s*order"],
    "PURCHASE_ORDER": [r"passport", r"visa", r"invoice"],
    "COMPANY_LICENSE": [r"passport", r"visa", r"invoice"],
}

# (mandatory, strong, weak, weight, required_score) per type
ENHANCED_RULES: dict[str, tuple[list[str], list[str], list[str], float, float]] = {
    "PASSPORT": (
        [r"P<[A-Z]{3}"],
        [r"passport", r"passeport", r"passaporte", r"reisepass",
         r"[A-Z]{1}\d{7,9}", r"nationality", r"place\s*of\s*birth",
         r"date\s*of\s*birth", r"sex.*[MF]"],
        [r"surname", r"given\s*names?"],
        1.0, 35,
    ),
    "VISIT_VISA": (
        [r"(?:visit|tourist|visitor)\s*visa", r"entry\s*permit"],
        [r"u\.?i\.?d\s*(?:no|number)", r"visa\s*type", r"entry\s*type",
         r"sponsor", r"visa\s*number", r"visa\s*status"],
        [r"passport\s*(?:no|number)", r"duration", r"valid\s*until"],
        1.0, 30,
    ),
    "RESIDENCE_VISA": (
        [r"residence", r"r\s*e\s*s\s*i\s*d\s*e\s*n\s*c\s*e",
         r"resident\s*(?:permit|visa)", r"united\s*arab\s*emirates",
         r"state\s*of\s*united\s*arab\s*emirates"],
        [r"permit\s*(?:no|number)", r"file\s*(?:no|number)",
         r"u\.?i\.?d\s*(?:no|number)", r"sponsor", r"profession",
         r"place\s*of\s*issue", r"valid\s*until"],
        [r"passport\s*(?:no|number)", r"nationality"],
        1.0, 25,
    ),
    "LABOR_CARD": (
        [r"labor\s*card", r"work\s*permit", r"mol"],
        [r"ministry\s*of\s*(?:labor|labour)", r"ministry\s*of\s*human\s*resources",
         r"mohre", r"employer", r"occupation", r"card\s*(?:no|number)"],
        [r"validity", r"issue\s*date"],
        1.0, 25,
    ),
    "EMIRATES_ID": (
        [r"emirates\s*id", r"784-\d{4}-\d{7}-\d{1}"],
        [r"identity\s*card", r"idn", r"card\s*(?:no|number)",
         r"united\s*arab\s*emirates"],
        [r"nationality", r"expiry"],
        1.0, 30,
    ),
    "HOME_COUNTRY_ID": (
        [r"aadhaa?r", r"uidai"],
        [r"\d{4}\s*\d{4}\s*\d{4}", r"unique\s*identification",
         r"government\s*of\s*india"],
        [r"dob", r"address"],
        1.0, 25,
    ),
    "INVOICE": (
        [r"invoice"],
        [r"tax\s*invoice", r"invoice\s*(?:no|number|#)", r"bill\s*to",
         r"(?:sub)?total", r"amount", r"quantity"],
        [r"date", r"customer"],
        0.9, 20,
    ),
    "PURCHASE_ORDER": (
        [r"purchase\s*order", r"p\.?o\.?\s*(?:no|number)"],
        [r"vendor", r"buyer", r"ship\s*to", r"order\s*date"],
        [r"quantity", r"price"],
        0.9, 20,
    ),
    "COMPANY_LICENSE": (
        [r"(?:commercial|business|trade|professional)\s*licen[cs]e",
         r"license\s*type"],
        [r"licen[cs]e\s*(?:no|number)", r"main\s*license\s*(?:no|number)",
         r"dcci\s*no", r"chamber\s*of\s*commerce", r"legal\s*(?:form|type)"],
        [r"issue\s*date", r"expiry\s*date", r"activity"],
        1.0, 25,
    ),
    "VISA_CANCELLATION": (
        [r"(?:visa|residence)\s*cancellation", r"application\s*for\s*cancellation"],
        [r"cancellation\s*transaction", r"cancellation\s*date",
         r"establishment\s*(?:no|number)", r"sponsor", r"application\s*(?:no|number)"],
        [r"passport", r"nationality", r"profession"],
        1.0, 25,
    ),
    "COMPANY_VAT_CERTIFICATE": (
        [r"federal\s*tax\s*authority", r"tax\s*registration\s*certificate"],
        [r"vat\s*number", r"trn", r"registration\s*number",
         r"certificate\s*number", r"legal\s*name"],
        [r"address", r"issue\s*date", r"tax\s*period"],
        1.0, 30,
    ),
    "ENTRY_PERMIT": (
        [r"entry\s*permit", r"permit\s*no"],
        [r"permit\s*number", r"visa\s*number", r"uid\s*number",
         r"file\s*number", r"application\s*number", r"place\s*of\s*issue"],
        [r"nationality", r"passport", r"profession"],
        1.0, 30,
    ),
}

# type -> (mandatory[], exclusions[], strong[], weak[], weight, req), each
# pattern a Twin; _ENH_EXACT and _ENH_FAST hold its two compiled forms
_ENH_TWINS = [
    (
        dt,
        [Twin(p, _I) for p in mand],
        [Twin(p, _I) for p in ENHANCED_EXCLUSIONS.get(dt, [])],
        [Twin(p, _I) for p in strong],
        [Twin(p, _I) for p in weak],
        weight,
        req,
    )
    for dt, (mand, strong, weak, weight, req) in ENHANCED_RULES.items()
]


def _enh_compiled(form: str) -> list:
    return [(dt, *([getattr(t, form) for t in group] for group in groups), weight, req)
            for dt, *groups, weight, req in _ENH_TWINS]


_ENH_EXACT = _enh_compiled("exact")
_ENH_FAST = _enh_compiled("fast")


def classify_enhanced(text: Optional[str]) -> Tuple[str, float]:
    """Live classifier; returns (document_type, confidence 0-100)."""
    if not text or len(text.strip()) < 20:
        return "UNKNOWN", 0.0

    # the ASCII fast path: the twins over the lowered text
    if text.isascii():
        rules, text = _ENH_FAST, text.lower()
    else:
        rules = _ENH_EXACT
    scores: dict[str, float] = {}
    for dt, mandatory, exclusions, strong, weak, weight, required in rules:
        if not any(p.search(text) for p in mandatory):
            scores[dt] = 0.0
            continue
        if any(p.search(text) for p in exclusions):
            scores[dt] = 0.0
            continue
        n_strong = sum(1 for p in strong if p.search(text))
        n_weak = sum(1 for p in weak if p.search(text))
        score = (25.0 + 10.0 * n_strong + 3.0 * n_weak) * weight
        if n_strong >= 3:
            score *= 1.3
        scores[dt] = score if score >= required else 0.0

    best = max(scores.values())
    if best == 0.0:
        return "UNKNOWN", 0.0
    best_type = max(scores, key=scores.get)  # first-of-max, dict order
    confidence = min(100.0, best * 2)

    runner_up = max((v for k, v in scores.items() if k != best_type), default=0.0)
    if runner_up > 0 and (best - runner_up) < 15:
        confidence *= 0.6
    return best_type, confidence


# --------------------------------------------------------------------------
# Simple (v1) classifier rule base (backend/document_classifier.py:19-114)
# --------------------------------------------------------------------------

SIMPLE_RULES: dict[str, tuple[list[str], list[str], float]] = {
    "PASSPORT": (
        ["passport", "passeport", "passaporte", "reisepass"],
        [r"P<[A-Z]{3}", r"[A-Z0-9]{9}<<"],
        1.0,
    ),
    "LABOR_CARD": (
        ["labor card", "work permit", "عمل", "بطاقة"],
        [r"labor\s*card", r"ministry\s*of\s*(?:labor|labour)", r"mol", r"work\s*permit"],
        1.0,
    ),
    "RESIDENCE_VISA": (
        ["residence", "visa", "resident", "إقامة"],
        [r"residence\s*visa", r"resident\s*permit", r"visa\s*type", r"entry\s*permit"],
        1.0,
    ),
    "EMIRATES_ID": (
        ["emirates id", "identity card", "هوية"],
        [r"emirates\s*id", r"identity\s*card",
         r"idn\s*\d{3}-\d{4}-\d{7}-\d{1}", r"784-\d{4}-\d{7}-\d{1}"],
        1.0,
    ),
    "HOME_COUNTRY_ID": (
        ["aadhaar", "aadhar", "uidai"],
        [r"aadhaa?r", r"unique\s*identification", r"uidai", r"\d{4}\s*\d{4}\s*\d{4}"],
        1.0,
    ),
    "VISIT_VISA": (
        ["visit visa", "tourist visa", "visitor", "entry permit"],
        [r"visit\s*visa", r"tourist\s*visa", r"visitor\s*visa",
         r"entry\s*type.*visit", r"entry\s*permit", r"u\.i\.d\s*no"],
        1.2,
    ),
    "INVOICE": (
        ["invoice", "tax invoice", "bill", "فاتورة"],
        [r"(?:tax\s*)?invoice", r"invoice\s*(?:no|number|#)", r"bill\s*to",
         r"subtotal", r"grand\s*total"],
        0.9,
    ),
    "PURCHASE_ORDER": (
        ["purchase order", "po number", "order"],
        [r"purchase\s*order", r"po\s*(?:no|number|#)", r"p\.o\.\s*(?:no|number)",
         r"vendor", r"buyer"],
        0.9,
    ),
    "COMPANY_LICENSE": (
        ["license", "licence", "commercial license", "business license"],
        [r"(?:commercial|business|company)\s*licen[cs]e",
         r"licen[cs]e\s*(?:no|number|#)", r"legal\s*type",
         r"duns\s*number", r"register\s*no"],
        0.9,
    ),
}

_SIMPLE_COMPILED = [
    (dt, [k.lower() for k in kws], [re.compile(p, _I) for p in pats], weight)
    for dt, (kws, pats, weight) in SIMPLE_RULES.items()
]


def classify_simple(text: Optional[str]) -> Tuple[str, float]:
    """v1 classifier; returns (document_type, confidence 0-100)."""
    if not text or len(text.strip()) < 10:
        return "UNKNOWN", 0.0
    lower = text.lower()

    scores: dict[str, float] = {}
    for dt, keywords, patterns, weight in _SIMPLE_COMPILED:
        hits = sum(1 for k in keywords if k in lower)
        phits = sum(1 for p in patterns if p.search(text))
        score = (10.0 * hits + 15.0 * phits) * weight
        if hits + phits > 2:
            score *= 1.2
        scores[dt] = score

    ordered = sorted(scores.values(), reverse=True)
    if not ordered or ordered[0] == 0:
        return "UNKNOWN", 0.0
    best_type = max(scores, key=scores.get)
    confidence = min(100.0, scores[best_type])
    if len(ordered) > 1 and ordered[0] - ordered[1] < 10:
        confidence *= 0.7
    return best_type, confidence
