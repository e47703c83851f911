"""Generic field-extraction primitives (F1/F2 in SURVEY.md §2.5).

Pure text functions; Python ``re`` semantics are part of the per-row
invariant (lazy quantifiers, lookaheads, IGNORECASE|MULTILINE|DOTALL combos),
which is why the Spark pipeline runs these same functions inside its
``mapInArrow`` stage instead of translating them to Java regex.
``mine_key_value_pairs`` (F2) runs on no pipeline path; only its unit test
calls it.
"""

from __future__ import annotations

import re
from typing import Dict, List, Optional, Tuple

from .casefold import Twin, cut, fold

_IMD = re.IGNORECASE | re.MULTILINE | re.DOTALL

# F2 label:value miner (reference: backend/ocr_service.py:89) and the
# next-label truncation list (:99).
_KV_PATTERN = re.compile(
    r"([A-Za-z][A-Za-z\s&/]{2,30}?)\s*:+\s*([A-Z0-9][^\n:]{3,50}?)(?:\n|$|(?=[A-Z][a-z]+\s*:))",
    re.MULTILINE,
)
_KV_STOP = re.compile(
    r"\s+(?:Name|Date|ID|Number|Sex|Nationality|Card|Expiry|Issue)"
)


def compile_field_patterns(field_patterns: Dict[str, List[str]]
                           ) -> Dict[str, List[Twin]]:
    """A config table of regex cascades (``registry.FALLBACK_FIELD_PATTERNS``
    rows), each pattern compiled once as a ``casefold.Twin`` under
    IGNORECASE|MULTILINE|DOTALL."""
    return {field: [Twin(p, _IMD) for p in patterns]
            for field, patterns in field_patterns.items()}


def first_pattern_match(text: str, low: Optional[str],
                        patterns: List[Twin]) -> Tuple[str, float]:
    """Ordered regex cascade; first hit wins with confidence 90.0
    (reference: backend/ocr_service.py:63-77).  ``low`` is
    ``casefold.fold(text)``.

    The reference takes ``group(1)`` whenever the pattern has groups; a
    pattern whose first group is optional and unmatched would raise there
    (blanket-except -> 'failed').  We treat a None group as a miss and keep
    cascading — documented deviation, keeps the operator total.
    """
    for pattern in patterns:
        match = pattern.search(text, low)
        if match:
            value = cut(match, text, 1 if match.re.groups else 0)
            if value is None:
                continue
            return value.strip(), 90.0
    return "", 0.0


def extract_config_fallback(text: str,
                            field_patterns: Dict[str, List[Twin]]) -> Dict:
    """Config-table extractor for LABOR_CONTRACT / PURCHASE_ORDER
    (intended logic for the dead dispatch branches, SURVEY.md §2.6 T12/T13);
    ``field_patterns`` is a ``compile_field_patterns`` table."""
    low = fold(text)
    out: Dict[str, Dict] = {}
    for field, patterns in field_patterns.items():
        value, conf = first_pattern_match(text, low, patterns)
        if value:
            out[field] = {"value": value, "confidence": conf, "source": "CONFIG_PATTERN"}
    return out


def mine_key_value_pairs(text: str) -> Dict:
    """Schema-free "Label : Value" mining, confidence 85.0
    (reference: backend/ocr_service.py:79-124)."""
    mined: Dict[str, Dict] = {}
    for match in _KV_PATTERN.finditer(text):
        key = match.group(1).strip()
        value = _KV_STOP.split(match.group(2).strip())[0].strip()

        field = key.lower().replace(" ", "_").replace("&", "and").replace("/", "_")
        if len(field) < 3 or field.startswith("_") or any(c.isdigit() for c in field[:3]):
            continue
        if len(value) < 2 or len(value) > 100 or value.isspace():
            continue
        if sum(not c.isalnum() and not c.isspace() for c in value) > len(value) * 0.4:
            continue
        mined[field] = {"value": value, "confidence": 85.0, "original_label": key}
    return mined
