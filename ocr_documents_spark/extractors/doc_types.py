"""Per-type field extractors T1-T13 (SURVEY.md §2.6).

Every function is pure ``text -> {field: {value, confidence, source}}`` and
preserves the reference's dict-insertion order, confidence constants, and
regex/state-machine semantics — these are the per-row invariant that the
Spark pipeline must reproduce span-for-span.  File:line citations point into
the reference implementation.

Three dispatch targets in the reference do not exist at runtime
(LABOR_CONTRACT, PURCHASE_ORDER, and INVOICE live only as intended code —
SURVEY.md §0.1.1); we implement the intended logic and note it per function.

Shared idioms: ``_first`` (an ordered cascade that stops at its first match),
``_label_value`` (visit-visa label lookup) and the invoice field tables.

Every pattern is compiled once at import.  Each case-insensitive one is a
``casefold.Twin``: on ASCII text the extractor lowers the text once
(``low``), searches the lower-case twins over it and cuts every value from
the original text by the match's span (``cut``); on non-ASCII text
(``low`` is None) the exact ``re.I`` patterns run.  No pattern backtracks
quadratically over a long run of letters or spaces: those that did are
written to try one start per run, with the same matches
(``_ESTABLISHMENT_PATTERNS``, ``_LETTER_RUN``, ``_RV_SPONSOR_PATTERNS``,
``_EMAIL_AT_RUN``, ``_partner_rows``), and the members-table row is
scanned by ``_member_rows``.
"""

from __future__ import annotations

import json
import re
from bisect import bisect_right
from datetime import datetime, timedelta
from itertools import islice
from typing import Callable, Dict, Iterator, List, Optional, Tuple

from .casefold import Twin, cut, fold
from .fields_generic import compile_field_patterns, extract_config_fallback
from .registry import FALLBACK_FIELD_PATTERNS

_I = re.IGNORECASE
_IM = re.IGNORECASE | re.MULTILINE

_ARABIC = re.compile(r"[؀-ۿ]+")


def _field(value, conf: float, source: str) -> Dict:
    return {"value": value, "confidence": conf, "source": source}


def _first(text: str, low: Optional[str], patterns) -> Optional[re.Match]:
    """The first match of an ordered cascade of Twins, else None."""
    for pat in patterns:
        m = pat.search(text, low)
        if m:
            return m
    return None


# ---------------------------------------------------------------------------
# T1 PASSPORT — inline MRZ path (backend/ocr_service.py:136-276, 1427-1507).
# The separate MRZParser class is dead weight in the reference (§0.1.4); the
# live semantics are the inline ones below.
# ---------------------------------------------------------------------------

_INDIAN_CITIES = [
    "Mumbai", "Delhi", "Bangalore", "Chennai", "Kolkata",
    "Hyderabad", "Pune", "Ahmedabad", "Madurai", "Kochi",
    "Trivandrum", "Kannanoor", "Coimbatore", "Vellore",
]  # backend/ocr_service.py:1497-1501

_MRZ_L2_HINT = re.compile(r"[A-Z0-9]{7,9}<")
_MRZ_PPT = re.compile(r"([A-Z0-9]+)<")
_ISSUE_DATE_PATTERNS = [
    Twin(r"issue.*?(\d{2}[/-]\d{2}[/-]\d{4})", _I),
    Twin(r"(\d{2}[/-]\d{2}[/-]20(?:1|2)\d)"),
]  # :1463-1466

_MONTH_ABBR = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
               "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]


def _fmt_dmy(d: datetime) -> str:
    """Locale-independent '%d-%b-%y' (e.g. 21-Sep-96)."""
    return f"{d.day:02d}-{_MONTH_ABBR[d.month - 1]}-{d.year % 100:02d}"


def format_mrz_date(yymmdd: str) -> Optional[str]:
    """YYMMDD -> DD-Mon-YY with the yy>=50 -> 19xx century split
    (backend/ocr_service.py:1442-1458)."""
    if not yymmdd or len(yymmdd) != 6:
        return None
    try:
        yy, mm, dd = int(yymmdd[:2]), int(yymmdd[2:4]), int(yymmdd[4:6])
        year = 1900 + yy if yy >= 50 else 2000 + yy
        return _fmt_dmy(datetime(year, mm, dd))
    except Exception:
        return None


def find_mrz_lines(text_clean: str) -> Tuple[Optional[str], Optional[str]]:
    """Locate MRZ line 1/2 in whitespace-stripped text (:1427-1440).
    Later candidates overwrite earlier ones, as in the reference loop."""
    line1 = line2 = None
    for raw in text_clean.split("\n"):
        line = raw.strip()
        if line.startswith("P<") and len(line) >= 40:
            line1 = line
        elif _MRZ_L2_HINT.search(line) and len(line) >= 40:
            line2 = line
    return line1, line2


def _passport_issue_date(text: str, low: Optional[str],
                         expiry: Optional[str]) -> Optional[str]:
    """Page-text issue date, else expiry - 10y + 1 day (:1460-1493)."""
    for pat in _ISSUE_DATE_PATTERNS:
        m = pat.search(text, low)
        if m:
            ds = cut(m, text)
            try:
                fmt = "%d/%m/%Y" if "/" in ds else "%d-%m-%Y"
                return _fmt_dmy(datetime.strptime(ds, fmt))
            except Exception:
                pass
    if expiry:
        try:
            exp = datetime.strptime(expiry, "%d-%b-%y")
            return _fmt_dmy(exp.replace(year=exp.year - 10) + timedelta(days=1))
        except Exception:
            pass
    return None


def extract_passport(text: str) -> Dict:
    out: Dict[str, Dict] = {}
    text_clean = text.replace(" ", "").replace("\t", "").replace("\n\n", "\n")
    l1, l2 = find_mrz_lines(text_clean)
    if not (l1 or l2):
        return {}

    if l1:
        nationality = l1[2:5].replace("<", "").replace("1", "I").replace("0", "O")
        name_part = (l1[5:44] if len(l1) >= 44 else l1[5:]).replace("<", " ").strip()
        if "  " in name_part:
            parts = name_part.split("  ")
            surname = parts[0].strip().title()
            given = " ".join(parts[1:]).strip().title()
            full_name = f"{given} {surname}"
        else:
            full_name = name_part.title()
        out["name_on_passport"] = _field(full_name, 95.0, "MRZ")
        if nationality and len(nationality) == 3:
            out["nationality"] = _field(nationality, 95.0, "MRZ")

    if l2:
        m = _MRZ_PPT.match(l2)
        if m:
            ppt = m.group(1).replace("O", "0").replace("I", "1")
            out["passport_number"] = _field(ppt, 99.0, "MRZ")

        fb = l2.find("<")
        if fb == -1:
            fb = 9
        dob_start = fb + 2 + 3
        sex_pos = dob_start + 7
        expiry_start = sex_pos + 1
        file_start = expiry_start + 7

        dob_str = l2[dob_start:dob_start + 6]
        if len(dob_str) == 6:
            dob = format_mrz_date(dob_str.replace("O", "0").replace("I", "1"))
            if dob:
                out["date_of_birth"] = _field(dob, 95.0, "MRZ")

        if sex_pos < len(l2):
            sex = l2[sex_pos].upper()
            if sex in ("1", "I"):
                sex = "M"
            elif sex == "0":
                sex = "F"
            if sex in ("M", "F"):
                out["gender"] = _field("Male" if sex == "M" else "Female", 90.0, "MRZ")

        exp_str = l2[expiry_start:expiry_start + 6]
        if len(exp_str) == 6:
            exp = format_mrz_date(exp_str.replace("O", "0").replace("I", "1"))
            if exp:
                out["passport_expiry_date"] = _field(exp, 95.0, "MRZ")

        if file_start + 14 <= len(l2):
            file_no = l2[file_start:file_start + 14].replace("<", "").strip()
            file_no = file_no.replace("O", "0").replace("I", "1")
            if file_no and len(file_no) >= 8:
                out["file_number"] = _field(file_no, 85.0, "MRZ")

    lower = text.lower()
    issue = _passport_issue_date(text, lower if text.isascii() else None,
                                 out.get("passport_expiry_date", {}).get("value"))
    if issue:
        out["passport_issue_date"] = _field(issue, 80.0, "PAGE_OCR")

    for city in _INDIAN_CITIES:
        if city.lower() in lower:
            out["passport_issue_place"] = _field(city, 75.0, "PAGE_OCR")
            break

    out["address"] = _field(None, 0, "N/A")
    out["father_name"] = _field(None, 0, "N/A")
    out["mother_name"] = _field(None, 0, "N/A")
    return out


# ---------------------------------------------------------------------------
# T2 LABOR_CARD (backend/ocr_service.py:1180-1424)
# ---------------------------------------------------------------------------

_LABOR_NAME_BLACKLIST = [
    "expiry", "permit", "profession", "nationality", "date", "work", "card",
    "labor", "establishment", "ministry", "emirates", "united", "arab",
    "government", "resources",
]
_LABOR_NAME_LABEL = Twin(r"Name\s*[:\.]?\s*([A-Za-z\s]+)(?:$|\n)", _I)
_LABOR_NAME_LINE = re.compile(r"[A-Za-z ]{5,80}")

_ARABIC_PROFESSIONS = {
    "مدير مشروع": "Project Manager",
    "مهندس مدني": "Civil Engineer",
    "مهندس كهربائي": "Electrical Engineer",
    "مهندس ميكانيكي": "Mechanical Engineer",
    "مهندس": "Engineer",
    "عامل": "Worker",
    "فني": "Technician",
    "سائق": "Driver",
    "مشرف": "Supervisor",
    "محاسب": "Accountant",
}  # :1303-1314
_ARABIC_NATIONALITIES = {
    "الهند": "Indian", "باكستان": "Pakistani", "بنغلاديش": "Bangladeshi",
    "نيبال": "Nepalese", "سريلانكا": "Sri Lankan", "الفلبين": "Filipino",
    "مصر": "Egyptian", "الأردن": "Jordanian", "السودان": "Sudanese",
}  # :1360-1370
_ENGLISH_NATIONALITIES = {
    "india": "Indian", "pakistan": "Pakistani", "bangladesh": "Bangladeshi",
    "nepal": "Nepalese", "philippines": "Filipino", "sri lanka": "Sri Lankan",
    "egypt": "Egyptian", "jordan": "Jordanian", "sudan": "Sudanese",
}  # :1378-1388
_LABOR_DATE_PATTERNS = [
    Twin(r"(\d{2}[/-]\d{2}[/-]\d{4})"),
    Twin(r"(\d{4}[/-]\d{2}[/-]\d{2})"),
    Twin(r"(\d{2}\s[A-Z]{3}\s\d{4})"),
]
# The first pattern is ``([A-Z][A-Za-z\s&\-]+(?:LLC|L\.L\.C|LTD|LIMITED))``
# tried only at the start of a run of its class: the match can start only
# at a run's first letter, because a later letter of the same run reaches
# a subset of the suffixes the first one reaches.  Tried at every letter,
# each failing start scanned to the run's end (quadratic in the run).
_ESTABLISHMENT_PATTERNS = [
    Twin(r"(?<![A-Za-z\s&\-])[\s&\-]*+([A-Z][A-Za-z\s&\-]+(?:LLC|L\.L\.C|LTD|LIMITED))", _I),
    Twin(r"(?:Establishment|Company|Corporation)[\s:]+([A-Z][A-Za-z\s&\-]+)", _I),
]
_ESTABLISHMENT_LLC = Twin(r"([A-Z][A-Za-z\s&\-]{5,50}(?:LLC|L\.L\.C))", _I)
_ESTABLISHMENT_LABEL = Twin(r"establishment\s*:\s*", _I)
_WORK_PERMIT_NUMBER = re.compile(r"\b\d{8,11}\b")
_PERSONAL_NUMBER = re.compile(r"\b\d{12,16}\b")
_LABOR_PROFESSION = Twin(r"Profession\s*[:\.]?\s*([^\n]+)", _I)
_PROFESSION_KEYWORDS = [
    (kw, Twin(kw, _I))
    for kw in ("manager", "engineer", "technician", "driver", "worker", "supervisor")]
# A run of letters and spaces from its first word boundary to its last.
# ``\b([A-Za-z ]*kw[A-Za-z ]*)\b`` matches exactly the first such run that
# holds ``kw`` (its greedy ends reach both boundaries, and a later start in
# a run reaches no more), but it retried every start inside a run without
# ``kw``, each time scanning to the run's end.
_LETTER_RUN = Twin(r"(?<![A-Za-z ])(?>[A-Za-z ]*?\b)([A-Za-z ]*)\b", _I)


def _labor_name(text: str, low: Optional[str]) -> Optional[str]:
    m = _LABOR_NAME_LABEL.search(text, low)
    if m:
        cand = cut(m, text).strip()
        if len(cand) > 3 and not any(k in cand.lower() for k in _LABOR_NAME_BLACKLIST):
            return cand.upper()
    lines = []
    for raw in text.split("\n"):
        line = raw.strip()
        if _LABOR_NAME_LINE.fullmatch(line):
            if not any(k in line.lower() for k in _LABOR_NAME_BLACKLIST):
                lines.append(line)
    if len(lines) >= 2:
        return " ".join(lines[:2]).upper()
    return lines[0].upper() if lines else None


def _labor_expiry(text: str) -> Optional[str]:
    m = _first(text, None, _LABOR_DATE_PATTERNS)
    if not m:
        return None
    ds = m.group(1)
    for fmt in ("%d/%m/%Y", "%Y/%m/%d", "%d-%m-%Y", "%Y-%m-%d", "%d %b %Y"):
        try:
            return _fmt_dmy(datetime.strptime(ds, fmt))
        except Exception:
            continue
    return ds


def _labor_profession(text: str, lower: str, low: Optional[str]) -> Optional[str]:
    m = _LABOR_PROFESSION.search(text, low)
    if m:
        prof = cut(m, text).strip()
        if len(prof) > 2:
            for ar, en in _ARABIC_PROFESSIONS.items():
                if ar in prof:
                    return en
            return prof.split("  ")[0].strip()
    for ar, en in _ARABIC_PROFESSIONS.items():
        if ar in text:
            return en
    return _keyword_profession(lower, low)


def _keyword_profession(lower: str, low: Optional[str]) -> Optional[str]:
    """The first run of letters and spaces in ``lower`` holding a
    profession keyword, per keyword in order.  The runs are searched in
    ``lower`` on both paths, as the reference does; on the fast path
    ``lower`` is ``low``."""
    for kw, kw_pat in _PROFESSION_KEYWORDS:
        if kw in lower:
            for m in _LETTER_RUN.finditer(lower, low):
                run = m.group(1)
                if kw_pat.search(run, None if low is None else run):
                    prof = run.strip()
                    if 3 <= len(prof) <= 40:
                        return prof.title()
                    break
    return None


def _labor_nationality(text: str, lower: str) -> Optional[str]:
    for ar, en in _ARABIC_NATIONALITIES.items():
        if ar in text:
            return en
    for country, nat in _ENGLISH_NATIONALITIES.items():
        if country in lower:
            return nat
    return None


def _labor_establishment(text: str, lower: str, low: Optional[str]) -> Optional[str]:
    m = _first(text, low, _ESTABLISHMENT_PATTERNS)
    if not m and ("llc" in lower or "l.l.c" in lower):
        m = _ESTABLISHMENT_LLC.search(text, low)
    if m:
        return _ESTABLISHMENT_LABEL.exact.sub("", cut(m, text)).strip().upper()
    return None


def extract_labor_card(text: str) -> Dict:
    out: Dict[str, Dict] = {}
    lower = text.lower()
    low = lower if text.isascii() else None
    name = _labor_name(text, low)
    if name:
        out["full_name"] = _field(name, 85.0, "LABOR_OCR")
    m = _WORK_PERMIT_NUMBER.search(text)
    if m:
        out["work_permit_number"] = _field(m.group(), 90.0, "LABOR_OCR")
    m = _PERSONAL_NUMBER.search(text)
    if m:
        out["personal_number"] = _field(m.group(), 90.0, "LABOR_OCR")
    exp = _labor_expiry(text)
    if exp:
        out["expiry_date"] = _field(exp, 85.0, "LABOR_OCR")
    prof = _labor_profession(text, lower, low)
    if prof:
        out["profession"] = _field(prof, 80.0, "LABOR_OCR")
    nat = _labor_nationality(text, lower)
    if nat:
        out["nationality"] = _field(nat, 85.0, "LABOR_OCR")
    est = _labor_establishment(text, lower, low)
    if est:
        out["company_name"] = _field(est, 80.0, "LABOR_OCR")
    return out


# ---------------------------------------------------------------------------
# T3 RESIDENCE_VISA (backend/ocr_service.py:760-858)
# ---------------------------------------------------------------------------

_RV_NAME_BLACKLIST = ["ENGINEER", "SERVICES", "RESIDENCE", "EMIRATES", "TECHNICAL",
                      "SPONSOR", "PROFESSION", "MUHREM", "ALLOWED", "LLC"]
_UAE_CITIES = ["DUBAI", "ABU DHABI", "SHARJAH", "AJMAN", "RAS AL KHAIMAH",
               "FUJAIRAH", "UMM AL QUWAIN"]
_RV_PROF_KEYWORDS = ["ENGINEER", "MUHREM", "NOT ALLOWED", "ALLOWED TO WORK",
                     "MANAGER", "ACCOUNTANT", "DOCTOR", "TECHNICIAN"]
_RV_PROF_PATTERNS = [
    (kw, re.compile(rf"([A-Z\s]*{kw}[A-Z\s]*?)(?=\s*(?:[A-Z]{{2,}}\s[A-Z]{{2,}}|$))"))
    for kw in _RV_PROF_KEYWORDS]
_RV_UID = Twin(r"(?:U\.I\.D\.No|UID|U\.I\.D)\s*[:\s]*(\d{9})", _I)
_RV_UID_BARE = re.compile(r"\b(\d{9})\b")
_RV_FILE_PATTERNS = [
    Twin(r"(?:File|FILE)\s*[:\s]*(\d{3}/\d{4}/\d+)"),
    Twin(r"(\d{3}/\d{4}/\d+)"),
    Twin(r"(\d{3}/\d{4})"),
]
_RV_NAME = re.compile(r"\b([A-Z\s]{15,})\b")
# The first sponsor pattern is ``([A-Z][A-Za-z\s&\-]+(?:L\.L\.C|LLC))``
# tried only at the start of a run of its class, as the first
# _ESTABLISHMENT_PATTERNS entry is, and for the same reason.
_RV_SPONSOR_PATTERNS = [
    Twin(r"(?<![A-Za-z\s&\-])[\s&\-]*+([A-Z][A-Za-z\s&\-]+(?:L\.L\.C|LLC))", _I),
    # tried only at a word's first letter: a later letter of the word has
    # the same continuation after the word and fewer letters before it
    Twin(r"(?<![A-Z])((?:[A-Z]{3,}\s+){2,4}(?:TECHNICAL|SERVICES|ENGINEERING|COMPANY)[A-Z\s]*)", _I),
]
_RV_SPONSOR_WORD = Twin(r"\bSponsor\b", _I)
_RV_DATE = re.compile(r"(\d{4}/\d{2}/\d{2})")


def extract_residence_visa(text: str) -> Dict:
    out: Dict[str, Dict] = {}
    low = fold(text)

    m = _RV_UID.search(text, low)
    if m:
        out["uid_number"] = _field(cut(m, text), 95.0, "VISA_OCR")
    else:
        m = _RV_UID_BARE.search(text)
        if m:
            out["uid_number"] = _field(m.group(1), 85.0, "VISA_OCR")

    m = _first(text, None, _RV_FILE_PATTERNS)
    if m:
        out["file_number"] = _field(m.group(1), 90.0, "VISA_OCR")

    candidates = []
    for name in _RV_NAME.findall(text):
        clean = name.strip()
        if len(clean) >= 15 and not any(k in clean for k in _RV_NAME_BLACKLIST):
            clean = _ARABIC.sub("", clean).strip()
            if len(clean) >= 15:
                candidates.append(clean)
    if candidates:
        out["name_on_visa"] = _field(max(candidates, key=len), 85.0, "VISA_OCR")

    for kw, pat in _RV_PROF_PATTERNS:
        if kw in text:
            m = pat.search(text)
            if m:
                prof = _ARABIC.sub("", m.group(1).strip()).strip()
                if len(prof) >= 3:
                    out["profession"] = _field(prof, 80.0, "VISA_OCR")
                    break

    for pat in _RV_SPONSOR_PATTERNS:
        m = pat.search(text, low)
        if m:
            sponsor = _ARABIC.sub("", cut(m, text)).strip()
            sponsor = _RV_SPONSOR_WORD.exact.sub("", sponsor).strip()
            sponsor = sponsor.replace("LL C", "L.L.C").replace("LLC", "L.L.C")
            if len(sponsor) >= 10:
                out["sponsor"] = _field(sponsor, 80.0, "VISA_OCR")
                break

    upper = text.upper()
    for city in _UAE_CITIES:
        if city in upper:
            out["place_of_issue"] = _field(city.title(), 90.0, "VISA_OCR")
            break

    dates = _RV_DATE.findall(text)
    if len(dates) >= 2:
        s = sorted(dates)
        out["issue_date"] = _field(s[0], 90.0, "VISA_OCR")
        out["expiry_date"] = _field(s[-1], 90.0, "VISA_OCR")
    elif len(dates) == 1:
        out["issue_date"] = _field(dates[0], 80.0, "VISA_OCR")
    return out


# ---------------------------------------------------------------------------
# T4 EMIRATES_ID (backend/ocr_service.py:674-757)
# ---------------------------------------------------------------------------

_EID_NAME_BLACKLIST = ["EMIRATES", "IDENTITY", "CARD", "RESIDENT", "NATIONALITY",
                       "AUTHORITY", "CITIZENSHIP", "DATE", "BIRTH", "ISSUING",
                       "EXPIRY", "NAME", "SEX", "SIGNATURE", "FEDERAL"]
_EID_COUNTRIES = ["INDIA", "PAKISTAN", "BANGLADESH", "PHILIPPINES", "EGYPT",
                  "JORDAN", "SYRIA", "LEBANON", "UNITED STATES", "UK", "CANADA",
                  "NEPAL", "SRI LANKA"]
_EID_NUMBER = re.compile(r"(\d{3}-\d{4}-\d{7}-\d)")
_EID_DIGITS = re.compile(r"(\d{15,})")
_EID_NAME = re.compile(r"\b([A-Z][a-z]+(?:\s+[A-Z][a-z]+){2,})\b")
_EID_DATE = re.compile(r"\b(\d{2}/\d{2}/\d{4})\b")
_EID_GENDER_PATTERNS = [Twin(r"\b([MF])\b", _I), Twin(r"(?:Sex)[:\s]*([MF]+)", _I)]


def extract_emirates_id(text: str) -> Dict:
    out: Dict[str, Dict] = {}

    m = _EID_NUMBER.search(text)
    if m:
        out["emirates_id_number"] = _field(m.group(1), 95.0, "EMIRATES_OCR")
    else:
        m = _EID_DIGITS.search(text)
        if m:
            n = m.group(1)[:15]
            out["emirates_id_number"] = _field(
                f"{n[:3]}-{n[3:7]}-{n[7:14]}-{n[14]}", 90.0, "EMIRATES_OCR")

    candidates = []
    for name in _EID_NAME.findall(text):
        if len(name) >= 15 and not any(k in name.upper() for k in _EID_NAME_BLACKLIST):
            clean = _ARABIC.sub("", name).strip()
            if len(clean) >= 15:
                candidates.append(clean)
    if candidates:
        out["name_on_emirates_id"] = _field(max(candidates, key=len), 85.0, "EMIRATES_OCR")

    dates = _EID_DATE.findall(text)
    if len(dates) >= 3:
        s = sorted(dates, key=lambda d: (int(d[6:10]), int(d[3:5]), int(d[0:2])))
        out["date_of_birth"] = _field(s[0], 90.0, "EMIRATES_OCR")
        out["issue_date"] = _field(s[1], 88.0, "EMIRATES_OCR")
        out["expiry_date"] = _field(s[2], 90.0, "EMIRATES_OCR")
    elif len(dates) == 2:
        out["date_of_birth"] = _field(dates[0], 85.0, "EMIRATES_OCR")
        out["expiry_date"] = _field(dates[1], 85.0, "EMIRATES_OCR")
    elif len(dates) == 1:
        out["date_of_birth"] = _field(dates[0], 80.0, "EMIRATES_OCR")

    upper = text.upper()
    for country in _EID_COUNTRIES:
        if country in upper:
            out["nationality"] = _field(country.title(), 90.0, "EMIRATES_OCR")
            break

    m = _first(text, fold(text), _EID_GENDER_PATTERNS)
    gender = {"M": "Male", "F": "Female"}.get(cut(m, text).upper()) if m else None
    if gender:
        out["gender"] = _field(gender, 85.0, "EMIRATES_OCR")
    return out


# ---------------------------------------------------------------------------
# T5 VISIT_VISA (backend/ocr_service.py:396-542) — line-oriented with the
# label-line-or-next-line lookahead idiom.
# ---------------------------------------------------------------------------

_VV_KEYWORDS = ["TOURIST", "VISIT", "VISA", "SINGLE", "MULTIPLE", "TRIP", "DAYS", "MONTH"]
_DMY_DATE = re.compile(r"([0-3]?\d[/-][0-1]?\d[/-]\d{4})")
_VV_DURATION = re.compile(r"\b\d+\s*(?:DAY|DAYS|MONTH|MONTHS)\b")
_VV_ENTRY_PERMIT = re.compile(r"[A-Z0-9]{8,15}")
_VV_UID = re.compile(r"\b[0-9]{12,15}\b")
_VV_PLACE = re.compile(r"([A-Z][a-z]+(?:\s[A-Z][a-z]+)*)")
_VV_PASSPORT = re.compile(r"\b([A-Z]{1,2}[0-9]{7,8})\b")


def _label_or_next(lines: List[str], idx: int, pattern: re.Pattern,
                   conf_here: float, conf_next: float) -> Optional[Tuple[str, float]]:
    m = pattern.search(lines[idx])
    if m:
        return m.group(), conf_here
    if idx + 1 < len(lines):
        m = pattern.search(lines[idx + 1])
        if m:
            return m.group(), conf_next
    return None


def _label_value(lines: List[str], is_label: Callable[[str], bool],
                 conf_here: float, conf_next: float) -> Optional[Tuple[str, float]]:
    """Value after a label line's first colon, else the next line if it is
    non-empty and digit-free; label lines are tried in order."""
    for i, line in enumerate(lines):
        if is_label(line.upper()):
            if ":" in line:
                value = line.split(":", 1)[1].strip()
                if value:
                    return value, conf_here
            if i + 1 < len(lines):
                nxt = lines[i + 1].strip()
                if nxt and not any(c.isdigit() for c in nxt):
                    return nxt, conf_next
    return None


def extract_visit_visa(text: str) -> Dict:
    out: Dict[str, Dict] = {}
    lines = text.split("\n")
    src = "VISIT_VISA_OCR"

    visa_lines = []
    for line in lines:
        u = line.upper()
        if any(kw in u for kw in _VV_KEYWORDS):
            if _VV_DURATION.search(u):
                visa_lines.append(line.strip())
            elif "VISA" in u or "TOURIST" in u or "VISIT" in u:
                visa_lines.append(line.strip())
    if visa_lines:
        out["visa_type_duration"] = _field(" ".join(visa_lines), 85.0, src)

    for i, line in enumerate(lines):
        u = line.upper()
        if "ENTRY" in u and ("PERMIT" in u or "NO" in u):
            hit = _label_or_next(lines, i, _VV_ENTRY_PERMIT, 90.0, 90.0)
            if hit:
                out["entry_permit_number"] = _field(hit[0], hit[1], src)
                break

    for i, line in enumerate(lines):
        u = line.upper()
        if "U.I.D" in u or "UID" in u or "UNIFIED" in u:
            hit = _label_or_next(lines, i, _VV_UID, 92.0, 90.0)
            if hit:
                out["uid_number"] = _field(hit[0], hit[1], src)
                break

    for i, line in enumerate(lines):
        u = line.upper()
        if "ISSUE" in u or "ISSUED" in u:
            dm = _DMY_DATE.search(line)
            if dm:
                date_value = dm.group(1).replace("-", "/")
                pm = _VV_PLACE.search(line, dm.end())
                if pm:
                    out["date_place_of_issue"] = _field(
                        f"{date_value}, {pm.group(1)}", 88.0, src)
                elif i + 1 < len(lines):
                    nxt = lines[i + 1].strip()
                    if not any(c.isdigit() for c in nxt):
                        out["date_place_of_issue"] = _field(
                            f"{date_value}, {nxt}", 85.0, src)
                else:
                    out["date_place_of_issue"] = _field(date_value, 80.0, src)
                break

    for i, line in enumerate(lines):
        if "NAME" in line.upper() and ":" in line:
            name = line.split(":", 1)[1].strip()
            if name and not any(c.isdigit() for c in name):
                out["full_name"] = _field(name, 88.0, src)
                break
            if i + 1 < len(lines):
                nxt = lines[i + 1].strip()
                if not any(c.isdigit() for c in nxt):
                    out["full_name"] = _field(nxt, 85.0, src)
                    break

    hit = _label_value(lines, lambda u: "NATIONALITY" in u or "CITIZEN" in u, 90.0, 88.0)
    if hit:
        out["nationality"] = _field(*hit, src)

    hit = _label_value(lines, lambda u: "PLACE" in u and "BIRTH" in u, 88.0, 85.0)
    if hit:
        out["place_of_birth"] = _field(*hit, src)

    for line in lines:
        u = line.upper()
        if "DOB" in u or ("DATE" in u and "BIRTH" in u):
            m = _DMY_DATE.search(line)
            if m:
                out["date_of_birth"] = _field(m.group(1).replace("-", "/"), 90.0, src)
                break

    for i, line in enumerate(lines):
        if "PASSPORT" in line.upper():
            m = _VV_PASSPORT.search(line)
            if m:
                out["passport_number"] = _field(m.group(1), 92.0, src)
                break
            if i + 1 < len(lines):
                m = _VV_PASSPORT.search(lines[i + 1])
                if m:
                    out["passport_number"] = _field(m.group(1), 90.0, src)
                    break

    hit = _label_value(
        lines, lambda u: "PROFESSION" in u or "OCCUPATION" in u or "JOB" in u, 85.0, 82.0)
    if hit:
        out["profession"] = _field(*hit, src)
    return out


# ---------------------------------------------------------------------------
# T6 HOME_COUNTRY_ID / Aadhaar (backend/ocr_service.py:545-671) — two
# state-machine extractors (name window, address capture).
# ---------------------------------------------------------------------------

_AADHAAR_SKIP_NAME = {"GOVERNMENT", "INDIA", "UNIQUE", "IDENTIFICATION",
                      "AUTHORITY", "AADHAAR", "DOB", "MALE", "FEMALE",
                      "ADDRESS", "WWW", "HTTP", "HELP"}
_AADHAAR_ADDR_START = ["D/O", "S/O", "C/O", "W/O", "ADDRESS"]
_AADHAAR_ADDR_SKIP = ["GOVERNMENT", "UNIQUE", "IDENTIFICATION", "AUTHORITY",
                      "WWW", "HTTP", "HELP@", "UIDAI", "1800", "1947"]
_SPACE_OR_DASH = re.compile(r"[\s-]")
_SPACES = re.compile(r"\s+")
_AADHAAR_DIGITS = re.compile(r"^[2-9]\d{11}$")
_AADHAAR_GROUPED = re.compile(r"^[2-9]\d{3}\s\d{4}\s\d{4}$")
# ``DOB[:\s]*(date)`` searched line by line is this pattern searched once
# over the text: a match cannot cross a newline, and the leftmost one lies
# in the first line that has one
_AADHAAR_DOB = Twin(r"DOB(?:[^\S\n]|:)*([0-3]?\d[/\-][0-1]?\d[/\-]\d{4})", _I)
_EMPTY_COMMA = re.compile(r",\s*,")


def extract_home_country_id(text: str) -> Dict:
    out: Dict[str, Dict] = {}
    lines = text.split("\n")
    src = "AADHAAR_OCR"

    for line in lines:
        squeezed = _SPACE_OR_DASH.sub("", line)
        if _AADHAAR_DIGITS.match(squeezed):
            out["aadhaar_number"] = _field(
                f"{squeezed[0:4]} {squeezed[4:8]} {squeezed[8:12]}", 95.0, src)
            break
        if _AADHAAR_GROUPED.match(line.strip()):
            out["aadhaar_number"] = _field(line.strip(), 95.0, src)
            break

    m = _AADHAAR_DOB.search(text, fold(text))
    if m:
        out["date_of_birth"] = _field(cut(m, text).replace("-", "/"), 90.0, src)

    for line in lines:
        u = line.upper().strip()
        if u in ("MALE", "FEMALE", "TRANSGENDER"):
            out["gender"] = _field(u.title(), 95.0, src)
            break

    # name window: after GOVERNMENT/INDIA header, before DOB, max 3 parts
    name_parts: List[str] = []
    seen_header = False
    for line in lines:
        clean = line.strip()
        u = line.upper()
        if "GOVERNMENT" in u or "INDIA" in u:
            seen_header = True
            continue
        if "DOB" in u:
            break
        if seen_header and clean:
            if (not any(c.isdigit() for c in clean)
                    and not any(s in u for s in _AADHAAR_SKIP_NAME)
                    and len(clean) > 1
                    and not clean.startswith("http")
                    and not clean.startswith("www")):
                name_parts.append(clean)
                if len(name_parts) >= 3:
                    break
    if name_parts:
        out["full_name"] = _field(
            _SPACES.sub(" ", " ".join(name_parts)).strip(), 85.0, src)

    # address capture: from D/O-S/O-C/O-W/O until the aadhaar line
    addr_parts: List[str] = []
    capturing = False
    for line in lines:
        clean = line.strip()
        u = line.upper()
        if any(ind in u for ind in _AADHAAR_ADDR_START):
            capturing = True
            if u not in _AADHAAR_ADDR_START:
                addr_parts.append(clean)
            continue
        if capturing:
            squeezed = _SPACE_OR_DASH.sub("", clean)
            if _AADHAAR_DIGITS.match(squeezed):
                break
            if any(s in u for s in _AADHAAR_ADDR_SKIP):
                continue
            if clean and len(clean) > 1:
                addr_parts.append(clean)
    if addr_parts:
        addr = ", ".join(addr_parts)
        addr = _EMPTY_COMMA.sub(",", addr)
        addr = _SPACES.sub(" ", addr)
        out["address"] = _field(addr.strip(), 80.0, src)
    return out


# ---------------------------------------------------------------------------
# T7 VISA_CANCELLATION (backend/ocr_service.py:860-958)
# ---------------------------------------------------------------------------

_VC_NAME_PATTERNS = [
    Twin(r"name\s*[:\-]?\s*([A-Z][A-Za-z\s]{5,50})", _I),
    Twin(r"applicant\s*[:\-]?\s*([A-Z][A-Za-z\s]{5,50})", _I),
    Twin(r"employee\s*[:\-]?\s*([A-Z][A-Za-z\s]{5,50})", _I),
]
_VC_PASSPORT_PATTERNS = [
    Twin(r"passport\s*(?:no|number|#)?\s*[:\-]?\s*([A-Z0-9]{6,9})", _I),
    Twin(r"passport\s*([A-Z0-9]{6,9})", _I),
    Twin(r"([A-Z]{1,2}\d{6,8})", _I),
]
_VC_VISA_PATTERNS = [
    Twin(r"visa\s*(?:no|number|#)?\s*[:\-]?\s*(\d{10,15})", _I),
    Twin(r"residence\s*(?:no|number)?\s*[:\-]?\s*(\d{10,15})", _I),
    Twin(r"(?:visa|residence)\s*([0-9\/\-]{10,})", _I),
]
_VC_SPONSOR_ID_PATTERNS = [
    Twin(r"sponsor\s*(?:id|number)?\s*[:\-]?\s*(\d{10,15})", _I),
    Twin(r"establishment\s*(?:id|card)?\s*[:\-]?\s*(\d{10,15})", _I),
]
_VC_SPONSOR_NAME_PATTERNS = [
    Twin(r"sponsor\s*name\s*[:\-]?\s*([A-Z][A-Za-z\s&\.\-]{5,100})", _I),
    Twin(r"sponsor\s*[:\-]?\s*([A-Z][A-Za-z\s&\.\-]{5,100})", _I),
]
_VC_REF_PATTERNS = [
    Twin(r"cancellation\s*(?:no|number|ref|reference)?\s*[:\-]?\s*([A-Z0-9\-\/]+)", _I),
    Twin(r"reference\s*(?:no|number)?\s*[:\-]?\s*([A-Z0-9\-\/]+)", _I),
    Twin(r"transaction\s*(?:no|number)?\s*[:\-]?\s*([A-Z0-9\-\/]+)", _I),
]
_VC_NATIONALITY = Twin(r"nationality\s*[:\-]?\s*([A-Za-z\s]+)", _I)
_VC_PROFESSION = Twin(r"profession\s*[:\-]?\s*([^\n]+)", _I)
_VC_NAME_BREAK = re.compile(r"\s{2,}|\t|\|")


def extract_visa_cancellation(text: str) -> Dict:
    out: Dict[str, Dict] = {}
    src = "CANCEL_OCR"
    lower = text.lower()
    low = lower if text.isascii() else None

    for pat in _VC_NAME_PATTERNS:
        m = pat.search(text, low)
        if m:
            name = _SPACES.sub(" ", cut(m, text).strip())
            if len(name.split()) >= 2:
                out["full_name"] = _field(name.upper(), 85.0, src)
                break

    m = _first(text, low, _VC_PASSPORT_PATTERNS)
    if m:
        out["passport_number"] = _field(cut(m, text).upper(), 90.0, src)

    m = _first(text, low, _VC_VISA_PATTERNS)
    if m:
        out["visa_number"] = _field(cut(m, text), 90.0, src)

    for vt in ("employment", "dependent", "investor", "tourist", "residence", "partner"):
        if vt in lower:
            out["visa_type"] = _field(vt.upper(), 85.0, src)
            break

    m = _first(text, low, _VC_SPONSOR_ID_PATTERNS)
    if m:
        out["sponsor_id"] = _field(cut(m, text), 85.0, src)

    m = _first(text, low, _VC_SPONSOR_NAME_PATTERNS)
    if m:
        s_name = _VC_NAME_BREAK.split(cut(m, text).strip())[0]
        out["sponsor_name"] = _field(s_name.upper(), 80.0, src)

    m = _first(text, low, _VC_REF_PATTERNS)
    if m:
        out["cancellation_ref"] = _field(cut(m, text), 85.0, src)

    m = _VC_NATIONALITY.search(text, low)
    if m:
        out["nationality"] = _field(cut(m, text).strip().upper(), 85.0, src)

    m = _VC_PROFESSION.search(text, low)
    if m:
        out["profession"] = _field(
            cut(m, text).split("  ")[0].strip().upper(), 80.0, src)
    return out


# ---------------------------------------------------------------------------
# T8 COMPANY_VAT_CERTIFICATE / T9 ENTRY_PERMIT / T10 COMPANY_LICENSE —
# labeled-pattern tables evaluated in order, confidence 90 if len(value)>2
# else 50 (backend/ocr_service.py:960-1144).
# ---------------------------------------------------------------------------

# The email rows start only where a run of the local part's class starts:
# the local part must run up to the '@', so every start inside a run has
# the same continuation as the run's first, which comes first.  Tried at
# every start, a long run with no '@' was scanned once per position.
_EMAIL_AT_RUN = r"(?<![a-zA-Z0-9._%+-])"


def _compile_table(table: List[Tuple[str, str]]) -> List[Tuple[str, Twin]]:
    return [(key, Twin(pattern, _IM)) for key, pattern in table]


_VAT_TABLE = _compile_table([
    ("registration_number", r"(?:registration\s*number|vat\s*number|trn|tax\s*registration)[\s:]*([A-Z0-9\-\/]+)"),
    ("certificate_number", r"(?:certificate\s*number|cert\s*no)[\s:]*([A-Z0-9\-\/]+)"),
    ("legal_name_english", r"(?:legal\s*name|entity\s*name|company\s*name)[\s:]*([A-Za-z0-9\s,&\.-]+)"),
    ("legal_name_arabic", r"(?:الاسم\s*القانوني|اسم\s*الكيان|اسم\s*الشركة)[\s:]*([^\n]+)"),
    ("registered_address", r"(?:registered\s*address|business\s*address|address)[\s:]*([^\n]+)"),
    ("contact_number", r"(?:contact|phone|mobile|tel)[\s:]*([+0-9\-\s\(\)]+)"),
    ("effective_registration_date", r"(?:effective\s*registration\s*date|effective\s*date)[\s:]*([0-9/\-]+)"),
    ("date_of_issue", r"(?:date\s*of\s*issue|issue\s*date|issued\s*on)[\s:]*([0-9/\-]+)"),
    ("first_vat_return_period", r"(?:first\s*vat\s*return\s*period)[\s:]*([0-9/\-]+\s*(?:to|-|–)\s*[0-9/\-]+)"),
    ("vat_return_due_date", r"(?:vat\s*return\s*due\s*date|return\s*due\s*date)[\s:]*([0-9/\-]+)"),
    ("tax_period_start_end", r"(?:tax\s*period|period)[\s:]*([0-9/\-]+\s*(?:to|-|–)\s*[0-9/\-]+)"),
])

_ENTRY_PERMIT_TABLE = _compile_table([
    ("permit_number", r"(?:entry\s*permit\s*(?:number|no|#)|permit\s*no)[\s:]*([A-Z0-9\-\/]+)"),
    ("visa_number", r"(?:visa\s*(?:number|no|#))[\s:]*([A-Z0-9\-\/]+)"),
    ("file_number", r"(?:file\s*number|file\s*no)[\s:]*([A-Z0-9\-\/]+)"),
    ("uid_number", r"(?:uid\s*(?:number|no))[\s:]*([0-9]{6,15})"),
    ("application_number", r"(?:application\s*(?:number|no|#))[\s:]*([A-Z0-9\-\/]+)"),
    ("reference_number", r"(?:reference\s*(?:number|no|#)|ref\s*no)[\s:]*([A-Z0-9\-\/]+)"),
    ("full_name", r"(?:full\s*name|applicant\s*name|name)[\s:]*([A-Za-z؀-ۿ\s\.-]+)"),
    ("nationality", r"(?:nationality|citizenship)[\s:]*([A-Za-z؀-ۿ\s]+)"),
    ("gender", r"(?:gender|sex)[\s:]*([A-Za-z]+)"),
    ("date_of_birth", r"(?:date\s*of\s*birth|dob)[\s:]*([0-9]{1,2}[\/\-][0-9]{1,2}[\/\-][0-9]{2,4})"),
    ("passport_number", r"(?:passport\s*(?:number|no|#))[\s:]*([A-Z0-9]{6,15})"),
    ("passport_issue_date", r"(?:passport\s*issue\s*date)[\s:]*([0-9\/\-]+)"),
    ("passport_expiry_date", r"(?:passport\s*expiry\s*date|passport\s*valid\s*until)[\s:]*([0-9\/\-]+)"),
    ("passport_issue_place", r"(?:place\s*of\s*issue)[\s:]*([A-Za-z؀-ۿ\s]+)"),
    ("permit_type", r"(?:permit\s*type|visa\s*type)[\s:]*([A-Za-z\s]+)"),
    ("permit_category", r"(?:permit\s*category|category)[\s:]*([A-Za-z0-9\s]+)"),
    ("entry_type", r"(?:entry\s*type)[\s:]*([A-Za-z\s]+)"),
    ("number_of_entries", r"(?:entries\s*allowed)[\s:]*([A-Za-z0-9]+)"),
    ("duration", r"(?:duration|validity\s*period)[\s:]*([0-9]+\s*(?:days?|months?|yrs?|years?))"),
    ("issue_date", r"(?:issue\s*date|issued\s*on)[\s:]*([0-9\/\-]+)"),
    ("expiry_date", r"(?:expiry\s*date|expires\s*on)[\s:]*([0-9\/\-]+)"),
    ("valid_from", r"(?:valid\s*from|entry\s*from)[\s:]*([0-9\/\-]+)"),
    ("valid_until", r"(?:valid\s*until|entry\s*until)[\s:]*([0-9\/\-]+)"),
    ("port_of_entry", r"(?:port\s*of\s*entry|entry\s*point)[\s:]*([A-Za-z؀-ۿ\s]+)"),
    ("purpose_of_visit", r"(?:purpose\s*of\s*visit|purpose)[\s:]*([A-Za-z؀-ۿ\s]+)"),
    ("sponsor_name", r"(?:sponsor\s*name|sponsored\s*by)[\s:]*([A-Za-z؀-ۿ\s\.-]+)"),
    ("sponsor_id", r"(?:sponsor\s*(?:id|number|no))[\s:]*([A-Z0-9\-\/]+)"),
    ("employer_name", r"(?:employer\s*name|company\s*name)[\s:]*([A-Za-z؀-ۿ\s\.-]+)"),
    ("job_title", r"(?:job\s*title|position)[\s:]*([A-Za-z؀-ۿ\s]+)"),
    ("email", _EMAIL_AT_RUN + r"([a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[A-Za-z]{2,})"),
    ("phone", r"(?:phone|mobile|contact)[\s:]*([+0-9\-\s\(\)]{6,20})"),
    ("address", r"(?:address)[\s:]*([A-Za-z0-9؀-ۿ,\-\s]+)"),
    ("status", r"(?:status)[\s:]*([A-Za-z]+)"),
    ("approval_status", r"(?:approval\s*status)[\s:]*([A-Za-z\s]+)"),
    ("issued_by", r"(?:issued\s*by|issuing\s*authority)[\s:]*([A-Za-z؀-ۿ\s]+)"),
    ("issuing_office", r"(?:issuing\s*office)[\s:]*([A-Za-z؀-ۿ\s]+)"),
    ("qr_code", r"(?:qr\s*code)[\s:]*([A-Za-z0-9]+)"),
    ("barcode_number", r"(?:barcode|bar\s*code)[\s:]*([A-Za-z0-9]+)"),
])

_LICENSE_TABLE = _compile_table([
    ("license_type", r"(?:license\s*type)\s*[:\-]?\s*([A-Za-z\s]+)"),
    ("license_no", r"(?:license\s*no|licence\s*no|license\s*number)\s*[:\-]?\s*([A-Z0-9\-\/]+)"),
    ("main_license_no", r"(?:main\s*license\s*no)\s*[:\-]?\s*([A-Z0-9\-\/]+)"),
    ("register_no", r"(?:register\s*no)\s*[:\-]?\s*([A-Z0-9\-\/]+)"),
    ("dcci_no", r"(?:dcci\s*no)\s*[:\-]?\s*([A-Z0-9\-\/]+)"),
    ("duns_no", r"(?:d[\.\-]?\s*&?\s*b|duns|d-u-n-s)\s*[:\-]?\s*([0-9\-]+)"),
    ("company_name", r"(?:company\s*name)\s*[:\-]?\s*([A-Za-z0-9\s&\.,\-]+)"),
    ("company_name_ar", r"(?:اسم\s*الشركة)\s*[:\-]?\s*([^\n]+)"),
    ("business_name", r"(?:business\s*name|trade\s*name)\s*[:\-]?\s*([A-Za-z0-9\s&\.,\-]+)"),
    ("legal_type", r"(?:legal\s*type|entity\s*type|legal\s*form)\s*[:\-]?\s*([A-Za-z\s]+)"),
    ("issue_date", r"(?:issue\s*date)\s*[:\-]?\s*([0-9\/\-]+)"),
    ("expiry_date", r"(?:expiry\s*date|expires\s*on)\s*[:\-]?\s*([0-9\/\-]+)"),
    ("address", r"(?:address)\s*[:\-]?\s*([A-Za-z0-9\s,\-\/]+)"),
    ("po_box", r"(?:p\.?\s*o\.?\s*box)\s*[:\-]?\s*([0-9]+)"),
    ("phone", r"(?:phone\s*no|contact)\s*[:\-]?\s*([+0-9\s\-\(\)]+)"),
    ("fax", r"(?:fax\s*no)\s*[:\-]?\s*([+0-9\s\-\(\)]+)"),
    ("mobile", r"(?:mobile\s*no)\s*[:\-]?\s*([+0-9\s\-\(\)]+)"),
    ("parcel_id", r"(?:parcel\s*id)\s*[:\-]?\s*([A-Za-z0-9\-\/]+)"),
    ("email", _EMAIL_AT_RUN + r"([A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,})"),
])


def _apply_pattern_table(text: str, table: List[Tuple[str, Twin]], source: str) -> Dict:
    text_clean = text.replace("\r", "\n")
    low = fold(text_clean)
    out: Dict[str, Dict] = {}
    for key, pattern in table:
        m = pattern.search(text_clean, low)
        if m:
            value = cut(m, text_clean).strip()
            out[key] = _field(value, 90.0 if len(value) > 2 else 50.0, source)
    return out


def extract_vat_certificate(text: str) -> Dict:
    return _apply_pattern_table(text, _VAT_TABLE, "VAT_OCR")


def extract_entry_permit(text: str) -> Dict:
    return _apply_pattern_table(text, _ENTRY_PERMIT_TABLE, "PERMIT_OCR")


_ROW_HEAD = re.compile(r"(\d+)(\s+)")
_ROW_HEAD_AT_RUN = re.compile(r"(?<!\d)(\d+)(\s+)")
_NAME_RUN = re.compile(r"[A-Za-z؀-ۿ\s\.]*")
_WORD_RUN = re.compile(r"[A-Za-z؀-ۿ]*")
_ROLE_RUNS = re.compile(r"[A-Za-z\s]+")
_SPACE_RUN = re.compile(r"\s*")
_SHARE_RUN = re.compile(r"[0-9\.%]*")
_SPACES_BEFORE_WORD = re.compile(r"(?<!\s)\s++(?=[A-Za-z؀-ۿ])")


def _member_rows(text: str) -> Iterator[Tuple[str, str, str, str, str]]:
    r"""The groups of every match of the members-table row
    ``(\d+)\s+([A-Za-z؀-ۿ\s\.]+)\s+([A-Za-z؀-ۿ]+)\s+([A-Za-z\s]+)\s+([0-9\.%]+)``
    (no, name, nationality, role, share), as ``finditer`` gives them, in
    linear time.  The regex retried every end of its greedy name group
    and rescanned the role run after each: cubic in a run of spaces after
    a number.

    How the regex resolves a row at a number: its spaces end at ``y0``;
    the name runs from ``y0`` to the LAST end ``a`` inside its run of name
    characters from which the row goes on (``_row_rest``); only if there
    is none, and the number is followed by three or more spaces, is the
    name the one space before the first word.  Whether the row goes on
    from ``a`` depends on ``a`` alone, so each name run is searched once,
    from its right end.  A later start inside one digit run has the same
    continuation as the first.
    """
    n = len(text)
    run = (0, 0, [], None)  # the last name run: (start, end, role runs, last a)
    head = _ROW_HEAD.match(text) or _ROW_HEAD_AT_RUN.search(text, 1)
    while head:
        p, d, y0 = head.start(), head.end(1), head.end()
        if not run[0] <= y0 < run[1]:
            e = _NAME_RUN.match(text, y0).end()
            # the role runs a share can follow: they end in a space
            roles = [(r.start(), r.end()) for r in _ROLE_RUNS.finditer(text, y0, e)
                     if r.end() < n and text[r.end()] in "0123456789.%"
                     and text[r.end() - 1].isspace()]
            last = None
            for sp in reversed(list(_SPACES_BEFORE_WORD.finditer(text, y0, e))):
                if _row_rest(text, sp.end() - 1, roles):
                    last = sp.end() - 1
                    break
            run = (y0, e, roles, last)
        _, _, roles, a = run
        y = y0
        if a is not None and a <= y0:
            a = None
        if a is None and y0 - d >= 3 and _row_rest(text, y0 - 1, roles):
            y, a = y0 - 2, y0 - 1
        if a is None:
            head = _ROW_HEAD_AT_RUN.search(text, p + 1)
            continue
        a1, w, be = _row_rest(text, a, roles)
        x0 = _SPACE_RUN.match(text, w).end()
        role_start = x0 if x0 <= be - 2 else be - 2
        end = _SHARE_RUN.match(text, be).end()
        yield text[p:d], text[y:a], text[a1:w], text[role_start:be - 1], text[be:end]
        head = _ROW_HEAD.match(text, end) or _ROW_HEAD_AT_RUN.search(text, end + 1)


def _row_rest(text: str, a: int, roles) -> Optional[Tuple[int, int, int]]:
    """-> (word start, word end, role-run end) when a member row goes on
    from a name ending at ``a`` (spaces, a word, a space, then a role run
    of at least two characters that ends in a space and is followed by a
    share character), else None.  ``roles`` holds the role runs a share
    follows, in order."""
    a1 = _SPACE_RUN.match(text, a).end()
    w = _WORD_RUN.match(text, a1).end()
    if a1 == a or w == a1 or w == len(text) or not text[w].isspace():
        return None
    i = bisect_right(roles, (w, len(text))) - 1
    if i >= 0 and roles[i][0] <= w < roles[i][1] and roles[i][1] - w >= 3:
        return a1, w, roles[i][1]
    return None


# ``([A-Za-z؀-ۿ\s\.]+)\s+([A-Za-z]+)\s+(\d+)\s+([0-9\.%]+)``: the first
# group is greedy, so the ``\s+`` after it always matches exactly one
# character, and writing ``\s`` keeps the matches while each start costs
# time linear in its run.  _PARTNER_AT_RUN is the same pattern tried only
# at the start of a run of the first group's class; see _partner_rows.
_LICENSE_PARTNER_ROW = re.compile(
    r"([A-Za-z؀-ۿ\s\.]+)\s([A-Za-z]+)\s+(\d+)\s+([0-9\.%]+)",
    re.MULTILINE)
_PARTNER_AT_RUN = re.compile(r"(?<![A-Za-z؀-ۿ\s\.])" + _LICENSE_PARTNER_ROW.pattern,
                             re.MULTILINE)


def _partner_rows(text: str) -> Iterator[re.Match]:
    """``_LICENSE_PARTNER_ROW.finditer(text)`` in linear time.  A start
    inside a run of the first group's class reaches a subset of the ends
    an earlier start of that run reaches, so after a failed start only the
    next run's start can match; finditer retried every position."""
    pos = 0
    while True:
        m = (_LICENSE_PARTNER_ROW.match(text, pos)
             or _PARTNER_AT_RUN.search(text, pos + 1))
        if not m:
            return
        yield m
        pos = m.end()


def extract_company_license(text: str) -> Dict:
    """Pattern table + members/partners table rows, JSON-encoded values.
    The reference's json.dumps calls would NameError at runtime (missing
    import — §0.1.2); this is the intended behavior."""
    out = _apply_pattern_table(text, _LICENSE_TABLE, "LICENSE_OCR")
    text_clean = text.replace("\r", "\n")

    members = [
        {"no": no, "name": name.strip(), "nationality": nationality,
         "role": role, "share": share}
        for no, name, nationality, role, share in _member_rows(text_clean)
    ]
    if members:
        out["members_table"] = _field(json.dumps(members), 90.0, "TABLE_OCR")

    partners = [
        {"name": m.group(1).strip(), "nationality": m.group(2),
         "sr_no": m.group(3), "share": m.group(4)}
        for m in _partner_rows(text_clean)
    ]
    if partners:
        out["partners_table"] = _field(json.dumps(partners), 90.0, "TABLE_OCR")
    return out


# ---------------------------------------------------------------------------
# T11 INVOICE — intended logic from the never-imported module
# backend/invoice_extraction_methods.py:4-244 (§0.1.1).
# ---------------------------------------------------------------------------

def _invoice_sections(text: str) -> Tuple[str, str]:
    """Bill-to section splitter state machine (:143-162)."""
    supplier, customer = [], []
    in_customer = False
    for line in text.split("\n"):
        lower = line.lower()
        if any(w in lower for w in ("bill to", "customer", "client", "buyer", "billed to")):
            in_customer = True
        elif any(w in lower for w in ("seller", "vendor", "from", "supplier", "invoice from")):
            in_customer = False
        (customer if in_customer else supplier).append(line)
    return "\n".join(supplier) + "\n", "\n".join(customer) + "\n"


def _invoice_company_name(section: str) -> Optional[str]:
    lines = [l.strip() for l in section.split("\n") if l.strip()]
    if not lines:
        return None
    for line in lines[:10]:
        if len(line) > 3 and not line.startswith(
                ("Phone", "Email", "Address", "Tax", "GST", "VAT")):
            if line.isupper() or line.istitle():
                return line
    return lines[0]


_INVOICE_ADDRESS_HINT = Twin(r"\d+|,|street|road|avenue|city|state|zip|pincode", _I)
_INVOICE_IBAN = Twin(r"IBAN[:\s]*([A-Z0-9]{15,34})", _I)
_INVOICE_SWIFT = Twin(r"SWIFT[:\s]*([A-Z0-9]{8,11})", _I)
_INVOICE_ACCOUNT = Twin(r"(?:account|acc)(?:\s*no|\s*number)[:\s]*(\d{8,18})", _I)
_DIGITS = re.compile(r"\d+")


def _invoice_address(section: str) -> Optional[str]:
    picked = []
    low = fold(section)
    low_lines = low.split("\n") if low is not None else None
    for i, line in enumerate(section.split("\n")):
        line = line.strip()
        # the hint holds no whitespace, so the unstripped lowered line
        # finds it exactly when the stripped line does
        if line and _INVOICE_ADDRESS_HINT.search(
                line, None if low_lines is None else low_lines[i]):
            picked.append(line)
            if len(picked) >= 3:
                break
    return ", ".join(picked) if picked else None


def _invoice_bank_details(text: str, low: Optional[str]) -> Optional[dict]:
    details = {}
    m = _INVOICE_IBAN.search(text, low)
    if m:
        details["iban"] = cut(m, text)
    m = _INVOICE_SWIFT.search(text, low)
    if m:
        details["swift"] = cut(m, text)
    m = _INVOICE_ACCOUNT.search(text, low)
    if m:
        details["account_number"] = cut(m, text)
    return details or None


def _invoice_line_item_count(text: str) -> int:
    """Header-row finder + numeric-row counter until a totals row (:214-244)."""
    lines = text.split("\n")
    header_idx = -1
    for i, line in enumerate(lines):
        lower = line.lower()
        if (("description" in lower or "item" in lower)
                and ("quantity" in lower or "qty" in lower)
                and ("price" in lower or "rate" in lower or "amount" in lower)):
            header_idx = i
            break
    if header_idx == -1:
        return 0
    count = 0
    for line in lines[header_idx + 1:]:
        line = line.strip()
        if not line:
            continue
        lower = line.lower()
        if any(w in lower for w in ("subtotal", "total", "tax", "discount", "grand")):
            break
        if _DIGITS.search(line):
            count += 1
    return count


# Single-pattern fields, (field, pattern, confidence, format), applied in
# output order; the value is group 1, stripped, then formatted.
_INVOICE_HEAD = [
    ("invoice_number", Twin(r"(?:invoice\s*(?:number|no|#)|inv\s*(?:no|#))[:\s]*([A-Z0-9\-/]+)", _I), 90.0, "{}"),
    ("invoice_date", Twin(r"(?:invoice\s*date|date)[:\s]*(\d{1,2}[/-]\d{1,2}[/-]\d{2,4}|\d{4}[/-]\d{1,2}[/-]\d{1,2})", _I), 88.0, "{}"),
    ("due_date", Twin(r"(?:due\s*date|payment\s*due)[:\s]*(\d{1,2}[/-]\d{1,2}[/-]\d{2,4}|\d{4}[/-]\d{1,2}[/-]\d{1,2})", _I), 88.0, "{}"),
    ("invoice_type", Twin(r"(tax\s*invoice|proforma\s*invoice|credit\s*note|debit\s*note|commercial\s*invoice)", _I), 92.0, "{}"),
]
_INVOICE_AMOUNTS = [
    ("currency", Twin(r"\b(USD|EUR|GBP|INR|AUD|CAD|SGD|JPY|CNY|AED)\b"), 95.0, "{}"),
    ("subtotal", Twin(r"(?:subtotal|sub\s*total)[:\s]*([₹$€£¥]?\s*[\d,]+\.?\d*)", _I), 88.0, "{}"),
    ("tax_amount", Twin(r"(?:tax|vat|gst)[:\s]*([₹$€£¥]?\s*[\d,]+\.?\d*)", _I), 88.0, "{}"),
    ("tax_rate", Twin(r"(?:tax|vat|gst).*?(\d+(?:\.\d+)?)\s*%", _I), 90.0, "{}%"),
    ("grand_total", Twin(r"(?:grand\s*total|total\s*amount|net\s*total|total)[:\s]*([₹$€£¥]?\s*[\d,]+\.?\d*)", _I), 90.0, "{}"),
    ("payment_terms", Twin(r"(?:payment\s*terms|terms)[:\s]*(net\s*\d+|due\s*on\s*receipt|[^.\n]{5,50})", _I), 80.0, "{}"),
    ("po_number", Twin(r"(?:PO|purchase\s*order)[:\s#]*([A-Z0-9\-/]+)", _I), 88.0, "{}"),
]
_INVOICE_NOTES = [
    ("notes", Twin(r"(?:notes?|remarks?|comments?)[:\s]*([^\n]{10,200})", _I), 75.0, "{}"),
]
# Ordinal pairs, (supplier_field, customer_field, pattern, confidence):
# the first match is the supplier's, the second the customer's.
_INVOICE_PAIRS = [
    ("supplier_tax_id", "customer_tax_id", Twin(r"(?:GST|VAT|TIN|TAX\s*ID)[:\s]*([A-Z0-9]{8,15})", _I), 85.0),
    ("supplier_email", "customer_email", Twin(r"\b([a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,})\b"), 90.0),
    ("supplier_phone", "customer_phone", Twin(r"(?:phone|tel|mobile|contact)[:\s]*([+\d\s\-\(\)]{10,20})", _I), 85.0),
]


def _invoice_fields(text: str, low: Optional[str], rows, out: Dict, src: str) -> None:
    for field, pattern, conf, fmt in rows:
        m = pattern.search(text, low)
        if m:
            out[field] = _field(fmt.format(cut(m, text).strip()), conf, src)


def extract_invoice(text: str) -> Dict:
    out: Dict[str, Dict] = {}
    src = "INVOICE_OCR"
    low = fold(text)
    _invoice_fields(text, low, _INVOICE_HEAD, out, src)

    for supplier_field, customer_field, pattern, conf in _INVOICE_PAIRS:
        values = [cut(m, text) for m in islice(pattern.finditer(text, low), 2)]
        for field, value in zip((supplier_field, customer_field), values):
            out[field] = _field(value.strip(), conf, src)

    _invoice_fields(text, low, _INVOICE_AMOUNTS, out, src)

    supplier_sec, customer_sec = _invoice_sections(text)
    name = _invoice_company_name(supplier_sec)
    if name:
        out["supplier_name"] = _field(name, 80.0, src)
    name = _invoice_company_name(customer_sec)
    if name:
        out["customer_name"] = _field(name, 80.0, src)
    addr = _invoice_address(supplier_sec)
    if addr:
        out["supplier_address"] = _field(addr, 75.0, src)
    addr = _invoice_address(customer_sec)
    if addr:
        out["customer_address"] = _field(addr, 75.0, src)

    bank = _invoice_bank_details(text, low)
    if bank:
        out["bank_details"] = _field(json.dumps(bank), 85.0, src)

    _invoice_fields(text, low, _INVOICE_NOTES, out, src)

    n_items = _invoice_line_item_count(text)
    if n_items > 0:
        out["line_items"] = _field(f"{n_items} items", 70.0, src)
    return out


# ---------------------------------------------------------------------------
# T12 PURCHASE_ORDER / T13 LABOR_CONTRACT — config-pattern fallback
# (dispatch targets missing in the reference; SURVEY.md §2.6).
# ---------------------------------------------------------------------------

_FALLBACK_PATTERNS = {doc_type: compile_field_patterns(table)
                      for doc_type, table in FALLBACK_FIELD_PATTERNS.items()}


def extract_purchase_order(text: str) -> Dict:
    return extract_config_fallback(text, _FALLBACK_PATTERNS["PURCHASE_ORDER"])


def extract_labor_contract(text: str) -> Dict:
    return extract_config_fallback(text, _FALLBACK_PATTERNS["LABOR_CONTRACT"])


# ---------------------------------------------------------------------------
# F3 dispatch (backend/ocr_service.py:126-394)
# ---------------------------------------------------------------------------

EXTRACTORS = {
    "PASSPORT": extract_passport,
    "LABOR_CARD": extract_labor_card,
    "RESIDENCE_VISA": extract_residence_visa,
    "EMIRATES_ID": extract_emirates_id,
    "VISIT_VISA": extract_visit_visa,
    "HOME_COUNTRY_ID": extract_home_country_id,
    "VISA_CANCELLATION": extract_visa_cancellation,
    "COMPANY_VAT_CERTIFICATE": extract_vat_certificate,
    "ENTRY_PERMIT": extract_entry_permit,
    "COMPANY_LICENSE": extract_company_license,
    "INVOICE": extract_invoice,
    "PURCHASE_ORDER": extract_purchase_order,
    "LABOR_CONTRACT": extract_labor_contract,
}


def extract_fields(text: str, document_type: str) -> Dict:
    """Route page text to the per-type extractor; unknown types yield {}."""
    fn = EXTRACTORS.get(document_type)
    return fn(text) if fn else {}
