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
"""

from __future__ import annotations

import json
import re
from datetime import datetime, timedelta
from typing import Callable, Dict, List, Optional, Tuple

from .fields_generic import extract_config_fallback
from .registry import FALLBACK_FIELD_PATTERNS

_I = re.IGNORECASE
_IM = re.IGNORECASE | re.MULTILINE

_ARABIC = re.compile(r"[؀-ۿ]+")


def _field(value, conf: float, source: str) -> Dict:
    return {"value": value, "confidence": conf, "source": source}


def _first(text: str, patterns, flags: int = 0) -> Optional[re.Match]:
    """The first match of an ordered pattern cascade, else None."""
    for pat in patterns:
        m = re.search(pat, text, flags)
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
    re.compile(r"issue.*?(\d{2}[/-]\d{2}[/-]\d{4})", _I),
    re.compile(r"(\d{2}[/-]\d{2}[/-]20(?:1|2)\d)"),
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


def _passport_issue_date(text: str, expiry: Optional[str]) -> Optional[str]:
    """Page-text issue date, else expiry - 10y + 1 day (:1460-1493)."""
    for pat in _ISSUE_DATE_PATTERNS:
        m = pat.search(text)
        if m:
            ds = m.group(1)
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

    issue = _passport_issue_date(
        text, out.get("passport_expiry_date", {}).get("value"))
    if issue:
        out["passport_issue_date"] = _field(issue, 80.0, "PAGE_OCR")

    lower = text.lower()
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
_LABOR_NAME_LABEL = re.compile(r"Name\s*[:\.]?\s*([A-Za-z\s]+)(?:$|\n)", _I)
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
    re.compile(r"(\d{2}[/-]\d{2}[/-]\d{4})"),
    re.compile(r"(\d{4}[/-]\d{2}[/-]\d{2})"),
    re.compile(r"(\d{2}\s[A-Z]{3}\s\d{4})"),
]
_ESTABLISHMENT_PATTERNS = [
    re.compile(r"([A-Z][A-Za-z\s&\-]+(?:LLC|L\.L\.C|LTD|LIMITED))", _I),
    re.compile(r"(?:Establishment|Company|Corporation)[\s:]+([A-Z][A-Za-z\s&\-]+)", _I),
]
_ESTABLISHMENT_LABEL = re.compile(r"establishment\s*:\s*", _I)


def _labor_name(text: str) -> Optional[str]:
    m = _LABOR_NAME_LABEL.search(text)
    if m:
        cand = m.group(1).strip()
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


def _number_in_range(text: str, lo: int, hi: int) -> Optional[str]:
    matches = re.findall(r"\b\d{%d,%d}\b" % (lo, hi), text)
    return matches[0] if matches else None


def _labor_expiry(text: str) -> Optional[str]:
    m = _first(text, _LABOR_DATE_PATTERNS)
    if not m:
        return None
    ds = m.group(1)
    for fmt in ("%d/%m/%Y", "%Y/%m/%d", "%d-%m-%Y", "%Y-%m-%d", "%d %b %Y"):
        try:
            return _fmt_dmy(datetime.strptime(ds, fmt))
        except Exception:
            continue
    return ds


def _labor_profession(text: str) -> Optional[str]:
    m = re.search(r"Profession\s*[:\.]?\s*([^\n]+)", text, _I)
    if m:
        prof = m.group(1).strip()
        if len(prof) > 2:
            for ar, en in _ARABIC_PROFESSIONS.items():
                if ar in prof:
                    return en
            return prof.split("  ")[0].strip()
    for ar, en in _ARABIC_PROFESSIONS.items():
        if ar in text:
            return en
    lower = text.lower()
    for kw in ("manager", "engineer", "technician", "driver", "worker", "supervisor"):
        if kw in lower:
            m = re.search(rf"\b([A-Za-z ]*{kw}[A-Za-z ]*)\b", lower, _I)
            if m:
                prof = m.group(1).strip()
                if 3 <= len(prof) <= 40:
                    return prof.title()
    return None


def _labor_nationality(text: str) -> Optional[str]:
    for ar, en in _ARABIC_NATIONALITIES.items():
        if ar in text:
            return en
    lower = text.lower()
    for country, nat in _ENGLISH_NATIONALITIES.items():
        if country in lower:
            return nat
    return None


def _labor_establishment(text: str) -> Optional[str]:
    m = _first(text, _ESTABLISHMENT_PATTERNS)
    if m:
        return _ESTABLISHMENT_LABEL.sub("", m.group(1)).strip().upper()
    lower = text.lower()
    if "llc" in lower or "l.l.c" in lower:
        m = re.search(r"([A-Z][A-Za-z\s&\-]{5,50}(?:LLC|L\.L\.C))", text, _I)
        if m:
            return _ESTABLISHMENT_LABEL.sub("", m.group(1)).strip().upper()
    return None


def extract_labor_card(text: str) -> Dict:
    out: Dict[str, Dict] = {}
    name = _labor_name(text)
    if name:
        out["full_name"] = _field(name, 85.0, "LABOR_OCR")
    wp = _number_in_range(text, 8, 11)
    if wp:
        out["work_permit_number"] = _field(wp, 90.0, "LABOR_OCR")
    pn = _number_in_range(text, 12, 16)
    if pn:
        out["personal_number"] = _field(pn, 90.0, "LABOR_OCR")
    exp = _labor_expiry(text)
    if exp:
        out["expiry_date"] = _field(exp, 85.0, "LABOR_OCR")
    prof = _labor_profession(text)
    if prof:
        out["profession"] = _field(prof, 80.0, "LABOR_OCR")
    nat = _labor_nationality(text)
    if nat:
        out["nationality"] = _field(nat, 85.0, "LABOR_OCR")
    est = _labor_establishment(text)
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


def extract_residence_visa(text: str) -> Dict:
    out: Dict[str, Dict] = {}

    m = re.search(r"(?:U\.I\.D\.No|UID|U\.I\.D)\s*[:\s]*(\d{9})", text, _I)
    if m:
        out["uid_number"] = _field(m.group(1), 95.0, "VISA_OCR")
    else:
        m = re.search(r"\b(\d{9})\b", text)
        if m:
            out["uid_number"] = _field(m.group(1), 85.0, "VISA_OCR")

    m = _first(text, (r"(?:File|FILE)\s*[:\s]*(\d{3}/\d{4}/\d+)",
                      r"(\d{3}/\d{4}/\d+)", r"(\d{3}/\d{4})"))
    if m:
        out["file_number"] = _field(m.group(1), 90.0, "VISA_OCR")

    candidates = []
    for name in re.findall(r"\b([A-Z\s]{15,})\b", text):
        clean = name.strip()
        if len(clean) >= 15 and not any(k in clean for k in _RV_NAME_BLACKLIST):
            clean = _ARABIC.sub("", clean).strip()
            if len(clean) >= 15:
                candidates.append(clean)
    if candidates:
        out["name_on_visa"] = _field(max(candidates, key=len), 85.0, "VISA_OCR")

    for kw in _RV_PROF_KEYWORDS:
        if kw in text:
            m = re.search(rf"([A-Z\s]*{kw}[A-Z\s]*?)(?=\s*(?:[A-Z]{{2,}}\s[A-Z]{{2,}}|$))", text)
            if m:
                prof = _ARABIC.sub("", m.group(1).strip()).strip()
                if len(prof) >= 3:
                    out["profession"] = _field(prof, 80.0, "VISA_OCR")
                    break

    for pat in (r"([A-Z][A-Za-z\s&\-]+(?:L\.L\.C|LLC))",
                r"((?:[A-Z]{3,}\s+){2,4}(?:TECHNICAL|SERVICES|ENGINEERING|COMPANY)[A-Z\s]*)"):
        m = re.search(pat, text, _I)
        if m:
            sponsor = _ARABIC.sub("", m.group(1)).strip()
            sponsor = re.sub(r"\bSponsor\b", "", sponsor, flags=_I).strip()
            sponsor = sponsor.replace("LL C", "L.L.C").replace("LLC", "L.L.C")
            if len(sponsor) >= 10:
                out["sponsor"] = _field(sponsor, 80.0, "VISA_OCR")
                break

    upper = text.upper()
    for city in _UAE_CITIES:
        if city in upper:
            out["place_of_issue"] = _field(city.title(), 90.0, "VISA_OCR")
            break

    dates = re.findall(r"(\d{4}/\d{2}/\d{2})", text)
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


def extract_emirates_id(text: str) -> Dict:
    out: Dict[str, Dict] = {}

    m = re.search(r"(\d{3}-\d{4}-\d{7}-\d)", text)
    if m:
        out["emirates_id_number"] = _field(m.group(1), 95.0, "EMIRATES_OCR")
    else:
        m = re.search(r"(\d{15,})", text)
        if m:
            n = m.group(1)[:15]
            out["emirates_id_number"] = _field(
                f"{n[:3]}-{n[3:7]}-{n[7:14]}-{n[14]}", 90.0, "EMIRATES_OCR")

    candidates = []
    for name in re.findall(r"\b([A-Z][a-z]+(?:\s+[A-Z][a-z]+){2,})\b", text):
        if len(name) >= 15 and not any(k in name.upper() for k in _EID_NAME_BLACKLIST):
            clean = _ARABIC.sub("", name).strip()
            if len(clean) >= 15:
                candidates.append(clean)
    if candidates:
        out["name_on_emirates_id"] = _field(max(candidates, key=len), 85.0, "EMIRATES_OCR")

    dates = re.findall(r"\b(\d{2}/\d{2}/\d{4})\b", text)
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

    m = _first(text, (r"\b([MF])\b", r"(?:Sex)[:\s]*([MF]+)"), _I)
    gender = {"M": "Male", "F": "Female"}.get(m.group(1).upper()) if m else None
    if gender:
        out["gender"] = _field(gender, 85.0, "EMIRATES_OCR")
    return out


# ---------------------------------------------------------------------------
# T5 VISIT_VISA (backend/ocr_service.py:396-542) — line-oriented with the
# label-line-or-next-line lookahead idiom.
# ---------------------------------------------------------------------------

_VV_KEYWORDS = ["TOURIST", "VISIT", "VISA", "SINGLE", "MULTIPLE", "TRIP", "DAYS", "MONTH"]
_DMY_DATE = re.compile(r"([0-3]?\d[/-][0-1]?\d[/-]\d{4})")


def _label_or_next(lines: List[str], idx: int, pattern: str,
                   conf_here: float, conf_next: float) -> Optional[Tuple[str, float]]:
    m = re.search(pattern, lines[idx])
    if m:
        return m.group(), conf_here
    if idx + 1 < len(lines):
        m = re.search(pattern, lines[idx + 1])
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
            if re.search(r"\b\d+\s*(?:DAY|DAYS|MONTH|MONTHS)\b", u):
                visa_lines.append(line.strip())
            elif "VISA" in u or "TOURIST" in u or "VISIT" in u:
                visa_lines.append(line.strip())
    if visa_lines:
        out["visa_type_duration"] = _field(" ".join(visa_lines), 85.0, src)

    for i, line in enumerate(lines):
        u = line.upper()
        if "ENTRY" in u and ("PERMIT" in u or "NO" in u):
            hit = _label_or_next(lines, i, r"[A-Z0-9]{8,15}", 90.0, 90.0)
            if hit:
                out["entry_permit_number"] = _field(hit[0], hit[1], src)
                break

    for i, line in enumerate(lines):
        u = line.upper()
        if "U.I.D" in u or "UID" in u or "UNIFIED" in u:
            hit = _label_or_next(lines, i, r"\b[0-9]{12,15}\b", 92.0, 90.0)
            if hit:
                out["uid_number"] = _field(hit[0], hit[1], src)
                break

    for i, line in enumerate(lines):
        u = line.upper()
        if "ISSUE" in u or "ISSUED" in u:
            dm = _DMY_DATE.search(line)
            if dm:
                date_value = dm.group(1).replace("-", "/")
                pm = re.search(r"([A-Z][a-z]+(?:\s[A-Z][a-z]+)*)", line[dm.end():])
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
            m = re.search(r"\b([A-Z]{1,2}[0-9]{7,8})\b", line)
            if m:
                out["passport_number"] = _field(m.group(1), 92.0, src)
                break
            if i + 1 < len(lines):
                m = re.search(r"\b([A-Z]{1,2}[0-9]{7,8})\b", lines[i + 1])
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


def extract_home_country_id(text: str) -> Dict:
    out: Dict[str, Dict] = {}
    lines = text.split("\n")
    src = "AADHAAR_OCR"

    for line in lines:
        squeezed = re.sub(r"[\s-]", "", line)
        if re.match(r"^[2-9]\d{11}$", squeezed):
            out["aadhaar_number"] = _field(
                f"{squeezed[0:4]} {squeezed[4:8]} {squeezed[8:12]}", 95.0, src)
            break
        if re.match(r"^[2-9]\d{3}\s\d{4}\s\d{4}$", line.strip()):
            out["aadhaar_number"] = _field(line.strip(), 95.0, src)
            break

    for line in lines:
        m = re.search(r"DOB[:\s]*([0-3]?\d[/\-][0-1]?\d[/\-]\d{4})", line, _I)
        if m:
            out["date_of_birth"] = _field(m.group(1).replace("-", "/"), 90.0, src)
            break

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
            re.sub(r"\s+", " ", " ".join(name_parts)).strip(), 85.0, src)

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
            squeezed = re.sub(r"[\s-]", "", clean)
            if re.match(r"^[2-9]\d{11}$", squeezed):
                break
            if any(s in u for s in _AADHAAR_ADDR_SKIP):
                continue
            if clean and len(clean) > 1:
                addr_parts.append(clean)
    if addr_parts:
        addr = ", ".join(addr_parts)
        addr = re.sub(r",\s*,", ",", addr)
        addr = re.sub(r"\s+", " ", addr)
        out["address"] = _field(addr.strip(), 80.0, src)
    return out


# ---------------------------------------------------------------------------
# T7 VISA_CANCELLATION (backend/ocr_service.py:860-958)
# ---------------------------------------------------------------------------

def extract_visa_cancellation(text: str) -> Dict:
    out: Dict[str, Dict] = {}
    src = "CANCEL_OCR"

    for pat in (r"name\s*[:\-]?\s*([A-Z][A-Za-z\s]{5,50})",
                r"applicant\s*[:\-]?\s*([A-Z][A-Za-z\s]{5,50})",
                r"employee\s*[:\-]?\s*([A-Z][A-Za-z\s]{5,50})"):
        m = re.search(pat, text, _I)
        if m:
            name = re.sub(r"\s+", " ", m.group(1).strip())
            if len(name.split()) >= 2:
                out["full_name"] = _field(name.upper(), 85.0, src)
                break

    m = _first(text, (r"passport\s*(?:no|number|#)?\s*[:\-]?\s*([A-Z0-9]{6,9})",
                      r"passport\s*([A-Z0-9]{6,9})",
                      r"([A-Z]{1,2}\d{6,8})"), _I)
    if m:
        out["passport_number"] = _field(m.group(1).upper(), 90.0, src)

    m = _first(text, (r"visa\s*(?:no|number|#)?\s*[:\-]?\s*(\d{10,15})",
                      r"residence\s*(?:no|number)?\s*[:\-]?\s*(\d{10,15})",
                      r"(?:visa|residence)\s*([0-9\/\-]{10,})"), _I)
    if m:
        out["visa_number"] = _field(m.group(1), 90.0, src)

    lower = text.lower()
    for vt in ("employment", "dependent", "investor", "tourist", "residence", "partner"):
        if vt in lower:
            out["visa_type"] = _field(vt.upper(), 85.0, src)
            break

    m = _first(text, (r"sponsor\s*(?:id|number)?\s*[:\-]?\s*(\d{10,15})",
                      r"establishment\s*(?:id|card)?\s*[:\-]?\s*(\d{10,15})"), _I)
    if m:
        out["sponsor_id"] = _field(m.group(1), 85.0, src)

    m = _first(text, (r"sponsor\s*name\s*[:\-]?\s*([A-Z][A-Za-z\s&\.\-]{5,100})",
                      r"sponsor\s*[:\-]?\s*([A-Z][A-Za-z\s&\.\-]{5,100})"), _I)
    if m:
        s_name = re.split(r"\s{2,}|\t|\|", m.group(1).strip())[0]
        out["sponsor_name"] = _field(s_name.upper(), 80.0, src)

    m = _first(text, (r"cancellation\s*(?:no|number|ref|reference)?\s*[:\-]?\s*([A-Z0-9\-\/]+)",
                      r"reference\s*(?:no|number)?\s*[:\-]?\s*([A-Z0-9\-\/]+)",
                      r"transaction\s*(?:no|number)?\s*[:\-]?\s*([A-Z0-9\-\/]+)"), _I)
    if m:
        out["cancellation_ref"] = _field(m.group(1), 85.0, src)

    m = re.search(r"nationality\s*[:\-]?\s*([A-Za-z\s]+)", text, _I)
    if m:
        out["nationality"] = _field(m.group(1).strip().upper(), 85.0, src)

    m = re.search(r"profession\s*[:\-]?\s*([^\n]+)", text, _I)
    if m:
        out["profession"] = _field(
            m.group(1).split("  ")[0].strip().upper(), 80.0, src)
    return out


# ---------------------------------------------------------------------------
# T8 COMPANY_VAT_CERTIFICATE / T9 ENTRY_PERMIT / T10 COMPANY_LICENSE —
# labeled-pattern tables evaluated in order, confidence 90 if len(value)>2
# else 50 (backend/ocr_service.py:960-1144).
# ---------------------------------------------------------------------------

_VAT_TABLE: List[Tuple[str, str]] = [
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
]

_ENTRY_PERMIT_TABLE: List[Tuple[str, str]] = [
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
    ("email", r"([a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[A-Za-z]{2,})"),
    ("phone", r"(?:phone|mobile|contact)[\s:]*([+0-9\-\s\(\)]{6,20})"),
    ("address", r"(?:address)[\s:]*([A-Za-z0-9؀-ۿ,\-\s]+)"),
    ("status", r"(?:status)[\s:]*([A-Za-z]+)"),
    ("approval_status", r"(?:approval\s*status)[\s:]*([A-Za-z\s]+)"),
    ("issued_by", r"(?:issued\s*by|issuing\s*authority)[\s:]*([A-Za-z؀-ۿ\s]+)"),
    ("issuing_office", r"(?:issuing\s*office)[\s:]*([A-Za-z؀-ۿ\s]+)"),
    ("qr_code", r"(?:qr\s*code)[\s:]*([A-Za-z0-9]+)"),
    ("barcode_number", r"(?:barcode|bar\s*code)[\s:]*([A-Za-z0-9]+)"),
]

_LICENSE_TABLE: List[Tuple[str, str]] = [
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
    ("email", r"([A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,})"),
]


def _apply_pattern_table(text: str, table: List[Tuple[str, str]], source: str) -> Dict:
    text_clean = text.replace("\r", "\n")
    out: Dict[str, Dict] = {}
    for key, pattern in table:
        m = re.search(pattern, text_clean, _IM)
        if m:
            value = m.group(1).strip()
            out[key] = _field(value, 90.0 if len(value) > 2 else 50.0, source)
    return out


def extract_vat_certificate(text: str) -> Dict:
    return _apply_pattern_table(text, _VAT_TABLE, "VAT_OCR")


def extract_entry_permit(text: str) -> Dict:
    return _apply_pattern_table(text, _ENTRY_PERMIT_TABLE, "PERMIT_OCR")


_LICENSE_MEMBER_ROW = re.compile(
    r"(\d+)\s+([A-Za-z؀-ۿ\s\.]+)\s+([A-Za-z؀-ۿ]+)\s+([A-Za-z\s]+)\s+([0-9\.%]+)",
    re.MULTILINE)
_LICENSE_PARTNER_ROW = re.compile(
    r"([A-Za-z؀-ۿ\s\.]+)\s+([A-Za-z]+)\s+(\d+)\s+([0-9\.%]+)",
    re.MULTILINE)


def extract_company_license(text: str) -> Dict:
    """Pattern table + members/partners table rows, JSON-encoded values.
    The reference's json.dumps calls would NameError at runtime (missing
    import — §0.1.2); this is the intended behavior."""
    out = _apply_pattern_table(text, _LICENSE_TABLE, "LICENSE_OCR")
    text_clean = text.replace("\r", "\n")

    members = [
        {"no": m.group(1), "name": m.group(2).strip(), "nationality": m.group(3),
         "role": m.group(4), "share": m.group(5)}
        for m in _LICENSE_MEMBER_ROW.finditer(text_clean)
    ]
    if members:
        out["members_table"] = _field(json.dumps(members), 90.0, "TABLE_OCR")

    partners = [
        {"name": m.group(1).strip(), "nationality": m.group(2),
         "sr_no": m.group(3), "share": m.group(4)}
        for m in _LICENSE_PARTNER_ROW.finditer(text_clean)
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


def _invoice_address(section: str) -> Optional[str]:
    picked = []
    for line in section.split("\n"):
        line = line.strip()
        if line and re.search(r"\d+|,|street|road|avenue|city|state|zip|pincode", line, _I):
            picked.append(line)
            if len(picked) >= 3:
                break
    return ", ".join(picked) if picked else None


def _invoice_bank_details(text: str) -> Optional[dict]:
    details = {}
    m = re.search(r"IBAN[:\s]*([A-Z0-9]{15,34})", text, _I)
    if m:
        details["iban"] = m.group(1)
    m = re.search(r"SWIFT[:\s]*([A-Z0-9]{8,11})", text, _I)
    if m:
        details["swift"] = m.group(1)
    m = re.search(r"(?:account|acc)(?:\s*no|\s*number)[:\s]*(\d{8,18})", text, _I)
    if m:
        details["account_number"] = m.group(1)
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
        if re.search(r"\d+", line):
            count += 1
    return count


# Single-pattern fields, (field, pattern, flags, confidence, format), applied
# in output order; the value is group 1, stripped, then formatted.
_INVOICE_HEAD = [
    ("invoice_number", r"(?:invoice\s*(?:number|no|#)|inv\s*(?:no|#))[:\s]*([A-Z0-9\-/]+)", _I, 90.0, "{}"),
    ("invoice_date", r"(?:invoice\s*date|date)[:\s]*(\d{1,2}[/-]\d{1,2}[/-]\d{2,4}|\d{4}[/-]\d{1,2}[/-]\d{1,2})", _I, 88.0, "{}"),
    ("due_date", r"(?:due\s*date|payment\s*due)[:\s]*(\d{1,2}[/-]\d{1,2}[/-]\d{2,4}|\d{4}[/-]\d{1,2}[/-]\d{1,2})", _I, 88.0, "{}"),
    ("invoice_type", r"(tax\s*invoice|proforma\s*invoice|credit\s*note|debit\s*note|commercial\s*invoice)", _I, 92.0, "{}"),
]
_INVOICE_AMOUNTS = [
    ("currency", r"\b(USD|EUR|GBP|INR|AUD|CAD|SGD|JPY|CNY|AED)\b", 0, 95.0, "{}"),
    ("subtotal", r"(?:subtotal|sub\s*total)[:\s]*([₹$€£¥]?\s*[\d,]+\.?\d*)", _I, 88.0, "{}"),
    ("tax_amount", r"(?:tax|vat|gst)[:\s]*([₹$€£¥]?\s*[\d,]+\.?\d*)", _I, 88.0, "{}"),
    ("tax_rate", r"(?:tax|vat|gst).*?(\d+(?:\.\d+)?)\s*%", _I, 90.0, "{}%"),
    ("grand_total", r"(?:grand\s*total|total\s*amount|net\s*total|total)[:\s]*([₹$€£¥]?\s*[\d,]+\.?\d*)", _I, 90.0, "{}"),
    ("payment_terms", r"(?:payment\s*terms|terms)[:\s]*(net\s*\d+|due\s*on\s*receipt|[^.\n]{5,50})", _I, 80.0, "{}"),
    ("po_number", r"(?:PO|purchase\s*order)[:\s#]*([A-Z0-9\-/]+)", _I, 88.0, "{}"),
]
_INVOICE_NOTES = [
    ("notes", r"(?:notes?|remarks?|comments?)[:\s]*([^\n]{10,200})", _I, 75.0, "{}"),
]
# Ordinal pairs, (supplier_field, customer_field, pattern, flags, confidence):
# the first match is the supplier's, the second the customer's.
_INVOICE_PAIRS = [
    ("supplier_tax_id", "customer_tax_id", r"(?:GST|VAT|TIN|TAX\s*ID)[:\s]*([A-Z0-9]{8,15})", _I, 85.0),
    ("supplier_email", "customer_email", r"\b([a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,})\b", 0, 90.0),
    ("supplier_phone", "customer_phone", r"(?:phone|tel|mobile|contact)[:\s]*([+\d\s\-\(\)]{10,20})", _I, 85.0),
]


def _invoice_fields(text: str, rows, out: Dict, src: str) -> None:
    for field, pattern, flags, conf, fmt in rows:
        m = re.search(pattern, text, flags)
        if m:
            out[field] = _field(fmt.format(m.group(1).strip()), conf, src)


def extract_invoice(text: str) -> Dict:
    out: Dict[str, Dict] = {}
    src = "INVOICE_OCR"
    _invoice_fields(text, _INVOICE_HEAD, out, src)

    for supplier_field, customer_field, pattern, flags, conf in _INVOICE_PAIRS:
        values = re.findall(pattern, text, flags)[:2]
        for field, value in zip((supplier_field, customer_field), values):
            out[field] = _field(value.strip(), conf, src)

    _invoice_fields(text, _INVOICE_AMOUNTS, out, src)

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

    bank = _invoice_bank_details(text)
    if bank:
        out["bank_details"] = _field(json.dumps(bank), 85.0, src)

    _invoice_fields(text, _INVOICE_NOTES, out, src)

    n_items = _invoice_line_item_count(text)
    if n_items > 0:
        out["line_items"] = _field(f"{n_items} items", 70.0, src)
    return out


# ---------------------------------------------------------------------------
# T12 PURCHASE_ORDER / T13 LABOR_CONTRACT — config-pattern fallback
# (dispatch targets missing in the reference; SURVEY.md §2.6).
# ---------------------------------------------------------------------------

def extract_purchase_order(text: str) -> Dict:
    return extract_config_fallback(text, FALLBACK_FIELD_PATTERNS["PURCHASE_ORDER"])


def extract_labor_contract(text: str) -> Dict:
    return extract_config_fallback(text, FALLBACK_FIELD_PATTERNS["LABOR_CONTRACT"])


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
