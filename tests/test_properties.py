"""Property-based tests (SURVEY.md §5.2.4): hypothesis generators for MRZ
round-trips with OCR noise and the Emirates-ID date-triage rule.
"""

import string
from datetime import datetime, timedelta

from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_documents_spark.extractors.doc_types import (_fmt_dmy,
                                                      extract_emirates_id,
                                                      extract_passport)

CC = ["IND", "PAK", "BGD", "PHL", "EGY", "NPL", "LKA"]
UP = string.ascii_uppercase


def ocr_noise(s: str) -> str:
    """The OCR confusions the reference corrects: 0<->O, 1<->I."""
    return s.replace("0", "O").replace("1", "I")


@st.composite
def mrz_case(draw):
    surname = draw(st.text(alphabet=UP, min_size=2, max_size=8))
    given = draw(st.text(alphabet=UP, min_size=2, max_size=8))
    cc = draw(st.sampled_from(CC))
    ppt = draw(st.sampled_from("KLMWZ")) + str(draw(st.integers(1000000, 9999999)))
    dob = (draw(st.integers(1950, 2049)), draw(st.integers(1, 12)),
           draw(st.integers(1, 28)))
    exp = (draw(st.integers(2026, 2048)), draw(st.integers(1, 12)),
           draw(st.integers(1, 28)))
    sex_char = draw(st.sampled_from("MF1I0"))
    file13 = "".join(str(draw(st.integers(0, 9))) for _ in range(13))
    noise = draw(st.booleans())
    return surname, given, cc, ppt, dob, exp, sex_char, file13, noise


@given(mrz_case())
@settings(max_examples=120, deadline=None)
def test_mrz_roundtrip_with_ocr_noise(case):
    surname, given, cc, ppt, dob, exp, sex_char, file13, noise = case
    dob_s = f"{dob[0] % 100:02d}{dob[1]:02d}{dob[2]:02d}"
    exp_s = f"{exp[0] % 100:02d}{exp[1]:02d}{exp[2]:02d}"

    l1 = f"P<{cc}{surname}<<{given}"
    l1 += "<" * max(0, 44 - len(l1))
    mangle = ocr_noise if noise else (lambda s: s)
    l2 = (f"{mangle(ppt)}<7{cc}{mangle(dob_s)}3{sex_char}"
          f"{mangle(exp_s)}9{mangle(file13)}<4")
    assert len(l2) >= 40
    fields = extract_passport(f"PASSPORT\n{l1}\n{l2}")

    assert fields["passport_number"]["value"] == ppt
    assert fields["nationality"]["value"] == cc
    assert fields["name_on_passport"]["value"] == \
        f"{given.title()} {surname.title()}"
    assert fields["date_of_birth"]["value"] == \
        _fmt_dmy(datetime(dob[0], dob[1], dob[2]))
    assert fields["passport_expiry_date"]["value"] == \
        _fmt_dmy(datetime(exp[0], exp[1], exp[2]))
    expected_sex = "Male" if sex_char in "M1I" else "Female"
    assert fields["gender"]["value"] == expected_sex
    assert fields["file_number"]["value"] == file13
    # no issue-date label in the page text -> expiry - 10y + 1 day fallback
    expected_issue = _fmt_dmy(
        datetime(exp[0] - 10, exp[1], exp[2]) + timedelta(days=1))
    assert fields["passport_issue_date"]["value"] == expected_issue


@st.composite
def three_dates(draw):
    def d(lo, hi):
        return (draw(st.integers(lo, hi)), draw(st.integers(1, 12)),
                draw(st.integers(1, 28)))
    return d(1960, 2000), d(2001, 2020), d(2021, 2040)


@given(three_dates(), st.permutations([0, 1, 2]))
@settings(max_examples=80, deadline=None)
def test_emirates_date_triage(dates, order):
    """Any 3 dates, in any text order, triage to (min->dob, mid->issue,
    max->expiry) by (y, m, d) — backend/ocr_service.py:715-729."""
    fmt = [f"{d:02d}/{m:02d}/{y}" for (y, m, d) in dates]
    shuffled = [fmt[i] for i in order]
    text = ("UNITED ARAB EMIRATES IDENTITY CARD\n"
            f"ID Number : 784-1990-1234567-1\n"
            f"A {shuffled[0]}\nB {shuffled[1]}\nC {shuffled[2]}\n")
    fields = extract_emirates_id(text)
    assert fields["date_of_birth"]["value"] == fmt[0]
    assert fields["issue_date"]["value"] == fmt[1]
    assert fields["expiry_date"]["value"] == fmt[2]


def test_emirates_two_dates_text_order():
    """With exactly 2 dates the reference does NOT sort: first-in-text is
    dob, second expiry (backend/ocr_service.py:725-727 quirk)."""
    text = ("IDENTITY CARD\nID Number : 784-1990-1234567-1\n"
            "X 01/05/2030\nY 02/03/1990\n")
    fields = extract_emirates_id(text)
    assert fields["date_of_birth"]["value"] == "01/05/2030"
    assert fields["expiry_date"]["value"] == "02/03/1990"
