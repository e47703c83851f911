"""The ASCII fast path of classify and extract, and linear-time extraction.

Spark-free.  ``casefold.Twin`` compiles each case-insensitive pattern as
written and as a lower-case twin; the extractors search the twin over the
lowered text when the text is ASCII.  These tests check that

* every twin matches like its exact pattern (same spans, same groups cut
  from the original text) on the digest test's template texts and on the
  ASCII adversarial pages;
* non-ASCII text never reaches a twin, and the outputs are those of the
  exact patterns;
* the patterns rewritten to run in linear time find what the originals
  find, on seeded random texts;
* every extractor and ``classify_enhanced`` stays linear on the
  adversarial pages (``tests/adversarial_pages.py``).
"""

import gc
import multiprocessing
import random
import re
import signal
import time
from concurrent.futures import ProcessPoolExecutor

import pytest

from ocr_documents_spark.extractors import classify, doc_types, fields_generic
from ocr_documents_spark.extractors import pipeline_pure as pp
from ocr_documents_spark.extractors.casefold import Twin, cut, fold, lower_twin
from ocr_documents_spark.extractors.classify import classify_enhanced
from ocr_documents_spark.extractors.doc_types import EXTRACTORS

from .adversarial_pages import pages
from .test_extractor_digest import template_texts


def _twins(obj):
    """Every Twin reachable from a module-level value (lists, tuples,
    dicts nested in any order)."""
    if isinstance(obj, Twin):
        yield obj
    elif isinstance(obj, (list, tuple)):
        for item in obj:
            yield from _twins(item)
    elif isinstance(obj, dict):
        for item in obj.values():
            yield from _twins(item)


# the modules whose case-insensitive patterns are all Twins
TWIN_MODULES = (classify, doc_types, fields_generic)


def all_twins() -> list:
    found = {}
    for module in TWIN_MODULES:
        for value in vars(module).values():
            for tw in _twins(value):
                found[id(tw)] = tw
    return list(found.values())


def folded_twins() -> list:
    return [tw for tw in all_twins() if tw.fast is not None]


def _groups(m, text):
    return [m.span(g) for g in range(m.re.groups + 1)], \
        [cut(m, text, g) for g in range(m.re.groups + 1)]


def test_case_insensitive_extraction_patterns_are_twins():
    """classify_simple, which no pipeline path calls, keeps plain re.I
    patterns; everything else in these modules is a Twin."""
    twins = folded_twins()
    assert len(twins) > 200
    for tw in twins:
        assert tw.exact.flags & re.I and not tw.fast.flags & re.I
        assert tw.fast.flags | re.I == tw.exact.flags
    # the config-table cascades of PURCHASE_ORDER and LABOR_CONTRACT
    fallback = {id(tw) for tw in _twins(doc_types._FALLBACK_PATTERNS)}
    assert len(fallback) == 5 and fallback <= {id(tw) for tw in twins}
    # nothing in these modules is a bare re.I pattern
    for module in TWIN_MODULES:
        for name, value in vars(module).items():
            if isinstance(value, re.Pattern):
                assert not value.flags & re.I, name


def test_lower_twin_rewrites_letters_and_refuses_unsound_patterns():
    assert lower_twin(r"P<[A-Z]{3}\s+\S(?:LLC|L\.L\.C)") == r"p<[a-z]{3}\s+\S(?:llc|l\.l\.c)"
    assert lower_twin(r"[A-Za-z؀-ۿ\s\.-]+\x20") == r"[a-za-z؀-ۿ\s\.-]+\x20"
    for unsound in (r"[A-z]", r"[0-Z]", r"\x41", r"(?i)abc", r"(?P<x>a)",
                    "\u017f", "\u212a", "[\u0100-\u017f]"):
        with pytest.raises(ValueError):
            lower_twin(unsound)


def _ascii_texts():
    yield from template_texts()
    for _name, text in pages(2000):
        if text.isascii():
            yield text


def test_twins_match_like_their_exact_patterns():
    twins = folded_twins()
    checked = 0
    for text in _ascii_texts():
        low = text.lower()
        for tw in twins:
            want = [_groups(m, text) for m in tw.exact.finditer(text)]
            got = [_groups(m, text) for m in tw.fast.finditer(low)]
            assert got == want, (tw.exact.pattern, text[:200])
            checked += 1
    assert checked > 1_000_000


class _NoFastPath:
    """Stands in for a twin: any search is a failure of the test."""

    def __getattr__(self, name):
        raise AssertionError("the fast path ran on non-ASCII text")


def _outputs(texts):
    return [(name, fn(text)) for text in texts
            for name, fn in list(EXTRACTORS.items()) + [("classify", classify_enhanced)]]


def test_non_ascii_text_takes_the_exact_path(monkeypatch):
    non_ascii = [text for _name, text in pages(2000) if not text.isascii()]
    assert len(non_ascii) >= 5
    before = _outputs(non_ascii)
    for tw in folded_twins():
        monkeypatch.setattr(tw, "fast", _NoFastPath())
    monkeypatch.setattr(classify, "_ENH_FAST", [
        (dt, *([_NoFastPath()] * len(group) for group in groups), weight, req)
        for dt, *groups, weight, req in classify._ENH_FAST])
    assert _outputs(non_ascii) == before
    # the stand-ins do stop the fast path: ASCII text reaches them
    with pytest.raises(AssertionError, match="fast path"):
        classify_enhanced("Passport No: A1234567 Nationality: INDIA")
    with pytest.raises(AssertionError, match="fast path"):
        EXTRACTORS["INVOICE"]("Invoice No: INV-1 Total: 10.00")


def test_the_fast_path_would_be_wrong_off_ascii():
    # re.I equates the long s with "s"; lower() keeps it, so the twin
    # misses where the exact pattern matches
    text = "Pa\u017f\u017fport No: A1234567"
    passport = doc_types._VC_PASSPORT_PATTERNS[0]
    assert fold(text) is None
    assert cut(passport.search(text, fold(text)), text) == "A1234567"
    assert passport.fast.search(text.lower()) is None
    # "İ".lower() is two characters: spans would not line up
    assert len("\u0130NVOICE".lower()) == len("\u0130NVOICE") + 1


# The rewritten patterns and the originals they replace.
_ORIGINALS = {
    "establishment": (re.compile(r"([A-Z][A-Za-z\s&\-]+(?:LLC|L\.L\.C|LTD|LIMITED))", re.I),
                      doc_types._ESTABLISHMENT_PATTERNS[0]),
    "sponsor": (re.compile(r"([A-Z][A-Za-z\s&\-]+(?:L\.L\.C|LLC))", re.I),
                doc_types._RV_SPONSOR_PATTERNS[0]),
    "sponsor-words": (re.compile(r"((?:[A-Z]{3,}\s+){2,4}(?:TECHNICAL|SERVICES|ENGINEERING"
                                 r"|COMPANY)[A-Z\s]*)", re.I),
                      doc_types._RV_SPONSOR_PATTERNS[1]),
    "permit-email": (re.compile(r"([a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[A-Za-z]{2,})", re.I | re.M),
                     dict(doc_types._ENTRY_PERMIT_TABLE)["email"]),
    "license-email": (re.compile(r"([A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,})", re.I | re.M),
                      dict(doc_types._LICENSE_TABLE)["email"]),
}
_MEMBER_ROW = re.compile(
    r"(\d+)\s+([A-Za-z؀-ۿ\s\.]+)\s+([A-Za-z؀-ۿ]+)\s+([A-Za-z\s]+)\s+([0-9\.%]+)", re.M)
_PARTNER_ROW = re.compile(
    r"([A-Za-z؀-ۿ\s\.]+)\s+([A-Za-z]+)\s+(\d+)\s+([0-9\.%]+)", re.M)
_PROFESSION_KEYWORDS = ("manager", "engineer", "technician", "driver", "worker", "supervisor")

_TOKENS = ["1", "12", "\u0661", " ", "  ", "   ", "\n", "\t", "\x85", "\xa0", ".",
           "%", "25%", "5.5", "@", "x.com", "&", "-", ":", "_", "a", "X", "Lm", "llc",
           "LLC", "L.L.C", "ltd", "Limited", "manager", "ENGINEER", "driver",
           "Technical", "services", "COMPANY", "Ahmed", "Indian", "Partner",
           "\u0645\u0647\u0646\u062f\u0633", "\u0645",
           "\u017f", "\u212a", "\u0130", "\u0131"]


def _random_texts(seed: int, count: int):
    rng = random.Random(seed)
    for _ in range(count):
        text = "".join(rng.choice(_TOKENS) for _ in range(rng.randint(0, 16)))
        roll = rng.random()
        yield text.upper() if roll < 0.15 else text.lower() if roll < 0.3 else text


def _original_profession(lower):
    for kw in _PROFESSION_KEYWORDS:
        if kw in lower:
            m = re.search(rf"\b([A-Za-z ]*{kw}[A-Za-z ]*)\b", lower, re.I)
            if m:
                prof = m.group(1).strip()
                if 3 <= len(prof) <= 40:
                    return prof.title()
    return None


def test_linear_rewrites_match_the_original_patterns():
    for text in _random_texts(11, 40_000):
        low = fold(text)
        for name, (original, twin) in _ORIGINALS.items():
            m = original.search(text)
            want = m.span(1) if m else None
            for got in (twin.search(text, None), twin.search(text, low)):
                assert (got.span(1) if got else None) == want, (name, text)
        assert list(doc_types._member_rows(text)) == \
            [m.groups() for m in _MEMBER_ROW.finditer(text)], text
        assert [m.groups() for m in doc_types._partner_rows(text)] == \
            [m.groups() for m in _PARTNER_ROW.finditer(text)], text
        lower = text.lower()
        assert doc_types._keyword_profession(lower, fold(text)) == \
            _original_profession(lower), text


def test_table_rows_match_the_original_patterns():
    # rows shaped like the members and partners tables, so most texts match
    rng = random.Random(5)
    spaces = [" ", "  ", "   ", "\n", " \n ", "\t", "\x85 "]
    words = ["Ahmed", "Ali", "x", "Indian", "Partner", "مهندس", "م", "ab", "Mr.", "١"]
    shares = ["25%", "5.5", ".", "%", "100", "1.0%"]
    matched = 0
    for _ in range(20_000):
        rows = []
        for _ in range(rng.randint(1, 3)):
            row = [rng.choice(["1", "12", "١", ""])]
            for _ in range(rng.randint(1, 7)):
                row += [rng.choice(spaces), rng.choice(words)]
            rows.append("".join(row + [rng.choice(spaces), rng.choice(shares)]))
        text = rng.choice(["", "x ", "\n"]).join(rows)
        want = [m.groups() for m in _MEMBER_ROW.finditer(text)]
        matched += bool(want)
        assert list(doc_types._member_rows(text)) == want, text
        assert [m.groups() for m in doc_types._partner_rows(text)] == \
            [m.groups() for m in _PARTNER_ROW.finditer(text)], text
    assert matched > 5000


class _Budget(Exception):
    pass


def _timed(fn, text, calls: int, rounds: int = 3) -> float:
    """Best wall time of ``calls`` calls, over ``rounds`` rounds, under a
    1 s budget per call (CPython's regex engine checks for signals)."""
    def over(*_):
        raise _Budget
    previous = signal.signal(signal.SIGALRM, over)
    gc.disable()
    try:
        best = float("inf")
        for _ in range(rounds):
            t0 = time.perf_counter()
            for _ in range(calls):
                signal.setitimer(signal.ITIMER_REAL, 1.0)
                fn(text)
                signal.setitimer(signal.ITIMER_REAL, 0)
            best = min(best, time.perf_counter() - t0)
        return best
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)
        signal.signal(signal.SIGALRM, previous)
        gc.enable()


def _slow_cases() -> list:
    """(function, page, why) for each call over 1 s at 64k chars or with
    a 64k/8k time ratio over 12."""
    fns = dict(EXTRACTORS, classify=classify_enhanced)
    small = dict(pages(8_000))
    slow = []
    for name, text in pages(64_000):
        for fn_name, fn in fns.items():
            try:
                big = _timed(fn, text, 1)
                ratio = big / (_timed(fn, small[name], 8) / 8)
            except _Budget:
                slow.append((fn_name, name, "over 1 s"))
                continue
            if ratio > 12:
                # one retry: a quiet window decides, not a noisy one
                ratio = _timed(fn, text, 1, 5) / (_timed(fn, small[name], 8, 5) / 8)
            if ratio > 12:
                slow.append((fn_name, name, f"64k/8k = {ratio:.1f}"))
    return slow


def test_extraction_is_linear_on_adversarial_pages():
    """Each call stays under 1 s at 64k chars, and one 64k-char call takes
    at most 12 times as long as one 8k-char call (8 for linear growth, 64
    for quadratic).  The 8k side is timed as 8 calls in a row, so that
    both sides time the same amount of text.  The timing runs in a fresh
    interpreter: inside the test session, whose process holds the Spark
    gateway and a large heap, the 64k calls of the line-by-line
    extractors read 13-16 times the 8k ones, against 8 in a fresh one."""
    spawn = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(1, mp_context=spawn) as pool:
        slow = pool.submit(_slow_cases).result(timeout=900)
    assert not slow, slow


def test_process_document_decodes_each_media_ref_once(monkeypatch):
    from ocr_documents_spark.fixtures.gen import generate_docs

    calls = []
    decode = pp.decode_media_ref

    def counting(ref):
        calls.append(ref)
        return decode(ref)
    monkeypatch.setattr(pp, "decode_media_ref", counting)
    for doc in generate_docs(60):
        calls.clear()
        result = pp.process_document(doc["doc_id"], doc["spans"])
        media = [s["media_ref"] for s in doc["spans"] if s["kind"] == "media"]
        if result["status"] == "rejected_quality":
            assert len(calls) == 1
        else:
            assert sorted(calls, key=str) == sorted(media, key=str)
