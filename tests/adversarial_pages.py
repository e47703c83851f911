"""Adversarial page texts for the extractors and the classifier.

``pages(n)`` yields ``(name, text)`` pairs, each text about ``n`` chars:

* long runs of letters (one line of words, many short lines, one unbroken
  word; lower, upper and mixed case), alone and followed by a company
  suffix (``LLC``, ``L.L.C``, ``LIMITED``), by a line holding a
  profession keyword, or preceded by a table-row number;
* Arabic runs, alone and as table rows, and a run of spaces after a
  number;
* the characters where ``re.IGNORECASE`` and ``str.lower()`` disagree
  (the Kelvin sign U+212A, long s U+017F, dotted capital I U+0130,
  dotless i U+0131) and NBSP, inside labelled fields the extractors look
  for;
* mixed-case labelled documents.

It lives in ``tests/`` rather than ``fixtures/gen.py`` so that the
benchmark corpora and the golden tables built from the generator stay as
they are.
"""

from __future__ import annotations

from typing import Iterator, Tuple

_WORDS = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
          "kilo lima mike november oscar papa quebec romeo sierra tango").split()
_ARABIC = "مهندس عامل فني سائق مشرف محاسب مدير مشروع الهند مصر".split()


def _repeat(unit: str, n: int) -> str:
    return (unit * (n // len(unit) + 1))[:n]


def _words(n: int, case=str.lower) -> str:
    return case(_repeat(" ".join(_WORDS) + " ", n)).strip()


def _lines(n: int, case=str.lower) -> str:
    return case(_repeat("\n".join(_WORDS[:4]) + "\n", n)).strip()


def _arabic(n: int) -> str:
    return _repeat(" ".join(_ARABIC) + " ", n).strip()


def _mixed(s: str) -> str:
    return "".join(c.upper() if i % 3 == 0 else c for i, c in enumerate(s))


# labelled fields spelled with the characters re.I folds to ASCII
_FOLDING = (
    "Pa\u017f\u017fport No: A1234567\nNationality: INDIA\nName: John Smith\n"
    "Wor\u212aer Profession: Engineer\n\u0130NVOICE No: INV-0001\nTotal: 1200.00\n"
    "Sponsor: ACME TRAD\u0131NG L.L.C\nEstablishment: \u0130NDUSTRIAL WORKS LLC\n"
    "Emirates ID 784-1990-1234567-1\nDOB: 12/03/1990\n"
    "Visa No: 1234567890\nLicense No: CN-12345\nResidence Visa\n"
)
_LABELLED = (
    "Name: John Smith\nPassport No: A1234567\nNationality: INDIA\n"
    "Profession: Project Manager\nInvoice No: INV-0001\nTotal: 1200.00\n"
    "Sponsor: ACME TRADING LLC\nEmirates ID 784-1990-1234567-1\n"
    "DOB: 12/03/1990\nVisa No: 1234567890\nLicense No: CN-12345\n"
)


def pages(n: int) -> Iterator[Tuple[str, str]]:
    """Adversarial pages of about ``n`` chars each, in a fixed order."""
    for case_name, case in (("lower", str.lower), ("upper", str.upper),
                            ("mixed", _mixed)):
        yield f"words-{case_name}", _words(n, case)
        yield f"lines-{case_name}", _lines(n, case)
        yield f"word-{case_name}", case(_repeat("abcdefghij", n))
        for suffix in ("LLC", "L.L.C", "LIMITED"):
            yield f"words-{case_name}-{suffix}", _words(n, case) + " " + suffix
            yield f"lines-{case_name}-{suffix}", _lines(n, case) + " " + suffix
        yield f"row-{case_name}", "1234 " + _words(n, case) + " ACME TRADING LLC"
        yield (f"row-{case_name}-share",
               "1 " + _words(n, case) + " Indian Partner 25%")
        for kw in ("manager", "ENGINEER", "Technician"):
            yield f"words-{case_name}-then-{kw}", _words(n, case) + "\n" + kw
            yield f"word-{case_name}-then-{kw}", case(_repeat("abcdefghij", n)) + "\n" + kw
    yield "arabic", _arabic(n)
    yield "arabic-rows", "1 " + _arabic(n) + " Indian 25%"
    yield "arabic-lines", _repeat("\n".join(_ARABIC) + "\n", n)
    yield "spaces", "1" + " " * n + "x"
    yield "folding", _repeat(_FOLDING, n)
    yield "folding-mixed", _mixed(_repeat(_FOLDING, n))
    yield "nbsp", _repeat(_LABELLED.replace(" ", "\u00a0"), n)
    yield "labelled-mixed", _mixed(_repeat(_LABELLED, n))
    yield "labelled-upper", _repeat(_LABELLED, n).upper()
