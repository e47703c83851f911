"""ASCII fast path for the case-insensitive patterns of the extractors.

CPython's ``re.IGNORECASE`` search gives up the literal fast paths of a
case-sensitive search.  On ASCII text three facts make a cheaper search
exact:

* ``str.lower()`` keeps every character position;
* ``re.I`` matches exactly what a case-sensitive search of the lowered
  text with a lower-cased pattern (the *twin*) matches;
* a value cut from the original text by the match's span keeps its case.

Off ASCII they fail: under ``re.I`` a pattern ``s`` matches the long s
(U+017F) and ``k`` the Kelvin sign (U+212A), and the lower case of a
dotted capital I (U+0130) is two characters long, so spans no longer
line up.  Non-ASCII text therefore keeps the exact pattern.  The path
is chosen by ``str.isascii()`` alone.

``Twin(pattern, flags)`` compiles a pattern once as written (``exact``)
and, when ``flags`` holds ``re.I``, once as its twin without ``re.I``
(``fast``).  ``fold(text)`` is the lowered copy of an ASCII text, else
None; ``Twin.search(text, low)`` searches the twin over ``low`` when it is
given and the exact pattern over ``text`` otherwise; ``cut`` takes a
group's value from the original text by its span, on either path.
"""

from __future__ import annotations

import re
import unicodedata
from typing import Iterator, Optional

# the non-ASCII characters that re.I equates with an ASCII letter
_ASCII_FOLDING = frozenset("\u0130\u0131\u017f\u212a")
_LETTERS = frozenset("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz")
_CHAR_ESCAPES = {"x": 2, "u": 4, "U": 8}


def _refuse(pattern: str, why: str):
    raise ValueError(f"no case-folding twin for {pattern!r}: {why}")


def _escape(pattern: str, i: int, in_class: bool) -> tuple[str, Optional[str]]:
    """The escape at ``pattern[i]`` (a backslash) -> (its source text, the
    character it stands for, or None for a class or an assertion)."""
    c = pattern[i + 1]
    if c in _CHAR_ESCAPES:
        n = _CHAR_ESCAPES[c]
        return pattern[i:i + 2 + n], chr(int(pattern[i + 2:i + 2 + n], 16))
    if c == "N":
        end = pattern.index("}", i)
        return pattern[i:end + 1], unicodedata.lookup(pattern[i + 3:end])
    if c in "01234567":
        j = i + 1
        while j < len(pattern) and j < i + 4 and pattern[j] in "01234567":
            j += 1
        if c != "0" and not in_class and (j - i - 1 < 3 or pattern[i + 1:j] > "377"):
            return pattern[i:j], None  # a backreference
        return pattern[i:j], chr(int(pattern[i + 1:j], 8))
    if c in "89":
        return pattern[i:i + 2], None  # a backreference
    if c in _LETTERS:
        return pattern[i:i + 2], None  # \s \S \d \w \b \A \Z \n \t ...
    return pattern[i:i + 2], c


def _class(pattern: str, i: int) -> tuple[str, int]:
    """The twin of the character class opening at ``pattern[i]`` -> (its
    text, the index after its closing bracket)."""
    out = ["["]
    i += 1
    if pattern[i] == "^":
        out.append("^")
        i += 1
    items: list[tuple[str, Optional[str]]] = []
    first = True
    while pattern[i] != "]" or first:
        first = False
        if pattern[i] == "\\":
            src, ch = _escape(pattern, i, True)
        else:
            src, ch = pattern[i], pattern[i]
        items.append((src, ch))
        i += len(src)
    k = 0
    while k < len(items):
        src, ch = items[k]
        if (k + 2 < len(items) and items[k + 1][0] == "-"
                and ch is not None and items[k + 2][1] is not None):
            hi_src, hi = items[k + 2]
            out.append(_range(pattern, src, ch, hi_src, hi))
            k += 3
            continue
        out.append(_literal(pattern, src, ch))
        k += 1
    return "".join(out) + "]", i + 1


def _range(pattern: str, lo_src: str, lo: str, hi_src: str, hi: str) -> str:
    span = range(ord(lo), ord(hi) + 1)
    if any(chr(c) in _ASCII_FOLDING for c in span):
        _refuse(pattern, f"range {lo_src}-{hi_src} holds a character re.I "
                         "folds to ASCII")
    if not any(chr(c) in _LETTERS for c in span):
        return f"{lo_src}-{hi_src}"
    if (lo_src in _LETTERS and hi_src in _LETTERS
            and (lo.isupper() == hi.isupper())):
        return f"{lo.lower()}-{hi.lower()}"
    _refuse(pattern, f"range {lo_src}-{hi_src} is not one case of letters")


def _literal(pattern: str, src: str, ch: Optional[str]) -> str:
    if ch is None:
        return src
    if ch in _ASCII_FOLDING:
        _refuse(pattern, f"{src} folds to ASCII under re.I")
    if ch in _LETTERS and src != ch:
        _refuse(pattern, f"escape {src} stands for a letter")
    return src.lower() if src in _LETTERS else src


def lower_twin(pattern: str) -> str:
    """``pattern`` with its ASCII letters lower-cased: literals and the
    endpoints of letter-only ranges; escapes stay as they are.  Raises
    ValueError for a pattern the mechanical rewrite would get wrong (a
    range across cases or across letters and other characters, an escape
    or a non-ASCII character that stands for a letter, inline flags or
    group names)."""
    out = []
    i = 0
    while i < len(pattern):
        c = pattern[i]
        if c == "\\":
            src, ch = _escape(pattern, i, False)
            out.append(_literal(pattern, src, ch))
            i += len(src)
        elif c == "[":
            src, i = _class(pattern, i)
            out.append(src)
        elif c == "(" and pattern.startswith("(?", i):
            if pattern[i + 2:i + 3].isalpha():
                _refuse(pattern, "inline flags or a named group")
            out.append("(?")
            i += 2
        else:
            out.append(_literal(pattern, c, c))
            i += 1
    return "".join(out)


class Twin:
    """One pattern compiled for both paths (see the module docstring).
    Without ``re.I`` in ``flags`` it has no twin and always searches the
    original text."""

    __slots__ = ("exact", "fast")

    def __init__(self, pattern: str, flags: int = 0):
        self.exact = re.compile(pattern, flags)
        self.fast = None
        if flags & re.I:
            self.fast = re.compile(lower_twin(pattern), flags & ~re.I)
            if self.fast.groups != self.exact.groups:
                _refuse(pattern, "the twin's groups differ")

    def search(self, text: str, low: Optional[str]) -> Optional[re.Match]:
        """First match: the twin's over ``low`` (``fold(text)``) when it is
        not None, else the exact pattern's over ``text``."""
        if low is None or self.fast is None:
            return self.exact.search(text)
        return self.fast.search(low)

    def finditer(self, text: str, low: Optional[str]) -> Iterator[re.Match]:
        if low is None or self.fast is None:
            return self.exact.finditer(text)
        return self.fast.finditer(low)


def fold(text: str) -> Optional[str]:
    """``text.lower()`` when ``text`` is ASCII (the fast path), else None."""
    return text.lower() if text.isascii() else None


def cut(m: re.Match, text: str, group: int = 1) -> Optional[str]:
    """Group ``group`` of ``m`` taken from ``text`` by its span: the value
    in its original case when ``m`` ran over the lowered copy."""
    start, end = m.span(group)
    return None if start < 0 else text[start:end]
