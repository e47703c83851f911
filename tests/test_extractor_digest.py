"""Pins what the per-type extractors return, Spark-free.

The equality harness compares Spark with the same Python functions, so a
change inside an extractor passes it unseen.  This test runs every entry
of ``doc_types.EXTRACTORS`` over the generator's template texts (each
kind, 60 seeds) and five variants of each, and compares one digest of
all outputs, field order included, with a recorded constant.

An intended change to extraction output, or to ``fixtures/gen.TEMPLATES``,
re-records ``EXPECTED`` (run this file's ``extractor_digest()``) and says
so in CHANGES.md.
"""

import hashlib
import random

from ocr_documents_spark.extractors.doc_types import EXTRACTORS
from ocr_documents_spark.fixtures.gen import TEMPLATES

SEEDS = 60
VARIANTS = (
    lambda t: t,
    str.lower,
    str.upper,
    lambda t: t.replace(":", ""),
    lambda t: t.replace("\n", "\r\n"),
    lambda t: t.replace("\n", "\n\n"),
)
EXPECTED = "e1d61598add77e82a04e578d772ef56d"


def template_texts():
    for kind, lines_of in TEMPLATES.items():
        for seed in range(SEEDS):
            text = "\n".join(lines_of(random.Random(seed)))
            for variant in VARIANTS:
                yield variant(text)


def extractor_digest() -> str:
    h = hashlib.blake2b(digest_size=16)
    for text in template_texts():
        for name, fn in EXTRACTORS.items():
            h.update(repr((name, list(fn(text).items()))).encode("utf-8"))
    return h.hexdigest()


def test_extractor_outputs_match_recorded_digest():
    assert extractor_digest() == EXPECTED
