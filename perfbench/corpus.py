"""Seeded benchmark corpora, generated once and cached on disk.

Every document comes from ``fixtures.gen.make_document(i, seed)``.  Two
corpus kinds exist:

* ``light``: the first ``size`` documents that are not media-heavy
  (at most ``LIGHT_MAX_SPANS`` spans each) — the 99% common case.
* ``mix``: the same light documents plus media-heavy ones, taken in index
  order until their gate-passing media spans reach the budget the natural
  mix implies (1% of documents x 2304 spans, the mean of the generator's
  512-4096 draw).  Pinning the heavy work keeps one seed's corpus as
  expensive as another's; which documents are heavy, how large each is and
  where it lands in the files still come from the seed.

The part-file and row-group layout is fixed (``docs_per_file``,
``ROW_GROUP_ROWS``) and recorded in ``layout.json`` beside the ``data/``
directory that holds the parquet files.  The
cache key is (kind, seed, size, sha1 of fixtures/gen.py); generation runs
in at most ``workers`` spawned processes.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import random
import shutil
import time
from concurrent.futures import ProcessPoolExecutor
from pathlib import Path

LIGHT_MAX_SPANS = 6
HEAVY_DOC_SHARE = 0.01
HEAVY_MEAN_SPANS = 2304
DOCS_PER_FILE = 500
MIN_FILES = 8
ROW_GROUP_ROWS = 64
KEEP_CORPORA = 16
GEN_CHUNK = 128


def gen_hash(root: Path) -> str:
    src = root / "ocr_documents_spark" / "fixtures" / "gen.py"
    return hashlib.sha1(src.read_bytes()).hexdigest()[:12]


def heavy_budget(size: int) -> int:
    return max(1, round(size * HEAVY_DOC_SHARE)) * HEAVY_MEAN_SPANS


def _make_range(args) -> list:
    from ocr_documents_spark.fixtures.gen import make_document

    seed, lo, hi = args
    return [make_document(i, seed) for i in range(lo, hi)]


def _documents(kind: str, seed: int, size: int, workers: int):
    """-> (docs in file order, heavy doc count, gate-passing heavy spans).

    ``workers`` spawned processes generate index ranges; selection walks
    the documents in index order, so the corpus does not depend on
    ``workers``."""
    from ocr_documents_spark.extractors.pipeline_pure import \
        document_quality_report

    from .procs import stop_resource_tracker

    light, heavy = [], []
    budget = heavy_budget(size) if kind == "mix" else 0
    heavy_spans, start = 0, 0
    pool = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(workers, mp_context=pool) as ex:
        while len(light) < size or heavy_spans < budget:
            ranges = [(seed, lo, lo + GEN_CHUNK) for lo in
                      range(start, start + workers * GEN_CHUNK, GEN_CHUNK)]
            start += workers * GEN_CHUNK
            for doc in (d for docs in ex.map(_make_range, ranges)
                        for d in docs):
                if len(doc["spans"]) <= LIGHT_MAX_SPANS:
                    if len(light) < size:
                        light.append(doc)
                elif heavy_spans < budget:
                    heavy.append(doc)
                    if document_quality_report(doc["spans"])[0]:
                        heavy_spans += len(doc["spans"])
    stop_resource_tracker()
    docs = light + heavy
    # heavy documents land at seeded positions, not all at the tail
    random.Random(f"perfbench:{seed}").shuffle(docs)
    return docs, len(heavy), heavy_spans


def _write(path: Path, docs: list) -> list:
    import pyarrow as pa
    import pyarrow.parquet as pq

    span_t = pa.struct([("kind", pa.string()), ("text", pa.string()),
                        ("media_ref", pa.string()), ("offset", pa.int32())])
    schema = pa.schema([("doc_id", pa.string()),
                        ("spans", pa.list_(span_t))])
    per_file = docs_per_file(len(docs))
    files = []
    for part, start in enumerate(range(0, len(docs), per_file)):
        name = f"part-{part:05d}.parquet"
        pq.write_table(pa.Table.from_pylist(
            docs[start:start + per_file], schema=schema),
            path / name, row_group_size=ROW_GROUP_ROWS)
        files.append(name)
    return files


def docs_per_file(n_docs: int) -> int:
    """``DOCS_PER_FILE``, lowered for small corpora so that every corpus
    has at least ``MIN_FILES`` files and its scan reaches every core."""
    return max(1, min(DOCS_PER_FILE, -(-n_docs // MIN_FILES)))


def ensure(root: Path, work: Path, kind: str, seed: int, size: int,
           workers: int = 1) -> dict:
    """Return the layout record of the cached corpus, generating it first
    when absent.  ``layout["path"]`` is the parquet directory."""
    key = f"{kind}-s{seed}-n{size}-g{gen_hash(root)}"
    cache = work / "corpus"
    path = cache / key
    if not (path / "layout.json").exists():
        tmp = cache / f".tmp-{key}-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        t0 = time.perf_counter()
        docs, n_heavy, heavy_spans = _documents(kind, seed, size, workers)
        (tmp / "data").mkdir()
        files = _write(tmp / "data", docs)
        layout = {
            "kind": kind, "seed": seed, "size": size,
            "gen_sha1": gen_hash(root), "docs": len(docs),
            "spans": sum(len(d["spans"]) for d in docs),
            "heavy_docs": n_heavy, "heavy_gate_passing_spans": heavy_spans,
            "docs_per_file": docs_per_file(len(docs)),
            "row_group_rows": ROW_GROUP_ROWS,
            "files": files, "generate_s": time.perf_counter() - t0,
        }
        (tmp / "layout.json").write_text(json.dumps(layout, indent=1))
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
        _evict(cache)
    os.utime(path)
    layout = json.loads((path / "layout.json").read_text())
    layout["path"] = str(path / "data")
    return layout


def _evict(cache: Path) -> None:
    entries = sorted((p for p in cache.iterdir() if not p.name.startswith(".")),
                     key=lambda p: p.stat().st_mtime, reverse=True)
    for old in entries[KEEP_CORPORA:]:
        shutil.rmtree(old, ignore_errors=True)


def read_documents(layout: dict):
    """Yield ``(doc_id, spans)`` with spans as dicts, in file order."""
    import pyarrow.parquet as pq

    for name in layout["files"]:
        for row in pq.read_table(Path(layout["path"]) / name).to_pylist():
            yield row["doc_id"], row["spans"]


def row_groups(layout: dict) -> list:
    """(file path, row group index) pairs covering the corpus."""
    import pyarrow.parquet as pq

    out = []
    for name in layout["files"]:
        f = str(Path(layout["path"]) / name)
        out += [(f, g) for g in range(pq.ParquetFile(f).num_row_groups)]
    return out
