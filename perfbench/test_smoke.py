"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The smoke tests run every workload, untraced and traced, on tiny corpora
and check that every metric BENCHMARK.json names is printed with its
unit.  The rest are quick checks of the oracle comparison, the span
ledger, corpus seeding and the exit without a program.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in BENCH["workloads"]]
TINY_DOCS = 48

sys.path.insert(0, str(ROOT))


def _run(*args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *map(str, args)], cwd=cwd,
        capture_output=True, text=True, timeout=900)


def _result(workload: str, trace: int, seed: int = 7) -> dict:
    p = _run("--workload", workload, "--seed", seed, "--seconds", 1,
             "--trace", trace, "--docs", TINY_DOCS)
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_printed_with_its_unit(workload, trace):
    out = _result(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True
    assert out["failed"] == 0 and out["attempted"] >= TINY_DOCS
    named = BENCH["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in named}
    for m in named:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float), m["name"]
    if not trace:
        for name in ("docs_per_s", "setup_s", "cpu_s_per_kdoc",
                     "peak_rss_mb", "doc_ok_frac"):
            assert out["metrics"][name]["value"] > 0, name


def test_lake_counts_repeat_exactly():
    first, second = (_result("lake_job", 1)["metrics"] for _ in range(2))
    for name in ("lake.files_written", "core.media_decodes_per_doc",
                 "spark.tasks"):
        assert first[name]["value"] == second[name]["value"], name
    assert first["lake.files_written"]["value"] > 0


def test_one_corrupted_expected_digest_is_one_failure():
    from perfbench.oracle import compare, digest

    spans = [("doc_type", "INVOICE", None, 0), ("raw_text", "x", None, 1)]
    expected = {f"d{i}": digest(f"d{i}", "completed", "INVOICE", spans)
                for i in range(5)}
    actual = list(expected.items())
    assert compare(expected, actual)["failed"] == 0
    corrupted = dict(expected, d3="0" * 32)
    report = compare(corrupted, actual)
    assert report["failed"] == 1 and report["unequal"] == 1


def test_missing_duplicated_and_unexpected_documents_fail():
    from perfbench.oracle import compare

    expected = {"a": "1", "b": "2", "c": "3"}
    report = compare(expected, [("a", "1"), ("a", "1"), ("z", "9")])
    assert (report["missing"], report["duplicated"],
            report["unexpected"]) == (2, 1, 1)
    assert report["failed"] == 4


def test_arrow_dict_spans_digest_like_tuples():
    from perfbench.oracle import digest

    tuples = [("field:name", "A", None, 3)]
    dicts = [{"kind": "field:name", "text": "A", "media_ref": None,
              "order": 3}]
    assert digest("d", "partial", "PASSPORT", tuples) == digest(
        "d", "partial", "PASSPORT", dicts)


def test_self_time_subtracts_covered_child_intervals():
    from perfbench.trace import Tracer

    t = Tracer("test")
    t.spans = [
        {"id": 0, "name": "pass", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "a", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "b", "parent": 0, "start": 3.0, "end": 6.0},
        {"id": 3, "name": "c", "parent": 2, "start": 3.5, "end": 4.5},
    ]
    assert t.self_time(0) == pytest.approx(5.0)
    assert t.self_time(2) == pytest.approx(2.0)
    assert [s["id"] for s in t.descendants(0)] == [1, 2, 3]


def test_scan_side_shuffle_records_skip_stages_that_read_a_shuffle():
    from perfbench.eventlog import scan_side_shuffle_records

    def task(written, read):
        return {"shuffle_write_rows": written, "shuffle_read_rows": read}
    stages = {
        1: [task(0, 0)],                  # light branch: no exchange
        2: [task(700, 0), task(300, 0)],  # explode exchange off the scan
        3: [task(40, 1000)],              # regroup exchange
        4: [task(0, 40)],                 # finalize
    }
    assert scan_side_shuffle_records(stages) == 1000


def test_initial_heap_follows_the_programs_maximum():
    from pyspark.sql import SparkSession

    from perfbench.engine import _initial_heap_at_max

    options = _initial_heap_at_max(lambda builder: dict(builder._options))
    sized = SparkSession.builder.config("spark.driver.memory", "3g")
    assert options(sized)["spark.driver.extraJavaOptions"] == "-Xms3g"
    unsized = SparkSession.builder.config("spark.app.name", "x")
    assert "spark.driver.extraJavaOptions" not in options(unsized)


def test_corpus_is_seeded_and_cached(tmp_path):
    from perfbench import corpus

    a = corpus.ensure(ROOT, tmp_path, "light", 3, 16)
    b = corpus.ensure(ROOT, tmp_path, "light", 3, 16)
    c = corpus.ensure(ROOT, tmp_path, "light", 4, 16)
    docs = lambda layout: list(corpus.read_documents(layout))  # noqa: E731
    assert a["path"] == b["path"] and docs(a) == docs(b)
    assert docs(a) != docs(c)
    assert a["docs"] == 16 and len(a["files"]) == corpus.MIN_FILES
    assert all(len(spans) <= corpus.LIGHT_MAX_SPANS for _, spans in docs(a))
    mix = corpus.ensure(ROOT, tmp_path, "mix", 3, 16)
    assert mix["heavy_docs"] >= 1
    assert mix["heavy_gate_passing_spans"] >= corpus.heavy_budget(16)


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = _run("--workload", WORKLOADS[0], "--seed", 1, "--seconds", 1,
             "--trace", 0, cwd=tmp_path)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
