"""The spark-submit ``--py-files`` deployment surface (north rule).

``test_job_resume`` proves the jobs layer through direct ``job.run``
calls inside the test JVM; this module proves the DEPLOYMENT surface
the north rule names: ``tools/submit_job.sh`` zips the package, ships
it via ``--py-files``, and executes ``jobs/extract.py`` as ``__main__``
in a fresh spark-submit JVM.  Every invocation runs from a NEUTRAL cwd,
so ``import ocr_documents_spark`` can only resolve through the shipped
zip (Python puts the primary script's own directory — ``jobs/`` — on
``sys.path``, never the repo root).

A second invocation over the same bucket range proves checkpoint
resume through the same surface: the job must report every bucket as
``resumed_skipped`` and touch zero documents.

Under spark-submit the launcher owns the JVM: ``session.get_spark`` must
keep the launcher's master and ``--conf`` values and still pin the
engine's own settings (the Arrow batch size).

Reference lineage: the v1 async lifecycle (backend/main_v1.py:111-157)
re-expressed as resumable batch jobs — here exercised exactly the way
a cluster operator would launch it.
"""

import ast
import glob
import os
import subprocess
import textwrap

import duckdb
import pytest

from ocr_documents_spark.fixtures.gen import write_docs_parquet

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPT = os.path.join(REPO, "tools", "submit_job.sh")
N_DOCS = 40
N_BUCKETS = 8


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("submit_corpus") / "docs")
    write_docs_parquet(path, N_DOCS, docs_per_file=20)
    return path


@pytest.fixture(scope="module")
def lake_root(tmp_path_factory):
    return str(tmp_path_factory.mktemp("submit_lake"))


@pytest.fixture(scope="module")
def neutral_cwd(tmp_path_factory):
    return str(tmp_path_factory.mktemp("neutral_cwd"))


def submit(corpus, lake_root, neutral_cwd, tmpdir) -> dict:
    env = {**os.environ, "SPARK_MASTER": "local[4]", "TMPDIR": str(tmpdir)}
    proc = subprocess.run(
        [SCRIPT, corpus, lake_root, str(N_BUCKETS), f"0:{N_BUCKETS}"],
        cwd=neutral_cwd, env=env, capture_output=True, text=True,
        timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    # the script removes the engine.zip it shipped
    assert not glob.glob(os.path.join(tmpdir, "**", "engine.zip"),
                         recursive=True)
    report_lines = [l for l in proc.stdout.splitlines()
                    if l.startswith("{'run_id'")]
    assert report_lines, proc.stdout[-4000:]
    return ast.literal_eval(report_lines[-1])


@pytest.fixture(scope="module")
def engine_zip(tmp_path_factory):
    """The package zipped the way tools/submit_job.sh ships it."""
    path = str(tmp_path_factory.mktemp("submit_zip") / "engine.zip")
    subprocess.run(["zip", "-qr", path, "ocr_documents_spark",
                    "-x", "*.pyc", "-x", "*__pycache__*"],
                   cwd=REPO, check=True)
    return path


def lake_files(lake_root, table):
    return glob.glob(os.path.join(lake_root, table, "**", "*.parquet"),
                     recursive=True)


def test_submit_runs_from_zip_and_resumes(corpus, lake_root, neutral_cwd,
                                          tmp_path):
    first = submit(corpus, lake_root, neutral_cwd, tmp_path)
    assert first["claimed"] == N_BUCKETS
    assert first["pending"] == N_BUCKETS
    assert first["resumed_skipped"] == 0
    assert first["n_docs"] == N_DOCS

    results = lake_files(lake_root, "results")
    assert results
    n, n_ids = duckdb.sql(
        "SELECT count(*), count(DISTINCT doc_id) FROM read_parquet(?)",
        params=[results]).fetchone()
    assert n == N_DOCS and n_ids == N_DOCS
    assert lake_files(lake_root, "checkpoints")
    assert lake_files(lake_root, "metrics")

    # resume through the SAME spark-submit surface: nothing re-runs
    second = submit(corpus, lake_root, neutral_cwd, tmp_path)
    assert second["resumed_skipped"] == N_BUCKETS
    assert second["pending"] == 0
    assert second["n_docs"] == 0
    n2 = duckdb.sql("SELECT count(*) FROM read_parquet(?)",
                    params=[lake_files(lake_root, "results")]).fetchone()[0]
    assert n2 == N_DOCS


def test_submit_session_keeps_launcher_conf(engine_zip, neutral_cwd,
                                            tmp_path):
    script = tmp_path / "conf_probe.py"
    script.write_text(textwrap.dedent("""
        from ocr_documents_spark.session import get_spark
        spark = get_spark("submit-conf-probe")
        print("CONF", spark.sparkContext.master,
              spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"),
              spark.conf.get("spark.sql.shuffle.partitions"))
        spark.stop()
    """))
    proc = subprocess.run(
        ["spark-submit", "--master", "local[2]",
         "--conf", "spark.sql.shuffle.partitions=3",
         "--py-files", engine_zip, str(script)],
        cwd=neutral_cwd, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    conf_lines = [l.split() for l in proc.stdout.splitlines()
                  if l.startswith("CONF ")]
    assert conf_lines, proc.stdout[-4000:]
    _, master, batch_rows, shuffle_partitions = conf_lines[-1]
    assert master == "local[2]"
    assert batch_rows == "1024"
    assert shuffle_partitions == "3"
