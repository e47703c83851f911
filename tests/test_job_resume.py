"""Checkpoint resumability + idempotent bucket re-drive (north rule).

Covers the jobs layer: claim a range, crash-replay a bucket, resume, and
verify the lake never duplicates or loses a document and stays equal to
the single-node oracle.
"""

import os
import re
from pathlib import Path

import pytest

from ocr_documents_spark.extractors.pipeline_pure import process_document
from ocr_documents_spark.fixtures.gen import generate_docs, write_docs_parquet
from ocr_documents_spark.functions.fanout import cpu_parts
from ocr_documents_spark.jobs import extract as job
from ocr_documents_spark.jobs import lake as L

N_DOCS = 120
N_BUCKETS = 8


@pytest.fixture(scope="module")
def corpus_path(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("corpus") / "docs")
    write_docs_parquet(path, N_DOCS, docs_per_file=40)
    return path


@pytest.fixture(scope="module")
def lake_root(tmp_path_factory):
    return str(tmp_path_factory.mktemp("lake"))


def read_results(spark, lake_root):
    return spark.read.parquet(os.path.join(lake_root, L.RESULTS))


def test_partial_range_then_resume(spark, corpus_path, lake_root):
    first = job.run(spark, corpus_path, lake_root, N_BUCKETS,
                    claimed=list(range(4)))
    assert first["pending"] == 4 and first["resumed_skipped"] == 0
    n_first = read_results(spark, lake_root).count()
    assert 0 < n_first < N_DOCS  # only ~half the buckets are in

    second = job.run(spark, corpus_path, lake_root, N_BUCKETS,
                     claimed=list(range(N_BUCKETS)))
    assert second["resumed_skipped"] == 4  # first range not re-run
    assert second["pending"] == 4

    results = read_results(spark, lake_root)
    assert results.count() == N_DOCS
    assert results.select("doc_id").distinct().count() == N_DOCS


def test_rerun_is_noop(spark, corpus_path, lake_root):
    third = job.run(spark, corpus_path, lake_root, N_BUCKETS,
                    claimed=list(range(N_BUCKETS)))
    assert third["pending"] == 0 and third["n_docs"] == 0
    assert read_results(spark, lake_root).count() == N_DOCS


def test_crash_replay_is_idempotent(spark, corpus_path, lake_root):
    """Simulate a crash AFTER results write but BEFORE checkpoint: drop one
    bucket's checkpoint rows, re-drive, and verify no duplicates."""
    ckpt_path = os.path.join(lake_root, L.CHECKPOINTS)
    ckpt = spark.read.parquet(ckpt_path).toPandas()
    replay_bucket = int(ckpt["bucket"].iloc[0])
    kept = ckpt[ckpt["bucket"] != replay_bucket]
    import pyarrow as pa
    import pyarrow.parquet as pq
    import shutil
    shutil.rmtree(ckpt_path)
    os.makedirs(ckpt_path)
    pq.write_table(pa.Table.from_pandas(kept),
                   os.path.join(ckpt_path, "part-0.parquet"))

    redo = job.run(spark, corpus_path, lake_root, N_BUCKETS,
                   claimed=list(range(N_BUCKETS)))
    assert redo["pending"] == 1  # exactly the replayed bucket
    results = read_results(spark, lake_root)
    assert results.count() == N_DOCS
    assert results.select("doc_id").distinct().count() == N_DOCS


def test_lake_matches_oracle(spark, corpus_path, lake_root):
    rows = {r["doc_id"]: r for r in read_results(spark, lake_root).collect()}
    for d in generate_docs(N_DOCS):
        golden = process_document(d["doc_id"], d["spans"])
        got = rows[d["doc_id"]]
        assert got["status"] == golden["status"]
        got_spans = [(s["kind"], s["text"], s["media_ref"], s["order"])
                     for s in got["out_spans"]]
        assert got_spans == golden["out_spans"], d["doc_id"]


def test_metrics_sidecar_lineage(spark, corpus_path, lake_root):
    metrics = spark.read.parquet(os.path.join(lake_root, L.METRICS))
    pdf = metrics.toPandas()
    # every bucket has lineage; census sums to the corpus
    assert set(pdf["bucket"]) == set(range(N_BUCKETS))
    # crash-replay appended a second metrics row for the replayed bucket;
    # latest run per bucket is the authoritative census
    latest = pdf.sort_values("committed_at").groupby("bucket").tail(1)
    assert int(latest["n_docs"].sum()) == N_DOCS
    census = (latest["n_completed"] + latest["n_partial"]
              + latest["n_rejected_quality"] + latest["n_rejected_classification"])
    assert int(census.sum()) == N_DOCS
    assert (latest["n_spans"] > 0).all()


def test_fields_long_bucketed(spark, corpus_path, lake_root):
    fl = spark.read.parquet(os.path.join(lake_root, L.FIELDS_LONG))
    assert fl.filter(fl.field_name.isNull()).count() == 0
    joined = (fl.groupBy("doc_id").count()
              .join(read_results(spark, lake_root), "doc_id"))
    import pyspark.sql.functions as F
    bad = joined.filter(F.col("count") != F.size("fields")).count()
    assert bad == 0
    # the partial run, its resume and the crash replay left one data file
    # in every bucket
    assert_one_data_file_per_bucket(lake_root)


def assert_one_data_file_per_bucket(lake_root):
    for table in (L.RESULTS, L.FIELDS_LONG):
        path = os.path.join(lake_root, table)
        buckets = [d for d in os.listdir(path) if d.startswith("bucket=")]
        assert buckets, table
        for d in buckets:
            files = [f for f in os.listdir(os.path.join(path, d))
                     if f.endswith(".parquet")]
            assert len(files) == 1, (table, d, files)


@pytest.fixture
def written_frames(spark, monkeypatch):
    """Every DataFrame whose ``.write`` is taken while the test runs."""
    frames = []
    cls = type(spark.range(1))
    write = cls.write

    def recording(df):
        frames.append(df)
        return write.fget(df)

    monkeypatch.setattr(cls, "write", property(recording))
    return frames


def _bucket_exchanges(frames):
    """Per frame: the partitioning of the exchange at the root of its plan
    when it is an explicit-count hash repartition on ``bucket``, else None."""
    out = []
    for df in frames:
        plan = df._jdf.queryExecution().executedPlan().toString()
        m = re.search(r"^\+- Exchange hashpartitioning\(bucket#\d+, (\d+)\), "
                      r"REPARTITION_BY_NUM", plan, re.M)
        out.append(m and int(m.group(1)))
    return out


def test_one_data_file_per_bucket(spark, corpus_path, tmp_path,
                                  written_frames):
    """Every bucketed write is hash-clustered on ``bucket`` into the
    explicit ``cpu_parts`` task count (AQE keeps a user-given count), so
    each bucket is ONE data file, after a job and after a merge; a local
    session writes no checksum sidecar files."""
    root = str(tmp_path / "lake")
    job.run(spark, corpus_path, root, N_BUCKETS,
            claimed=list(range(N_BUCKETS)))
    n = cpu_parts(spark.range(1))
    # rejects, results, fields_long clustered; metrics, checkpoints appended
    assert _bucket_exchanges(written_frames) == [n, n, n, None, None]
    assert_one_data_file_per_bucket(root)
    for table in (L.METRICS, L.CHECKPOINTS):
        files = os.listdir(os.path.join(root, table))
        assert len([f for f in files if f.endswith(".parquet")]) == 1, files

    del written_frames[:]
    lake = L.Lake(root, N_BUCKETS)
    fl = L.read_table(spark, lake, L.FIELDS_LONG)
    victims = fl.dropDuplicates(["bucket"]).take(2)
    assert L.apply_field_corrections(spark, lake, spark.createDataFrame(
        [(v["doc_id"], v["field_name"], "CORRECTED") for v in victims],
        "doc_id string, field_name string, new_value string")) == 2
    # fields_long, results, then the census append
    assert _bucket_exchanges(written_frames) == [n, n, None]
    assert_one_data_file_per_bucket(root)

    crc = [f for _, _, files in os.walk(root) for f in files
           if f.endswith(".crc")]
    assert crc == []


def test_flipped_page_byte_fails_the_read(spark, tmp_path):
    """Without the .crc sidecars, parquet's page checksums catch a byte
    flipped inside a data page: the read raises instead of returning a
    wrong value."""
    lake = L.Lake(str(tmp_path), 2)
    path = lake.path("values")
    df = (spark.createDataFrame([(f"d{i}", f"VALUE_{i:05d}")
                                 for i in range(200)],
                                "doc_id string, value string")
          .withColumn("bucket", lake.bucket_col()))
    codec = "spark.sql.parquet.compression.codec"
    before = spark.conf.get(codec)
    spark.conf.set(codec, "uncompressed")  # the value's bytes in the clear
    try:
        L._overwrite_partitions(df, path, ["bucket"])
    finally:
        spark.conf.set(codec, before)
    assert spark.read.parquet(path).filter("value = 'VALUE_00123'").count() == 1

    [target] = [f for f in Path(path).rglob("*.parquet")
                if b"VALUE_00123" in f.read_bytes()]
    data = bytearray(target.read_bytes())
    data[data.index(b"VALUE_00123") + 10] = ord("2")
    target.write_bytes(bytes(data))
    with pytest.raises(Exception, match="CRC checksum verification failed"):
        spark.read.parquet(path).collect()
