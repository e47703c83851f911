"""Incremental re-extraction (jobs/incremental.py): the equivalence
contract — lake(full extract of A) + incremental(B) == lake(full
extract of B) byte-for-byte — plus the only-the-diff-work guarantee,
removal cascades (including a fully-emptied bucket), and idempotent
re-application."""

import pytest

import pyspark.sql.functions as F

from ocr_documents_spark.fixtures.gen import generate_docs
from ocr_documents_spark.jobs import extract as job
from ocr_documents_spark.jobs import incremental as I
from ocr_documents_spark.jobs import lake as L
from ocr_documents_spark.jobs.status import summarize
from ocr_documents_spark.pipeline import DOCS_SCHEMA

N_BUCKETS = 4


def _extracted_lake(spark, docs_df, root):
    """The production order: the snapshot lands as parquet, then the batch
    job extracts every bucket of it into a fresh lake."""
    docs_df.write.parquet(f"{root}-docs")
    job.run(spark, f"{root}-docs", root, N_BUCKETS,
            claimed=list(range(N_BUCKETS)))
    return L.Lake(root, N_BUCKETS)


def _table_rows(spark, lake, table):
    return sorted(spark.read.parquet(lake.path(table)).toJSON().collect())


@pytest.fixture(scope="module")
def snapshots(spark):
    base = generate_docs(60)
    old = spark.createDataFrame(base, DOCS_SCHEMA)
    # doc 7: mutate one span's text (changed); pick one whole bucket to
    # empty via removals; add 3 brand-new docs
    lake_probe = L.Lake("/unused", N_BUCKETS)
    buckets = {r["doc_id"]: r["b"] for r in
               old.select("doc_id", lake_probe.bucket_col().alias("b"))
               .collect()}
    # victim bucket must receive NO added docs, or it won't empty
    new_ids = [f"newdoc-{d['doc_id']}" for d in generate_docs(3, seed=99)]
    new_buckets = {r["b"] for r in
                   spark.createDataFrame([(i,) for i in new_ids],
                                         "doc_id string")
                   .select(lake_probe.bucket_col().alias("b")).collect()}
    victim_bucket = next(b for b in sorted(set(buckets.values()))
                         if b not in new_buckets)
    removed_ids = {i for i, b in buckets.items() if b == victim_bucket}
    assert 0 < len(removed_ids) < 40
    changed_id = next(i for i in buckets if i not in removed_ids)

    new_docs = []
    for d in base:
        if d["doc_id"] in removed_ids:
            continue
        if d["doc_id"] == changed_id:
            first = d["spans"][0]
            first = dict(first, text=(first["text"] or "") + " amended clause")
            d = dict(d, spans=[first] + d["spans"][1:])
        new_docs.append(d)
    new_docs += [dict(d, doc_id=f"newdoc-{d['doc_id']}")
                 for d in generate_docs(3, seed=99)]
    new = spark.createDataFrame(new_docs, DOCS_SCHEMA)
    return old, new, removed_ids, changed_id, victim_bucket


def test_incremental_equals_full_reextraction(spark, snapshots, tmp_path):
    old, new, removed_ids, changed_id, victim_bucket = snapshots
    inc_lake = _extracted_lake(spark, old, str(tmp_path / "inc"))
    rep = I.incremental_extract(spark, inc_lake, old, new)
    assert rep["removed"] == len(removed_ids)
    assert rep["changed"] == 1 and rep["added"] == 3
    assert rep["n_processed"] == 4          # only the diff ran the pipeline
    full_lake = _extracted_lake(spark, new, str(tmp_path / "full"))
    for table in (L.RESULTS, L.FIELDS_LONG):
        assert _table_rows(spark, inc_lake, table) \
            == _table_rows(spark, full_lake, table)
    # the emptied bucket's directory is gone, not just empty
    assert not L._path_exists(
        spark, f"{inc_lake.path(L.RESULTS)}/bucket={victim_bucket}")
    # the status census (latest metrics row per bucket) matches too
    keys = ("docs", "completed", "partial", "rejected_quality",
            "rejected_classification", "fields")

    def census(lake):
        s = summarize(spark, lake.root, N_BUCKETS)
        return {k: s[k] for k in keys}
    assert census(inc_lake) == census(full_lake)


def test_reapply_is_idempotent(spark, snapshots, tmp_path):
    old, new, *_ = snapshots
    lake = _extracted_lake(spark, old, str(tmp_path / "re"))
    I.incremental_extract(spark, lake, old, new)
    first = {t: _table_rows(spark, lake, t)
             for t in (L.RESULTS, L.FIELDS_LONG)}
    rep2 = I.incremental_extract(spark, lake, new, new)  # no-op diff
    assert rep2["n_processed"] == 0 and rep2.get("added", 0) == 0
    assert rep2["unchanged"] == new.count()
    for t in (L.RESULTS, L.FIELDS_LONG):
        assert _table_rows(spark, lake, t) == first[t]


def test_span_payload_fingerprint_is_order_stable(spark, snapshots):
    old, *_ = snapshots
    a = I.span_payload(old).orderBy("doc_id").collect()
    b = I.span_payload(old.repartition(7)).orderBy("doc_id").collect()
    assert a == b
