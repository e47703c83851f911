"""Structured Streaming sessionization/ingest + lake maintenance ops
(S8 delete, S9 field-correction MERGE, S10 CSV export)."""

import datetime
import glob
import os

import pytest

from ocr_documents_spark.fixtures.gen import generate_docs, write_docs_parquet
from ocr_documents_spark.jobs import extract as job
from ocr_documents_spark.jobs import lake as L

T0 = datetime.datetime(2024, 5, 1, 8, 0, 0)


def _mins(m):
    return T0 + datetime.timedelta(minutes=m)



def _write_ordered(src):
    """Parquet writer whose files get strictly increasing mtimes: Spark's
    file stream source orders by modification time, and sub-second write
    bursts under load can otherwise tie and reorder "arrival"."""
    import pyarrow.parquet as pq
    counter = {"n": 0}

    def wf(name, rows, schema):
        import pyarrow as pa
        path = os.path.join(src, name)
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)
        counter["n"] += 1
        t = 1700000000 + counter["n"] * 10
        os.utime(path, (t, t))
    return wf

def test_enrich_stream_with_static_dim(spark, tmp_path):
    """Stream-static broadcast enrichment: dim columns ride along, users
    without a dim row pass through with NULLs (left join)."""
    src = str(tmp_path / "events")
    os.makedirs(src)
    import pyarrow as pa
    schema = pa.schema([("ts", pa.timestamp("us")), ("user_id", pa.int64()),
                        ("value", pa.float64())])
    _w = _write_ordered(src)
    _w("f1.parquet", [
        {"ts": _mins(0), "user_id": 1, "value": 2.0},
        {"ts": _mins(1), "user_id": 2, "value": 3.0},
        {"ts": _mins(2), "user_id": 9, "value": 4.0},   # no dim row
    ], schema)

    from ocr_documents_spark.streaming.sessionize import enrich_stream
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "basic")], "user_id long, tier string")
    events = (spark.readStream
              .schema("ts timestamp, user_id long, value double")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (enrich_stream(events, dim, on="user_id")
         .writeStream.format("memory").queryName("enriched")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_enrich"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(600), "stream did not finish"

    rows = {(r["user_id"], r["tier"], r["value"])
            for r in spark.sql("SELECT * FROM enriched").collect()}
    assert rows == {(1, "gold", 2.0), (2, "basic", 3.0), (9, None, 4.0)}


def test_sessionize_stream_closes_on_gap(spark, tmp_path):
    """A >30-min gap closes the session mid-stream (no timeout needed)."""
    src = str(tmp_path / "events")
    os.makedirs(src)
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([("ts", pa.timestamp("us")), ("user_id", pa.int64()),
                        ("value", pa.float64())])
    _w = _write_ordered(src)

    def write_file(name, rows):
        _w(name, rows, schema)

    # file order == arrival order (maxFilesPerTrigger=1 -> one batch each)
    write_file("f1.parquet", [
        {"ts": _mins(0), "user_id": 1, "value": 2.0},
        {"ts": _mins(5), "user_id": 1, "value": 3.0},
        {"ts": _mins(2), "user_id": 2, "value": 1.0},
    ])
    write_file("f2.parquet", [
        {"ts": _mins(180), "user_id": 1, "value": 7.0},  # >30min gap
    ])

    from ocr_documents_spark.streaming.sessionize import sessionize_stream
    events = (spark.readStream
              .schema("ts timestamp, user_id long, value double")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (sessionize_stream(events, watermark="10 minutes")
         .writeStream.format("memory").queryName("sessions")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(600), 'stream did not finish'

    rows = spark.sql("SELECT * FROM sessions").collect()
    closed = {(r["user_id"], r["n_events"], r["total_value"],
               r["session_start"], r["session_end"]) for r in rows}
    assert closed == {
        # user 1's first session: closed mid-stream by the >30min gap
        (1, 2, 5.0, _mins(0), _mins(5)),
        # user 2's single-event session: closed by event-time TIMEOUT once
        # the watermark (03:00 - 10min) passed its 00:02+30min deadline
        (2, 1, 1.0, _mins(2), _mins(2)),
        # user 1's 03:00 session must NOT appear: its 03:30 deadline is
        # beyond the final watermark 02:50 -> still open in state
    }


def test_sessionize_stream_late_event_merges(spark, tmp_path):
    """A late-but-inside-watermark event OLDER than the stored last_ts must
    merge into the open session (start extends downward, last_ts does NOT
    regress) — the r1 defect spuriously split the session and could emit
    session_end < session_start."""
    src = str(tmp_path / "late_events")
    os.makedirs(src)
    import pyarrow as pa
    import pyarrow.parquet as pq
    schema = pa.schema([("ts", pa.timestamp("us")), ("user_id", pa.int64()),
                        ("value", pa.float64())])

    _w = _write_ordered(src)

    def wf(name, rows):
        _w(name, rows, schema)

    wf("f1.parquet", [
        {"ts": _mins(60), "user_id": 1, "value": 1.0},
        {"ts": _mins(65), "user_id": 1, "value": 2.0},
    ])
    # late event (min 40 < stored last_ts 65, inside the 2h watermark) plus
    # an on-time event 20 min after the TRUE last_ts — same session
    wf("f2.parquet", [
        {"ts": _mins(40), "user_id": 1, "value": 4.0},
        {"ts": _mins(85), "user_id": 1, "value": 8.0},
    ])
    wf("f3.parquet", [  # >30-min gap closes the merged session
        {"ts": _mins(300), "user_id": 1, "value": 16.0},
    ])

    from ocr_documents_spark.streaming.sessionize import sessionize_stream
    events = (spark.readStream
              .schema("ts timestamp, user_id long, value double")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (sessionize_stream(events, watermark="2 hours")
         .writeStream.format("memory").queryName("late_sessions")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "lck"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(600), 'stream did not finish'
    rows = spark.sql("SELECT * FROM late_sessions").collect()
    closed = {(r["user_id"], r["n_events"], r["total_value"],
               r["session_start"], r["session_end"]) for r in rows}
    assert closed == {(1, 4, 15.0, _mins(40), _mins(85))}


def test_windowed_stats_with_late_data(spark, tmp_path):
    """Watermarked tumbling windows: a late event INSIDE the watermark
    lands in its (earlier) window; windows finalize only after the
    watermark passes them (append mode)."""
    src = str(tmp_path / "wevents")
    os.makedirs(src)
    import pyarrow as pa
    import pyarrow.parquet as pq
    schema = pa.schema([("ts", pa.timestamp("us")), ("user_id", pa.int64()),
                        ("event_type", pa.string()), ("value", pa.float64())])

    _w = _write_ordered(src)

    def wf(name, rows):
        _w(name, rows, schema)

    wf("f1.parquet", [
        {"ts": _mins(10), "user_id": 1, "event_type": "click", "value": 1.0},
        {"ts": _mins(20), "user_id": 2, "event_type": "click", "value": 2.0},
    ])
    # f2 advances event time far ahead AND delivers a LATE click for the
    # first hour window (inside the 2h watermark -> must still count)
    wf("f2.parquet", [
        {"ts": _mins(300), "user_id": 3, "event_type": "view", "value": 9.0},
        {"ts": _mins(40), "user_id": 4, "event_type": "click", "value": 4.0},
    ])
    wf("f3.parquet", [  # push watermark past hour-0's finalization point
        {"ts": _mins(600), "user_id": 5, "event_type": "view", "value": 1.0},
    ])

    from ocr_documents_spark.streaming.sessionize import windowed_event_stats
    events = (spark.readStream
              .schema("ts timestamp, user_id long, event_type string, value double")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (windowed_event_stats(events, window="1 hour", watermark="2 hours")
         .writeStream.format("memory").queryName("winstats")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "wck"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(600), 'stream did not finish'
    rows = {(r["window_start"], r["event_type"]): (r["n"], r["total_value"])
            for r in spark.sql("SELECT * FROM winstats").collect()}
    # hour-0 clicks: 2 on-time + 1 late-but-inside-watermark = 3 events
    assert rows[(T0, "click")] == (3, 7.0)
    # hour-5 view finalized once the 600-min event moved the watermark
    import datetime
    assert rows[(T0 + datetime.timedelta(hours=5), "view")] == (1, 9.0)


def test_lake_status_summary(spark, small_lake):
    from ocr_documents_spark.jobs.status import summarize
    s = summarize(spark, small_lake.root, small_lake.n_buckets)
    assert s["buckets_completed"] == small_lake.n_buckets
    assert s["buckets_pending"] == 0
    assert s["docs"] == (s["completed"] + s["partial"]
                         + s["rejected_quality"] + s["rejected_classification"])
    assert s["docs"] > 0
    # the declared schemas every lake read uses are the written ones
    for t in (L.RESULTS, L.FIELDS_LONG, L.METRICS, L.CHECKPOINTS):
        assert _types(spark.read.parquet(small_lake.path(t)).schema) \
            == _types(L.SCHEMAS[t])


def _types(schema):
    return {f.name: f.dataType for f in schema.fields}


def test_lake_status_absent_vs_unreadable(spark, tmp_path):
    """An absent table reports zero; an unreadable one raises."""
    from ocr_documents_spark.jobs.status import summarize
    root = str(tmp_path / "lake")
    s = summarize(spark, root, 4)
    assert (s["metrics"], s["rejected_malformed"], s["streamed_docs"],
            s["streamed_rejected_malformed"]) == ("none", 0, 0, 0)
    os.makedirs(os.path.join(root, L.METRICS))
    with open(os.path.join(root, L.METRICS, "part-00000.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        summarize(spark, root, 4)


def test_extract_stream_matches_batch(spark, tmp_path):
    docs_path = str(tmp_path / "docs")
    write_docs_parquet(docs_path, 30, docs_per_file=10)
    lake_root = str(tmp_path / "lake")

    from ocr_documents_spark.streaming.sessionize import extract_stream
    q = (extract_stream(spark, docs_path, lake_root, n_buckets=4,
                        checkpoint_dir=str(tmp_path / "ckpt2"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(600), 'stream did not finish'

    results = spark.read.parquet(os.path.join(lake_root, L.STREAM_RESULTS))
    assert results.count() == 30
    from ocr_documents_spark.extractors.pipeline_pure import process_document
    got = {r["doc_id"]: r for r in results.collect()}
    for d in generate_docs(30):
        golden = process_document(d["doc_id"], d["spans"])
        assert got[d["doc_id"]]["status"] == golden["status"]
    # streamed docs are visible to the status CLI via metrics_stream
    from ocr_documents_spark.jobs.status import summarize
    assert summarize(spark, lake_root, 4)["streamed_docs"] == 30


def test_stream_commit_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying the SAME micro-batch must
    rewrite its (ingest_batch, bucket) partitions, never duplicate rows —
    in results, the metrics sidecar and the staged rejects alike."""
    from ocr_documents_spark.jobs.status import summarize
    from ocr_documents_spark.pipeline import DOCS_SCHEMA
    from ocr_documents_spark.streaming.sessionize import stream_committer

    lake = L.Lake(str(tmp_path / "slake"), 4)
    docs = generate_docs(20) + [{"doc_id": "malformed-1", "spans": []}]
    df = spark.createDataFrame(docs, DOCS_SCHEMA)
    commit = stream_committer(lake)
    commit(df, 7)
    counts1 = {t: spark.read.parquet(lake.path(t)).count()
               for t in (L.STREAM_RESULTS, L.STREAM_METRICS)}
    commit(df, 7)  # replay
    counts2 = {t: spark.read.parquet(lake.path(t)).count()
               for t in (L.STREAM_RESULTS, L.STREAM_METRICS)}
    assert counts1 == counts2
    assert counts1[L.STREAM_RESULTS] == 20
    res = spark.read.parquet(lake.path(L.STREAM_RESULTS))
    assert res.select("doc_id").distinct().count() == 20
    assert summarize(spark, lake.root, 4)["streamed_rejected_malformed"] == 1


def test_compact_stream_merges_into_main_lake(spark, tmp_path):
    """Compaction folds results_stream into results: latest stream row
    wins per doc, untouched docs survive, staging tables are cleared, and
    a second compaction is a no-op.  A doc re-streamed without fields
    loses its old field rows even when that empties its bucket, and a
    stream with no field rows at all compacts."""
    from ocr_documents_spark.extractors.pipeline_pure import process_document
    from ocr_documents_spark.pipeline import DOCS_SCHEMA
    from ocr_documents_spark.streaming.sessionize import stream_committer

    corpus = str(tmp_path / "cc")
    write_docs_parquet(corpus, 30, docs_per_file=10)
    root = str(tmp_path / "clake")
    job.run(spark, corpus, root, 4, claimed=[0, 1, 2, 3])  # 30 docs batch
    lake = L.Lake(root, 4)

    # stream 10 docs: 5 overlap the batch lake (updates), 5 are new
    docs = generate_docs(35)[25:]
    df = spark.createDataFrame(docs, DOCS_SCHEMA)
    stream_committer(lake)(df, 0)
    for t in (L.STREAM_RESULTS, L.STREAM_METRICS):
        assert _types(spark.read.parquet(lake.path(t)).schema) \
            == _types(L.SCHEMAS[t])

    report = L.compact_stream(spark, lake)
    assert report == {"docs": 10, "buckets": report["buckets"]}
    results = spark.read.parquet(lake.path(L.RESULTS))
    assert results.count() == 35
    assert results.select("doc_id").distinct().count() == 35
    assert not os.path.exists(lake.path(L.STREAM_RESULTS))
    # idempotent / no-op when nothing is staged
    assert L.compact_stream(spark, lake) == {"docs": 0, "buckets": 0}

    # a one-doc batch lake: d0 is the only field-bearing doc in its bucket
    d0 = generate_docs(1)[0]
    write_docs_parquet(str(tmp_path / "c1"), 1, docs_per_file=1)
    lake1 = L.Lake(str(tmp_path / "lake1"), 4)
    job.run(spark, str(tmp_path / "c1"), lake1.root, 4, claimed=[0, 1, 2, 3])
    b0 = L.doc_bucket(spark, lake1, d0["doc_id"])
    other = next(d for d in generate_docs(40)[1:]
                 if L.doc_bucket(spark, lake1, d["doc_id"]) != b0
                 and process_document(d["doc_id"], d["spans"])["fields"])
    field_less = (d0["doc_id"], [("text", "hello world", None, 0)])

    def d0_fields():
        return L.read_table(spark, lake1, L.FIELDS_LONG).filter(
            f"doc_id = '{d0['doc_id']}'").count()

    assert d0_fields() > 0
    # re-streamed without fields, beside a field-bearing doc elsewhere
    stream_committer(lake1)(spark.createDataFrame(
        [field_less, (other["doc_id"], [(s["kind"], s["text"],
                                          s["media_ref"], s["offset"])
                                         for s in other["spans"]])],
        DOCS_SCHEMA), 0)
    assert L.compact_stream(spark, lake1)["docs"] == 2
    assert d0_fields() == 0
    r0 = L.read_table(spark, lake1, L.RESULTS).filter(
        f"doc_id = '{d0['doc_id']}'").collect()
    assert [(r["status"], len(r["fields"])) for r in r0] \
        == [("rejected_classification", 0)]
    # a stream whose docs yield no field rows at all
    stream_committer(lake1)(spark.createDataFrame([field_less], DOCS_SCHEMA), 1)
    assert L.compact_stream(spark, lake1) == {"docs": 1, "buckets": 1}
    assert d0_fields() == 0
    assert L.read_table(spark, lake1, L.RESULTS).count() == 2


def test_stream_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark on the ingest stream: a doc_id
    re-delivered in a later file is processed once."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from ocr_documents_spark.pipeline import DOCS_SCHEMA
    from ocr_documents_spark.streaming.sessionize import extract_stream

    src = str(tmp_path / "dupdocs")
    os.makedirs(src)
    docs = generate_docs(6)
    span_type = pa.struct([("kind", pa.string()), ("text", pa.string()),
                           ("media_ref", pa.string()), ("offset", pa.int32())])
    schema = pa.schema([("doc_id", pa.string()),
                        ("spans", pa.list_(span_type))])

    _w = _write_ordered(src)

    def wf(name, rows):
        _w(name, rows, schema)

    wf("f1.parquet", docs[:4])
    wf("f2.parquet", docs[2:])  # docs 2,3 re-delivered

    lake_root = str(tmp_path / "dlake")
    q = (extract_stream(spark, src, lake_root, n_buckets=4,
                        checkpoint_dir=str(tmp_path / "dck"),
                        dedup_within="1 hour")
         .trigger(availableNow=True).start())
    assert q.awaitTermination(600), 'stream did not finish'
    res = spark.read.parquet(os.path.join(lake_root, L.STREAM_RESULTS))
    assert res.count() == 6
    assert res.select("doc_id").distinct().count() == 6


@pytest.fixture(scope="module")
def small_lake(spark, tmp_path_factory):
    corpus = str(tmp_path_factory.mktemp("c") / "docs")
    write_docs_parquet(corpus, 60, docs_per_file=20)
    root = str(tmp_path_factory.mktemp("lake2"))
    job.run(spark, corpus, root, 4, claimed=[0, 1, 2, 3])
    return L.Lake(root, 4)


def _fields_of_results(spark, lake):
    """fields_long as the explode of results.fields: sorted row tuples."""
    from ocr_documents_spark.pipeline import fields_long
    return sorted((tuple(r) for r in fields_long(
        L.read_table(spark, lake, L.RESULTS)).collect()), key=repr)


def _fields_long_rows(spark, lake):
    return sorted((tuple(r) for r in L.read_table(spark, lake, L.FIELDS_LONG)
                   .drop("bucket").collect()), key=repr)


def test_field_correction_merge(spark, small_lake):
    """A correction lands in results.fields and fields_long alike, and a
    second correction in the same bucket keeps the first one in both."""
    fl = spark.read.parquet(small_lake.path(L.FIELDS_LONG))
    victim = fl.filter(fl.field_value.isNotNull()).first()
    corrections = spark.createDataFrame(
        [(victim["doc_id"], victim["field_name"], "CORRECTED_VALUE")],
        "doc_id string, field_name string, new_value string")
    n_before = fl.count()
    touched = L.apply_field_corrections(spark, small_lake, corrections)
    assert touched == 1

    after = spark.read.parquet(small_lake.path(L.FIELDS_LONG))
    assert after.count() == n_before  # update, not insert
    updated = after.filter(
        (after.doc_id == victim["doc_id"])
        & (after.field_name == victim["field_name"])).collect()
    assert [r["field_value"] for r in updated] == ["CORRECTED_VALUE"]
    assert _fields_long_rows(spark, small_lake) \
        == _fields_of_results(spark, small_lake)

    # a second doc in the same bucket: the first correction survives
    second = after.filter((after.bucket == victim["bucket"])
                          & (after.doc_id != victim["doc_id"])).first()
    assert L.apply_field_corrections(spark, small_lake, spark.createDataFrame(
        [(second["doc_id"], second["field_name"], "SECOND_VALUE")],
        "doc_id string, field_name string, new_value string")) == 1
    rows = _fields_long_rows(spark, small_lake)
    assert rows == _fields_of_results(spark, small_lake)
    assert len(rows) == n_before
    values = {(r[0], r[2]): r[3] for r in rows}
    assert values[(victim["doc_id"], victim["field_name"])] == "CORRECTED_VALUE"
    assert values[(second["doc_id"], second["field_name"])] == "SECOND_VALUE"


def test_field_correction_null_clears_and_duplicates_collapse(spark, small_lake):
    """MERGE semantics: an explicit NULL new_value CLEARS the field, and a
    duplicated correction row must not fan out extra fields_long rows."""
    fl = spark.read.parquet(small_lake.path(L.FIELDS_LONG))
    victims = fl.filter(fl.field_value.isNotNull()).take(3)
    clear_v, dup_v = victims[1], victims[2]
    corrections = spark.createDataFrame(
        [(clear_v["doc_id"], clear_v["field_name"], None),
         (dup_v["doc_id"], dup_v["field_name"], "DUP_A"),
         (dup_v["doc_id"], dup_v["field_name"], "DUP_B")],
        "doc_id string, field_name string, new_value string")
    n_before = fl.count()
    L.apply_field_corrections(spark, small_lake, corrections)

    after = spark.read.parquet(small_lake.path(L.FIELDS_LONG))
    assert after.count() == n_before  # no fan-out from the duplicate rows
    cleared = after.filter((after.doc_id == clear_v["doc_id"])
                           & (after.field_name == clear_v["field_name"])).collect()
    assert [r["field_value"] for r in cleared] == [None]
    duped = after.filter((after.doc_id == dup_v["doc_id"])
                         & (after.field_name == dup_v["field_name"])).collect()
    assert [r["field_value"] for r in duped] == ["DUP_B"]  # max() winner


def test_delete_sole_document_in_bucket(spark, tmp_path):
    """Deleting the only doc in a bucket must drop the partition (dynamic
    overwrite can't replace a partition with zero rows)."""
    corpus = str(tmp_path / "c3")
    write_docs_parquet(corpus, 6, docs_per_file=6)
    root = str(tmp_path / "lake3")
    job.run(spark, corpus, root, 16, claimed=list(range(16)))
    lake = L.Lake(root, 16)
    results = spark.read.parquet(lake.path(L.RESULTS))
    singles = (results.groupBy("bucket").count()
               .filter("count = 1").select("bucket").collect())
    assert singles, "expected at least one single-doc bucket with 6 docs/16 buckets"
    b = singles[0]["bucket"]
    victim = results.filter(results.bucket == b).first()["doc_id"]
    assert L.doc_bucket(spark, lake, victim) == b
    L.delete_document(spark, lake, victim)
    after = spark.read.parquet(lake.path(L.RESULTS))
    assert after.filter(f"doc_id = '{victim}'").count() == 0
    assert after.count() == 5  # other buckets untouched
    from ocr_documents_spark.jobs.status import summarize
    assert summarize(spark, root, 16)["docs"] == 5


def test_delete_document_cascades(spark, small_lake):
    results = spark.read.parquet(small_lake.path(L.RESULTS))
    victim = results.select("doc_id").first()["doc_id"]
    n_before = results.count()
    L.delete_document(spark, small_lake, victim)
    assert spark.read.parquet(small_lake.path(L.RESULTS)).filter(
        f"doc_id = '{victim}'").count() == 0
    assert spark.read.parquet(small_lake.path(L.FIELDS_LONG)).filter(
        f"doc_id = '{victim}'").count() == 0
    assert spark.read.parquet(small_lake.path(L.RESULTS)).count() == n_before - 1


def test_csv_export(spark, small_lake, tmp_path):
    out = str(tmp_path / "export")
    results = spark.read.parquet(small_lake.path(L.RESULTS))
    L.export_results_csv(results, out)
    files = glob.glob(os.path.join(out, "*.csv"))
    assert len(files) == 1  # coalesced single file
    header = open(files[0]).readline().strip().split(",")
    assert header == ["doc_id", "document_type", "status",
                      "confidence", "n_fields", "n_pages"]