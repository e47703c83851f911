"""The Spark extraction pipeline: docs(doc_id, spans) -> results.

One job, one lineage (mirrors the reference's single live request path,
backend/main.py:94-234 — see SURVEY.md §3.1), **skew-split** into two paths
on ``size(spans)``.  Every rule (gate, first-media-span choice, span
recovery, classify/extract/finalize) is a function of the per-document
core in extractors/pipeline_pure.py; this module only decides where each
runs.

* **light path** (~99% of documents, a handful of spans each): a single
  zero-shuffle ``mapInArrow`` stage runs gate + recover + classify +
  extract per document.  Parallelism comes from the input scan splits —
  no exploded spans ever cross the wire, so the common case is
  scan -> one Arrow stage -> sink.
* **heavy path** (media-heavy documents, the skew unit — hundreds to
  thousands of media spans in ONE row, invisible to AQE because skew hides
  inside a single row): quality-gate Arrow UDF (ONE probe decode per doc,
  cheap-first; gate-failed docs stay in the same dataflow with spans
  blanked — no second scan, no duplicate gate eval) ->
  posexplode_outer(spans) -> salted repartition on (doc_id, span_idx) ->
  span-recovery Arrow UDF -> groupBy(doc_id) offset-ordered reassembly
  (native sort_array) -> finalize ``mapInArrow`` (synthesizes rejected
  results from the carried gate columns).  Exactly two shuffles, and only
  over the skewed ~1%.

Scale design (SURVEY.md §4.2):
* The split comes from the decoder's per-span cost
  (``auto_heavy_threshold``).  Below ``NO_SALT_CUTOFF`` each branch is
  its own filtered scan of the input, the ``size(spans)`` filters
  evaluating post-scan (heavy docs are ~1%, so the heavy-branch scan is
  skip-heavy); at or above it the plan is the single direct scan.
* The regroup is a hash aggregation on doc_id whose per-group state is
  bounded by the per-doc span cap, so it partial-aggregates map-side.
* Only the reassembly is native Catalyst; every Python stage is
  Arrow-vectorized and both ``mapInArrow`` stages share one batch adapter
  (_map_documents).  There is no per-row Python UDF and no driver-side
  collect anywhere.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type
from pyspark.sql.types import (ArrayType, BooleanType, DoubleType,
                               IntegerType, StringType, StructField,
                               StructType)

from .extractors.media import DECODE_MS
from .extractors.pipeline_pure import (document_quality_report,
                                       process_document, process_recovered,
                                       recover_span, rejected_quality_result)

DOCS_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("spans", ArrayType(StructType([
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]))),
])

OUT_SPAN_TYPE = StructType([
    StructField("kind", StringType()),
    StructField("text", StringType()),
    StructField("media_ref", StringType()),
    StructField("order", IntegerType()),
])

FIELD_TYPE = StructType([
    StructField("name", StringType()),
    StructField("value", StringType()),
    StructField("confidence", DoubleType()),
    StructField("page", IntegerType()),
    StructField("media_ref", StringType()),
])

RESULT_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("document_type", StringType()),
    StructField("classify_confidence", DoubleType()),
    StructField("overall_confidence", DoubleType()),
    StructField("status", StringType()),
    StructField("n_pages", IntegerType()),
    StructField("fields", ArrayType(FIELD_TYPE)),
    StructField("out_spans", ArrayType(OUT_SPAN_TYPE)),
    # Q5 triage surface (reference issues[]/warnings[],
    # image_quality_checker.py:56-62): issues explain a rejected_quality
    # status; warnings ride passing docs (skew, borderline sharpness,
    # 50<=score<70)
    StructField("quality_issues", ArrayType(StringType())),
    StructField("quality_warnings", ArrayType(StringType())),
])

# the heavy path's per-document gate verdict and per-span recovery
GATE_TYPE = StructType([
    StructField("quality_ok", BooleanType()),
    StructField("quality_issues", ArrayType(StringType())),
    StructField("quality_warnings", ArrayType(StringType())),
])

RECOVERED_TYPE = StructType([
    StructField("text", StringType()),
    StructField("confidence", DoubleType()),
    StructField("media_ref", StringType()),
])


# --- recovery-spread cost model ------------------------------------------
# Spreading one document's media spans across tasks costs two full-data
# shuffles (explode fan-out + doc_id regroup).  That price is right when a
# span's recovery is expensive (real OCR: O(100ms-1s)/span — a 4096-span
# doc would pin one task for 7-70 min) and wrong when recovery is cheap
# (the deterministic decoder: ~0.05ms/span — the same doc is 0.2s of work,
# far less than the shuffles cost).  The threshold therefore derives from
# the per-span cost of the decoder that runs (media.DECODE_MS): salt only
# documents whose SERIAL recovery would exceed the target task time.  A
# real OCR engine behind the seam declares its own cost there, and
# media-heavy docs fan out exactly as SURVEY.md §4.2 describes.
TARGET_TASK_SECONDS = 5.0
# floor of the cost-model split: a document this short never pays the two
# shuffles, however dear its spans are
HEAVY_SPAN_THRESHOLD = 64


# when the cost model puts the split above this, no plausible document
# qualifies and the two-branch plan would only buy a second full scan of
# the input (array-size predicates cannot prune parquet row groups) —
# emit the single-scan direct plan instead
NO_SALT_CUTOFF = 32768


def auto_heavy_threshold(ms_per_span: float = DECODE_MS) -> int:
    return max(HEAVY_SPAN_THRESHOLD,
               int(TARGET_TASK_SECONDS * 1000.0 / ms_per_span))


def _append_result(rows: dict, r: dict) -> None:
    rows["doc_id"].append(r["doc_id"])
    rows["document_type"].append(r["document_type"])
    rows["classify_confidence"].append(float(r["classify_confidence"]))
    rows["overall_confidence"].append(float(r["overall_confidence"]))
    rows["status"].append(r["status"])
    rows["n_pages"].append(r["n_pages"])
    rows["fields"].append([
        {"name": name, "value": None if d["value"] is None else str(d["value"]),
         "confidence": float(d["confidence"]), "page": d["page"],
         "media_ref": d["media_ref"]}
        for name, d in r["fields"].items()])
    rows["out_spans"].append([
        {"kind": k, "text": t, "media_ref": m, "order": o}
        for (k, t, m, o) in r["out_spans"]])
    rows["quality_issues"].append(r["quality_issues"])
    rows["quality_warnings"].append(r["quality_warnings"])


def _doc_lists(col: pa.ListArray) -> list:
    """A list<struct> column -> one list of field-name dicts per row.

    Arrow-native input adapter: ``to_pylist`` on a
    list<struct> column builds every element through a scalar object and
    costs several times more.  Here the column is flattened ONCE per
    batch into its contiguous child arrays (one ``to_pylist`` each —
    cheap, they are flat) and per-row lists are slices of one list of
    dicts.  A null list is an empty one.
    """
    flat = col.flatten()
    names = [f.name for f in flat.type]
    items = [dict(zip(names, vals)) for vals in
             zip(*(flat.field(i).to_pylist() for i in range(len(names))))]
    out, pos = [], 0
    for n in col.value_lengths().to_pylist():
        n = n or 0
        out.append(items[pos:pos + n])
        pos += n
    return out


def _map_documents(list_col: str, per_doc, riders: tuple = ()):
    """The one Arrow batch adapter behind both ``mapInArrow`` stages.

    Per batch: ``list_col`` goes through _doc_lists once, then
    ``per_doc(doc_id, items, *rider_values)`` runs once per document and
    its result dicts are written into one RESULT_SCHEMA ``RecordBatch``.
    """
    schema = to_arrow_schema(RESULT_SCHEMA)

    def fn(batches):
        for batch in batches:
            rows = {name: [] for name in schema.names}
            for doc_id, items, *extra in zip(
                    batch.column("doc_id").to_pylist(),
                    _doc_lists(batch.column(list_col)),
                    *(batch.column(c).to_pylist() for c in riders)):
                _append_result(rows, per_doc(doc_id, items, *extra))
            yield pa.RecordBatch.from_pydict(
                {name: pa.array(rows[name], type=schema.field(name).type)
                 for name in rows}, schema=schema)
    return fn


def _direct_batches(skip_quality_check: bool, forced_type: str | None = None):
    """Whole-document single-pass stage (mapInArrow): spans ->
    process_document, the oracle itself, so span-sequence equality holds
    by construction on this path."""
    def per_doc(doc_id, spans):
        return process_document(doc_id, spans,
                                skip_quality_check=skip_quality_check,
                                forced_type=forced_type)
    return _map_documents("spans", per_doc)


def _finalize_pages(forced_type: str | None = None):
    """Heavy-path finalize (mapInArrow): recovered pages + the gate's
    riders -> the rejected result or classify + extract + status."""
    def per_doc(doc_id, pages, n_spans_total, ok, issues, warnings):
        if not ok:
            return rejected_quality_result(doc_id, n_spans_total, issues,
                                           warnings)
        return process_recovered(doc_id, pages, forced_type,
                                 quality_warnings=warnings)
    return _map_documents("pages", per_doc, (
        "n_spans_total", "quality_ok", "quality_issues", "quality_warnings"))


def _quality_gate(skip_quality_check: bool):
    """document_quality_report over a batch of ``spans`` -> GATE_TYPE."""
    @F.arrow_udf(GATE_TYPE)
    def quality_gate(spans: pa.Array) -> pa.Array:
        return pa.array([document_quality_report(s, skip_quality_check)
                         for s in _doc_lists(spans)],
                        type=to_arrow_type(GATE_TYPE))
    return quality_gate


@F.arrow_udf(RECOVERED_TYPE)
def recover_spans(kind: pa.Array, text: pa.Array,
                  media_ref: pa.Array) -> pa.Array:
    """recover_span over a batch of exploded spans -> RECOVERED_TYPE."""
    return pa.array([recover_span(*s) for s in zip(
        kind.to_pylist(), text.to_pylist(), media_ref.to_pylist())],
        type=to_arrow_type(RECOVERED_TYPE))


def recover_and_regroup(docs: DataFrame) -> DataFrame:
    """docs -> one row per doc with offset-ordered recovered pages (+ every
    doc-level column besides doc_id/spans — the gate's quality_* triage
    surface, n_spans_total — carried through the fan-out as riders).

    Each rider rides ONLY the first exploded row per document (null
    elsewhere), so the explode shuffle carries one copy per document, not
    one per span — a 4096-span doc would otherwise ship 4096 copies of
    every array through two shuffles.

    Documents whose spans array is EMPTY (the gate blanks rejected docs'
    spans so they ride this dataflow as metadata-only rows) survive the
    explode as a single null-span row (posexplode_outer) and regroup to
    ``pages = []`` — collect_list drops the null page struct.
    """
    riders = [c for c in docs.columns if c not in ("doc_id", "spans")]
    spans = docs.select("doc_id", *riders,
                        F.posexplode_outer("spans").alias("span_idx", "span"))
    first_row = F.coalesce(F.col("span_idx"), F.lit(0)) == 0
    spans = spans.select(
        "doc_id", "span_idx", "span",
        *[F.when(first_row, F.col(c)).alias(c) for c in riders])

    # spread media-heavy documents across tasks; without this, a doc
    # with 4096 media spans pins its entire recovery to one input split.
    # The partition count is EXPLICIT: AQE coalesces shuffles by bytes,
    # and a few thousand span rows look tiny even when each costs
    # ~100ms-1s of OCR — byte-based coalescing would serialize exactly
    # the work this shuffle exists to spread (user-specified counts are
    # exempt from AQE coalescing).
    sess = docs.sparkSession
    n_parts = max(sess.sparkContext.defaultParallelism * 2,
                  int(sess.conf.get("spark.sql.shuffle.partitions", "200")))
    spans = spans.repartition(n_parts, "doc_id", "span_idx")

    rec = spans.select(
        "doc_id",
        *riders,
        F.col("span").isNotNull().alias("is_span"),
        F.col("span.offset").alias("offset"),
        "span_idx",
        recover_spans(F.col("span.kind"), F.col("span.text"),
                      F.col("span.media_ref")).alias("rec"),
    )

    # (offset, span_idx) order = recover_pages' stable sort by offset
    page = F.when(F.col("is_span"), F.struct(
        F.col("offset"),
        F.col("span_idx"),
        F.col("rec.text").alias("text"),
        F.col("rec.media_ref").alias("media_ref"),
        F.col("rec.confidence").alias("confidence"),
    ))
    return rec.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(page)).alias("pages"),
        *[F.first(c, ignorenulls=True).alias(c) for c in riders])


def run_pipeline(docs: DataFrame, skip_quality_check: bool = False,
                 heavy_threshold: int | None = None,
                 forced_type: str | None = None) -> DataFrame:
    """Full extraction: docs(doc_id, spans) -> RESULT_SCHEMA DataFrame.

    Skew-split: documents with ``size(spans) <= heavy_threshold`` run the
    zero-shuffle direct stage; bigger ones are gated first (one probe decode
    per doc), failed ones short-circuit to rejected result rows, and the
    rest run the salted explode/regroup path.  ``heavy_threshold=None``
    derives the split from the recovery cost model (see
    auto_heavy_threshold): cheap recovery -> everything direct, zero
    shuffles; expensive OCR -> media-heavy docs fan out.

    ``forced_type`` skips classification and extracts every document as
    that type — the reference's explicit ``document_type`` upload parameter
    (backend/main.py:175-188), and the only path that can process
    LABOR_CONTRACT (no classifier rules exist for it, by parity).
    """
    if heavy_threshold is None:
        heavy_threshold = auto_heavy_threshold()
    # an over-split input scan (thousands of small files/splits) spends
    # more on per-task Python-worker setup than on extraction — merge
    # splits without a shuffle; no-op on a sanely-split scan
    from .functions.fanout import fan_in
    docs = fan_in(docs)
    if heavy_threshold >= NO_SALT_CUTOFF:
        return docs.mapInArrow(
            _direct_batches(skip_quality_check, forced_type), RESULT_SCHEMA)
    return (_light_branch(docs, heavy_threshold, skip_quality_check,
                          forced_type)
            .unionByName(_heavy_branch(docs, heavy_threshold,
                                       skip_quality_check, forced_type)))


def _light_branch(docs: DataFrame, heavy_threshold: int,
                  skip_quality_check: bool,
                  forced_type: str | None) -> DataFrame:
    """The zero-shuffle direct stage over docs at/below the split."""
    return docs.filter(F.size("spans") <= heavy_threshold).mapInArrow(
        _direct_batches(skip_quality_check, forced_type), RESULT_SCHEMA)


def _heavy_branch(docs: DataFrame, heavy_threshold: int,
                  skip_quality_check: bool,
                  forced_type: str | None) -> DataFrame:
    """Gate → salted recover/regroup/finalize over docs above the split.

    The gate runs BEFORE any recovery fan-out (cheap-first, Q1-Q6, S3):
    one Arrow UDF over ``spans`` calls document_quality_report, which
    decodes only the first media span (the reference's single-page
    reduced-dpi QC render, backend/image_quality_checker.py:242-254).
    Gate-FAILED docs ride the SAME dataflow as metadata-only rows: their
    spans are blanked before the explode (no recovery work, one null-span
    row through the two exchanges) and the finalize stage synthesizes the
    rejected result from the carried quality columns via the shared pure
    function.  One dataflow, because Catalyst extracts a Python UDF once
    per Filter/Project operator that references it: a filter-and-union
    split would re-scan the heavy slice and re-run the gate, the single
    most expensive gate step with a real OCR probe.  One scan, ONE gate
    evaluation per document, two exchanges (plan-asserted in
    tests/test_plan_shapes.py).
    """
    heavy = docs.filter(F.size("spans") > heavy_threshold)
    gated = heavy.withColumn(
        "gate", _quality_gate(skip_quality_check)(F.col("spans")))
    pruned = gated.select(
        "doc_id",
        F.size("spans").alias("n_spans_total"),
        "gate.quality_ok",
        "gate.quality_issues",
        "gate.quality_warnings",
        F.when(F.col("gate.quality_ok"), F.col("spans"))
        .otherwise(F.array().cast(docs.schema["spans"].dataType))
        .alias("spans"),
    )
    return recover_and_regroup(pruned).mapInArrow(
        _finalize_pages(forced_type), RESULT_SCHEMA)


def read_docs(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(DOCS_SCHEMA).parquet(path)


def fields_long(results: DataFrame) -> DataFrame:
    """S5: EAV long-format table (mirrors backend/main_v1.py:136-144)."""
    f = F.explode("fields").alias("f")
    return results.select("doc_id", "document_type", f).select(
        "doc_id", "document_type",
        F.col("f.name").alias("field_name"),
        F.col("f.value").alias("field_value"),
        F.col("f.confidence").alias("confidence"),
        F.col("f.page").alias("page_number"),
    )
