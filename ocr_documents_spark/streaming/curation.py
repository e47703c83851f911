"""Continuous corpus curation: the jobs/curate.py stages as an
idempotent streaming pipeline with CROSS-BATCH dedup state in the lake.

The interesting design problem is near-dup state: a 10^12-doc corpus
cannot keep its dedup signatures in Spark's state store (state is
bounded by watermark eviction — corpus membership never expires).  The
answer is lake-resident state: each micro-batch

1. scrubs PII and applies the Gopher/C4 quality gate (stateless,
   per-row);
2. drops exact duplicates WITHIN the batch (md5 fingerprint) and
   within-batch near-dups — LSH band collisions GATED on the estimated
   Jaccard (fraction of agreeing minhash positions >= threshold), so a
   moderately-similar-but-distinct pair that happens to share a band is
   NOT silently lost (with the 16-hash/4-band default, two docs at true
   Jaccard ~0.5 share a band ~23% of the time but pass the >=0.7
   estimate gate only ~4% — the gate is what makes streaming dedup
   safe, and the funnel metrics record band hits vs gated drops so the
   avoided-false-drop rate is visible per batch);
3. probes the LAKE's band-index table (only the batch is hashed, the
   corpus is never re-read) and applies the SAME estimate gate using
   the signatures persisted in the sibling sig-index table — cross-
   batch collisions are verified from state, not trusted;
4. decontaminates against the static eval set (broadcast);
5. appends the survivors to ``curated_stream`` AND their bands +
   signatures to the two index tables, all partitioned by
   (ingest_batch, …) with dynamic partition overwrite — an
   at-least-once replay of a batch rewrites its own partitions
   byte-identically, so the pipeline is idempotent end to end
   (replay-tested);
6. lands a per-batch funnel-metrics row with a STATIC schema
   (``METRICS_COLUMNS`` — optional stages are NULL, never absent), so
   every batch's parquet partition carries identical columns and a
   plain read over the metrics table sees every run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

CURATED = "curated_stream"
BAND_INDEX = "band_index_stream"
SIG_INDEX = "sig_index_stream"
CURATION_METRICS = "curation_metrics_stream"

# the static funnel schema: EVERY batch writes exactly these columns
# (NULL for stages that did not run) — runs with and without an eval
# set land the same parquet schema, so no column is silently hidden
METRICS_COLUMNS = [
    "input", "after_quality", "after_batch_dedup", "after_index_dedup",
    "after_decontaminate",
    # observability for the estimate gate: band collisions seen vs
    # drops the gate confirmed (hits - drops = avoided false drops)
    "batch_band_hits", "batch_est_drops",
    "index_band_hits", "index_est_drops",
]
METRICS_SCHEMA = T.StructType(
    [T.StructField("ingest_batch", T.LongType(), False)]
    + [T.StructField(c, T.LongType(), True) for c in METRICS_COLUMNS])


def curation_committer(lake, bench: DataFrame | None = None,
                       n_hashes: int | None = None,
                       bands: int | None = None,
                       est_threshold: float | None = None,
                       bucket_cap: int | None = None):
    """foreachBatch callback factory (exposed for direct replay tests,
    like sessionize.stream_committer).  ``bucket_cap`` forwards to the
    batch-internal ``candidate_pairs`` star guard (default
    ``D.BUCKET_CAP``); exact duplicates are collapsed by
    ``D.exact_fingerprint`` BEFORE banding, so a wider-than-cap bucket
    here means >cap genuinely-distinct near-dup texts in one
    micro-batch."""
    from ..jobs import lake as L
    from ..operators import dedup as D
    from ..operators.decontaminate import decontaminate
    from ..operators.pii import scrub_corpus
    from ..operators.quality_filters import quality_filter_report

    n_hashes = n_hashes or D.N_HASHES
    bands = bands or D.BANDS
    bucket_cap = D.BUCKET_CAP if bucket_cap is None else bucket_cap
    # 0.0 is a meaningful threshold (drop on any band hit) — only None
    # falls back to the default
    est_threshold = (D.JACCARD_THRESHOLD if est_threshold is None
                     else est_threshold)

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        bid = F.lit(int(batch_id))
        funnel: dict[str, int | None] = {c: None for c in METRICS_COLUMNS}
        funnel["input"] = batch_df.count()

        cur = (scrub_corpus(batch_df, "text", "__clean")
               .drop("text").withColumnRenamed("__clean", "text"))
        keep = (quality_filter_report(cur)
                .filter(F.col("keep")).select("doc_id"))
        cur = cur.join(keep, "doc_id", "left_semi").localCheckpoint()
        funnel["after_quality"] = cur.count()

        # exact dups within the batch: deterministic min-doc_id
        # winner, keyed by the SHARED exact-content equivalence
        # (D.exact_fingerprint — whitespace-normalized, the same key
        # the batch dedup's BUCKET_CAP star guard assumes has
        # already collapsed identical content; raw md5(text) would
        # leave whitespace variants as an uncollapsed identical
        # cluster in every band bucket)
        fp = cur.withColumn("__fp", D.exact_fingerprint("text"))
        canon = fp.groupBy("__fp").agg(F.min("doc_id").alias("doc_id"))
        cur = (fp.join(canon, ["__fp", "doc_id"], "left_semi")
               .drop("__fp").localCheckpoint())
        n_after_exact = cur.count()
        # signatures once per batch: bands feed candidate generation
        # AND the index write; the packed array feeds the estimate
        # gate and the sig-index write
        sig = D.minhash_signatures(cur, n_hashes, bands) \
            .localCheckpoint()
        sig_arr = sig.select(
            "doc_id", D.signature_col(n_hashes).alias("sig"))

        # near-dups within the batch: band collision -> estimated-
        # Jaccard gate -> min-id canonical per confirmed pair
        pairs = D.candidate_pairs(sig, bands, bucket_cap)
        gated = (pairs
                 .join(sig_arr.select(
                     F.col("doc_id").alias("a_doc_id"),
                     F.col("sig").alias("a_sig")), "a_doc_id")
                 .join(sig_arr.select(
                     F.col("doc_id").alias("b_doc_id"),
                     F.col("sig").alias("b_sig")), "b_doc_id")
                 .withColumn("est",
                             D.estimated_jaccard(F.col("a_sig"),
                                                 F.col("b_sig")))
                 .localCheckpoint())
        funnel["batch_band_hits"] = gated.count()
        losers = (gated.filter(F.col("est") >= est_threshold)
                  .select(F.greatest("a_doc_id", "b_doc_id")
                          .alias("doc_id")).distinct())
        cur = cur.join(losers, "doc_id", "left_anti").localCheckpoint()
        n = cur.count()
        funnel["after_batch_dedup"] = n
        funnel["batch_est_drops"] = n_after_exact - n

        # cross-batch: probe the lake's accumulated band index, then
        # verify each collision against the PERSISTED signatures.
        # BOTH index tables must exist: a crash between the two
        # sequential index writes leaves a band index without its
        # sibling sig index, and the replayed batch must degrade to
        # "no verifiable state" (and then rewrite both), not crash
        if (L._path_exists(sess, lake.path(BAND_INDEX))
                and L._path_exists(sess, lake.path(SIG_INDEX))):
            # a replayed batch must not collide with its own
            # previously-written state
            not_self = F.col("ingest_batch") != int(batch_id)
            index = (sess.read.parquet(lake.path(BAND_INDEX))
                     .filter(not_self))
            stored_sigs = (sess.read.parquet(lake.path(SIG_INDEX))
                           .filter(not_self))
            # probe with the batch-dedup SURVIVORS only: an already-
            # dropped doc can never be dropped again, so its
            # collisions would only inflate index_band_hits
            sig_cur = sig.join(cur.select("doc_id"), "doc_id",
                               "left_semi")
            hits = (D.incremental_candidates(
                        None, index, n_hashes, bands,
                        signatures=sig_cur)
                    .withColumnRenamed("new_doc_id", "doc_id"))
            verified = (hits
                        .join(sig_arr, "doc_id")
                        .join(stored_sigs.select(
                            F.col("doc_id").alias("index_doc_id"),
                            F.col("sig").alias("i_sig")),
                            "index_doc_id")
                        .withColumn("est",
                                    D.estimated_jaccard(
                                        F.col("sig"), F.col("i_sig")))
                        .localCheckpoint())
            funnel["index_band_hits"] = verified.count()
            drops = (verified.filter(F.col("est") >= est_threshold)
                     .select("doc_id").distinct())
            cur = cur.join(drops, "doc_id", "left_anti")
        else:
            funnel["index_band_hits"] = 0
        cur = cur.localCheckpoint()
        n = cur.count()
        funnel["after_index_dedup"] = n
        funnel["index_est_drops"] = funnel["after_batch_dedup"] - n

        if bench is not None:
            cur = decontaminate(cur, bench).localCheckpoint()
            funnel["after_decontaminate"] = cur.count()

        out = (cur.withColumn("bucket", lake.bucket_col())
               .withColumn("ingest_batch", bid))
        L._overwrite_partitions(out, lake.path(CURATED),
                                ["ingest_batch", "bucket"])
        # index state for future batches: survivors only, bands and
        # signatures written together (the sig is what lets the next
        # batch VERIFY a collision against this one)
        surv_sig = (sig.join(cur.select("doc_id"), "doc_id",
                             "left_semi").localCheckpoint())
        new_bands = (D.band_index(surv_sig, bands)
                     .withColumn("ingest_batch", bid))
        L._overwrite_partitions(new_bands, lake.path(BAND_INDEX),
                                ["ingest_batch"])
        L._overwrite_partitions(
            surv_sig.select("doc_id",
                            D.signature_col(n_hashes).alias("sig"))
            .withColumn("ingest_batch", bid),
            lake.path(SIG_INDEX), ["ingest_batch"])
        metrics = sess.createDataFrame(
            [tuple([int(batch_id)]
                   + [None if funnel[c] is None else int(funnel[c])
                      for c in METRICS_COLUMNS])], METRICS_SCHEMA)
        L._overwrite_partitions(metrics, lake.path(CURATION_METRICS),
                                ["ingest_batch"])

    return commit_batch


def curate_stream(spark, docs_path: str, lake_root: str, n_buckets: int,
                  checkpoint_dir: str, schema: str =
                  "doc_id long, text string, source string",
                  bench: DataFrame | None = None):
    """Continuous curation over a docs directory (parquet file source);
    wire ``.start()`` on the returned writer."""
    from ..jobs import lake as L
    lake = L.Lake(lake_root, n_buckets)
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 8).parquet(docs_path))
    return (stream.writeStream
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(curation_committer(lake, bench)))
