"""Driver-contract query suite (SURVEY.md §2.7 coverage map).

Each entry pairs an idiomatic-DataFrame Spark implementation with an ANSI
SQL oracle that DuckDB runs over the same parquet tables; the driver
compares row counts, schemas, and order-insensitive value hashes.  Column
aliases match exactly on both sides.  Float-producing queries round
explicitly so cross-engine summation order cannot flip the hash.

Categories covered: scan/filter/project (pushdown), top-k, point lookup,
window (first-match-wins analogue of backend/ocr_service.py:1618-1625),
broadcast join, anti join, explode/unnest, regex extraction, date
functions, ordered dedup, exact/MinHash/SimHash/Jaccard dedup plus the
end-to-end dedup-group assignment (operators/dedup.py), similarity
search (brute-force + LSH-bucketed), embedding centroids, text analytics
(quality score, language ID, token counts, fingerprints), sessionization,
tumbling windows, set ops (intersect/exceptAll), reference date
normalization (DD-Mon-YY, expiry−10y+1d), array higher-order functions
(vector norms), multimodal media-metadata extraction, approx-distinct
sketches, and the extraction pipeline itself (value-checked against
golden parquet the pure single-node oracle materializes; the pytest
span-equality suite remains the per-span strong check).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .extractors.boilerplate import CHUNK_WORDS as _BP_CHUNK
from .extractors.boilerplate import MIN_TAIL_WORDS as _BP_TAIL
from .functions.fanout import cpu_parts, fan_out
from .functions.hashing import (SIMHASH_BITS, duckdb_simhash_select,
                                md5_int60)
from .functions.vectors import cosine, seeded_sign_bands, sign_bucket_dims
from .operators import dedup as D

# q22: seeded-random axis-hyperplane LSH, configurable bit width (3 bits ->
# 8 buckets; widen for a bigger corpus by raising dims_per_band)
Q22_DIMS = seeded_sign_bands(n_bands=1, dims_per_band=3, seed=11)[0]

# q24: near-dup LSH bands (OR-amplified: 2 bands x 4 sign bits) + the
# engineered near-duplicate vectors that make the oracle row non-trivial —
# the raw corpus has no cos>=0.95 pair (max 0.51), so a dedup query proving
# anything must union deterministic derived copies: vec_id < 15 re-emitted
# at +100000 with embedding' = 0.99*x + 0.003 (cos ~ 0.9997 to its source)
NEARDUP_BANDS = seeded_sign_bands(n_bands=2, dims_per_band=4, seed=42)
NEARDUP_N, NEARDUP_OFFSET = 15, 100000
NEARDUP_SCALE, NEARDUP_SHIFT = 0.99, 0.003

STOPWORDS = ["the", "a", "and", "of", "to"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # timestamp rendering must match the (naive-UTC) DuckDB oracle even if
    # the harness session was built with a non-UTC default timezone
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# relational core
# ---------------------------------------------------------------------------

def q01_pricing_summary(spark, sf_dir):
    """TPC-H Q1 analogue: partial-aggregatable hash agg; Catalyst emits
    map-side combine so the shuffle carries one row per group per task."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                 F.round(F.avg("l_discount"), 4).alias("avg_disc"),
                 F.count(F.lit(1)).alias("count_order")))


def q02_filter_pushdown(spark, sf_dir):
    """Predicate + projection pushed to the parquet scan (check PushedFilters
    and a 3-column ReadSchema in .explain)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter((F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
                      & (F.col("l_quantity") < 5))
            .select("l_orderkey", "l_quantity", "l_extendedprice"))


def q03_top_orders(spark, sf_dir):
    """Top-k: TakeOrderedAndProject, no full sort."""
    return (_t(spark, sf_dir, "orders")
            .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .limit(10))


def q37_page_scan(spark, sf_dir):
    """Offset pagination — the reference's list endpoint
    ``get_documents(skip=10, limit=10)`` (backend/main_v1.py:254-275) as
    offset().limit() over a deterministic total order."""
    return (_t(spark, sf_dir, "orders")
            .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .offset(10).limit(10))


def q04_point_lookup(spark, sf_dir):
    return _t(spark, sf_dir, "customer").filter(F.col("c_custkey") == 42)


def q40_main_content(spark, sf_dir):
    """HTML boilerplate strip / DOM heuristics (extractors/boilerplate.py):
    every document is wrapped in a deterministic full-page template (nav,
    adverts, sidebar, comments, scripts, footer — all keyed on doc_id),
    then the shallow-DOM block classifier recovers the main content.  The
    oracle invariant is exact: main_text round-trips to the normalized
    source text, the title matches the template, and both block-census
    counts reproduce the template arithmetic in pure SQL.  Plan shape:
    scan -> two Arrow stages -> project, zero shuffle."""
    from .operators.main_content import main_content_udf, synthesize_page_udf
    # the per-row work here is a full HTML synthesize + shallow-DOM parse
    # in Python — a single-split scan would serialize it onto one core
    # (guide §2.5 input skew); fan_out is a no-op on a well-split lake
    docs = fan_out(_t(spark, sf_dir, "documents"), "doc_id")
    pages = docs.select(
        "doc_id",
        synthesize_page_udf("doc_id", "text", "lang").alias("html"))
    return (pages.select("doc_id", main_content_udf("html").alias("mc"))
            .select("doc_id",
                    F.col("mc.main_text").alias("main_text"),
                    F.col("mc.title").alias("title"),
                    F.col("mc.n_blocks").alias("n_blocks"),
                    F.col("mc.n_content_blocks").alias("n_content_blocks")))


def q41_layout_reading_order(spark, sf_dir):
    """PDF/layout parse: recursive XY-cut reading order (operators/
    layout.py).  Each document's words are scattered natively into a
    full-width header band plus two staggered columns, the array is
    REVERSED (so only real geometry — not input order — can restore it),
    and the Arrow-batched XY-cut must emit the original word sequence.
    The flat (y, x) sort provably interleaves the columns on every one of
    these pages (tests/test_layout.py), so the oracle match is a strong
    check of the segmentation itself.  One narrow repartition (the
    Project-collapse barrier — without it the scatter lambda re-inlines
    split(text) per element, O(n^2)/doc, measured 19x slower), then
    Arrow stage -> explode."""
    from .operators.layout import reading_order_udf, with_scattered_tokens
    docs = _t(spark, sf_dir, "documents")
    toks = (with_scattered_tokens(docs)
            .select("doc_id", F.reverse("tokens").alias("tokens")))
    ordered = toks.select("doc_id", reading_order_udf("tokens").alias("w"))
    # posexplode_OUTER: plain posexplode makes Catalyst infer a
    # size(w)>0 filter and push it below the exchange, duplicating the
    # UDF (and the scatter, re-inlined O(n^2)) into a single-task
    # pre-filter stage — measured 7.4s vs 0.9s.  The array is never
    # empty (every document has >= 1 word), so outer is identical.
    return ordered.select(
        "doc_id", F.posexplode_outer("w").alias("pos", "word"))


def q42_asof_join(spark, sf_dir):
    """Distributed as-of join (operators/temporal.py): each event is
    decorated with the customer's most recent order at or before the
    event date — via union + per-key running last(ignorenulls), ONE
    shuffle, no range self-join.  Event dates are remapped
    deterministically into the order era (the raw corpora don't overlap
    in time); the right side is pre-aggregated to one row per
    (customer, date) because DuckDB's native ASOF JOIN (the oracle)
    leaves equal-timestamp ties unspecified."""
    from .operators.temporal import asof_join
    ev = _t(spark, sf_dir, "events").select(
        "event_id", F.col("user_id").alias("custkey"),
        F.date_add(F.lit("1992-01-01").cast("date"),
                   (F.col("event_id") % 2400).cast("int")).alias("evt_date"))
    orders = (_t(spark, sf_dir, "orders")
              .groupBy(F.col("o_custkey").alias("custkey"),
                       F.col("o_orderdate").alias("last_orderdate"))
              .agg(F.max("o_orderkey").alias("last_orderkey")))
    joined = asof_join(ev, orders, on="custkey",
                       left_ts="evt_date", right_ts="last_orderdate",
                       value_cols=["last_orderkey", "last_orderdate"])
    return joined.select(
        "event_id", "custkey", "evt_date", "last_orderkey",
        "last_orderdate",
        F.datediff("evt_date", "last_orderdate").alias("days_since"))


def q43_range_join(spark, sf_dir):
    """Binned range join (operators/temporal.py): events (as day indices)
    matched to 21-day order-activity windows by pure containment — no
    equi key.  Intervals are replicated only into the time bins they
    overlap, so the plan is a hash equi-join on the bin (one shuffle per
    side) instead of the O(|points| x |intervals|) nested loop a raw
    inequality join costs; the DuckDB oracle runs the raw inequality
    join (its IEJoin), checking the binning introduces no gain or loss
    at the bin edges."""
    from .operators.temporal import range_join
    # fan out the point side: with broadcast intervals the join runs at
    # the point scan's parallelism, so a one-split scan must spread
    ev = fan_out(_t(spark, sf_dir, "events"), "event_id").select(
        "event_id", (F.col("event_id") % 2400).cast("int").alias("day"))
    windows = (_t(spark, sf_dir, "orders")
               .filter(F.col("o_orderkey") % 97 == 0)
               .select(F.col("o_orderkey").alias("window_key"),
                       F.datediff("o_orderdate", F.lit("1992-01-01"))
                       .alias("start_day")))
    windows = windows.withColumn("end_day", F.col("start_day") + 20)
    # bin_width 8 < the 21-day span: ~2.4x fewer false candidates per
    # event than the old 32 (pair count ~ span+bin_width), and the 1/97
    # order sample is dimension-sized so its 3.6x replication is free;
    # broadcast it so events are never shuffled (results identical for
    # any bin_width — the DuckDB oracle is the raw inequality join)
    return (range_join(ev, windows, point_col="day",
                       start_col="start_day", end_col="end_day",
                       bin_width=8, broadcast_intervals=True)
            .select("event_id", "day", "window_key", "start_day"))


# BM25 (Robertson et al., TREC-3 Okapi): standard k1/b, query terms from
# the corpus vocabulary
BM25_K1, BM25_B = 1.2, 0.75
BM25_TERMS = ("table", "scan", "merge")


def _bm25_scored(spark, sf_dir) -> DataFrame:
    """(doc_id, bm25) for every document — shared by q44 and q49."""
    # per-row tokenize + 3 array scans: CPU-bound, fan out a one-split scan
    docs = (fan_out(_t(spark, sf_dir, "documents"), "doc_id")
            .select("doc_id", F.split("text", " ").alias("words")))
    def _match(term):
        # closure factory: a default-arg lambda would have arity 2 and
        # pyspark would feed it (element, index)
        return lambda w: w == F.lit(term)

    docs = docs.select(
        "doc_id", F.size("words").alias("dl"),
        *[F.size(F.filter("words", _match(t))).alias(f"tf_{i}")
          for i, t in enumerate(BM25_TERMS)])
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
          for i in range(len(BM25_TERMS))])
    scored = docs.crossJoin(F.broadcast(stats))
    score = F.lit(0.0)
    for i in range(len(BM25_TERMS)):
        idf = F.log((F.col("n_docs") - F.col(f"df_{i}") + F.lit(0.5))
                    / (F.col(f"df_{i}") + F.lit(0.5)) + F.lit(1.0))
        tf = F.col(f"tf_{i}").cast("double")
        denom = tf + BM25_K1 * (1.0 - BM25_B
                                + BM25_B * F.col("dl") / F.col("avgdl"))
        score = score + idf * tf * (BM25_K1 + 1.0) / denom
    return scored.select("doc_id", (F.round(score, 4) + 0.0).alias("bm25"))


def q44_bm25_topk(spark, sf_dir):
    """Full-corpus BM25 ranking with ZERO explode: per-row term
    frequencies via array HOFs (size/filter — codegen), corpus statistics
    (N, avgdl, per-term document frequencies) in ONE aggregate row that
    broadcasts back over the scan, score arithmetic native, top-10 by
    rounded score.  At 100 TB this is two passes over the tokenized
    column and a scalar broadcast — no per-term shuffle, no posting-list
    materialization."""
    return (_bm25_scored(spark, sf_dir)
            .orderBy(F.desc("bm25"), F.asc("doc_id")).limit(10))


# q49 reciprocal-rank fusion (Cormack/Clarke/Buettcher SIGIR'09): the
# standard k=60, query vector = embedding of vec_id 0
RRF_K = 60


def q51_funnel(spark, sf_dir):
    """Ordered conversion funnel (view -> click -> purchase): each
    stage's timestamp is the earliest event STRICTLY AFTER the previous
    stage — three stage aggregates chained by co-partitioned joins on
    user_id (one shuffle key throughout, so AQE plans them as one
    exchange-reusing pipeline).  NULLs mark where a user dropped out."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    t1 = (ev.filter(F.col("event_type") == "view")
          .groupBy("user_id").agg(F.min("ts").alias("t_view")))
    t2 = (ev.filter(F.col("event_type") == "click")
          .join(t1, "user_id")
          .filter(F.col("ts") > F.col("t_view"))
          .groupBy("user_id").agg(F.min("ts").alias("t_click")))
    t3 = (ev.filter(F.col("event_type") == "purchase")
          .join(t2, "user_id")
          .filter(F.col("ts") > F.col("t_click"))
          .groupBy("user_id").agg(F.min("ts").alias("t_purchase")))
    return (t1.join(t2, "user_id", "left").join(t3, "user_id", "left")
            .select("user_id", "t_view", "t_click", "t_purchase"))


def q52_revenue_rollup(spark, sf_dir):
    """ROLLUP over (nation, order year): every subtotal level in one
    pass (Spark expands grouping sets inside a single partial-aggregating
    hash agg — not one scan per level).  Roll-up markers are made
    explicit ('ALL' / -1) so the oracle comparison never conflates a
    subtotal NULL with a data NULL."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    base = (orders.join(cust, orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .select("n_name", F.year("o_orderdate").alias("yr"),
                    "o_totalprice"))
    return (base.rollup("n_name", "yr")
            .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
                 F.count(F.lit(1)).alias("n_orders"))
            .select(F.coalesce("n_name", F.lit("ALL")).alias("nation"),
                    F.coalesce("yr", F.lit(-1)).alias("yr"),
                    "revenue", "n_orders"))


def q53_rollup_maintenance(spark, sf_dir):
    """Continuous-aggregate maintenance (operators/rollup.py) under the
    driver's value oracle: events arrive as three separate batches,
    each becomes a partial-aggregate increment, the increments FOLD into
    one rollup (groupBy-sum of mergeable state), and the folded cells
    must equal a one-shot SQL aggregate over all events — proving the
    maintenance path loses nothing.  The state columns (n, total, min,
    max) fully determine the read-time average; the derived avg stays
    out of the oracle because a quotient like 1512.12/32 lands exactly
    on a rounding boundary where engines' half-up/half-even rules
    legitimately disagree (the pytest suite covers the readout)."""
    from .operators.rollup import merge_rollups, rollup_increment
    ev = _t(spark, sf_dir, "events")
    rolled = None
    for i in range(3):
        inc = rollup_increment(ev.filter(F.col("event_id") % 3 == i))
        rolled = inc if rolled is None else merge_rollups(rolled, inc)
    return rolled.select("bucket_start", "event_type", "n",
                         F.round("total_value", 2).alias("total_value"),
                         "min_value", "max_value")


def q50_exact_percentiles(spark, sf_dir):
    """Exact quantiles per group (the exact twin of q33's sketches):
    Spark's percentile() and DuckDB's quantile_cont share the linear-
    interpolation definition, so the values agree bit-for-bit after
    rounding.  Exact percentiles need the group's values together — one
    shuffle, partial-aggregated; at 100 TB you'd reach for the q33
    sketch unless exactness is contractual (SLA p99s are)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 *[(F.round(F.percentile("value", F.lit(p)), 4) + 0.0)
                   .alias(f"p{int(p * 100):02d}")
                   for p in (0.5, 0.9, 0.99)]))


def q49_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval: fuse the BM25 text ranking (q44's scorer) with a
    dense-vector ranking (cosine to the vec_id-0 embedding) by reciprocal
    rank fusion — 1/(k + rank) summed across rankers.  Ranks come from
    rounded scores with doc_id tiebreaks so both engines rank
    identically; the fusion is exact rational arithmetic on integer
    ranks, rounded once at the end.  The doc corpus joins the embedding
    corpus 1:1 on id — the lake's multimodal join.  Ranks come from
    operators/rank.with_global_rank: range-partition on the score order,
    local row_number, broadcast cumulative offsets — EXACT global ranks
    with every sort partition-local (the r2 version's partition-less
    Window was an Exchange-SinglePartition full sort of the corpus,
    twice; plan-asserted gone in tests/test_plan_shapes.py)."""
    from .operators.rank import with_global_rank
    bm25 = _bm25_scored(spark, sf_dir).filter(F.col("doc_id") != 0)
    emb = _emb(spark, sf_dir)
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q"))
    cand = (emb.filter(F.col("vec_id") != 0)
            .crossJoin(F.broadcast(qv))
            .select(F.col("vec_id").alias("doc_id"),
                    (F.round(cosine("embedding", "q"), 4) + 0.0)
                    .alias("cos")))
    t_rank = with_global_rank(bm25, [F.desc("bm25"), F.asc("doc_id")],
                              rank_col="r_text")
    v_rank = with_global_rank(cand, [F.desc("cos"), F.asc("doc_id")],
                              rank_col="r_vec")
    fused = (t_rank.join(v_rank, "doc_id")
             .select("doc_id", "r_text", "r_vec",
                     (F.round(1.0 / (RRF_K + F.col("r_text"))
                              + 1.0 / (RRF_K + F.col("r_vec")), 6) + 0.0)
                     .alias("rrf")))
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(10)


# GPT-2-style pretokenizer, minus the contraction alternates (corpus has
# no apostrophes) and lookaheads (RE2, the oracle's engine, lacks them);
# both engines use leftmost-first alternation so matches agree exactly.
# Single source of truth lives with the tokenizer-induction operator.
from .operators.bpe import PRETOKEN_RE as BPE_PRETOKEN_RE  # noqa: E402


def q45_bpe_pretokenize(spark, sf_dir):
    """Token counting with a BPE-ish pretokenizer regex (task brief):
    space-prefixed letter runs / digit runs / punctuation runs, the GPT-2
    pretokenizer shape, over the JSON props strings (the only column
    with mixed punctuation).  Per-row regexp_extract_all (codegen) ->
    explode -> census."""
    # the regex extraction dominates and runs pre-shuffle — fan out a
    # one-split scan so it is not single-task
    ev = fan_out(_t(spark, sf_dir, "events"), "event_id")
    toks = ev.select(F.explode(
        F.regexp_extract_all("props", F.lit(BPE_PRETOKEN_RE), 0))
        .alias("token"))
    return (toks.groupBy("token")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc("token")).limit(40))


def q46_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling (CCNet-style corpus
    down-sampling): within each (lang, source) stratum keep the first 5
    documents in md5(doc_id) order — a seedless hash makes the sample
    reproducible on any engine and any partitioning, unlike sampleBy.
    Via operators/rank.grouped_top_k — salted two-level hash aggregates,
    NO per-stratum sort (the r2 version's stratum window fully sorted
    each stratum for a top-5; the plan now contains no Sort at all,
    asserted in tests/test_plan_shapes.py)."""
    from .operators.rank import grouped_top_k
    docs = (_t(spark, sf_dir, "documents")
            .select("lang", "source",
                    F.md5(F.col("doc_id").cast("string")).alias("__h"),
                    "doc_id"))
    return (grouped_top_k(docs, ["lang", "source"], ["__h", "doc_id"],
                          k=5, rank_col="sample_rank")
            .select("lang", "source", "doc_id", "sample_rank"))


def q05_first_event_per_user(spark, sf_dir):
    """First-match-wins merge analogue (O5): row_number over (user, time)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (ev.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id",
                    F.col("event_id").alias("first_event_id"),
                    F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
                    F.col("event_type").alias("first_event_type")))


def q06_revenue_by_nation(spark, sf_dir):
    """Fact-fact shuffle join + broadcast dimension join."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (orders.join(cust, orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .groupBy("n_name")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("revenue")))


def q07_customers_without_orders(spark, sf_dir):
    """Anti join (set-difference: pending = all − completed, the checkpoint
    delta pattern from SURVEY.md §2.7)."""
    cust = _t(spark, sf_dir, "customer")
    big_orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return (cust.join(big_orders, cust.c_custkey == big_orders.o_custkey, "left_anti")
            .select("c_custkey", "c_name"))


def q08_word_counts(spark, sf_dir):
    docs = fan_out(_t(spark, sf_dir, "documents"), "doc_id")
    return (docs.select(F.explode(F.split("text", " ")).alias("word"))
            .filter(F.col("word") != "")
            .groupBy("word").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc("word")).limit(50))


def q09_json_regex_extract(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (ev.withColumn("k_value",
                          F.regexp_extract("props", r"([0-9]+)", 1).cast("int"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("k_value"), 4).alias("avg_k")))


def q10_monthly_order_stats(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return (orders.groupBy(
                F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM")
                .alias("month"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("revenue")))


def q11_first_order_per_customer(spark, sf_dir):
    """Ordered dedup via window (dropDuplicates with deterministic order)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (orders.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("o_custkey",
                    F.col("o_orderkey").alias("first_orderkey"),
                    F.date_format("o_orderdate", "yyyy-MM-dd").alias("first_orderdate")))


# ---------------------------------------------------------------------------
# deduplication suite (training-data pipeline ops)
# ---------------------------------------------------------------------------

def q12_exact_dedup(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (docs.withColumn("fp", F.md5("text"))
            .groupBy("fp")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("doc_id").alias("canonical_doc_id"),
                 F.sum("n_chars").alias("total_chars")))


def _words_col():
    return F.filter(F.split("text", " "), lambda x: x != "")


def q13_minhash_signatures(spark, sf_dir):
    """Parametrized MinHash over word 3-gram shingles: 16 salted md5 hash
    functions banded 4x4 (candidate threshold ~0.71 per the MMDS S-curve;
    a production 128-hash run passes different parameters through the same
    operator, operators/dedup.py).

    Entirely per-row: shingling, hashing, and the min all happen inside
    array expressions — the signature stage has ZERO shuffle and runs at
    scan speed at 100 TB."""
    return D.minhash_signatures(_t(spark, sf_dir, "documents"))


def q14_lsh_candidate_pairs(spark, sf_dir):
    """Bucket-join on band keys: candidates = docs sharing any band (the
    band index rides the key so band-k of one doc never collides with
    band-j of another)."""
    return D.candidate_pairs(
        D.minhash_signatures(_t(spark, sf_dir, "documents")))


def q15_simhash(spark, sf_dir):
    """16-bit SimHash: per-token 60-bit md5 hash, ±1 votes per bit.

    Votes fold per-row with aggregate() over the token-hash array — zero
    shuffle.  Deliberately 16 per-bit aggregates, NOT the one-pass
    struct fold q38 uses for 60 bits: measured A/B at sf0.1, the struct
    accumulator's per-element construction costs more than 15 extra
    scans of the long array at this width (1.35–1.46 s vs 1.56–1.74 s
    best-of-3); the fold only wins when the bit count is large."""
    # hash pre-shuffle (the 8-byte hash array is SMALLER than the text);
    # the Exchange materializes it so the 16 per-bit aggregates below fold
    # over the stored array instead of re-hashing every token 16 times
    from .functions.hashing import simhash_bit_votes, simhash_from_votes
    # fan_out BEFORE the per-word md5: the token hashing itself is the
    # expensive map-side stage and must not ride a one-split scan
    raw = fan_out(_t(spark, sf_dir, "documents"), "doc_id")
    docs = (raw
            .select("doc_id", _words_col().alias("words"))
            .filter(F.size("words") > 0)
            .select("doc_id",
                    F.transform("words", md5_int60).alias("th"))
            # EXPLICIT count: the hash array is byte-tiny but the 16
            # per-bit folds below are CPU-heavy — a keyed repartition
            # with no count is AQE-coalescible right back to one
            # partition (the layout.py precedent)
            .repartition(cpu_parts(raw), "doc_id"))
    def voter(b):
        return lambda acc, h: acc + simhash_bit_votes(h, b)

    votes = [F.aggregate("th", F.lit(0), voter(b)).alias(f"v{b}")
             for b in range(SIMHASH_BITS)]
    agg = docs.select("doc_id", *votes)
    return agg.select(
        "doc_id",
        simhash_from_votes([F.col(f"v{b}") for b in range(SIMHASH_BITS)])
        .alias("simhash"))


def q16_jaccard_verify_candidates(spark, sf_dir):
    """TRUE n-gram Jaccard computed on the LSH candidate pairs ONLY — the
    verification stage of the dedup pipeline.  Replaces the r1 formulation
    that joined on every distinct n-gram (a stop-word-grade n-gram makes
    that key quadratic at 100 TB); here the only join keys are the band
    (candidate generation) and the candidate doc ids themselves."""
    return D.verified_pairs(_t(spark, sf_dir, "documents"))


def q35_dedup_groups(spark, sf_dir):
    """End-to-end near-dup dedup deliverable: MinHash -> LSH candidates ->
    Jaccard verification -> connected components (min-label propagation on
    the edge set) -> one row per document with its group id, group size,
    and the keep/drop decision (is_canonical)."""
    return D.dedup_groups(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# text analytics
# ---------------------------------------------------------------------------

_SIMHASH64_BITS = 60   # full-width near-dup hash (q15's 16-bit version is
_SIMHASH64_BANDS = 4   # the cross-engine demo; 16 bits collide too easily
                       # for candidate generation at corpus scale)


def q38_simhash_neardup(spark, sf_dir):
    """SimHash near-dup, end to end: a 60-bit SimHash (one-pass struct
    fold over the token-hash array — zero shuffle), banded into 4 chunks
    of 15 bits (pigeonhole: any pair within Hamming distance 3 shares at
    least one chunk), bucket-join on (band_idx, chunk), verify with exact
    bit_count(XOR) <= 3.  Same no-all-pairs shape as the MinHash path:
    the chunk is the only join key.

    Same r5 hardening as operators/dedup: exact-duplicate classes
    collapse to one representative BEFORE hashing (an m-member identical
    cluster shares every chunk — the self-join was O(m^2)) and rejoin as
    (rep, member, hamming=0) star edges; residual hot chunk buckets — a
    15-bit chunk space WILL saturate at corpus scale — emit star pairs
    against the bucket's min-doc anchor (O(width), D.BUCKET_CAP)."""
    from .functions.hashing import simhash_struct_fold
    bits, bands = _SIMHASH64_BITS, _SIMHASH64_BANDS
    width = bits // bands
    raw = _t(spark, sf_dir, "documents")
    classes = D.exact_classes(raw).localCheckpoint()
    # fan_out BEFORE the per-word md5 (see q15) — the representative
    # semi-join preserves the scan's split count
    docs = (fan_out(D.representatives(raw, classes=classes), "doc_id")
            .select("doc_id", _words_col().alias("words"))
            .filter(F.size("words") > 0)
            .select("doc_id", F.transform("words", md5_int60).alias("th"))
            # explicit count: AQE-coalesce-exempt (see q15)
            .repartition(cpu_parts(raw), "doc_id"))
    # sig is consumed three times (chunking + both sides of the verify
    # join-back) — materialize once
    sig = docs.select(
        "doc_id", simhash_struct_fold(F.col("th"), bits).alias("simhash")) \
        .localCheckpoint()
    chunks = sig.select(
        "doc_id",
        F.posexplode(F.array(*[
            F.shiftright("simhash", width * k)
            .bitwiseAND(F.lit((1 << width) - 1))
            for k in range(bands)])).alias("band_idx", "chunk"))
    cand = D.capped_pairs(chunks, ["band_idx", "chunk"], D.BUCKET_CAP)
    sa = sig.select(F.col("doc_id").alias("a_doc_id"),
                    F.col("simhash").alias("a_sim"))
    sb = sig.select(F.col("doc_id").alias("b_doc_id"),
                    F.col("simhash").alias("b_sim"))
    near = (cand.join(sa, "a_doc_id").join(sb, "b_doc_id")
            .select("a_doc_id", "b_doc_id",
                    F.bit_count(F.col("a_sim").bitwiseXOR(F.col("b_sim")))
                    .alias("hamming"))
            .filter(F.col("hamming") <= 3))
    star_cls = (classes.filter(F.col("doc_id") != F.col("rep_id"))
                .select(F.col("rep_id").alias("a_doc_id"),
                        F.col("doc_id").alias("b_doc_id"),
                        F.lit(0).cast("int").alias("hamming")))
    return near.unionByName(star_cls)


def q17_text_quality(spark, sf_dir):
    docs = fan_out(_t(spark, sf_dir, "documents"), "doc_id")
    n_tokens = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    alpha = F.length(F.regexp_replace("text", "[^a-zA-Z]", ""))
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        alpha.alias("alpha_chars"),
        F.round(alpha / F.col("n_chars"), 4).alias("alpha_ratio"),
        F.round(alpha / n_tokens, 4).alias("avg_token_len"),
        ((n_tokens >= 10) & (n_tokens <= 1000)).alias("length_ok"))


def q18_lang_id(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    hits = None
    for sw in STOPWORDS:
        h = F.when(padded.like(f"% {sw} %"), 1).otherwise(0)
        hits = h if hits is None else hits + h
    return docs.select(
        "doc_id", "lang",
        hits.alias("stopword_hits"),
        F.when(hits >= 2, F.lit("en")).otherwise(F.lit("other"))
        .alias("predicted_lang"))


def q19_token_count_by_source(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    n_tokens = F.size(F.filter(F.split("text", "[^a-zA-Z0-9]+"),
                               lambda x: x != ""))
    return (docs.withColumn("n_tokens", n_tokens)
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens"),
                 F.round(F.avg("n_tokens"), 4).alias("avg_tokens")))


def q20_doc_fingerprint(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    normalized = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    fp = F.md5(normalized)
    return docs.select("doc_id", fp.alias("fp"),
                       F.substring(fp, 1, 2).alias("shard"))


# winnowing parameters (Schleimer/Wilkerson/Aiken, "Winnowing: Local
# Algorithms for Document Fingerprinting", SIGMOD 2003): token-level
# polynomial rolling hash over k-grams, minimum kept per window of w
_WIN_K, _WIN_W, _WIN_B, _WIN_MOD = 4, 5, 31, 1 << 20


def q39_winnowed_fingerprints(spark, sf_dir):
    """Rolling-hash document fingerprinting with winnowing: per-position
    k-gram polynomial hashes (Horner over 20-bit token hashes — exact
    integer math, identical in both engines), then the minimum of every
    w-window survives.  Entirely array HOFs per row — ZERO shuffle; the
    fingerprint rows are what a copy-detection index stores (guarantee:
    any shared substring of >= w+k-1 tokens shares a fingerprint)."""
    k, w, b, mod = _WIN_K, _WIN_W, _WIN_B, _WIN_MOD
    raw = _t(spark, sf_dir, "documents")
    docs = (raw
            .select("doc_id", _words_col().alias("words"))
            .filter(F.size("words") >= k + w - 1)
            # explicit count: AQE-coalesce-exempt (see q15)
            .repartition(cpu_parts(raw), "doc_id")
            .select("doc_id",
                    F.transform("words", lambda x: md5_int60(x) % mod)
                    .alias("th")))

    def kgram(i):  # Horner fold of th[i .. i+k-1]
        h = F.element_at(F.col("th"), i + 1)
        for j in range(1, k):
            h = h * b + F.element_at(F.col("th"), i + j + 1)
        return h

    kh = F.transform(F.sequence(F.lit(0), F.size("th") - k), kgram)
    docs = docs.select("doc_id", kh.alias("kh"))
    winmin = F.transform(
        F.sequence(F.lit(1), F.size("kh") - w + 1),
        lambda j: F.array_min(F.slice("kh", j, w)))
    return (docs.select("doc_id",
                        F.explode(F.array_distinct(winmin)).alias("fp"))
            .select("doc_id", F.col("fp").alias("fingerprint")))


# ---------------------------------------------------------------------------
# similarity search over embeddings
# ---------------------------------------------------------------------------

def _emb(spark, sf_dir):
    return _t(spark, sf_dir, "embeddings")


def q21_knn_bruteforce(spark, sf_dir):
    """Brute-force cosine top-3: the exact baseline every ANN variant is
    measured against.  Native zip_with/aggregate dot products (codegen)."""
    # the BroadcastNestedLoopJoin streams the candidate side: 5 full
    # cosines per candidate row is CPU-bound work — fan out a one-split
    # scan (no-op on a well-split lake)
    emb = fan_out(_emb(spark, sf_dir), "vec_id")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    c = emb.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
    # broadcast the (tiny) query set; the big candidate side never moves —
    # plan shows BroadcastNestedLoopJoin, not a shuffle
    scored = (c.crossJoin(F.broadcast(q))
              .withColumn("cos", F.round(cosine(F.col("qv"), F.col("cv")), 4) + F.lit(0.0)))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .select("query_id", "neighbor_id", "cos", "rank"))


def q22_ann_signbucket(spark, sf_dir):
    """LSH-bucketed ANN: seeded-random axis-hyperplane sign bucket (3 bits
    here, width-configurable) prunes candidates before scoring — the
    100 TB scale path: bucket is the shuffle key; each bucket scans ~1/8
    of candidates.  Axis planes keep the bucket oracle-exact; the general
    Gaussian-plane family is functions/vectors.hyperplane_bits."""
    emb = _emb(spark, sf_dir)
    withb = emb.withColumn("bucket",
                           sign_bucket_dims(F.col("embedding"), Q22_DIMS))
    q = withb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"), "bucket")
    c = withb.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"), "bucket")
    scored = (q.join(c, "bucket")
              .withColumn("cos", F.round(cosine(F.col("qv"), F.col("cv")), 4) + F.lit(0.0)))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .select("query_id", "bucket", "neighbor_id", "cos", "rank"))


def q23_label_centroids(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    return (emb.select("label", F.posexplode("embedding").alias("dim0", "x"))
            .withColumn("dim", F.col("dim0") + 1)
            .groupBy("label", "dim")
            # + 0.0 normalizes IEEE signed zero: a tiny negative mean rounds
            # to -0.0 in one engine and +0.0 in the other, flipping hashes
            .agg((F.round(F.avg("x"), 4) + F.lit(0.0)).alias("centroid"),
                 F.count(F.lit(1)).alias("n_vectors")))


def q24_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup via banded sign-LSH bucketing (NOT the r1
    within-label all-pairs join, which goes quadratic on any popular
    label).  The bucket (band_idx, sign bits) is the only join key, so a
    pair is scored iff all bits of some band agree; exact cosine then
    verifies candidates.  Engineered near-dup vectors (see NEARDUP_*) make
    the >=0.95 result provably non-empty."""
    emb = _emb(spark, sf_dir)
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        "label")
    eng = emb.filter(F.col("vec_id") < NEARDUP_N).select(
        (F.col("vec_id") + NEARDUP_OFFSET).alias("vec_id"),
        F.transform("embedding",
                    lambda x: x.cast("double") * NEARDUP_SCALE + NEARDUP_SHIFT)
        .alias("embedding"),
        "label")
    uni = base.unionByName(eng)

    bk = None
    for k, dims in enumerate(NEARDUP_BANDS):
        part = uni.select("vec_id", F.lit(k).alias("band_idx"),
                          sign_bucket_dims(F.col("embedding"), dims)
                          .alias("bucket"))
        bk = part if bk is None else bk.unionAll(part)
    a = bk.select(F.col("vec_id").alias("a_id"), "band_idx", "bucket")
    b = bk.select(F.col("vec_id").alias("b_id"), "band_idx", "bucket")
    cand = (a.join(b, ["band_idx", "bucket"])
            .filter(F.col("a_id") < F.col("b_id"))
            .select("a_id", "b_id").distinct())
    av = uni.select(F.col("vec_id").alias("a_id"),
                    F.col("embedding").alias("av"), "label")
    bv = uni.select(F.col("vec_id").alias("b_id"),
                    F.col("embedding").alias("bv"))
    return (cand.join(av, "a_id").join(bv, "b_id")
            .withColumn("cos", F.round(cosine(F.col("av"), F.col("bv")), 4)
                        + F.lit(0.0))
            .filter(F.col("cos") >= 0.95)
            .select("a_id", "b_id", "label", "cos"))


# ---------------------------------------------------------------------------
# event stream analytics (batch form)
# ---------------------------------------------------------------------------

def q25_sessionization(spark, sf_dir):
    """Gap-based sessionization (30 min), the batch twin of the streaming
    state operator in streaming/sessionize.py."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts", 1).over(w))
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (ev.withColumn("new_sess", new_sess)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("new_sess").alias("n_sessions")))


def q26_hourly_event_stats(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(
                F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH")
                .alias("hour"),
                "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 2).alias("total_value")))


# ---------------------------------------------------------------------------
# the extraction pipeline itself — value-level golden-parquet oracle: the
# pure single-node pipeline (extractors/pipeline_pure.py, the same code the
# pytest span-equality suite trusts) materializes its expected outputs as
# parquet that the DuckDB side reads, so q27/q28 are full rows+schema+hash
# driver checks instead of rows-only
# ---------------------------------------------------------------------------

_PIPELINE_DOCS = 200
# q47 frame sampling: 4 uniform frames per media span, 224px letterbox
_Q47_K, _Q47_TARGET = 4, 224

import os as _os2

_GOLDEN_DIR = _os2.path.join(
    _os2.path.dirname(_os2.path.dirname(_os2.path.abspath(__file__))),
    ".golden")


# Fixed golden file paths, computable WITHOUT writing — the ORACLE_SQL
# strings embed them at import, but the parquet itself is materialized
# lazily (ensure_golden) so importing this module has no filesystem side
# effect and a read-only checkout can still import it.
_GOLDEN = {k: _os2.path.join(_GOLDEN_DIR, v) for k, v in {
    "q27": "q27_results.parquet", "q28": "q28_fields_long.parquet",
    "q36": "q36_quality.parquet", "q47": "q47_frames.parquet",
    "q32": "q32_media.parquet"}.items()}
_GOLDEN_READY = False


def ensure_golden() -> dict[str, str]:
    """Materialize the pure-oracle expected results for the synthetic
    200-doc extraction fixture.  Memoized per process (regeneration is
    sub-second and deterministic, so every process writes identical
    bytes); each file lands via write-to-temp + os.replace so a parallel
    pytest worker or a concurrent driver run can never read a partially
    written parquet."""
    global _GOLDEN_READY
    if _GOLDEN_READY:
        return _GOLDEN
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .extractors.pipeline_pure import process_document
    from .fixtures.gen import generate_docs

    _os2.makedirs(_GOLDEN_DIR, exist_ok=True)

    def _commit(table: "pa.Table", path: str) -> None:
        tmp = f"{path}.tmp.{_os2.getpid()}"
        pq.write_table(table, tmp)
        _os2.replace(tmp, path)

    res_path = _GOLDEN["q27"]
    fl_path = _GOLDEN["q28"]

    res_rows, fl_rows, qual_rows = [], [], []
    for d in generate_docs(_PIPELINE_DOCS):
        r = process_document(d["doc_id"], d["spans"])
        res_rows.append({
            "doc_id": r["doc_id"], "document_type": r["document_type"],
            "status": r["status"], "n_pages": r["n_pages"],
            "n_fields": len(r["fields"]),
            "n_out_spans": len(r["out_spans"])})
        for name, f in r["fields"].items():
            fl_rows.append({"doc_id": r["doc_id"],
                            "document_type": r["document_type"],
                            "field_name": name,
                            "confidence": float(f["confidence"])})
        for channel, key in (("issue", "quality_issues"),
                             ("warning", "quality_warnings")):
            for msg in r[key]:
                qual_rows.append({"doc_id": r["doc_id"], "channel": channel,
                                  "message": msg})

    _commit(pa.Table.from_pylist(res_rows, schema=pa.schema([
        ("doc_id", pa.string()), ("document_type", pa.string()),
        ("status", pa.string()), ("n_pages", pa.int32()),
        ("n_fields", pa.int32()), ("n_out_spans", pa.int32()),
    ])), res_path)
    _commit(pa.Table.from_pylist(fl_rows, schema=pa.schema([
        ("doc_id", pa.string()), ("document_type", pa.string()),
        ("field_name", pa.string()), ("confidence", pa.float64()),
    ])), fl_path)
    _commit(pa.Table.from_pylist(qual_rows, schema=pa.schema([
        ("doc_id", pa.string()), ("channel", pa.string()),
        ("message", pa.string()),
    ])), _GOLDEN["q36"])

    # q47: frame samples + resize geometry from the same pure functions
    # the Spark mapInPandas stage runs
    from .functions.multimodal import frame_rows_for_ref, media_meta_for_ref
    frame_rows, media_rows = [], []
    for d in generate_docs(_PIPELINE_DOCS):
        for s in d["spans"]:
            if s["kind"] != "media":
                continue
            for r in frame_rows_for_ref(s["media_ref"], _Q47_K):
                w, h = r["w"], r["h"]
                if w > 0 and h > 0:
                    long_side = max(w, h)
                    r["out_w"] = max(1, (w * _Q47_TARGET) // long_side)
                    r["out_h"] = max(1, (h * _Q47_TARGET) // long_side)
                else:
                    r["out_w"] = r["out_h"] = 0
                frame_rows.append(r)
            # q32: the same pure decode the media_meta pandas UDF runs
            # (read_media_ref, the one OCR seam), one row per media span
            m = media_meta_for_ref(s["media_ref"])
            media_rows.append({"doc_id": d["doc_id"], "w": m["w"],
                               "n_tokens": m["n_tokens"],
                               "mean_token_conf": m["mean_token_conf"]})
    _commit(pa.Table.from_pylist(frame_rows, schema=pa.schema([
        ("doc_id", pa.string()), ("media_offset", pa.int32()),
        ("frame_idx", pa.int32()), ("ts_ms", pa.int32()),
        ("frame_text", pa.string()), ("frame_conf", pa.float64()),
        ("w", pa.int32()), ("h", pa.int32()),
        ("out_w", pa.int32()), ("out_h", pa.int32()),
    ])), _GOLDEN["q47"])
    _commit(pa.Table.from_pylist(media_rows, schema=pa.schema([
        ("doc_id", pa.string()), ("w", pa.int32()),
        ("n_tokens", pa.int32()), ("mean_token_conf", pa.float64()),
    ])), _GOLDEN["q32"])
    _GOLDEN_READY = True
    return _GOLDEN


def _synthetic_docs_df(spark):
    from .fixtures.gen import generate_docs
    from .pipeline import DOCS_SCHEMA
    return spark.createDataFrame(generate_docs(_PIPELINE_DOCS), DOCS_SCHEMA)


def q27_extraction_pipeline(spark, sf_dir):
    from .pipeline import run_pipeline
    results = run_pipeline(_synthetic_docs_df(spark))
    return results.select("doc_id", "document_type", "status", "n_pages",
                          F.size("fields").alias("n_fields"),
                          F.size("out_spans").alias("n_out_spans"))


def q28_extraction_fields_long(spark, sf_dir):
    from .pipeline import fields_long, run_pipeline
    results = run_pipeline(_synthetic_docs_df(spark))
    return (fields_long(results)
            .groupBy("document_type", "field_name")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("confidence"), 4).alias("avg_confidence")))


# ---------------------------------------------------------------------------
# set ops, date normalization, array/vector fns, multimodal, approx aggs
# ---------------------------------------------------------------------------

def q36_quality_warnings(spark, sf_dir):
    """Q5 surface as a driver-checked census: every issue/warning message
    the pipeline emits (skew rotation, borderline sharpness, sub-optimal
    score, each fail reason), counted across the synthetic corpus and
    value-checked against the pure oracle's golden parquet."""
    from .pipeline import run_pipeline
    results = run_pipeline(_synthetic_docs_df(spark))
    w = results.select("doc_id", F.lit("warning").alias("channel"),
                       F.explode("quality_warnings").alias("message"))
    i = results.select("doc_id", F.lit("issue").alias("channel"),
                       F.explode("quality_issues").alias("message"))
    return (w.unionAll(i)
            .groupBy("channel", "message")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("doc_id").alias("first_doc")))


def q29_set_ops(spark, sf_dir):
    """intersect / exceptAll (SURVEY.md §2.7 set ops: supported-type
    whitelist intersection, checkpoint delta pending = all − completed)."""
    orders = _t(spark, sf_dir, "orders")
    y95 = (orders.filter(F.year("o_orderdate") == 1995)
           .select("o_custkey").distinct())
    y96 = (orders.filter(F.year("o_orderdate") == 1996)
           .select("o_custkey").distinct())
    both = y95.intersect(y96).withColumn("segment", F.lit("both_years"))
    only95 = y95.exceptAll(y96).withColumn("segment", F.lit("only_1995"))
    return (both.unionByName(only95)
            .select(F.col("o_custkey").alias("custkey"), "segment"))


def q30_date_normalization(spark, sf_dir):
    """The reference's date ops natively: DD-Mon-YY output format
    (backend/ocr_service.py:1442-1458) and the passport issue-date fallback
    expiry − 10 years + 1 day (:1484-1491).  Day <= 28 keeps month-end
    clamping semantics identical across engines."""
    orders = _t(spark, sf_dir, "orders")
    return (orders.filter(F.dayofmonth("o_orderdate") <= 28)
            .select("o_orderkey",
                    F.date_format("o_orderdate", "dd-MMM-yy").alias("order_dmy"),
                    F.date_format(
                        F.date_add(F.add_months("o_orderdate", -120), 1),
                        "yyyy-MM-dd").alias("issue_fallback"),
                    F.quarter("o_orderdate").alias("qtr")))


def q31_vector_norms(spark, sf_dir):
    """Array higher-order functions (aggregate/size) JVM-side: per-vector
    L2 norm without any UDF."""
    emb = _t(spark, sf_dir, "embeddings")
    sq_sum = F.aggregate(
        "embedding", F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"))
    return emb.select(
        "vec_id", "label",
        F.size("embedding").alias("dim"),
        F.round(F.sqrt(sq_sum), 4).alias("l2_norm"))


def q32_media_features(spark, sf_dir):
    """Multimodal plumbing: explode media spans, extract typed metadata per
    ref via an Arrow-batched pandas UDF (media_meta, which reads each ref
    through the one OCR seam, extractors/media.read_media_ref).
    Value-checked via the q47-style golden-parquet mechanism: the pure
    media_meta_for_ref decode materializes per-span rows and the DuckDB
    oracle aggregates them with the identical arithmetic."""
    from .functions.multimodal import media_meta
    docs = _synthetic_docs_df(spark)
    media = (docs.select("doc_id", F.explode("spans").alias("s"))
             .filter(F.col("s.kind") == "media")
             .select("doc_id", media_meta(F.col("s.media_ref")).alias("m")))
    # avg in EXACT integer micro-units with explicit half-up integer
    # rounding: mean_token_conf is rounded to 6 decimals per span, so
    # summing round(x*1e6) longs is order-independent, and
    # floor((2s + n*100) / (n*200)) is the half-up 4-decimal average in
    # 1e-4 units — identical in any engine.  round(avg(double),4) is NOT:
    # Spark rounds the shortest-decimal rendering (0.78775 -> .7878) while
    # DuckDB rounds the binary value (0.787749999... -> .7877).
    micro = F.round(F.col("m.mean_token_conf") * 1e6).cast("long")
    n = F.count(F.lit(1))
    avg4 = F.floor((F.sum(micro) * 2 + n * 100) / (n * 200))
    return (media.groupBy("doc_id")
            .agg(n.alias("n_media"),
                 F.sum("m.n_tokens").alias("n_tokens"),
                 F.min("m.w").alias("min_w"),
                 (avg4 / F.lit(10000.0)).alias("avg_conf")))


def q47_frame_samples(spark, sf_dir):
    """Multimodal frame-sample + resize plumbing (task brief): uniform
    k-frame sampling per media clip via mapInPandas (row-count-changing),
    then the aspect-preserving 224px letterbox geometry as native exact
    integer arithmetic.  Value-checked against the pure oracle's golden
    parquet — the same decode seam both sides; production swaps
    cv2.VideoCapture into extractors/media.read_media_ref."""
    from .functions.multimodal import resize_dims, sample_frames
    docs = _synthetic_docs_df(spark)
    media = (docs.select(F.explode("spans").alias("s"))
             .filter(F.col("s.kind") == "media")
             .select(F.col("s.media_ref").alias("media_ref")))
    frames = sample_frames(media, k=_Q47_K)
    rz = resize_dims(F.col("w"), F.col("h"), _Q47_TARGET)
    return frames.select(
        "doc_id", "media_offset", "frame_idx", "ts_ms", "frame_text",
        "frame_conf", "w", "h",
        rz["out_w"].alias("out_w"), rz["out_h"].alias("out_h"))


# q48 TF-IDF: sklearn's smooth-idf formula; centroid rounded before use
# so cross-engine summation order cannot move the cosine
_TFIDF_ROUND_C, _TFIDF_ROUND_OUT = 6, 4


def q48_tfidf_classifier(spark, sf_dir, materialize_dir: str | None = None):
    """The north star's 'rules-plus-TF-IDF' classifier, TF-IDF half, as a
    pure relational pipeline: train per-lang centroids of smooth-idf
    TF-IDF vectors on even doc_ids, classify odd doc_ids by nearest
    centroid (cosine, deterministic tiebreak).  Everything is joins +
    aggregations — the IDF table and centroids are broadcast-sized
    (vocabulary x labels), so at 100 TB only the doc-term explode
    shuffles.  The rules half is the reference-parity enhanced
    classifier (C2)."""
    docs = (fan_out(_t(spark, sf_dir, "documents"), "doc_id")
            .select("doc_id", "lang", F.explode(F.split("text", " "))
                    .alias("term")))
    # six downstream branches (idf, df, label sizes, train/test vectors)
    # consume this doc-term table.  ``materialize_dir`` is the production
    # path: the aggregated tf table is written to the lake ONCE and every
    # branch reads it back (one corpus scan + explode total, durable,
    # restartable) — proven output-identical to the default in
    # tests/test_registry_extras.py.  The suite-scale default re-derives
    # per branch: cache materialization measured 3x slower than the six
    # re-derivations at this size, and a query-owned persist can never be
    # unpersisted by its caller.
    tf = (docs.groupBy("doc_id", "lang", "term")
          .agg(F.count(F.lit(1)).alias("tf")))
    if materialize_dir:
        path = _os2.path.join(materialize_dir, "q48_doc_terms.parquet")
        tf.write.mode("overwrite").parquet(path)
        tf = spark.read.parquet(path)
    train = tf.filter(F.col("doc_id") % 2 == 0)
    test = tf.filter(F.col("doc_id") % 2 == 1)

    n_train = (train.select("doc_id").distinct()
               .agg(F.count(F.lit(1)).alias("n_train")))
    df_t = (train.select("term", "doc_id").distinct()
            .groupBy("term").agg(F.count(F.lit(1)).alias("df")))
    idf = (df_t.crossJoin(F.broadcast(n_train))
           .select("term",
                   (F.log((F.col("n_train") + 1.0) / (F.col("df") + 1))
                    + 1.0).alias("idf")))

    train_w = (train.join(F.broadcast(idf), "term")
               .withColumn("w", F.col("tf") * F.col("idf")))
    label_sizes = (train.select("lang", "doc_id").distinct()
                   .groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs")))
    centroid = (train_w.groupBy("lang", "term")
                .agg(F.sum("w").alias("sw"))
                .join(F.broadcast(label_sizes), "lang")
                .select("lang", "term",
                        F.round(F.col("sw") / F.col("n_docs"),
                                _TFIDF_ROUND_C).alias("c")))
    cnorm = (centroid.groupBy("lang")
             .agg(F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("cnorm")))

    test_w = (test.join(F.broadcast(idf), "term")
              .withColumn("w", F.col("tf") * F.col("idf")))
    dnorm = (test_w.groupBy("doc_id")
             .agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("dnorm")))
    dots = (test_w.select("doc_id", "term", "w")
            .join(F.broadcast(centroid.select(
                F.col("lang").alias("cand_lang"), "term", "c")), "term")
            .groupBy("doc_id", "cand_lang")
            .agg(F.sum(F.col("w") * F.col("c")).alias("dot")))
    scored = (dots.join(F.broadcast(cnorm.select(
                  F.col("lang").alias("cand_lang"), "cnorm")), "cand_lang")
              .join(dnorm, "doc_id")
              .select("doc_id", "cand_lang",
                      (F.round(F.col("dot")
                               / (F.col("dnorm") * F.col("cnorm")),
                               _TFIDF_ROUND_OUT) + 0.0).alias("cos")))
    w = Window.partitionBy("doc_id").orderBy(F.desc("cos"),
                                             F.asc("cand_lang"))
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("doc_id", F.col("cand_lang").alias("predicted_lang"),
                    "cos"))


def q34_ann_ivf(spark, sf_dir):
    """Trained IVF ANN (operators/ivf.py): a k-means-learned coarse
    quantizer (Lloyd's iterations as DataFrame transforms — no label
    column involved), candidate corpus indexed by final cell, queries
    probing their top-2 cells, exact cosine re-rank for the top-3.  At
    100 TB the cell id is the index partition key, so a query touches
    nprobe/k of the corpus; recall@3 vs brute force (q21) is reported by
    bench.py.  Every ordering input is rounded on both engines (the r1
    unrounded assignment cosine was an oracle ulp-flip risk)."""
    from .operators.ivf import ivf_topk
    return ivf_topk(_emb(spark, sf_dir),
                    query_filter=F.col("vec_id") < 5,
                    candidate_filter=F.col("vec_id") >= 5)


def q54_cohort_retention(spark, sf_dir):
    """Cohort retention (outside the 50-entry driver registry;
    oracle-checked in tests/test_registry_extras.py): users cohorted by
    first-event month, counted distinct per (cohort, month-offset).
    Two aggregations co-keyed on user_id (the cohort assignment joins
    back broadcast-free on the same shuffle key), then a cohort-grid
    count — the standard growth-analytics rollup."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("month", "ts").alias("m"))
    cohort = ev.groupBy("user_id").agg(F.min("m").alias("cohort_month"))
    active = ev.distinct()
    return (active.join(cohort, "user_id")
            .select("user_id", "cohort_month",
                    (F.months_between("m", "cohort_month").cast("int"))
                    .alias("month_offset"))
            .groupBy(F.date_format("cohort_month", "yyyy-MM")
                     .alias("cohort"), "month_offset")
            .agg(F.countDistinct("user_id").alias("n_users")))


def q33_approx_distinct(spark, sf_dir):
    """approx_count_distinct (HLL++) next to the exact count — the cheap
    per-partition lineage census the metrics sidecar uses (SURVEY.md §2.7).
    Rows-only: sketch estimates are engine-specific by construction."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.approx_count_distinct("user_id").alias("approx_users"),
                 F.countDistinct("user_id").alias("exact_users"),
                 F.count(F.lit(1)).alias("n_events")))


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_SIMHASH_TH = "('0x' || substr(md5(word), 1, 15))::UBIGINT"
_SIMHASH_VOTES, _SIMHASH_FOLD = duckdb_simhash_select(_SIMHASH_TH)

_STOPWORD_HITS = " + ".join(
    f"(case when (' ' || text || ' ') like '% {sw} %' then 1 else 0 end)"
    for sw in STOPWORDS)


def _duck_signbits(dims: list[int]) -> str:
    """DuckDB twin of vectors.sign_bucket_dims (1-based list indexing)."""
    return " || ".join(
        f"(CASE WHEN embedding[{d}] >= 0 THEN '1' ELSE '0' END)"
        for d in dims)


_COS_XY = """round(list_dot_product(x.embedding, y.embedding)
                     / (sqrt(list_dot_product(x.embedding, x.embedding))
                        * sqrt(list_dot_product(y.embedding, y.embedding))),
                     4) + 0.0"""

ORACLE_SQL: dict[str, str] = {
    "q01_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(avg(l_quantity), 4) AS avg_qty,
               round(avg(l_discount), 4) AS avg_disc,
               count(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q02_filter_pushdown": """
        SELECT l_orderkey, l_quantity, l_extendedprice
        FROM lineitem
        WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 5
    """,
    "q03_top_orders": """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """,
    "q04_point_lookup": "SELECT * FROM customer WHERE c_custkey = 42",
    "q37_page_scan": """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 10 OFFSET 10
    """,
    "q05_first_event_per_user": """
        SELECT user_id, event_id AS first_event_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts,
               event_type AS first_event_type
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) AS rn
              FROM events) WHERE rn = 1
    """,
    "q06_revenue_by_nation": """
        SELECT n_name, count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    "q07_customers_without_orders": """
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_totalprice > 300000)
    """,
    "q08_word_counts": """
        SELECT word, count(*) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE word <> '' GROUP BY word
        ORDER BY n DESC, word ASC LIMIT 50
    """,
    "q09_json_regex_extract": """
        SELECT event_type, count(*) AS n,
               round(avg(regexp_extract(props, '([0-9]+)', 1)::INT), 4) AS avg_k
        FROM events GROUP BY event_type
    """,
    "q10_monthly_order_stats": """
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
               count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
        FROM orders GROUP BY 1
    """,
    "q11_first_order_per_customer": """
        SELECT o_custkey, o_orderkey AS first_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS first_orderdate
        FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                                           ORDER BY o_orderdate, o_orderkey) AS rn
              FROM orders) WHERE rn = 1
    """,
    "q12_exact_dedup": """
        SELECT md5(text) AS fp, count(*) AS n_docs,
               min(doc_id) AS canonical_doc_id, sum(n_chars)::BIGINT AS total_chars
        FROM documents GROUP BY 1
    """,
    "q13_minhash_signatures": (lambda _h=D.duckdb_signature_select(): f"""
        WITH {D.duckdb_shingle_cte()},
        sig AS (SELECT doc_id, {_h[0]} FROM shd GROUP BY doc_id)
        SELECT doc_id, {', '.join(f'h{j}' for j in range(D.N_HASHES))},
               {_h[1]}
        FROM sig
    """)(),
    "q15_simhash": f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
        ), votes AS (
            SELECT doc_id, {_SIMHASH_VOTES}
            FROM toks WHERE word <> '' GROUP BY doc_id
        )
        SELECT doc_id, ({_SIMHASH_FOLD})::BIGINT AS simhash FROM votes
    """,
    "q16_jaccard_verify_candidates": f"""
        WITH {D.duckdb_verified_cte()}
        SELECT a_doc_id, b_doc_id, jaccard FROM verified
    """,
    "q38_simhash_neardup": (lambda _v=duckdb_simhash_select(
            _SIMHASH_TH, bits=_SIMHASH64_BITS): f"""
        WITH {D.duckdb_exact_classes_cte()}, toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM rdocs
        ), votes AS (
            SELECT doc_id, {_v[0]}
            FROM toks WHERE word <> '' GROUP BY doc_id
        ), sig AS (
            SELECT doc_id, ({_v[1]})::BIGINT AS simhash FROM votes
        ), chunks AS (
            SELECT doc_id, k AS band_idx,
                   (simhash >> (15 * k)) & 32767 AS chunk,
                   count(*) OVER (PARTITION BY k,
                       (simhash >> (15 * k)) & 32767) AS bn,
                   min(doc_id) OVER (PARTITION BY k,
                       (simhash >> (15 * k)) & 32767) AS anchor
            FROM sig CROSS JOIN (VALUES (0), (1), (2), (3)) t(k)
        ), cand AS (
            SELECT DISTINCT a_doc_id, b_doc_id FROM (
                SELECT a.doc_id AS a_doc_id, b.doc_id AS b_doc_id
                FROM chunks a JOIN chunks b
                  ON a.band_idx = b.band_idx AND a.chunk = b.chunk
                 AND a.doc_id < b.doc_id
                WHERE a.bn <= {D.BUCKET_CAP}
                UNION ALL
                SELECT anchor, doc_id FROM chunks
                WHERE bn > {D.BUCKET_CAP} AND doc_id <> anchor
            )
        )
        SELECT c.a_doc_id, c.b_doc_id,
               bit_count(xor(sa.simhash, sb.simhash)) AS hamming
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.a_doc_id
        JOIN sig sb ON sb.doc_id = c.b_doc_id
        WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3
        UNION ALL
        SELECT rep_id AS a_doc_id, doc_id AS b_doc_id,
               bit_count(0::BIGINT) AS hamming
        FROM cls WHERE doc_id <> rep_id
    """)(),
    "q35_dedup_groups": D.duckdb_dedup_groups_sql(),
    "q17_text_quality": """
        SELECT doc_id,
               len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens,
               length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha_chars,
               round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                     / n_chars, 4) AS alpha_ratio,
               round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                     / len(list_filter(string_split(text, ' '), x -> x <> '')), 4)
                   AS avg_token_len,
               len(list_filter(string_split(text, ' '), x -> x <> ''))
                   BETWEEN 10 AND 1000 AS length_ok
        FROM documents
    """,
    "q18_lang_id": f"""
        SELECT doc_id, lang, ({_STOPWORD_HITS}) AS stopword_hits,
               CASE WHEN ({_STOPWORD_HITS}) >= 2 THEN 'en' ELSE 'other' END
                   AS predicted_lang
        FROM documents
    """,
    "q19_token_count_by_source": """
        SELECT source, count(*) AS n_docs,
               sum(len(list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9]+'),
                                   x -> x <> '')))::BIGINT AS total_tokens,
               round(avg(len(list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9]+'),
                                         x -> x <> ''))), 4) AS avg_tokens
        FROM documents GROUP BY source
    """,
    "q20_doc_fingerprint": """
        SELECT doc_id,
               md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
               substr(md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))), 1, 2)
                   AS shard
        FROM documents
    """,
    "q39_winnowed_fingerprints": f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS word,
                   generate_subscripts(string_split(text, ' '), 1) AS pos
            FROM documents
        ), tf AS (
            SELECT doc_id, word,
                   row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS p,
                   count(*) OVER (PARTITION BY doc_id) AS n
            FROM toks WHERE word <> ''
        ), th AS (
            SELECT doc_id, p, n,
                   (({_SIMHASH_TH}) % {_WIN_MOD})::BIGINT AS t
            FROM tf
        ), kh AS (
            SELECT doc_id, p, n,
                   ((t * {_WIN_B} + lead(t, 1) OVER w) * {_WIN_B}
                    + lead(t, 2) OVER w) * {_WIN_B} + lead(t, 3) OVER w AS h
            FROM th WINDOW w AS (PARTITION BY doc_id ORDER BY p)
        ), khv AS (
            SELECT * FROM kh WHERE p <= n - {_WIN_K - 1}
        ), wm AS (
            SELECT doc_id, p, n,
                   min(h) OVER (PARTITION BY doc_id ORDER BY p
                                ROWS BETWEEN CURRENT ROW
                                AND {_WIN_W - 1} FOLLOWING) AS fp
            FROM khv
        )
        SELECT DISTINCT doc_id, fp AS fingerprint
        FROM wm WHERE p <= n - {_WIN_K - 1} - {_WIN_W - 1}
    """,
    "q21_knn_bruteforce": """
        WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                   FROM embeddings WHERE vec_id < 5),
             c AS (SELECT vec_id AS neighbor_id, embedding AS cv
                   FROM embeddings WHERE vec_id >= 5),
        scored AS (
            SELECT query_id, neighbor_id,
                   round(list_dot_product(qv, cv)
                         / (sqrt(list_dot_product(qv, qv))
                            * sqrt(list_dot_product(cv, cv))), 4) + 0.0 AS cos
            FROM q CROSS JOIN c
        )
        SELECT query_id, neighbor_id, cos, rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cos DESC, neighbor_id ASC) AS rank
            FROM scored) WHERE rank <= 3
    """,
    "q22_ann_signbucket": f"""
        WITH b AS (
            SELECT vec_id, embedding,
                   {_duck_signbits(Q22_DIMS)} AS bucket
            FROM embeddings
        ), q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM b
                 WHERE vec_id < 5),
           c AS (SELECT vec_id AS neighbor_id, embedding AS cv, bucket FROM b
                 WHERE vec_id >= 5),
        scored AS (
            SELECT query_id, q.bucket AS bucket, neighbor_id,
                   round(list_dot_product(qv, cv)
                         / (sqrt(list_dot_product(qv, qv))
                            * sqrt(list_dot_product(cv, cv))), 4) + 0.0 AS cos
            FROM q JOIN c ON q.bucket = c.bucket
        )
        SELECT query_id, bucket, neighbor_id, cos, rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cos DESC, neighbor_id ASC) AS rank
            FROM scored) WHERE rank <= 3
    """,
    "q23_label_centroids": """
        SELECT label, dim, round(avg(x), 4) + 0.0 AS centroid,
               count(*) AS n_vectors
        FROM (SELECT label, unnest(embedding) AS x,
                     generate_subscripts(embedding, 1) AS dim
              FROM embeddings)
        GROUP BY label, dim
    """,
    "q24_embedding_neardup": f"""
        WITH base AS (
            SELECT vec_id,
                   list_transform(embedding, v -> CAST(v AS DOUBLE)) AS embedding,
                   label
            FROM embeddings
        ), eng AS (
            SELECT vec_id + {NEARDUP_OFFSET} AS vec_id,
                   list_transform(embedding,
                                  v -> v * {NEARDUP_SCALE} + {NEARDUP_SHIFT})
                       AS embedding,
                   label
            FROM embeddings WHERE vec_id < {NEARDUP_N}
        ), uni AS (
            SELECT * FROM base UNION ALL SELECT * FROM eng
        ), bk AS (
            SELECT vec_id, 0 AS band_idx,
                   {_duck_signbits(NEARDUP_BANDS[0])} AS bucket FROM uni
            UNION ALL
            SELECT vec_id, 1,
                   {_duck_signbits(NEARDUP_BANDS[1])} FROM uni
        ), cand AS (
            SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
            FROM bk a JOIN bk b
              ON a.band_idx = b.band_idx AND a.bucket = b.bucket
             AND a.vec_id < b.vec_id
        ), scored AS (
            SELECT a_id, b_id, x.label, {_COS_XY} AS cos
            FROM cand
            JOIN uni x ON x.vec_id = a_id
            JOIN uni y ON y.vec_id = b_id
        )
        SELECT a_id, b_id, label, cos FROM scored WHERE cos >= 0.95
    """,
    "q25_sessionization": """
        SELECT user_id, count(*) AS n_events, sum(new_sess)::BIGINT AS n_sessions
        FROM (SELECT user_id,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch(ts - lag(ts) OVER w) > 1800
                          THEN 1 ELSE 0 END AS new_sess
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        GROUP BY user_id
    """,
    "q26_hourly_event_stats": """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour, event_type,
               count(*) AS n, round(sum(value), 2) AS total_value
        FROM events GROUP BY 1, 2
    """,
    # q14 lsh pairs: derived entirely from the shared candidate CTE chain
    "q14_lsh_candidate_pairs": f"""
        WITH {D.duckdb_candidates_cte()}
        SELECT a_doc_id, b_doc_id FROM cand
    """,
    "q29_set_ops": """
        SELECT custkey, segment FROM (
          SELECT o_custkey AS custkey, 'both_years' AS segment FROM (
            SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate)=1995
            INTERSECT
            SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate)=1996)
          UNION ALL
          SELECT o_custkey, 'only_1995' FROM (
            SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate)=1995
            EXCEPT
            SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate)=1996))
    """,
    "q30_date_normalization": """
        SELECT o_orderkey,
               strftime(o_orderdate, '%d-%b-%y') AS order_dmy,
               strftime(o_orderdate - INTERVAL 10 YEAR + INTERVAL 1 DAY,
                        '%Y-%m-%d') AS issue_fallback,
               quarter(o_orderdate) AS qtr
        FROM orders WHERE day(o_orderdate) <= 28
    """,
    "q31_vector_norms": """
        SELECT vec_id, label, len(embedding) AS dim,
               round(sqrt(list_sum(list_transform(
                   embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))),
                     4) AS l2_norm
        FROM embeddings
    """,
    "q34_ann_ivf": __import__("ocr_documents_spark.operators.ivf", fromlist=["x"]).duckdb_ivf_topk_sql(),
    # q27/q28: DuckDB reads the golden parquet the PURE single-node
    # pipeline materializes (_ensure_golden) — the driver now value-checks
    # the extraction pipeline itself, not just row counts
    "q27_extraction_pipeline": f"""
        SELECT doc_id, document_type, status, n_pages, n_fields, n_out_spans
        FROM '{_GOLDEN["q27"]}'
    """,
    "q28_extraction_fields_long": f"""
        SELECT document_type, field_name, count(*) AS n,
               round(avg(confidence), 4) AS avg_confidence
        FROM '{_GOLDEN["q28"]}'
        GROUP BY document_type, field_name
    """,
    "q36_quality_warnings": f"""
        SELECT channel, message, count(*) AS n_docs, min(doc_id) AS first_doc
        FROM '{_GOLDEN["q36"]}'
        GROUP BY channel, message
    """,
    "q47_frame_samples": f"""
        SELECT doc_id, media_offset, frame_idx, ts_ms, frame_text,
               frame_conf, w, h, out_w, out_h
        FROM '{_GOLDEN["q47"]}'
    """,
    # q32: the same golden-parquet mechanism as q47 — the pure
    # media_meta_for_ref decode materializes one row per media span, and
    # the oracle reproduces the Spark-side aggregation over it, so the
    # decode-dependent query is a full rows+schema+hash check instead of
    # the r2 rows-only placeholder
    "q32_media_features": f"""
        SELECT doc_id, count(*) AS n_media,
               sum(n_tokens)::BIGINT AS n_tokens,
               min(w) AS min_w,
               CAST(floor((sum(CAST(round(mean_token_conf * 1000000.0)
                                    AS BIGINT)) * 2 + count(*) * 100)
                          / (count(*) * 200.0)) AS BIGINT)
                   / 10000.0 AS avg_conf
        FROM '{_GOLDEN["q32"]}'
        GROUP BY doc_id
    """,
    # q48: identical TF-IDF arithmetic (smooth idf, rounded centroids,
    # rounded cosine) as SQL CTEs
    "q48_tfidf_classifier": f"""
        WITH tf AS (
            SELECT doc_id, lang, term, count(*) AS tf
            FROM (SELECT doc_id, lang,
                         unnest(string_split(text, ' ')) AS term
                  FROM documents)
            GROUP BY doc_id, lang, term),
        train AS (SELECT * FROM tf WHERE doc_id % 2 = 0),
        test  AS (SELECT * FROM tf WHERE doc_id % 2 = 1),
        nt AS (SELECT count(DISTINCT doc_id) AS n_train FROM train),
        idf AS (
            SELECT term, ln((n_train + 1.0) / (df + 1)) + 1.0 AS idf
            FROM (SELECT term, count(DISTINCT doc_id) AS df
                  FROM train GROUP BY term), nt),
        train_w AS (
            SELECT t.lang, t.term, t.doc_id, t.tf * i.idf AS w
            FROM train t JOIN idf i USING (term)),
        sizes AS (
            SELECT lang, count(DISTINCT doc_id) AS n_docs
            FROM train GROUP BY lang),
        centroid AS (
            SELECT w.lang, w.term,
                   round(sum(w.w) / any_value(s.n_docs),
                         {_TFIDF_ROUND_C}) AS c
            FROM train_w w JOIN sizes s USING (lang)
            GROUP BY w.lang, w.term),
        cnorm AS (
            SELECT lang, sqrt(sum(c * c)) AS cnorm
            FROM centroid GROUP BY lang),
        test_w AS (
            SELECT t.doc_id, t.term, t.tf * i.idf AS w
            FROM test t JOIN idf i USING (term)),
        dnorm AS (
            SELECT doc_id, sqrt(sum(w * w)) AS dnorm
            FROM test_w GROUP BY doc_id),
        dots AS (
            SELECT tw.doc_id, c.lang AS cand_lang, sum(tw.w * c.c) AS dot
            FROM test_w tw JOIN centroid c USING (term)
            GROUP BY tw.doc_id, c.lang),
        scored AS (
            SELECT d.doc_id, d.cand_lang,
                   round(d.dot / (dn.dnorm * cn.cnorm),
                         {_TFIDF_ROUND_OUT}) + 0.0 AS cos
            FROM dots d
            JOIN cnorm cn ON cn.lang = d.cand_lang
            JOIN dnorm dn USING (doc_id))
        SELECT doc_id, cand_lang AS predicted_lang, cos
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY doc_id
                  ORDER BY cos DESC, cand_lang ASC) AS rk
              FROM scored)
        WHERE rk = 1
    """,
    # q49: BM25 CTE (q44's arithmetic, unlimited) + cosine ranking to the
    # vec_id-0 embedding, fused by reciprocal rank — ranks from rounded
    # scores, fusion exact on integer ranks
    "q49_hybrid_rrf": f"""
        WITH d AS (
            SELECT doc_id,
                   len(string_split(text, ' ')) AS dl,
                   {", ".join(
                       "len(list_filter(string_split(text, ' '), "
                       f"x -> x = '{t}')) AS tf_{i}"
                       for i, t in enumerate(BM25_TERMS))}
            FROM documents WHERE doc_id <> 0),
        -- corpus stats over ALL docs (the Spark side filters doc 0 only
        -- AFTER scoring, so its stats include it)
        sfull AS (
            SELECT count(*) AS n_docs, avg(dl) AS avgdl,
                   {", ".join(
                       f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
                       for i in range(len(BM25_TERMS)))}
            FROM (SELECT len(string_split(text, ' ')) AS dl,
                         {", ".join(
                             "len(list_filter(string_split(text, ' '), "
                             f"x -> x = '{t}')) AS tf_{i}"
                             for i, t in enumerate(BM25_TERMS))}
                  FROM documents)),
        bm AS (
            SELECT doc_id,
                   round({" + ".join(
                       f"ln((n_docs - df_{i} + 0.5) / (df_{i} + 0.5) + 1.0)"
                       f" * tf_{i} * ({BM25_K1} + 1.0)"
                       f" / (tf_{i} + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B}"
                       f" * dl / avgdl))"
                       for i in range(len(BM25_TERMS)))}, 4) + 0.0 AS bm25
            FROM d, sfull),
        t_rank AS (
            SELECT doc_id, bm25,
                   row_number() OVER (ORDER BY bm25 DESC, doc_id ASC)
                       AS r_text
            FROM bm),
        qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
        v_rank AS (
            SELECT doc_id, cos,
                   row_number() OVER (ORDER BY cos DESC, doc_id ASC)
                       AS r_vec
            FROM (SELECT vec_id AS doc_id,
                         round(list_dot_product(embedding, q)
                               / (sqrt(list_dot_product(embedding,
                                                        embedding))
                                  * sqrt(list_dot_product(q, q))), 4)
                             + 0.0 AS cos
                  FROM embeddings, qv WHERE vec_id <> 0))
        SELECT t.doc_id, t.r_text, v.r_vec,
               round(1.0 / ({RRF_K} + t.r_text)
                     + 1.0 / ({RRF_K} + v.r_vec), 6) + 0.0 AS rrf
        FROM t_rank t JOIN v_rank v USING (doc_id)
        ORDER BY rrf DESC, doc_id ASC LIMIT 10
    """,
    "q51_funnel": """
        WITH t1 AS (
            SELECT user_id, min(ts) AS t_view
            FROM events WHERE event_type = 'view' GROUP BY user_id),
        t2 AS (
            SELECT e.user_id, min(e.ts) AS t_click
            FROM events e JOIN t1 USING (user_id)
            WHERE e.event_type = 'click' AND e.ts > t1.t_view
            GROUP BY e.user_id),
        t3 AS (
            SELECT e.user_id, min(e.ts) AS t_purchase
            FROM events e JOIN t2 USING (user_id)
            WHERE e.event_type = 'purchase' AND e.ts > t2.t_click
            GROUP BY e.user_id)
        SELECT t1.user_id, t1.t_view, t2.t_click, t3.t_purchase
        FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)
    """,
    "q52_revenue_rollup": """
        SELECT coalesce(n_name, 'ALL') AS nation,
               coalesce(yr, -1) AS yr,
               round(sum(o_totalprice), 2) AS revenue,
               count(*) AS n_orders
        FROM (SELECT n.n_name, year(o.o_orderdate) AS yr, o.o_totalprice
              FROM orders o
              JOIN customer c ON o.o_custkey = c.c_custkey
              JOIN nation n ON c.c_nationkey = n.n_nationkey)
        GROUP BY ROLLUP(n_name, yr)
    """,
    "q53_rollup_maintenance": """
        SELECT date_trunc('hour', ts) AS bucket_start, event_type,
               count(*) AS n,
               round(sum(value), 2) AS total_value,
               min(value) AS min_value, max(value) AS max_value
        FROM events GROUP BY 1, 2
    """,
    "q50_exact_percentiles": """
        SELECT event_type, count(*) AS n,
               round(quantile_cont(value, 0.5), 4) + 0.0 AS p50,
               round(quantile_cont(value, 0.9), 4) + 0.0 AS p90,
               round(quantile_cont(value, 0.99), 4) + 0.0 AS p99
        FROM events GROUP BY event_type
    """,
    # q40: the synthesized page is deterministic, so the oracle needs no
    # HTML parser — main_text round-trips to the normalized source text
    # and both block counts reproduce the template arithmetic
    # (boilerplate.synthesize_page / expected_content_blocks) in SQL
    "q40_main_content": f"""
        WITH c AS (
            SELECT doc_id,
                   regexp_replace(trim(text), '\\s+', ' ', 'g') AS norm
            FROM documents),
        b AS (
            SELECT doc_id, norm,
                   len(string_split(norm, ' ')) AS nw
            FROM c),
        k AS (
            SELECT doc_id, norm,
                   CASE WHEN nw <= {_BP_CHUNK} THEN 1
                        ELSE (nw // {_BP_CHUNK})
                             + CASE WHEN (nw % {_BP_CHUNK}) >= {_BP_TAIL}
                                    THEN 1 ELSE 0 END
                   END AS ncb
            FROM b)
        SELECT doc_id, norm AS main_text,
               'Document ' || CAST(doc_id AS VARCHAR) || ' — Example Site'
                   AS title,
               CAST(ncb + 3 + (3 + doc_id % 5) + (2 + doc_id % 4)
                    + CASE WHEN doc_id % 3 = 0 AND ncb > 1 THEN 1 ELSE 0 END
                    + CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 0 END
                    AS INTEGER) AS n_blocks,
               CAST(ncb AS INTEGER) AS n_content_blocks
        FROM k
    """,
    # q41: synthesis preserves word order by construction, so the
    # reading-order oracle is the identity sequence — the Spark side has
    # to undo the (reversed) two-column scatter to match it
    "q41_layout_reading_order": """
        SELECT doc_id,
               UNNEST(list_transform(range(len(string_split(text, ' '))),
                                     x -> CAST(x AS INTEGER))) AS pos,
               UNNEST(string_split(text, ' ')) AS word
        FROM documents
    """,
    # q42: DuckDB's native ASOF JOIN is the oracle for the union+window
    # implementation; right side deduped per (customer, date) so the tie
    # rule is identical in both engines
    "q42_asof_join": """
        WITH o AS (
            SELECT o_custkey AS custkey, o_orderdate AS last_orderdate,
                   max(o_orderkey) AS last_orderkey
            FROM orders GROUP BY 1, 2),
        e AS (
            SELECT event_id, user_id AS custkey,
                   DATE '1992-01-01' + CAST(event_id % 2400 AS INTEGER)
                       AS evt_date
            FROM events)
        SELECT e.event_id, e.custkey, e.evt_date,
               o.last_orderkey, o.last_orderdate,
               CAST(date_diff('day', o.last_orderdate, e.evt_date)
                    AS INTEGER) AS days_since
        FROM e ASOF LEFT JOIN o
          ON e.custkey = o.custkey AND e.evt_date >= o.last_orderdate
    """,
    # q43: the oracle is the raw inequality join (DuckDB IEJoin); the
    # Spark side must reproduce it exactly through the bin replication
    "q43_range_join": """
        WITH e AS (
            SELECT event_id, CAST(event_id % 2400 AS INTEGER) AS day
            FROM events),
        w AS (
            SELECT o_orderkey AS window_key,
                   CAST(date_diff('day', DATE '1992-01-01', o_orderdate)
                        AS INTEGER) AS start_day
            FROM orders WHERE o_orderkey % 97 = 0)
        SELECT e.event_id, e.day, w.window_key, w.start_day
        FROM e JOIN w
          ON e.day BETWEEN w.start_day AND w.start_day + 20
    """,
    # q44: identical BM25 arithmetic in SQL (ln and the k1/b saturation
    # formula are IEEE-deterministic; the final <=3-term sum is rounded)
    "q44_bm25_topk": f"""
        WITH d AS (
            SELECT doc_id,
                   len(string_split(text, ' ')) AS dl,
                   {", ".join(
                       "len(list_filter(string_split(text, ' '), "
                       f"x -> x = '{t}')) AS tf_{i}"
                       for i, t in enumerate(BM25_TERMS))}
            FROM documents),
        s AS (
            SELECT count(*) AS n_docs, avg(dl) AS avgdl,
                   {", ".join(
                       f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
                       for i in range(len(BM25_TERMS)))}
            FROM d)
        SELECT doc_id,
               round({" + ".join(
                   f"ln((n_docs - df_{i} + 0.5) / (df_{i} + 0.5) + 1.0)"
                   f" * tf_{i} * ({BM25_K1} + 1.0)"
                   f" / (tf_{i} + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B}"
                   f" * dl / avgdl))"
                   for i in range(len(BM25_TERMS)))}, 4) + 0.0 AS bm25
        FROM d, s
        ORDER BY bm25 DESC, doc_id ASC LIMIT 10
    """,
    "q45_bpe_pretokenize": f"""
        SELECT token, count(*) AS n
        FROM (SELECT unnest(regexp_extract_all(props,
                  '{BPE_PRETOKEN_RE}')) AS token
              FROM events)
        GROUP BY token ORDER BY n DESC, token ASC LIMIT 40
    """,
    "q46_stratified_sample": """
        SELECT lang, source, doc_id, CAST(rn AS INTEGER) AS sample_rank
        FROM (SELECT lang, source, doc_id,
                     row_number() OVER (
                         PARTITION BY lang, source
                         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                     ) AS rn
              FROM documents)
        WHERE rn <= 5
    """,
    # q33 intentionally absent here: approx_count_distinct sketches are
    # engine-specific by construction — its bounds check lives in pytest
    # (tests/test_registry_extras.py), outside the driver registry.
    # q54 cohort retention: pytest-extra (the registry is capped at 50)
    "q54_cohort_retention": """
        WITH ev AS (
            SELECT user_id, date_trunc('month', ts) AS m FROM events),
        cohort AS (
            SELECT user_id, min(m) AS cohort_month FROM ev GROUP BY 1),
        active AS (SELECT DISTINCT user_id, m FROM ev)
        SELECT strftime(c.cohort_month, '%Y-%m') AS cohort,
               CAST(datediff('month', c.cohort_month, a.m) AS INTEGER)
                   AS month_offset,
               count(DISTINCT a.user_id) AS n_users
        FROM active a JOIN cohort c USING (user_id)
        GROUP BY 1, 2
    """,
}

# The driver samples the 50 lexicographically-first registry entries for
# its hard correctness gate, so the registry is EXACTLY 50 entries, every
# one oracle-checked (zero no_oracle rows).  Three r2 entries moved to
# pytest coverage to make room (tests/test_registry_extras.py):
#   q11_first_order_per_customer — same window-dedup operator as q05 on a
#       second table; still validated against its DuckDB oracle in pytest;
#   q14_lsh_candidate_pairs — the candidate stage over ALL docs (since
#       the r5 exact-class collapse, q16's verify pipeline runs the same
#       stage over representatives only, so q14 distinctly covers the
#       uncollapsed signature-level shape); pytest-checked;
#   q33_approx_distinct — HLL sketch estimates can never hash-match a
#       different engine by construction; pytest bounds-checks it.
QUERIES = {
    "q01_pricing_summary": q01_pricing_summary,
    "q02_filter_pushdown": q02_filter_pushdown,
    "q03_top_orders": q03_top_orders,
    "q04_point_lookup": q04_point_lookup,
    "q05_first_event_per_user": q05_first_event_per_user,
    "q06_revenue_by_nation": q06_revenue_by_nation,
    "q07_customers_without_orders": q07_customers_without_orders,
    "q08_word_counts": q08_word_counts,
    "q09_json_regex_extract": q09_json_regex_extract,
    "q10_monthly_order_stats": q10_monthly_order_stats,
    "q12_exact_dedup": q12_exact_dedup,
    "q13_minhash_signatures": q13_minhash_signatures,
    "q15_simhash": q15_simhash,
    "q16_jaccard_verify_candidates": q16_jaccard_verify_candidates,
    "q17_text_quality": q17_text_quality,
    "q18_lang_id": q18_lang_id,
    "q19_token_count_by_source": q19_token_count_by_source,
    "q20_doc_fingerprint": q20_doc_fingerprint,
    "q21_knn_bruteforce": q21_knn_bruteforce,
    "q22_ann_signbucket": q22_ann_signbucket,
    "q23_label_centroids": q23_label_centroids,
    "q24_embedding_neardup": q24_embedding_neardup,
    "q25_sessionization": q25_sessionization,
    "q26_hourly_event_stats": q26_hourly_event_stats,
    "q27_extraction_pipeline": q27_extraction_pipeline,
    "q28_extraction_fields_long": q28_extraction_fields_long,
    "q29_set_ops": q29_set_ops,
    "q30_date_normalization": q30_date_normalization,
    "q31_vector_norms": q31_vector_norms,
    "q32_media_features": q32_media_features,
    "q34_ann_ivf": q34_ann_ivf,
    "q35_dedup_groups": q35_dedup_groups,
    "q36_quality_warnings": q36_quality_warnings,
    "q37_page_scan": q37_page_scan,
    "q38_simhash_neardup": q38_simhash_neardup,
    "q39_winnowed_fingerprints": q39_winnowed_fingerprints,
    "q40_main_content": q40_main_content,
    "q41_layout_reading_order": q41_layout_reading_order,
    "q42_asof_join": q42_asof_join,
    "q43_range_join": q43_range_join,
    "q44_bm25_topk": q44_bm25_topk,
    "q45_bpe_pretokenize": q45_bpe_pretokenize,
    "q46_stratified_sample": q46_stratified_sample,
    "q47_frame_samples": q47_frame_samples,
    "q48_tfidf_classifier": q48_tfidf_classifier,
    "q49_hybrid_rrf": q49_hybrid_rrf,
    "q50_exact_percentiles": q50_exact_percentiles,
    "q51_funnel": q51_funnel,
    "q52_revenue_rollup": q52_revenue_rollup,
    "q53_rollup_maintenance": q53_rollup_maintenance,
}
