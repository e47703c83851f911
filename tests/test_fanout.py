"""The conditional input fan-out (functions/fanout.py): spreads
under-split scans before CPU-bound stages, no-ops on well-split input.

The r6 optimization round found the suite's dominant local bottleneck
was single-split scans (one small parquet file -> one task regardless
of cores) serializing per-row CPU work; fan_out is the shared fix and
this file pins its contract:

* under-split input  -> exactly one repartition to cpu_parts;
* well-split input   -> the plan is returned UNCHANGED (same object),
  so zero-Exchange operators stay zero-Exchange at lake scale;
* values are untouched either way.

``fan_in`` is the dual every ``run_pipeline`` call passes through: an
over-split input merges without a shuffle, a sane one is untouched.
"""

from pyspark.sql import functions as F

from ocr_documents_spark.functions.fanout import cpu_parts, fan_in, fan_out


def test_underspread_input_fans_out(spark):
    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(100)],
        "doc_id long, text string").coalesce(1)
    assert df.rdd.getNumPartitions() == 1
    out = fan_out(df, "doc_id")
    assert out.rdd.getNumPartitions() == cpu_parts(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan  # explicit count: AQE-exempt
    # values untouched
    assert sorted(r["doc_id"] for r in out.collect()) == list(range(100))


def test_wellsplit_input_is_untouched(spark):
    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(100)],
        "doc_id long, text string").repartition(cpu_parts(
            spark.range(1)), "doc_id").localCheckpoint()
    out = fan_out(df, "doc_id")
    assert out is df  # literally a no-op, not just an equal plan


def test_keyless_fan_out_round_robins(spark):
    df = spark.createDataFrame([(i,) for i in range(50)],
                               "x long").coalesce(1)
    out = fan_out(df)
    assert out.rdd.getNumPartitions() == cpu_parts(df)
    assert out.agg(F.sum("x")).collect()[0][0] == sum(range(50))


def test_oversplit_input_fans_in_without_shuffle(spark):
    target = 2 * spark.sparkContext.defaultParallelism
    df = spark.range(0, 1000, 1, 4 * target + 1)
    out = fan_in(df)
    assert out.rdd.getNumPartitions() == target
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()
    assert out.agg(F.sum("id")).collect()[0][0] == sum(range(1000))


def test_sanely_split_input_is_not_fanned_in(spark):
    df = spark.range(0, 1000, 1, 4 * 2 * spark.sparkContext.defaultParallelism)
    assert fan_in(df) is df
