"""The Spark session and one pass of each workload, driven only through
the program's public entry points (``session.get_spark``,
``pipeline.run_pipeline``, ``jobs.extract.run``)."""

from __future__ import annotations

import statistics
import subprocess
import time
from pathlib import Path

from . import trace

N_BUCKETS = 256  # jobs/extract.py CLI default; every bucket is claimed


def pinned_conf(run_dir: Path, event_dir: Path | None) -> dict:
    """Settings the caller's environment must not change between runs."""
    conf = {
        "spark.local.dir": str(run_dir / "local"),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.sql.files.maxPartitionBytes": "128m",
        "spark.sql.files.openCostInBytes": "4194304",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_dir.as_uri(),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return conf


def _initial_heap_at_max(get_or_create):
    """Wrap ``Builder.getOrCreate`` so the JVM starts with its initial
    heap equal to the maximum the program asks for (``spark.driver.memory``
    becomes -Xmx).  The size stays the program's; only its growth on
    demand is fixed, which moved the tree's peak RSS by 10-20% between
    identical runs.  No page is pre-touched: RSS counts the pages the JVM
    uses in a heap of the program's size."""
    def call(builder):
        heap = builder._options.get("spark.driver.memory")
        if heap:
            opts = builder._options.get("spark.driver.extraJavaOptions", "")
            builder = builder.config("spark.driver.extraJavaOptions",
                                     f"{opts} -Xms{heap}".strip())
        return get_or_create(builder)
    return call


def start(workers: int, run_dir: Path, event_dir: Path | None = None):
    from pyspark.sql import SparkSession

    from ocr_documents_spark.session import get_spark

    with trace.patched(SparkSession.Builder,
                       {"getOrCreate": _initial_heap_at_max}):
        spark = get_spark("perfbench", master=f"local[{workers}]",
                          shuffle_partitions=2 * workers,
                          extra_conf=pinned_conf(run_dir, event_dir))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid(spark) -> int:
    """PID of the JVM behind ``spark`` (pyspark launched it)."""
    return spark.sparkContext._gateway.proc.pid


def group(spark, name: str) -> None:
    spark.sparkContext.setJobGroup(name, name)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def docs(spark, layout: dict):
    from ocr_documents_spark.pipeline import read_docs
    return read_docs(spark, layout["path"])


def extraction(spark, layout: dict, heavy_threshold: int | None = None):
    from ocr_documents_spark.pipeline import run_pipeline
    return run_pipeline(docs(spark, layout), heavy_threshold=heavy_threshold)


def lake_job(spark, layout: dict, lake_dir: Path) -> dict:
    """One whole job into ``lake_dir``, which must not exist yet."""
    from ocr_documents_spark.jobs import extract

    return extract.run(spark, layout["path"], str(lake_dir), N_BUCKETS,
                       list(range(N_BUCKETS)))


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def until_steady(fn, min_passes: int = 2, max_passes: int = 8,
                 tol: float = 0.03) -> list[float]:
    """Repeat ``fn`` until a pass is no more than ``tol`` faster than the
    one before it (pass time has stopped falling)."""
    walls = []
    while len(walls) < max_passes:
        walls.append(timed(fn))
        if len(walls) >= min_passes and walls[-1] >= walls[-2] * (1 - tol):
            break
    return walls


def window(fn, seconds: float, min_passes: int = 1) -> list[float]:
    """Repeat ``fn`` until ``seconds`` of passes have run (at least
    ``min_passes``); returns each pass's wall time."""
    walls = []
    while len(walls) < min_passes or sum(walls) < seconds:
        walls.append(timed(fn))
    return walls


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0
