"""The one SparkSession builder: every entry point — the spark-submit jobs,
the CLIs, the tools, the tests and the benchmark — calls ``get_spark``.

Its settings fall into two groups:

* **engine settings** hold wherever the engine runs, under ``spark-submit``
  as much as in a local test: Arrow for all Python UDF traffic at
  ``ARROW_BATCH_ROWS`` rows per batch, AQE with partition coalescing and
  skew-join splitting, and UTC session time;
* **local sizing** applies only when ``get_spark`` starts the JVM itself
  (master ``local[$SPARK_GRAFT_CPUS]``, driver heap, shuffle width, no UI,
  and the local filesystem below).  A launcher that already owns the JVM
  — ``spark-submit``, or any process pyspark reaches through
  ``PYSPARK_GATEWAY_PORT`` — keeps its own values, its filesystems
  included.

Local paths use Hadoop's ``RawLocalFileSystem``.  The default ``file:``
filesystem writes a ``.crc`` sidecar beside every file it writes, and
without libhadoop each file costs ``chmod`` subprocesses (about 1.4 ms
each from an 8g JVM), so the sidecars doubled a lake commit's files.
With them gone, parquet's page checksums are the read-time integrity
check: Spark's parquet writer stores a CRC for every data and dictionary
page, and ``parquet.page.verify-checksum.enabled`` makes the reader
verify it, so a flipped byte in a page fails the read instead of
returning a wrong value.  The page CRCs do not cover the footer, and
files written without them (pyarrow's default) are read unchecked.
Never drop the verification while ``file:`` is the raw filesystem.

Explicit ``master``/``shuffle_partitions`` arguments and ``extra_conf``
apply in both cases, ``extra_conf`` last.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
# Arrow batch sizing: rows here are WHOLE DOCUMENTS on the light path
# (each carrying every media payload), so 4096-row batches ran to ~40-80MB
# and measurably hurt under memory pressure (18s vs 10s in a loaded
# window; ~7% slower even in a quiet one).  1024 keeps batches ~10-20MB —
# large enough to amortize Arrow framing, small enough to pipeline — and
# bounds heavy-path span batches identically.
ARROW_BATCH_ROWS = 1024

ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH_ROWS),
    "spark.sql.session.timeZone": "UTC",
}


def get_spark(app_name: str = "ocr-documents-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    conf = {"spark.app.name": app_name, **ENGINE_CONF}
    # pyspark reads PYSPARK_GATEWAY_PORT to join a JVM a launcher started
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        conf.update({
            "spark.master": f"local[{cpus}]",
            "spark.sql.shuffle.partitions": str(DEFAULT_SHUFFLE_PARTITIONS),
            # Spark's own split defaults, spelled out so that a
            # spark-defaults.conf cannot change how a local scan splits
            "spark.sql.files.maxPartitionBytes": "128m",
            "spark.sql.files.openCostInBytes": "4194304",
            "spark.driver.memory": "8g",
            "spark.ui.enabled": "false",
            # no .crc sidecar files; the page CRCs are checked instead
            "spark.hadoop.fs.file.impl":
                "org.apache.hadoop.fs.RawLocalFileSystem",
            "spark.hadoop.parquet.page.verify-checksum.enabled": "true",
        })
    if master:
        conf["spark.master"] = master
    if shuffle_partitions:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf.update(extra_conf or {})
    return SparkSession.builder.config(map=conf).getOrCreate()
