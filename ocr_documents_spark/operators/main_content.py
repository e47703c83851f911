"""Spark face of the HTML boilerplate stripper (extractors/boilerplate.py).

Both UDFs are Arrow-batched scalar pandas UDFs — the whole DOM walk is
per-row pure Python but rides vectorized Arrow transfer, the same budget
class as the extraction pipeline's recover stage.  At 100 TB the operator
is embarrassingly parallel: no shuffle is introduced (scan -> project ->
sink), so throughput scales with executor count and the scan's split
count; partition sizing is governed by the usual
spark.sql.files.maxPartitionBytes knob, not anything here.

There is no reference analogue (the reference ingests PDFs/images only);
the heuristics and their citations live in extractors/boilerplate.py.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (DoubleType, IntegerType, StringType,
                               StructField, StructType)

MAIN_CONTENT_TYPE = StructType([
    StructField("main_text", StringType()),
    StructField("title", StringType()),
    StructField("n_blocks", IntegerType()),
    StructField("n_content_blocks", IntegerType()),
    StructField("n_boilerplate_blocks", IntegerType()),
    StructField("boilerplate_ratio", DoubleType()),
])


@pandas_udf(StringType())
def synthesize_page_udf(doc_id: pd.Series, text: pd.Series,
                        lang: pd.Series) -> pd.Series:
    """Deterministic clean-text -> full-HTML-page wrapper (fixture input
    for the stripper; every page differs by doc_id, nothing is random)."""
    from ocr_documents_spark.extractors.boilerplate import synthesize_page
    return pd.Series([
        synthesize_page(int(d), t or "", l or "en")
        for d, t, l in zip(doc_id, text, lang)])


@pandas_udf(MAIN_CONTENT_TYPE)
def main_content_udf(raw_html: pd.Series) -> pd.DataFrame:
    """HTML -> (main_text, title, block census, boilerplate_ratio)."""
    from ocr_documents_spark.extractors.boilerplate import extract_main_content
    cols = {k: [] for k in ("main_text", "title", "n_blocks",
                            "n_content_blocks", "n_boilerplate_blocks",
                            "boilerplate_ratio")}
    for html in raw_html:
        r = extract_main_content(html or "")
        for k in cols:
            cols[k].append(r[k])
    return pd.DataFrame(cols)


def strip_boilerplate(html: Column) -> Column:
    """Expression form: just the main text of an HTML column."""
    return main_content_udf(html)["main_text"]
