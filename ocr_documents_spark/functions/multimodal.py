"""Multimodal column plumbing: typed metadata + feature extraction over
opaque media references.

The engine treats image/PDF-page/audio content as opaque payloads addressed
by ``media_ref`` (at production scale: an object-store key next to a
``binary`` column), with decode / feature-extract / resize implemented as
Arrow-batched pandas UDFs.  No imaging library is in this container, so
every reader here goes through the one OCR seam in extractors/media.py
(``read_media_ref``): a real decoder replaces that one function.
Everything Spark-side — schema, UDF signature, Arrow batch shape, where the
explode/regroup happens — is real and tested (tests/test_multimodal.py,
and the q32/q47 golden-parquet oracles in queries.py).

Reference lineage: EasyOCR's (bbox, text, conf) token stream and the
image-quality metrics (backend/ocr_service.py:38-52,
backend/image_quality_checker.py:56-62) are exactly this per-media typed
metadata.
"""

from __future__ import annotations

from typing import List, Optional

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (DoubleType, IntegerType, StringType,
                               StructField, StructType)

from ..extractors.media import read_media_ref

MEDIA_META_TYPE = StructType([
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("blur", DoubleType()),
    StructField("brightness", DoubleType()),
    StructField("contrast", DoubleType()),
    StructField("skew", DoubleType()),
    StructField("n_tokens", IntegerType()),
    StructField("mean_token_conf", DoubleType()),
])


# --- frame sampling (video-shaped media) ----------------------------------
# A media payload's token rows stand in for a clip's frames (25 fps ->
# ts_ms = idx * 40); production replaces read_media_ref with
# cv2.VideoCapture grabs at the SAME sampled indices.  The sampling math,
# schema, mapInPandas batch shape, and the post-UDF native resize are the
# real deliverable and are value-checked against a pure-oracle golden
# parquet (q47).

FRAME_MS = 40          # 25 fps stand-in clock

FRAME_SAMPLE_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("media_offset", IntegerType()),
    StructField("frame_idx", IntegerType()),
    StructField("ts_ms", IntegerType()),
    StructField("frame_text", StringType()),
    StructField("frame_conf", DoubleType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
])


def sample_frame_indices(n_frames: int, k: int) -> List[int]:
    """Uniform k-point sampling with both endpoints, exact integer math
    (floor division, so every engine/runtime agrees); fewer than k frames
    -> all of them."""
    if n_frames <= 0:
        return []
    if n_frames <= k or k == 1:
        return list(range(n_frames)) if k > 1 else [0]
    out = []
    for i in range(k):
        idx = (i * (n_frames - 1)) // (k - 1)
        if not out or idx != out[-1]:
            out.append(idx)
    return out


def frame_rows_for_ref(media_ref: Optional[str], k: int) -> List[dict]:
    """Pure per-ref frame sampler (shared by the Spark UDF and the golden
    oracle).  Frames are the payload's tokens in (y, x) decode order;
    unreadable payloads yield no frames (a corrupt clip must not kill
    the job)."""
    doc_id, offset, frames, qc = read_media_ref(media_ref)
    return [{"doc_id": doc_id, "media_offset": offset,
             "frame_idx": i, "ts_ms": i * FRAME_MS,
             "frame_text": str(frames[i][2]),
             "frame_conf": float(frames[i][3]),
             "w": int(qc["w"]), "h": int(qc["h"])}
            for i in sample_frame_indices(len(frames), k)]


def sample_frames(media: DataFrame, k: int = 4,
                  ref_col: str = "media_ref") -> DataFrame:
    """media(…, media_ref) -> one row per sampled frame, via mapInPandas
    (row-count-changing, so a scalar UDF can't express it).  No shuffle:
    sampling is per-ref; parallelism comes from the input partitioning.
    """
    def fn(batches):
        for pdf in batches:
            rows: List[dict] = []
            for ref in pdf[ref_col]:
                rows.extend(frame_rows_for_ref(ref, k))
            yield pd.DataFrame(
                rows, columns=[f.name for f in FRAME_SAMPLE_SCHEMA])
    return media.mapInPandas(fn, FRAME_SAMPLE_SCHEMA)


def resize_dims(w: Column, h: Column, target: int) -> Column:
    """Aspect-preserving letterbox resize arithmetic, all-native and in
    exact integer math (floor of w*target/long_side) so any engine
    reproduces it bit-for-bit: -> struct(out_w, out_h).  The pixel
    resample itself happens wherever the bytes are decoded (cv2 slot);
    planning the target geometry is engine work and belongs here."""
    long_side = F.greatest(w, h)
    out_w = F.greatest(F.floor(w * target / long_side).cast("int"), F.lit(1))
    out_h = F.greatest(F.floor(h * target / long_side).cast("int"), F.lit(1))
    zero = (w <= 0) | (h <= 0)
    return F.struct(
        F.when(zero, F.lit(0)).otherwise(out_w).alias("out_w"),
        F.when(zero, F.lit(0)).otherwise(out_h).alias("out_h"))


def media_meta_for_ref(ref: Optional[str]) -> dict:
    """Pure per-ref metadata decode — the single implementation behind the
    :func:`media_meta` pandas UDF AND the q32 golden-parquet oracle, so
    both sides of q32's value check ride identical arithmetic.
    Unreadable payloads yield the all-zero QC row (fails every downstream
    gate) rather than raising — corrupt objects must not kill a 10^12-doc
    job."""
    _doc_id, _offset, tokens, qc = read_media_ref(ref)
    confs = [float(t[3]) for t in tokens]
    return {
        "w": int(qc["w"]), "h": int(qc["h"]),
        "blur": float(qc["blur"]),
        "brightness": float(qc["brightness"]),
        "contrast": float(qc["contrast"]),
        "skew": float(qc["skew"]),
        "n_tokens": len(tokens),
        "mean_token_conf":
            round(sum(confs) / len(confs), 6) if confs else 0.0,
    }


@pandas_udf(MEDIA_META_TYPE)
def media_meta(media_ref: pd.Series) -> pd.DataFrame:
    """Per-media typed metadata (dimensions, quality metrics, token census).

    Arrow-batched; one decode per ref (media_meta_for_ref).
    """
    rows = [media_meta_for_ref(ref) for ref in media_ref.to_numpy()]
    return pd.DataFrame(rows, columns=[f.name for f in MEDIA_META_TYPE])
