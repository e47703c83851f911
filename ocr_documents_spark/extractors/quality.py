"""Image-quality gate over precomputed scalar metrics.

The reference computes blur/brightness/contrast/skew with cv2 over pixels
(backend/image_quality_checker.py:155-202) and gates on scalar thresholds
(:22-30, :69-142).  In our engine the metrics arrive as data (the ``qc``
of the media payload, read by extractors/media.py, or produced by a real
decoder behind that seam in production), so the gate itself is pure scalar
arithmetic.  ``quality_report`` is its one verdict: both Spark plans and
the single-node oracle call it through
extractors/pipeline_pure.document_quality_report with the six QC keys.

Scoring transcribed from backend/image_quality_checker.py:204-240; pass/fail
ladder from :69-142.
"""

from __future__ import annotations

THRESHOLDS = {
    "blur_threshold": 50.0,     # reference :23
    "brightness_min": 40,       # :24
    "brightness_max": 240,      # :25
    "contrast_min": 30,         # :26
    "min_width": 600,           # :28
    "min_height": 400,          # :29
}


def quality_score(w: float, h: float, blur: float, brightness: float,
                  contrast: float) -> float:
    """Composite 0-100 score (reference :204-240)."""
    t = THRESHOLDS
    score = 100.0

    # blur: 0 / 15 / 30 point penalty
    if blur >= t["blur_threshold"] * 2:
        pass
    elif blur >= t["blur_threshold"]:
        score -= 15
    else:
        score -= 30

    # brightness: deviation from optimum, capped at 25
    optimal = (t["brightness_min"] + t["brightness_max"]) / 2
    score -= min(25.0, abs(brightness - optimal) / optimal * 50)

    # contrast: 0 / 15 / 25
    if contrast < t["contrast_min"]:
        score -= 25
    elif contrast < t["contrast_min"] * 1.5:
        score -= 15

    # resolution: 0 / 10 / 20
    if w < t["min_width"] or h < t["min_height"]:
        score -= 20
    elif w < t["min_width"] * 1.5 or h < t["min_height"] * 1.5:
        score -= 10

    return max(0.0, min(100.0, score))


def quality_report(w: float, h: float, blur: float, brightness: float,
                   contrast: float, skew: float = 0.0):
    """Full Q5 surface: (passed, score, issues[], warnings[]) with the
    reference's exact message strings and evaluation order
    (backend/image_quality_checker.py:56-142): resolution -> blur ->
    brightness -> contrast -> skew (warn-only) -> composite score.
    Message numbers print with one decimal.
    """
    t = THRESHOLDS
    issues: list = []
    warnings: list = []

    if w < t["min_width"] or h < t["min_height"]:
        issues.append(
            f"Image resolution too low ({int(w)}x{int(h)}). Minimum "
            f"required: {t['min_width']}x{t['min_height']}")
    if blur < t["blur_threshold"]:
        issues.append(
            f"Image is blurry (score: {blur:.1f}). "
            f"Minimum required: {t['blur_threshold']}")
    elif blur < t["blur_threshold"] * 1.5:
        warnings.append("Image sharpness is borderline. Results may vary.")
    if brightness < t["brightness_min"]:
        issues.append(
            f"Image too dark (brightness: {brightness:.1f}). "
            f"Minimum required: {t['brightness_min']}")
    elif brightness > t["brightness_max"]:
        issues.append(
            f"Image too bright/overexposed (brightness: {brightness:.1f}). "
            f"Maximum allowed: {t['brightness_max']}")
    if contrast < t["contrast_min"]:
        issues.append(
            f"Image has low contrast (score: {contrast:.1f}). "
            f"Minimum required: {t['contrast_min']}")
    if abs(skew) > 5:
        warnings.append(
            f"Document appears rotated by {skew:.1f}°. "
            "This may affect extraction accuracy.")

    score = quality_score(w, h, blur, brightness, contrast)
    if score < 50:
        if not issues:
            issues.append("Overall image quality is poor")
    elif score < 70:
        warnings.append("Image quality is acceptable but not optimal")

    return (not issues), score, issues, warnings
