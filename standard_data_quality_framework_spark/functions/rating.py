"""The reference's rating calculus as native Spark column expressions.

Reproduces exactly:
  - bucket rating (/root/reference/src/rating.py:4-27): clamp score to
    [0,1] then  <=0.2→1, <=0.4→2, <=0.6→3, <=0.8→4, else 5
    (closed UPPER boundaries — 0.4 rates 2, not 3).
  - UC1 piecewise SDQF rating, both orientations
    (/root/reference/src/uc1_image_quality_checks.py:410-419 higher-is-
    better; :488-496 lower-is-better).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def bucket_rating(score: str) -> Column:
    """score∈[0,1] → rating 1–5 with closed upper boundaries.

    ``score`` is a column name or SQL expression: the rating is built
    as SQL text, one py4j call instead of ~60 Column-API ones (the
    metrics frame rates eight columns per run)."""
    s = f"least(greatest({score}, 0.0D), 1.0D)"
    return F.expr(f"CASE WHEN {s} <= 0.2D THEN 1 WHEN {s} <= 0.4D THEN 2 "
                  f"WHEN {s} <= 0.6D THEN 3 WHEN {s} <= 0.8D THEN 4 "
                  "ELSE 5 END")


def piecewise_rating_higher_better(ratio: Column) -> Column:
    """ratio≤0.2→1; ≥0.8→5; else 1+(ratio−0.2)/0.15, clamped to [1,5]."""
    r = (
        F.when(ratio <= 0.2, F.lit(1.0))
        .when(ratio >= 0.8, F.lit(5.0))
        .otherwise(F.lit(1.0) + (ratio - F.lit(0.2)) / F.lit(0.15))
    )
    return F.least(F.greatest(r, F.lit(1.0)), F.lit(5.0))


def piecewise_rating_lower_better(err: Column) -> Column:
    """err≤0.2→5; ≥0.8→1; else 5−(err−0.2)/0.15, clamped to [1,5]."""
    r = (
        F.when(err <= 0.2, F.lit(5.0))
        .when(err >= 0.8, F.lit(1.0))
        .otherwise(F.lit(5.0) - (err - F.lit(0.2)) / F.lit(0.15))
    )
    return F.least(F.greatest(r, F.lit(1.0)), F.lit(5.0))

