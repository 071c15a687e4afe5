"""Scalar column-expression builders (SURVEY.md §2.8 F1–F12).

Everything here is a *native* Catalyst expression — no Python UDFs — so the
hot path stays inside whole-stage codegen. The reference implements these as
SQL ``CASE WHEN`` strings and row-at-a-time Python (e.g. the churn-risk label
at ``Website/market/dunnhumby/views.py:1493-1503`` and the zero-guard ratios
at ``views.py:273-275``); expressed as Column functions they vectorize and
fuse with the surrounding plan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Exact decimal for money aggregation: sums are order-independent (double
# summation is not, which matters when 1000 executors reduce in arbitrary order).
MONEY = "decimal(18,2)"


def money(col: Column | str) -> Column:
    """Cast a monetary column to exact decimal before aggregation."""
    return F.col(col).cast(MONEY) if isinstance(col, str) else col.cast(MONEY)


def safe_ratio(num: Column, den: Column, default: float = 0.0) -> Column:
    """``x/y if y > 0 else default`` (reference views.py:273-275, F11)."""
    return F.when(den > 0, num / den).otherwise(F.lit(default))


def is_weekend(day: Column) -> Column:
    """``day % 7 >= 5`` weekend flag (ml_models.py:387-388, F2)."""
    return (day % 7 >= 5).cast("int")


def icontains(col: Column, needle: str) -> Column:
    """Case-insensitive substring predicate (Django ``icontains``,
    views.py:1247-1284, P5)."""
    return F.lower(col).contains(needle.lower())


def churn_risk_label(probability: Column) -> Column:
    """Risk bands over churn probability (views.py:1493-1503 / 3461-3470, P7/F1)."""
    return (
        F.when(probability > 0.75, "Critical Risk")
        .when(probability > 0.50, "High Risk")
        .when(probability > 0.25, "Medium Risk")
        .otherwise("Low Risk")
    )


def seeded_noise(*cols: Column, scale: float = 0.03, buckets: int = 10000) -> Column:
    """Deterministic pseudo-noise in [-scale, +scale].

    Replaces the reference's salt-randomized ``hash(model+pid) % 10000``
    (ml_models.py:881-883, F12) with a stable crc32-based hash so results
    reproduce across processes and executors. NULL inputs hash as a "\\0"
    sentinel — concat_ws SKIPS nulls, so without it every (model, NULL)
    row collapsed onto crc32(model) and got identical "noise" instead of
    per-entity jitter. Keys containing the literal '|' delimiter can still
    alias across column boundaries; callers hash identifier-ish columns.
    """
    h = F.crc32(
        F.concat_ws("|", *[F.coalesce(c.cast("string"), F.lit("\0")) for c in cols])
    )
    unit = (F.pmod(h, F.lit(buckets)) / F.lit(float(buckets - 1))) * 2 - 1
    return unit * F.lit(scale)
