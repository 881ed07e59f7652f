"""Percentiles, metric names and metric records."""

from __future__ import annotations

import math
import re

#: samples that must lie beyond a reported percentile
MIN_BEYOND = 10
METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


class TooFewSamples(ValueError):
    pass


def percentile(values, q: float, strict: bool = True) -> float:
    """Nearest-rank ``q``-quantile (0 < q < 1) of ``values``.  ``strict``
    refuses it unless at least :data:`MIN_BEYOND` samples lie beyond."""
    if not 0 < q < 1:
        raise ValueError(f"quantile must be in (0, 1), got {q}")
    xs = sorted(values)
    n = len(xs)
    if not n:
        raise TooFewSamples("no samples")
    rank = max(1, math.ceil(q * n))
    if strict and n - rank < MIN_BEYOND:
        raise TooFewSamples(
            f"p{round(q * 100)} of {n} samples leaves {n - rank} beyond it; "
            f"need {MIN_BEYOND}"
        )
    return xs[rank - 1]


def check_name(name: str) -> str:
    if not METRIC_NAME.match(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}
