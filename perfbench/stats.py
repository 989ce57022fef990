"""Small statistics helpers and the metric-name rule."""

from __future__ import annotations

import re
import statistics

#: Every metric name the benchmark prints must match this.
METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")

#: A percentile above the median is reported only when at least this
#: many samples lie beyond it.
MIN_TAIL_SAMPLES = 10


def percentile(samples: list[float], q: float) -> float | None:
    """The ``q``-th percentile (50 <= q < 100) by linear interpolation.
    The median needs one sample; a higher percentile is None unless
    MIN_TAIL_SAMPLES samples lie beyond it."""
    n = len(samples)
    if n == 0 or (q > 50 and n * (100 - q) < MIN_TAIL_SAMPLES * 100):
        return None
    if q == 50:
        return statistics.median(samples)
    return statistics.quantiles(samples, n=100, method="inclusive")[
        round(q) - 1
    ]


def median(samples: list[float]) -> float:
    return percentile(samples, 50) or 0.0


def check_names(metrics: dict) -> list[str]:
    """Names in ``metrics`` that break METRIC_NAME."""
    return [k for k in metrics if not METRIC_NAME.fullmatch(k)]
