"""Pure helpers: Spark metric-string parsing and the summary rules the
benchmark reports with (medians, geometric means, failed-pass exclusion)."""

from __future__ import annotations

import math
import re
import statistics

# Spark renders SQL metrics with Utils.bytesToString / msDurationToString;
# timing metrics are already converted to milliseconds for display.
_UNIT_SCALE = {
    "": 1.0,
    "B": 1.0,
    "KiB": 1024.0,
    "MiB": 1024.0**2,
    "GiB": 1024.0**3,
    "TiB": 1024.0**4,
    "PiB": 1024.0**5,
    "EiB": 1024.0**6,
    "ms": 1.0,
    "s": 1000.0,
    "m": 60_000.0,
    "h": 3_600_000.0,
}
_LEADING = re.compile(r"^\(?\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_spark_metric(text: str | None) -> float | None:
    """Total of one formatted SQL metric, in bytes, milliseconds or a plain
    count. Handles the three shapes the SQL status store renders:

    - plain sums: ``"1,351,090"``;
    - single values with a unit: ``"0.0 B"``, ``"302 ms"``;
    - per-task summaries, with or without the header line:
      ``"total (min, med, max (stageId: taskId))\\n884.2 KiB (207.7 KiB, …"``.

    Returns None for text that carries no leading number."""
    if text is None:
        return None
    body = text.strip()
    if body.startswith("total (") and "\n" in body:
        body = body.split("\n", 1)[1].strip()
    m = _LEADING.match(body)
    if not m:
        return None
    unit = m.group(2)
    if unit not in _UNIT_SCALE:
        return None
    return float(m.group(1).replace(",", "")) * _UNIT_SCALE[unit]


def median(values: list[float]) -> float:
    return percentile(values, 50)


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values (a zero latency is not a
    measurement, so it is rejected rather than collapsing the mean)."""
    if not values:
        raise ValueError("geomean of no values")
    if any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def clean_pass_times(passes: list[dict]) -> list[float]:
    """Wall times of the passes in which no operation failed. A pass that
    contains a failed operation did less work, so its time is not a pass
    time."""
    return [p["wall_s"] for p in passes if not p["failed"]]


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolation percentile (numpy's default), q in [0, 100]."""
    if not values:
        raise ValueError("percentile of no values")
    if not 0 <= q <= 100:
        raise ValueError("q must be within [0, 100]")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def iqr_spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median, with the quartiles
    of ``statistics.quantiles(values, n=4)``."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
