"""Output checks, run outside the timed region.

* Batch: a query's rows are compared with its DuckDB twin (`ORACLES`) on
  the same files. Rows are matched after sorting; a float matches when it
  is within one unit of the last digit of the twin's shortest repr (the
  twin rounds most outputs, so that digit is the rounding grain). Every
  other value must be equal. A query whose rows all match only under that
  tolerance still counts as an exact-canon mismatch.
* Stream: emitted alerts are compared with a pure-Python reference built
  from the `parse_event` twin and `classify_window`.
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
import math
from collections import defaultdict


def canon(v):
    """Engine-neutral form of one output value."""
    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return int(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return dt.datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, dict):
        return tuple(sorted((str(k), canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if hasattr(v, "item"):  # numpy scalar
        return canon(v.item())
    return v


def _sort_key(row: tuple):
    """Exact values first, floats coarsened, so a last-digit difference
    does not reorder rows."""
    exact, coarse = [], []
    for v in row:
        if isinstance(v, float):
            coarse.append(float(f"{v:.6g}"))
        else:
            exact.append(repr(v))
    return (exact, coarse)


def _grain(x: float) -> float:
    """One unit of the last digit of repr(x)."""
    r = repr(x)
    if "e" in r or "E" in r:
        mant, exp = r.lower().split("e")
        digits = len(mant.split(".")[1]) if "." in mant else 0
        return 10.0 ** (int(exp) - digits)
    return 10.0 ** -(len(r.split(".")[1]) if "." in r else 0)


def values_match(a, b) -> bool:
    """`a` from the engine, `b` from the twin."""
    if isinstance(a, float) and isinstance(b, float):
        return a == b or abs(a - b) <= _grain(b) * (1 + 1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(values_match(x, y) for x, y in zip(a, b))
    if isinstance(a, float) and isinstance(b, int) or isinstance(a, int) and isinstance(b, float):
        return float(a) == float(b)
    return a == b


def compare_rows(
    cols_a: list[str], rows_a: list[tuple], cols_b: list[str], rows_b: list[tuple]
) -> tuple[bool, bool, str]:
    """(ok, exact, reason) for engine rows `a` against twin rows `b`;
    columns are matched by case-insensitive name."""
    la = [c.lower() for c in cols_a]
    lb = [c.lower() for c in cols_b]
    if sorted(la) != sorted(lb):
        return False, False, f"columns {sorted(la)} != {sorted(lb)}"
    order_a = sorted(range(len(la)), key=lambda i: la[i])
    order_b = sorted(range(len(lb)), key=lambda i: lb[i])
    a = sorted(
        (tuple(canon(r[i]) for i in order_a) for r in rows_a), key=_sort_key
    )
    b = sorted(
        (tuple(canon(r[i]) for i in order_b) for r in rows_b), key=_sort_key
    )
    if len(a) != len(b):
        return False, False, f"{len(a)} rows != {len(b)}"
    exact = True
    for ra, rb in zip(a, b):
        if ra == rb:
            continue
        exact = False
        if not values_match(ra, rb):
            return False, False, f"row {ra!r} != {rb!r}"
    return True, exact, ""


# --- stream reference ----------------------------------------------------


def reference_windows(
    values: list[str], late: list[bool], window_ms: int = 60_000
) -> dict[tuple[str, int], dict]:
    """Expected alert per (patient, window_start) over the raw values the
    engine must aggregate (late values are left out: the watermark drops
    them). Uses the reference's own `parse_event` and `classify_window`."""
    from hw_kafka_flink_health_spark.functions.classify import classify_window
    from hw_kafka_flink_health_spark.functions.parsing import parse_event

    acc: dict[tuple[str, int], list] = defaultdict(lambda: [0, 0, 10**9, -(10**9)])
    for raw, is_late in zip(values, late):
        if is_late:
            continue
        ev = parse_event(raw)
        if ev is None:
            continue
        start = ev["event_time"] // window_ms * window_ms
        a = acc[(ev["patient_id"], start)]
        bpm = ev["heart_rate_bpm"]
        a[0] += bpm
        a[1] += 1
        a[2] = min(a[2], bpm)
        a[3] = max(a[3], bpm)
    out = {}
    for (pid, start), (total, n, lo, hi) in acc.items():
        avg = total / n
        out[(pid, start)] = {
            "patient_id": pid,
            "window_start": start,
            "window_end": start + window_ms,
            "avg_hr": avg,
            "min_hr": lo,
            "max_hr": hi,
            "alert_type": classify_window(avg),
        }
    return out


def check_alerts(
    alerts: list[str], expected: dict[tuple[str, int], dict], watermark_ms: int
) -> tuple[int, int, list[str]]:
    """Compare emitted alert JSON strings with the reference.

    Operations are the expected windows closed by `watermark_ms`; a window
    whose alert is missing or wrong is one failure, and every extra or
    duplicate alert is one more. Returns (attempted, failed, reasons)."""
    closed = {k: v for k, v in expected.items() if v["window_end"] <= watermark_ms}
    seen: dict[tuple[str, int], int] = defaultdict(int)
    failed = 0
    reasons: list[str] = []
    for raw in alerts:
        try:
            got = json.loads(raw)
            key = (got["patient_id"], int(got["window_start"]))
        except (ValueError, KeyError, TypeError):
            failed += 1
            reasons.append(f"unparseable alert {raw!r}")
            continue
        seen[key] += 1
        want = closed.get(key)
        if want is None or seen[key] > 1:
            failed += 1
            reasons.append(f"unexpected alert {raw}")
            continue
        ok = (
            got.get("window_end") == want["window_end"]
            and got.get("min_hr") == want["min_hr"]
            and got.get("max_hr") == want["max_hr"]
            and got.get("alert_type") == want["alert_type"]
            and isinstance(got.get("avg_hr"), (int, float))
            and abs(got["avg_hr"] - want["avg_hr"]) <= 1e-9 * abs(want["avg_hr"])
        )
        if not ok:
            failed += 1
            reasons.append(f"wrong alert {raw} expected {want}")
    missing = [k for k in closed if k not in seen]
    failed += len(missing)
    reasons.extend(f"missing alert {k}" for k in missing[:5])
    return len(closed), failed, reasons
