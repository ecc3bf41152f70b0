"""Summary statistics and the result-line format of the benchmark.

Kept free of Spark and DuckDB so the unit tests can import it alone.
"""
import json
import math
import statistics


def median(values):
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def result_line(correct, attempted, failed, metrics):
    """The benchmark's last stdout line. `metrics` maps a name to
    (value, unit); values keep every digit as measured. The line is
    checked against the result format before it is returned."""
    line = json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }, separators=(", ", ": "))
    parse_result_line(line)
    return line


def parse_result_line(text):
    """Parse the last non-empty line of a run's stdout into the result
    object, checking its shape. Raises ValueError on a malformed line."""
    lines = [ln for ln in text.splitlines() if ln.strip()]
    if not lines:
        raise ValueError("no output")
    obj = json.loads(lines[-1])
    if set(obj) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"unexpected keys {sorted(obj)}")
    if not isinstance(obj["correct"], bool):
        raise ValueError("correct must be a boolean")
    for k in ("attempted", "failed"):
        if not isinstance(obj[k], int) or isinstance(obj[k], bool):
            raise ValueError(f"{k} must be a whole number")
    if obj["attempted"] < 1 or not 0 <= obj["failed"] <= obj["attempted"]:
        raise ValueError("attempted/failed out of range")
    for name, m in obj["metrics"].items():
        if set(m) != {"value", "unit"}:
            raise ValueError(f"metric {name}: unexpected keys {sorted(m)}")
        v = m["value"]
        if not isinstance(v, (int, float)) or isinstance(v, bool) or \
                not math.isfinite(v):
            raise ValueError(f"metric {name}: value is not a finite number")
    return obj
