"""Output checks: canonical digests of responses and batch rows, and the
recorded expectations they are compared with."""

from __future__ import annotations

import csv
import hashlib
import io
import json
import math
import os

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")

#: keys whose values change from call to call
VOLATILE_KEYS = frozenset({"query_timestamp", "execution_time_ms"})


def _round(x: float) -> float:
    if x == 0 or not math.isfinite(x):
        return x
    return float(f"{x:.9g}")


def _numeric(cell: str):
    try:
        return _round(float(cell)) if cell.strip() else cell
    except ValueError:
        return cell


def canonical(value, drop=VOLATILE_KEYS):
    """Drop volatile keys and round floats to 9 significant digits."""
    if isinstance(value, dict):
        return {k: canonical(v, drop) for k, v in value.items() if k not in drop}
    if isinstance(value, (list, tuple)):
        return [canonical(v, drop) for v in value]
    if isinstance(value, float):
        return _round(value)
    return value


def _hash(value) -> str:
    text = json.dumps(value, sort_keys=True, separators=(",", ":"), default=str)
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def response_digest(body, mask=frozenset()) -> str:
    body = canonical(body, VOLATILE_KEYS | mask)
    if isinstance(body, dict) and isinstance(body.get("data"), str):
        # CSV payload: compare cell values, not the float spelling
        rows = list(csv.reader(io.StringIO(body["data"])))
        body = {**body, "data": [rows[0]] + [[_numeric(c) for c in r] for r in rows[1:]]}
    return _hash(body)


def rows_digest(rows) -> str:
    """Digest of collected Spark rows, independent of row order."""
    return _hash(sorted(json.dumps(canonical(list(r)), default=str) for r in rows))


def load_expected() -> dict:
    try:
        with open(EXPECTED_PATH) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {}


def save_expected(expected: dict) -> None:
    with open(EXPECTED_PATH, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
