"""Pure measurement helpers: percentiles, output digests, span self time and
process-tree memory.  Nothing here touches Spark, so the rules are unit
tested directly (perfbench/tests/test_perfbench.py)."""

from __future__ import annotations

import datetime
import hashlib
import math
import os

# Percentiles a tail metric may be reported at, lowest first.
PERCENTILE_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
# A percentile is supported only when at least this many samples lie beyond it.
MIN_SAMPLES_BEYOND = 10
# Significant digits kept when a float enters a digest: both engines must agree
# on a double to this precision, and last-ulp accumulation noise is dropped.
FLOAT_DIGITS = 12


def supported_percentile(n: int) -> float | None:
    """Highest ladder percentile with at least ``MIN_SAMPLES_BEYOND`` of
    ``n`` samples beyond it, or None when not even the median is supported."""
    best = None
    for p in PERCENTILE_LADDER:
        if n * (1.0 - p / 100.0) >= MIN_SAMPLES_BEYOND - 1e-9:
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the value at rank ceil(p/100 * n))."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def median(values: list[float]) -> float:
    ordered = sorted(values)
    n = len(ordered)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return ordered[mid] if n % 2 else (ordered[mid - 1] + ordered[mid]) / 2.0


# ---------------------------------------------------------------------------
# Order-insensitive output digests
# ---------------------------------------------------------------------------


def canon_value(v) -> str:
    """Type-tagged canonical text of one output value.

    Floats are quantized to ``FLOAT_DIGITS`` significant digits (negative zero
    folds into zero); nulls, NaN and infinities get their own markers; nested
    lists and structs are canonicalized element by element (struct fields by
    name)."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b" + ("1" if v else "0")
    if isinstance(v, int):
        return "i" + str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "fnan"
        if math.isinf(v):
            return "finf" if v > 0 else "f-inf"
        if v == 0.0:
            return "f0"
        return "f" + format(v, f".{FLOAT_DIGITS - 1}e")
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, (bytes, bytearray)):
        return "x" + bytes(v).hex()
    if isinstance(v, (datetime.date, datetime.datetime, datetime.time)):
        return "t" + v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_value(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    raise TypeError(f"no canonical form for {type(v).__name__}")


def digest_rows(columns: list[str], rows: list[tuple]) -> dict:
    """Digest of a result set that ignores row order and column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x1f".join(canon_value(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256()
    h.update("\x1f".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\x1e")
        h.update(line.encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}


def digest_arrow(table) -> dict:
    """``digest_rows`` of a pyarrow Table (Spark ``toArrow`` or DuckDB)."""
    cols = [table.column(i).to_pylist() for i in range(table.num_columns)]
    return digest_rows(list(table.column_names), list(zip(*cols)) if cols else [])


def drop_nulls(obj):
    """Recursively drop None-valued keys: Spark's ``to_json`` omits null
    fields, so results are compared in that form."""
    if isinstance(obj, dict):
        return {k: drop_nulls(v) for k, v in obj.items() if v is not None}
    if isinstance(obj, list):
        return [drop_nulls(x) for x in obj]
    return obj


# ---------------------------------------------------------------------------
# Span self time
# ---------------------------------------------------------------------------


def covered(interval: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """Length of ``interval`` covered by the union of ``children``."""
    lo, hi = interval
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in children if b > lo and a < hi)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of it that its
    direct children cover.  Spans are dicts with id, parent, start, end."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - covered((s["start"], s["end"]), kids.get(s["id"], []))
        for s in spans
    }


# ---------------------------------------------------------------------------
# Process-tree memory
# ---------------------------------------------------------------------------


def parent_pids() -> dict[int, int]:
    """pid -> parent pid for every live process, read from ``/proc/<pid>/stat``."""
    out: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        out[int(entry)] = int(stat[stat.rfind(b")") + 2:].split()[1])
    return out


def descendants(root: int) -> list[int]:
    """``root`` plus every live descendant."""
    parent = parent_pids()
    out, frontier = [root], [root]
    while frontier:
        nxt = [pid for pid, ppid in parent.items() if ppid in frontier]
        out.extend(nxt)
        frontier = nxt
    return out


def tree_pss_bytes(root: int) -> int:
    """Summed proportional set size of ``root`` and its descendants: resident
    memory with each shared page split among the processes sharing it, so
    Python workers forked from one daemon are not counted once per fork."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
                for line in fh:
                    if line.startswith(b"Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total
