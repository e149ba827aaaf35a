"""Output checks, run outside every timed region.

``digest`` gives an order-insensitive fingerprint of a result frame; the
``headline`` expectations in ``expected/headline.json`` were produced by
``make_expected.py`` from outputs that pass the repository's strict DuckDB
differential. The backfill checks hold the sink to exactly-once, in height
order, with every block's own content.
"""

from __future__ import annotations

import hashlib
import json
import math
from datetime import date, datetime
from decimal import Decimal


def _norm(v):
    """Type-tagged canonical value, so ``2000`` and ``2000.0``, ``-0.0``
    and ``0.0``, or a string and a timestamp with the same text never
    collide."""
    if v is None:
        return None
    if type(v).__module__ == "numpy":
        if getattr(v, "ndim", 0):
            return ("arr", tuple(_norm(x) for x in v.tolist()))
        v = v.item()
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "NaN")
        return ("f", v.hex())
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, Decimal):
        return ("dec", str(v))
    if isinstance(v, datetime):
        return ("ts", v.isoformat())
    if isinstance(v, date):
        return ("d", v.isoformat())
    if isinstance(v, (bytes, bytearray)):
        return ("by", bytes(v).hex())
    if isinstance(v, (list, tuple)):
        return ("arr", tuple(_norm(x) for x in v))
    if isinstance(v, dict):
        return ("st", tuple(sorted(((_norm(k), _norm(x)) for k, x in v.items()), key=repr)))
    return ("s", str(v))


def digest(pdf) -> tuple[int, str]:
    """``(row count, sha256)`` of a pandas frame, independent of row and
    column order."""
    cols = sorted(pdf.columns)
    rows = sorted(repr(tuple(_norm(v) for v in row))
                  for row in pdf[cols].itertuples(index=False, name=None))
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()


def check_result(pdf, want: dict) -> str | None:
    """None if ``pdf`` has the stored row count and digest, else the reason."""
    rows, dig = digest(pdf)
    if rows != want["rows"]:
        return f"{rows} rows, expected {want['rows']}"
    if dig != want["digest"]:
        return "content digest differs from the stored one"
    return None


def check_sink_counts(rows: int, distinct: int, n_heights: int) -> str | None:
    """One sink row per generated height, no duplicate ``sequence_id``."""
    if distinct != rows:
        return f"sink holds {rows - distinct} duplicate sequence_id rows"
    if rows != n_heights:
        return f"sink holds {rows} heights, generated {n_heights}"
    return None


def check_replay(heights: list[int], payloads: list[str] | None,
                 expected: dict[int, str]) -> str | None:
    """The replay is strictly ascending, covers exactly the generated
    heights, and each row carries its own block (by block hash)."""
    for a, b in zip(heights, heights[1:]):
        if b <= a:
            return f"replay not strictly ascending at {a} -> {b}"
    if len(heights) != len(expected) or set(heights) != set(expected):
        missing = sorted(set(expected) - set(heights))[:3]
        extra = sorted(set(heights) - set(expected))[:3]
        return (f"replay has {len(heights)} rows for {len(expected)} heights "
                f"(missing {missing}, unexpected {extra})")
    if payloads is not None:
        for h, p in zip(heights, payloads):
            if json.loads(p)["block"]["header"]["hash"] != expected[h]:
                return f"payload at height {h} is not that block"
    return None
