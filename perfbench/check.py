"""Correctness checks, run outside the timed windows.

* `check_subscriber`: one subscriber's receive log against the generator's
  expected set — exactly-once, strictly increasing `time_us`, nothing
  missing (which covers a gap at the replay→live cut-over), nothing outside
  the subscription (S17 filters, including the account/identity bypass of
  the collection filter), and each frame matching the generated event.
* `check_log`: log conservation — rows equal the events ingested, with
  distinct `time_us` that increase in relay seq order.
* `canonical`: row count, column names and an order-insensitive value hash
  of a result, for the catalog's DuckDB oracle comparison.
"""

from __future__ import annotations

import hashlib
import json
import math
from dataclasses import dataclass


def event_index(frame: dict) -> int | None:
    """The generation index of a delivered wire frame (see gen.py)."""
    if "commit" in frame:
        rkey = frame["commit"].get("rkey", "")
        return int(rkey[1:]) if rkey.startswith("e") and rkey[1:].isdigit() else None
    for kind in ("account", "identity"):
        if kind in frame and frame[kind].get("seq") is not None:
            return frame[kind]["seq"] - 1
    return None


def expected_indices(events, collections=(), dids=(), lo: int = 0, hi: int | None = None) -> list[int]:
    """Generation indices in [lo, hi) a subscription with these filters
    must receive: the DID filter applies to every event, the collection
    filter only to commits."""
    out = []
    for ev in events:
        if ev.g < lo or (hi is not None and ev.g >= hi):
            continue
        if dids and ev.did not in dids:
            continue
        if collections and ev.kind == "commit" and ev.collection not in collections:
            continue
        out.append(ev.g)
    return out


@dataclass
class Delivery:
    missing: int = 0
    duplicated: int = 0
    out_of_order: int = 0
    wrongly_filtered: int = 0
    mismatched: int = 0

    @property
    def errors(self) -> int:
        return self.missing + self.duplicated + self.out_of_order + self.wrongly_filtered + self.mismatched


def parse_frames(log: list[tuple[float, bytes]]) -> list[tuple[float, dict]]:
    return [(t, json.loads(p)) for t, p in log]


def check_subscriber(received: list[tuple[float, dict]], expected: list[int], by_g: dict) -> Delivery:
    """Compare one subscriber's frames, in receive order, with the indices
    it must receive. A dropped subscriber counts everything it did not
    receive as missing."""
    d = Delivery()
    want = set(expected)
    seen: set[int] = set()
    last_us = -1
    for _, frame in received:
        g = event_index(frame)
        t_us = frame.get("time_us", -1)
        if t_us <= last_us:
            d.out_of_order += 1
        last_us = max(last_us, t_us)
        if g in seen:
            d.duplicated += 1
            continue
        if g not in want:
            d.wrongly_filtered += 1
            continue
        seen.add(g)
        ev = by_g[g]
        kind = {"commit": "com", "account": "acc", "identity": "id"}[ev.kind]
        coll = frame.get("commit", {}).get("collection")
        if frame.get("did") != ev.did or frame.get("type") != kind or coll != ev.collection:
            d.mismatched += 1
    d.missing = len(want - seen)
    return d


def check_log(log_dir: str, expected: list[int]) -> dict:
    """Log conservation over the persisted parquet log."""
    import pyarrow.dataset as ds

    table = ds.dataset(log_dir, format="parquet", partitioning="hive").to_table(
        columns=["time_us", "commit", "account", "identity"]
    )
    rows = table.to_pylist()
    pairs = []
    for r in rows:
        frame = {k: r[k] for k in ("commit", "account", "identity") if r[k] is not None}
        pairs.append((event_index(frame), r["time_us"]))
    gs = [g for g, _ in pairs]
    times = [t for _, t in sorted(pairs, key=lambda p: (p[0] is None, p[0] or 0))]
    return {
        "rows": len(rows),
        "expected": len(expected),
        "events_match": sorted(g for g in gs if g is not None) == sorted(expected) and None not in gs,
        "time_us_distinct": len(set(t for _, t in pairs)) == len(pairs),
        "time_us_monotonic": all(a < b for a, b in zip(times, times[1:])),
    }


def log_ok(c: dict) -> bool:
    return c["rows"] == c["expected"] and c["events_match"] and c["time_us_distinct"] and c["time_us_monotonic"]


def canonical(pdf) -> dict:
    """Row count, sorted column names, and a SHA-256 over the sorted rows
    of canonicalised values (columns in name order)."""
    cols = sorted(pdf.columns)

    def canon(v):
        if v is None:
            return "\x00NULL"
        if isinstance(v, float):
            return "\x00NULL" if math.isnan(v) else repr(v)
        if isinstance(v, bool):
            return str(int(v))
        if hasattr(v, "tolist"):
            v = v.tolist()
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(canon(x) for x in v) + "]"
        try:
            import pandas as pd

            if pd.isna(v):
                return "\x00NULL"
        except (TypeError, ValueError):
            pass
        return str(v)

    rows = sorted("\x1f".join(canon(v) for v in row) for row in pdf[cols].itertuples(index=False, name=None))
    h = hashlib.sha256("\x1e".join(rows).encode()).hexdigest()
    return {"rows": len(rows), "cols": cols, "hash": h}
