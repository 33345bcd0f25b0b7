"""Tiny-scale traced run of each workload: the metrics it measures carry
exactly the names BENCHMARK.json declares, and its checks pass. About a
minute per workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import asyncio
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, ROOT)

import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
E2E = {m["name"] for m in SPEC["end_to_end"]}
LAYERS = {m["name"] for m in SPEC["per_layer"]}


def check(res: dict, layer_names: set[str]) -> None:
    assert res["valid"] and res["failed"] == 0, res["detail"]
    assert E2E <= set(res["metrics"])
    assert all(v > 0 for v, _ in res["metrics"].values()), res["metrics"]
    assert set(run.layer_metrics(res)) == layer_names


def test_live_tail_smoke(monkeypatch):
    monkeypatch.setattr(run, "LIVE_RATE", 50)
    os.makedirs(run.WORK, exist_ok=True)
    res = asyncio.run(run.live_tail_run(seed=1, seconds=3, trace=True))
    check(res, {n for n in LAYERS if not n.startswith("catalog.")})


def test_catalog_smoke(monkeypatch):
    monkeypatch.setattr(run, "CATALOG_DATA", os.path.join(run.HERE, "data", "sf0.001"))
    os.makedirs(run.WORK, exist_ok=True)
    res = asyncio.run(run.catalog_run(seed=1, seconds=1, trace=True))
    check(res, {n for n in LAYERS if n.startswith(("catalog.", "sut.", "traced."))})
