"""The declared query catalog.

Every operator capability from SURVEY.md §2 (reference operators S1-S27 where
batch-expressible, the §2.2 relational surface, and the §2.3 LLM-data-pipeline
extensions) is declared here as a named QuerySpec: a Spark DataFrame builder
plus, where SQL-expressible, a DuckDB oracle SQL string computing the same
result (same column names — the driver hashes values after sorting columns by
name).
"""

from __future__ import annotations

import glob
import json
import os
import re

from jetstream_spark.queries.spec import QuerySpec


# Each round the external correctness check of `__spark_entry__.queries()`
# verifies the first ~50 registry entries and writes CORRECTNESS_r{N}.json
# at the repo root. The registry order is computed from that evidence
# (window_order) so every entry rotates through the checked window.
_REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Entries whose engine/oracle code changed since the last checked round:
# they re-enter the window ahead of the staleness order so the change is
# checked in the round it ships. Reset each round.
_CODE_CHANGED: tuple[str, ...] = (
    "ann_brute_force_topk",
    "ann_lsh_topk",
    "ann_lsh_indexed",
    "ann_ivf_topk",
    "ann_ivf_indexed",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "knn_graph",
    "knn_graph_ivf",
    "ann_hamming_topk",
)


def load_evidence(root: str) -> dict[str, tuple[int, int]]:
    """name -> (latest round with a correctness row, the row's
    position in that round's CORRECTNESS file)."""
    evidence: dict[str, tuple[int, int]] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        if isinstance(rows, dict):
            for pos, name in enumerate(rows):
                evidence[name] = max(evidence.get(name, (0, 0)), (int(m.group(1)), pos))
    return evidence


def window_order(names, evidence: dict, changed) -> list[str]:
    """The checked-window rotation: never-checked entries first (in the given
    order), then code-changed ones, then the rest with the oldest evidence
    first (ties in that round's file order)."""
    never = [n for n in names if n not in evidence]
    code = [n for n in names if n in evidence and n in changed]
    rest = sorted((n for n in names if n in evidence and n not in changed), key=evidence.__getitem__)
    return never + code + rest


def all_queries() -> dict[str, QuerySpec]:
    # imports deferred so a syntax error in one domain doesn't break the rest
    from jetstream_spark.queries import clustering, dedup, eventlog, multimodal, profiling, quality, relational, relational2, relational3, relational4, relational5, sampling, similarity, sketches, text, tokenizer

    collected: dict[str, QuerySpec] = {}
    for module in (relational, relational2, relational3, relational4, relational5, eventlog, dedup, similarity, clustering, sketches, text, quality, multimodal, sampling, tokenizer, profiling):
        for spec in module.QUERIES:
            assert spec.name not in collected, f"duplicate query name {spec.name}"
            collected[spec.name] = spec
    return {n: collected[n] for n in window_order(collected, load_evidence(_REPO), _CODE_CHANGED)}
