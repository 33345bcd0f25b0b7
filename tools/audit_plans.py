"""Full-registry plan audit: one summary row per declared query (guide §1).

Usage: python tools/audit_plans.py [--sf-dir DIR] [--out FILE] [q1 q2 ...]

For EVERY registry query (or the named subset), capture
``.explain("formatted")`` and reduce it to the shape counters the
optimization guide keys on:

- ``scans``        total ``Scan parquet`` leaves, and per-source counts —
                   a source scanned >1x is a §6 fold candidate;
- ``exchanges``    ``Exchange`` (shuffle) count (§2);
- ``broadcasts``   ``BroadcastExchange`` count (§3.1);
- ``python``       ``BatchEvalPython`` count — row-at-a-time Python on the
                   hot path, the §4 red flag (ArrowEvalPython / mapInPandas
                   kernels are reported separately, not flagged);
- ``cartesian``    ``CartesianProduct`` count (§3.4);
- ``rdd_leaves``   ``Scan ExistingRDD`` count (checkpointed loop leaves).

Iterative queries eagerly run their loop at build time, so the captured
plan is the FINAL frame's (checkpoints appear as ExistingRDD leaves);
their per-round shape is asserted by the plan-guard tests instead.

Output: one JSON document (default ``PLAN_AUDIT.json``) with a row per
query plus a ``flagged`` index listing every query whose plan shows a
multi-scanned source, BatchEvalPython, or a CartesianProduct — the
round's "examined, left alone" claims are auditable against it.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import re
import sys
from collections import Counter
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from jetstream_spark.queries import all_queries  # noqa: E402
from jetstream_spark.session import get_spark  # noqa: E402

_SOURCE = re.compile(r"Location:.*/([A-Za-z0-9_.-]+?)\]")


def summarize(plan: str) -> dict:
    """Pure reduction of one formatted plan to the audit counters."""
    ops = Counter()
    sources: Counter = Counter()
    for line in plan.splitlines():
        s = line.strip()
        # operator index lines look like "(3) Exchange" / "(7) Scan parquet "
        m = re.match(r"\(\d+\)\s+([A-Za-z]+(?:\s[A-Za-z]+)?)", s)
        if m:
            ops[m.group(1)] += 1
        m = _SOURCE.search(s)
        if m:
            sources[m.group(1)] += 1
    multi = {src: n for src, n in sources.items() if n > 1}
    return {
        "scans": ops.get("Scan parquet", 0),
        "sources": dict(sources),
        "multi_scanned": multi,
        "exchanges": ops.get("Exchange", 0),
        "broadcasts": ops.get("BroadcastExchange", 0),
        "python": ops.get("BatchEvalPython", 0),
        "arrow_eval": ops.get("ArrowEvalPython", 0) + ops.get("MapInPandas", 0),
        "cartesian": ops.get("CartesianProduct", 0),
        "rdd_leaves": ops.get("Scan ExistingRDD", 0),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    ap.add_argument("--out", default="PLAN_AUDIT.json")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    spark = get_spark("jetstream_spark_plan_audit")
    specs = all_queries()
    names = args.queries or sorted(specs)
    rows: dict[str, dict] = {}
    errors: dict[str, str] = {}
    for i, name in enumerate(names):
        try:
            df = specs[name].build(spark, args.sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            rows[name] = summarize(buf.getvalue())
        except Exception as e:  # audit must cover the full registry
            errors[name] = f"{type(e).__name__}: {e}"[:200]
        if (i + 1) % 25 == 0:
            print(f"[audit] {i + 1}/{len(names)}", file=sys.stderr)
    spark.stop()

    flagged = {
        "multi_scanned": sorted(n for n, r in rows.items() if r["multi_scanned"]),
        "batch_eval_python": sorted(n for n, r in rows.items() if r["python"]),
        "cartesian": sorted(n for n, r in rows.items() if r["cartesian"]),
    }
    doc = {
        "sf_dir": args.sf_dir,
        "n_queries": len(rows),
        "n_errors": len(errors),
        "flagged": flagged,
        "queries": rows,
        "errors": errors,
    }
    with open(args.out, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    print(json.dumps({"n": len(rows), "flagged": {k: len(v) for k, v in flagged.items()}, "out": args.out}))
    return 0 if not errors else 1


if __name__ == "__main__":
    raise SystemExit(main())
