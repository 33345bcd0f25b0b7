"""Regenerate QUERIES.md — the auto-generated operator catalog.

One row per declared registry query (name, verification kind, tags, doc),
grouped by primary tag. Run after adding operators: the file is committed
so readers get an inventory derived from the code.

Usage: python tools/gen_catalog.py            # regenerate QUERIES.md
                                              # (.githooks/pre-commit runs this)
       python tools/gen_catalog.py --check    # exit 1 if QUERIES.md is stale
                                              # (tests/test_cli.py runs this)
"""

from __future__ import annotations

import os
import sys
from collections import OrderedDict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from jetstream_spark.queries import all_queries  # noqa: E402


def main() -> None:
    reg = all_queries()
    by_family: "OrderedDict[str, list]" = OrderedDict()
    for name, spec in reg.items():
        fam = spec.tags[0] if spec.tags else "misc"
        by_family.setdefault(fam, []).append((name, spec))

    n_oracle = sum(1 for s in reg.values() if s.oracle)
    lines = [
        "# QUERIES — auto-generated operator catalog",
        "",
        f"{len(reg)} declared operators: {n_oracle} DuckDB-oracle-backed "
        f"(value-hash correctness gate), {len(reg) - n_oracle} rows-only "
        "(non-SQL-expressible; each pinned by a reference-implementation "
        "equality test instead). Generated by tools/gen_catalog.py from "
        "jetstream_spark/queries — do not edit by hand.",
        "",
        "Run any of these: `python -m jetstream_spark query <name>` "
        "(`--explain` for the physical plan; `--list` for this catalog).",
        "",
    ]
    for fam in sorted(by_family):
        lines.append(f"## {fam} ({len(by_family[fam])})")
        lines.append("")
        lines.append("| query | verified | doc |")
        lines.append("|---|---|---|")
        for name, spec in sorted(by_family[fam]):
            kind = "oracle" if spec.oracle else "rows-only"
            extra = (
                " +" + "/".join(t for t in spec.tags[1:]) if len(spec.tags) > 1 else ""
            )
            lines.append(f"| `{name}` | {kind}{extra} | {spec.doc} |")
        lines.append("")
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "QUERIES.md")
    content = "\n".join(lines)
    if "--check" in sys.argv[1:]:
        try:
            with open(out) as f:
                on_disk = f.read()
        except FileNotFoundError:
            on_disk = ""
        if on_disk != content:
            print(f"STALE: {out} does not match the registry "
                  f"({len(reg)} queries) — run tools/gen_catalog.py")
            raise SystemExit(1)
        print(f"in sync: {out} ({len(reg)} queries, {len(by_family)} families)")
        return
    with open(out, "w") as f:
        f.write(content)
    print(f"wrote {out} ({len(reg)} queries, {len(by_family)} families)")


if __name__ == "__main__":
    main()
