"""Pin the driver-window rotation policy (VERDICT r5 "What's wrong" #1).

The driver verifies only the first ~50 registry entries each round
(CORRECTNESS_r{N}.json). Round 5 shipped 7 new operators at positions
50-56 — one slot past the cutoff — so none got driver evidence in its
debut round. The registry order is now computed from the committed
evidence (``jetstream_spark.queries.window_order``); these tests pin the
pure rule on synthetic evidence and its outcome on the committed files:

  1. every registry entry with ZERO driver evidence (no row in any
     committed CORRECTNESS_r*.json) must appear before EVERY entry that
     has evidence — new operators always lead the window;
  2. all never-checked entries must fit inside the 50-entry window;
  3. after those and the declared code-changed entries, the window holds
     the stalest evidence.
"""

from __future__ import annotations

import glob
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_WINDOW = 50


def _driver_checked_names() -> set[str]:
    names: set[str] = set()
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        try:
            data = json.load(open(path))
        except (json.JSONDecodeError, OSError):
            continue
        if isinstance(data, dict):
            names.update(data.keys())
    return names


def _registry_order() -> list[str]:
    from jetstream_spark.queries import all_queries

    return list(all_queries())


def test_never_checked_entries_lead_the_registry():
    checked = _driver_checked_names()
    order = _registry_order()
    never = [n for n in order if n not in checked]
    if not never:
        return  # every entry has driver evidence — nothing to order
    last_never = max(order.index(n) for n in never)
    first_checked = min(
        (order.index(n) for n in order if n in checked), default=len(order)
    )
    offenders = [n for n in order[:last_never] if n in checked]
    assert last_never < first_checked, (
        "never-driver-checked entries must lead the registry window; "
        f"checked entries placed ahead of never-checked ones: {offenders}"
    )


def test_never_checked_entries_fit_in_driver_window():
    checked = _driver_checked_names()
    order = _registry_order()
    outside = [n for n in order[DRIVER_WINDOW:] if n not in checked]
    assert not outside, (
        f"entries with zero driver evidence sit outside the {DRIVER_WINDOW}-entry "
        f"driver window and will miss their debut-round check: {outside}"
    )


def _evidence_rounds() -> dict[str, int]:
    """name -> latest round with a committed driver-correctness row."""
    latest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        m = __import__("re").search(r"r(\d+)", os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            data = json.load(open(path))
        except (json.JSONDecodeError, OSError):
            continue
        if isinstance(data, dict):
            for name in data:
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def _window_is_stalest_first(order: list[str], latest: dict[str, int]) -> str | None:
    """Return None if the 50-entry head is consistent with the rotation rule
    under this evidence map, else a human-readable violation.

    Rule (VERDICT r6 "Next round" #6): after never-checked entries (which
    must lead) and declared code-changed entries, every in-window entry's
    evidence must be at least as old as every out-of-window entry's.
    """
    from jetstream_spark.queries import _CODE_CHANGED

    window, rest = order[:DRIVER_WINDOW], order[DRIVER_WINDOW:]
    missing_changed = [n for n in _CODE_CHANGED if n not in window]
    if missing_changed:
        return f"_CODE_CHANGED entries outside the window: {missing_changed}"
    never_out = [n for n in rest if n not in latest]
    if never_out:
        return f"never-checked entries outside the window: {never_out}"
    in_rounds = [
        (latest[n], n) for n in window if n in latest and n not in _CODE_CHANGED
    ]
    out_rounds = [(latest[n], n) for n in rest if n in latest]
    if not in_rounds or not out_rounds:
        return None
    max_in = max(in_rounds)
    min_out = min(out_rounds)
    if max_in[0] > min_out[0]:
        return (
            f"window holds {max_in[1]} (evidence r{max_in[0]}) while the staler "
            f"{min_out[1]} (evidence r{min_out[0]}) sits outside — the window "
            "must be the stalest entries after never-checked/code-changed ones"
        )
    return None


def test_window_is_oldest_evidence_first():
    """The 50-slot window must hold the stalest evidence (after the
    never-checked and code-changed tiers).

    The check passes under EITHER the full committed evidence map OR the map
    with the latest round's file excluded: the window is curated before the
    driver writes the current round's CORRECTNESS file, so once that file
    lands, the curation-time view is "all files except the newest". Requiring
    one of the two views keeps the test green at curation time, at judge
    time, and at the next round's start — while still forcing a re-curation
    every round.
    """
    order = _registry_order()
    latest = _evidence_rounds()
    full = _window_is_stalest_first(order, latest)
    if full is None:
        return
    newest = max(latest.values(), default=0)
    prior = {n: r for n, r in latest.items() if r < newest}
    without_newest = _window_is_stalest_first(order, prior)
    assert without_newest is None, (
        f"rotation violated under the full evidence map ({full}) AND under "
        f"the curation-time map excluding round {newest} ({without_newest})"
    )


def test_window_is_stalest_under_full_evidence():
    """The computed order satisfies the rotation rule under the full
    committed evidence map, not only under the curation-time fallback."""
    assert _window_is_stalest_first(_registry_order(), _evidence_rounds()) is None


def test_window_order_tiers_on_synthetic_evidence():
    from jetstream_spark.queries import window_order

    names = ["new_b", "r3_first", "new_a", "changed", "r2_late", "r4", "r2_early", "r3_second"]
    evidence = {
        "r3_first": (3, 0),
        "r3_second": (3, 1),
        "changed": (4, 2),
        "r2_late": (2, 7),
        "r4": (4, 0),
        "r2_early": (2, 1),
    }
    order = window_order(names, evidence, ("changed", "new_a"))
    assert order == [
        "new_b", "new_a",  # never checked, in module order (changed or not)
        "changed",  # code changed since its last check
        "r2_early", "r2_late",  # oldest round first, its file order breaks the tie
        "r3_first", "r3_second",
        "r4",
    ]


def test_load_evidence_keeps_latest_round_and_file_order(tmp_path):
    from jetstream_spark.queries import load_evidence

    def write(name, rows):
        (tmp_path / name).write_text(json.dumps({n: {"hash_match": True} for n in rows}))

    write("CORRECTNESS_r2.json", ["b", "a", "c"])
    write("CORRECTNESS_r10.json", ["c", "a"])  # round 10 sorts after round 2
    (tmp_path / "CORRECTNESS_r11.json").write_text("not json")
    write("CORRECTNESS_r12_notes.json", ["b"])  # not a round file
    assert load_evidence(str(tmp_path)) == {"b": (2, 0), "c": (10, 0), "a": (10, 1)}


def test_no_evidence_files_gives_module_order(tmp_path, monkeypatch):
    import jetstream_spark.queries as registry
    from jetstream_spark.queries import clustering, dedup, eventlog, multimodal, profiling, quality, relational, relational2, relational3, relational4, relational5, sampling, similarity, sketches, text, tokenizer

    monkeypatch.setattr(registry, "_REPO", str(tmp_path))
    modules = (relational, relational2, relational3, relational4, relational5, eventlog, dedup, similarity, clustering, sketches, text, quality, multimodal, sampling, tokenizer, profiling)
    assert list(registry.all_queries()) == [spec.name for m in modules for spec in m.QUERIES]
