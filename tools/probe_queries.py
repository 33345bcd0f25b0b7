"""Probe named queries: min-of-N wall times as ONE JSON line, and the
alternating A/B that is the repo's only regression judge.

Usage:
    python tools/probe_queries.py [--sf-dir DIR] [--runs N] [--sf1] [--no-warmup] q1 q2 ...
    python tools/probe_queries.py --ab COMMIT [--windows N] [--sf1] [--no-warmup] q1 q2 ...

Bench RATE metrics are probe-able by their bench names alongside queries
(ingest_events_per_sec, delivery_fanout_events_per_sec,
ingest_under_maintenance_events_per_sec) — max-of-runs, and --ab
attributes them in the rate direction (regression iff the baseline rate
floor is >1.15x the HEAD rate floor).

--sf1 scales the base dir 10x first (bench.ensure_scaled_sf1) and probes
against the replica corpus. Each query is preceded by a block-store
release so it measures a clean session.

--ab checks COMMIT out into a git worktree, copies THIS probe tool into
it (identical measurement bytes on both sides), and runs alternating
probe windows — HEAD, baseline, HEAD, ... — each in its own fresh
process/JVM with the same flags, so both code versions are sampled
across the same span of host load. The rule (ab_verdict): per query,
engine regression iff min over HEAD windows > 1.15 x min over baseline
windows; if the baseline code is slow too, it was the host. A
regression verdict resting on fewer than 3 windows per side, or whose
time-adjacent pair median disagrees with the floor rule, escalates
itself to 6 windows before it is printed (needs_escalation). Output is
one JSON document on stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


AB_FACTOR = 1.15


def ab_verdict(windows: dict, factor: float = AB_FACTOR) -> dict:
    """Pure attribution rule over alternating A/B probe windows: per
    query, engine regression iff the best HEAD sample across all HEAD
    windows is more than ``factor`` slower than the best baseline sample
    across all baseline windows. Min-of-windows on BOTH
    sides: host bursts inflate individual windows, and both sides sampled
    the same span of host weather, so comparing the two floors isolates
    the code difference. If the baseline floor is just as slow, it was
    the host, not the engine.

    Rate metrics (names ending ``_per_sec`` — the ingest/fan-out/
    maintenance-tax throughputs) attribute in the rate direction: best =
    MAX across windows on both sides, and the reported ratio is
    baseline_best / head_best, so ratio > factor still reads "engine
    regression" for every metric kind.

    Self-reported confidence annotations (r12: a 2+2-window run read two
    "engine regressions" on paths with ZERO changed code — min-of-2 vs
    min-of-2 of a noisy host distribution flips easily — and the 3+3
    rerun on the same commits cleared both, heads marginally FASTER):
    a regression verdict resting on fewer than 3 windows per side
    carries ``low_power: true`` — rerun with ``--windows 6`` before
    believing it. Separately, every query reports the median ratio over
    TIME-ADJACENT opposite-side window pairs (``pair_ratio_median``),
    where monotone session drift mostly cancels; a regression whose
    pairwise median does NOT clear the factor carries ``drift_suspect:
    true``. The floor rule still decides ``engine_regression`` (an
    annotated protocol, not a changed one)."""
    head_best: dict[str, float] = {}
    base_best: dict[str, float] = {}
    ordered: list[dict] = []
    for name, w in sorted(
        windows.items(),
        key=lambda kv: int("".join(c for c in kv[0].split("_")[0] if c.isdigit()) or 0),
    ):
        ordered.append(w)
        tgt = head_best if w.get("side") == "head" else base_best
        for q, v in (w.get("queries") or {}).items():
            if isinstance(v, (int, float)):
                if q.endswith("_per_sec"):
                    tgt[q] = max(float(v), tgt.get(q, float("-inf")))
                else:
                    tgt[q] = min(float(v), tgt.get(q, float("inf")))

    def _pair_ratios(q: str) -> list[float]:
        out = []
        for a, b in zip(ordered, ordered[1:]):  # time-adjacent neighbors
            if a.get("side") == b.get("side"):
                continue
            head_w, base_w = (a, b) if a.get("side") == "head" else (b, a)
            hv = (head_w.get("queries") or {}).get(q)
            bv = (base_w.get("queries") or {}).get(q)
            if not isinstance(hv, (int, float)) or not isinstance(bv, (int, float)):
                continue
            if q.endswith("_per_sec"):
                if hv > 0:
                    out.append(float(bv) / float(hv))
            elif bv > 0:
                out.append(float(hv) / float(bv))
        return out

    verdict: dict = {}
    for q in sorted(set(head_best) & set(base_best)):
        if q.endswith("_per_sec"):
            ratio = round(base_best[q] / head_best[q], 3) if head_best[q] > 0 else None
        else:
            ratio = round(head_best[q] / base_best[q], 3) if base_best[q] > 0 else None
        regression = bool(ratio is not None and ratio > factor)
        entry = {
            "head_best": head_best[q],
            "baseline_best": base_best[q],
            "ratio": ratio,
            "engine_regression": regression,
        }
        pairs = _pair_ratios(q)
        if pairs:
            # true median (ADVICE r12 #4): taking the upper-middle element
            # for even-length lists biased the drift annotation toward the
            # larger ratio, making drift_suspect LESS likely to fire
            pair_median = round(statistics.median(pairs), 3)
            entry["pair_ratio_median"] = pair_median
            if regression and pair_median <= factor:
                entry["drift_suspect"] = True
        if regression:
            n_head = sum(
                1
                for w in ordered
                if w.get("side") == "head"
                and isinstance((w.get("queries") or {}).get(q), (int, float))
            )
            n_base = sum(
                1
                for w in ordered
                if w.get("side") != "head"
                and isinstance((w.get("queries") or {}).get(q), (int, float))
            )
            if min(n_head, n_base) < 3:
                entry["low_power"] = True
        verdict[q] = entry
    return verdict


ESCALATE_WINDOWS = 6  # the r12 incident's decisive rerun size (3 per side)


def needs_escalation(verdict: dict, n_windows: int, target: int = ESCALATE_WINDOWS) -> bool:
    """Self-escalation (VERDICT r12 #5): a regression verdict
    annotated ``low_power`` or ``drift_suspect`` must not be BELIEVED at
    its current window count — the r12 window-4 incident showed a 2+2
    verdict gets acted on even with the flag printed. Instead of relying
    on the operator to read the annotation, run_ab extends the run with
    further alternating windows until either the annotations clear, the
    regression clears, or ``target`` total windows have been sampled
    (at which point the verdict stands on full power)."""
    if n_windows >= target:
        return False
    return any(
        e.get("engine_regression") and (e.get("low_power") or e.get("drift_suspect"))
        for e in verdict.values()
    )


# Bench rate metrics probe-able by name like queries, so a rate is judged
# by the same A/B as a query. Each entry returns the rate from ONE
# measurement (the bench functions carry their own internal warmup
# exclusion); the probe takes max-of-runs.
def _rate_probe(name: str):
    import bench

    if name == "ingest_events_per_sec":
        fn = getattr(bench, "bench_ingest_pipeline", None)
        if fn is None:
            return None
        return lambda spark, sf_dir: (lambda sec, n, _c: round(n / sec, 1))(*fn(spark, sf_dir))
    if name == "delivery_fanout_events_per_sec":
        fn = getattr(bench, "bench_delivery_fanout", None)
        if fn is None:
            return None
        return lambda spark, sf_dir: fn(spark, sf_dir)["events_per_sec_per_sub"]
    if name == "ingest_under_maintenance_events_per_sec":
        fn = getattr(bench, "bench_ingest_under_maintenance", None)
        if fn is None:
            return None  # baseline checkout predates the metric: no sample
        return lambda spark, sf_dir: fn(spark, sf_dir)["events_per_sec"]
    return None


def _run_window(tree: str, args) -> dict:
    """One probe window in its own process/JVM rooted at ``tree`` (the
    tool copy inside that tree imports that tree's engine), with every
    measurement flag of the A/B run forwarded."""
    import subprocess

    cmd = [
        sys.executable,
        os.path.join(tree, "tools", "probe_queries.py"),
        "--sf-dir",
        args.sf_dir,
        "--runs",
        str(args.runs),
        *(["--sf1"] if args.sf1 else []),
        *(["--no-warmup"] if args.no_warmup else []),
        *args.queries,
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=tree)
    if proc.returncode != 0:
        raise RuntimeError(
            f"probe window failed in {tree}: {proc.stderr.strip().splitlines()[-5:]}"
        )
    return json.loads(proc.stdout.strip().splitlines()[-1])


def run_ab(args) -> int:
    """The alternating worktree A/B (ab_verdict's rule, self-escalating)."""
    import shutil
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def git(*a: str) -> str:
        return subprocess.run(
            ["git", *a], cwd=repo, capture_output=True, text=True, check=True
        ).stdout.strip()

    base_sha = git("rev-parse", "--short", args.ab)
    head_sha = git("rev-parse", "--short", "HEAD")
    # the head windows measure the WORKING TREE — evidence must say when
    # that tree differs from the commit it names
    head_dirty = bool(git("status", "--porcelain", "--untracked-files=no"))
    tree = os.path.join("/tmp", f"jetstream_ab_{base_sha}")
    if not os.path.isdir(tree):
        git("worktree", "add", "--detach", tree, args.ab)
    # identical measurement bytes on both sides: the CURRENT tool is
    # copied over the baseline checkout's copy (old commits may predate
    # protocol fixes, or the tool itself)
    os.makedirs(os.path.join(tree, "tools"), exist_ok=True)
    shutil.copy2(os.path.abspath(__file__), os.path.join(tree, "tools", "probe_queries.py"))

    windows: dict = {}

    def _window(i: int, side: str) -> None:
        name = f"W{i}_{'head' if side == 'head' else 'baseline'}"
        print(f"[ab] window {name}", file=sys.stderr, flush=True)
        w = _run_window(repo if side == "head" else tree, args)
        w["side"] = side
        windows[name] = w

    sides = ["head", "base"] * ((args.windows + 1) // 2)
    for i, side in enumerate(sides[: args.windows], start=1):
        _window(i, side)
    verdict = ab_verdict(windows)
    escalated_from = None
    # self-escalation (VERDICT r12 #5): a low_power/drift_suspect
    # regression verdict extends itself to ESCALATE_WINDOWS instead of
    # relying on the operator to read the annotation — both sides keep
    # alternating, so the added windows sample the same host load
    while needs_escalation(verdict, len(windows)):
        if escalated_from is None:
            escalated_from = len(windows)
        i = len(windows) + 1
        print(
            f"[ab] verdict under-powered/drift-suspect at {len(windows)} windows: "
            f"escalating toward {ESCALATE_WINDOWS}",
            file=sys.stderr,
            flush=True,
        )
        _window(i, "head" if i % 2 == 1 else "base")
        _window(i + 1, "base" if i % 2 == 1 else "head")
        verdict = ab_verdict(windows)
    out = {
        "purpose": (
            "worktree A/B: alternating HEAD/baseline probe windows, each "
            "a fresh process/JVM with session warmup + min-of-N + "
            "block-store release, sampling the same span of host load. "
            f"Engine regression iff head floor > {AB_FACTOR} x baseline "
            "floor; an under-powered or drift-suspect regression "
            f"escalates itself to {ESCALATE_WINDOWS} windows."
        ),
        "head_commit": head_sha,
        "head_uncommitted_changes": head_dirty,
        "baseline_commit": base_sha,
        "worktree": tree,
        "windows": windows,
        "verdict": verdict,
    }
    if escalated_from is not None:
        out["escalated_from_windows"] = escalated_from
        out["escalated_to_windows"] = len(windows)
    print(json.dumps(out, indent=1, sort_keys=True))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf1", action="store_true")
    ap.add_argument("--no-warmup", action="store_true")
    ap.add_argument("--ab", metavar="COMMIT", help="alternating worktree A/B against COMMIT")
    ap.add_argument("--windows", type=int, default=4, help="alternating A/B windows (--ab only)")
    args = ap.parse_args()
    if args.ab:
        return run_ab(args)

    import bench
    from jetstream_spark.queries import all_queries
    from jetstream_spark.session import get_spark

    specs = all_queries()
    rate_names = [q for q in args.queries if q.endswith("_per_sec")]
    query_names = [q for q in args.queries if not q.endswith("_per_sec")]
    unknown = [q for q in query_names if q not in specs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    spark = get_spark("probe_queries")
    sf_dir = args.sf_dir
    if args.sf1:
        sf_dir = bench.ensure_scaled_sf1(spark, sf_dir)

    out: dict = {"sf_dir": sf_dir, "runs": args.runs, "queries": {}, "samples": {}}
    # session warmup: one unrecorded pass over every query first. The
    # bench measures inside a long-lived session (dozens of queries of
    # JIT/codegen/Arrow warmup before any flagged query runs); a fresh
    # session's first samples plateau cold 2x-8x on this box class and
    # would bias a min-of-N probe high.
    if not args.no_warmup:
        for name in query_names:
            specs[name].build(spark, sf_dir).write.format("noop").mode("overwrite").save()
    for name in query_names:
        samples = []
        for _ in range(args.runs):
            bench._release_memory(spark)
            t0 = time.time()
            specs[name].build(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 3))
        out["queries"][name] = min(samples)
        out["samples"][name] = samples
    # rate metrics: max-of-runs (throughput floor analogue); each bench
    # function excludes its own warmup internally. A baseline worktree
    # that predates a metric yields no sample (skipped by ab_verdict).
    for name in rate_names:
        probe = _rate_probe(name)
        if probe is None:
            continue
        samples = []
        for _ in range(args.runs):
            bench._release_memory(spark)
            samples.append(probe(spark, sf_dir))
        out["queries"][name] = max(samples)
        out["samples"][name] = samples
    out["wall_clock"] = time.strftime("%Y-%m-%dT%H:%M:%S")
    print(json.dumps(out, sort_keys=True))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
