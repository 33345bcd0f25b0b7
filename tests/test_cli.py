"""The `python -m jetstream_spark` server-binary surface: replay, trim,
compact, and serve (edge boot + /metrics scrape) driven as real
subprocesses against a populated log.

Execution shape (r14, VERDICT r13 #2 — the driver's pytest budget): each
test used to run its subprocesses inline, so the module paid ~21 fresh
JVM boots END TO END (~15 s each serial). The subprocess argvs and the
assertions are unchanged, but independent chains now run CONCURRENTLY
from one module-scoped pool (each chain's own invocations stay strictly
ordered — state handoffs inside a chain are the thing under test), and
the tests assert on the captured results. Wall cost: longest chain
instead of the sum. The pool width and each chain's SPARK_GRAFT_CPUS are
derived from the host so that width × cores ≤ host cores: up to 8 chains
at once, each given an equal share (8 × 4 on 32 cores, 4 × 1 on 4).
"""

from __future__ import annotations

import http.client
import json
import os
import signal
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from jetstream_spark.atproto import log as eventlog
from jetstream_spark.atproto.normalize import normalize_frames
from jetstream_spark.atproto.schema import RAW_FRAME_SCHEMA
from tests.fixtures import make_frames

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
POOL_WIDTH = min(8, os.cpu_count() or 1)
CHAIN_CPUS = max(1, (os.cpu_count() or 1) // POOL_WIDTH)
ENV = {**os.environ, "SPARK_GRAFT_CPUS": str(CHAIN_CPUS), "SPARK_GRAFT_DRIVER_MEM": "2g"}


@pytest.fixture(scope="module")
def log_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("clilog"))
    frames = spark.createDataFrame(make_frames(), schema=RAW_FRAME_SCHEMA)
    normalized = normalize_frames(frames).cache()
    h = eventlog.ingest_batch(normalized, d, wall_clock_us=1_000_000, batch_id=0)
    eventlog.ingest_batch(normalized, d, wall_clock_us=h + 1, batch_id=1)
    for b in (0, 1):  # compact refuses buckets with un-marked batches
        eventlog.mark_batch_done(d, b)
    return d


def _run(*args: str, timeout: int = 300) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-m", "jetstream_spark", *args],
        capture_output=True,
        text=True,
        timeout=timeout,
        env=ENV,
        cwd=REPO,
    )


# --- chain bodies (run inside the pool; MUST NOT raise — capture instead) ----


def _chain_log(log_dir: str) -> dict:
    """replay → compact → trim → serve share (and mutate) the one real log,
    so they form a single ordered chain: replay asserts on the full log,
    trim then DROPS bucket 0, serve boots on what remains."""
    res: dict = {}
    res["replay"] = _run("replay", "--data-dir", log_dir, "--limit", "1000000")
    part = os.path.join(log_dir, "hour_bucket=0")
    res["n_parquet_before"] = len(
        [f for f in os.listdir(part) if f.endswith(".parquet")]
    )
    res["compact"] = _run("compact", "--data-dir", log_dir)
    res["n_parquet_after"] = len(
        [f for f in os.listdir(part) if f.endswith(".parquet")]
    )
    res["trim"] = _run("trim", "--data-dir", log_dir, "--event-ttl-hours", "24")
    res["part_survives_trim"] = os.path.isdir(part)

    proc = subprocess.Popen(
        [sys.executable, "-m", "jetstream_spark", "serve", "--data-dir", log_dir,
         "--listen-addr", "127.0.0.1:0"],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        env=ENV,
        cwd=REPO,
    )
    try:
        port = None
        deadline = time.time() + 120
        while time.time() < deadline:
            line = proc.stdout.readline()
            if "serving /subscribe" in line:
                port = int(line.rsplit(":", 1)[1])
                break
        res["serve_port"] = port
        if port:
            try:
                conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
                conn.request("GET", "/metrics")
                resp = conn.getresponse()
                res["serve_status"] = resp.status
                res["serve_body"] = resp.read().decode()
                conn.close()
            except Exception as exc:  # surfaced by the assert, not the pool
                res["serve_error"] = repr(exc)
    finally:
        proc.send_signal(signal.SIGINT)
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
    return res


def _chain_dedup(tmp: str) -> dict:
    docs_dir = os.path.join(tmp, "docs_in")
    os.makedirs(docs_dir)
    base = "a perfectly ordinary document about shuffle boundaries " * 3
    with open(os.path.join(docs_dir, "batch1.json"), "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": base}) + "\n")
        f.write(json.dumps({"doc_id": 2, "text": "unrelated words entirely here " * 4}) + "\n")
    state = os.path.join(tmp, "state")
    res = {"first": _run("dedup-stream", "--docs-dir", docs_dir, "--state-dir", state, "--drain")}
    # second invocation: fresh process re-registers the band table over the
    # existing state and catches the cross-run near-dup
    with open(os.path.join(docs_dir, "batch2.json"), "w") as f:
        f.write(json.dumps({"doc_id": 10, "text": base + " zz"}) + "\n")
    res["second"] = _run("dedup-stream", "--docs-dir", docs_dir, "--state-dir", state, "--drain")
    return res


def _chain_sql(d: str) -> dict:
    return {
        "good": _run(
            "sql",
            "SELECT (SELECT count(*) FROM events_log) AS n_events, "
            "(SELECT count(*) FROM documents) AS n_docs",
            "--data-dir", d,
            "--sf-dir", "/root/testdata/sf0.001",
            "--format", "json",
        ),
        # bad SQL → nonzero exit, parse error surfaced
        "bad": _run("sql", "SELEKT 1", "--data-dir", d),
    }


def _chain_ann(tmp: str, vec_rows: list) -> dict:
    qdir = os.path.join(tmp, "queries_in")
    os.makedirs(qdir)
    with open(os.path.join(qdir, "q.json"), "w") as f:
        for r in vec_rows:
            f.write(
                json.dumps(
                    {"query_id": r["vec_id"], "embedding": [float(x) for x in r["embedding"]]}
                )
                + "\n"
            )
    state = os.path.join(tmp, "state")
    return {
        "run": _run(
            "ann-stream", "--queries-dir", qdir, "--sf-dir", "/root/testdata/sf0.001",
            "--state-dir", state, "--drain",
        )
    }


def _chain_anomaly(tmp: str) -> dict:
    events_dir = os.path.join(tmp, "events_in")
    os.makedirs(events_dir)
    rows = []
    eid = 0
    for h in range(8):  # steady 2/hour baseline
        for m in (5, 35):
            rows.append({"event_id": (eid := eid + 1), "ts": f"2024-03-01T{h:02d}:{m:02d}:00", "event_type": "click"})
    for m in range(12):  # burst hour
        rows.append({"event_id": (eid := eid + 1), "ts": f"2024-03-01T08:{m:02d}:00", "event_type": "click"})
    with open(os.path.join(events_dir, "batch1.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    state = os.path.join(tmp, "state")
    return {
        "run": _run(
            "anomaly-stream", "--events-dir", events_dir, "--state-dir", state,
            "--drain", "--cusum",
        )
    }


def _funnel_rows_full() -> list:
    return [
        {"user_id": 1, "ts": "2024-03-01T10:00:00", "event_type": "view"},
        {"user_id": 1, "ts": "2024-03-01T10:05:00", "event_type": "click"},
        {"user_id": 1, "ts": "2024-03-01T10:10:00", "event_type": "purchase"},
        {"user_id": 2, "ts": "2024-03-01T09:00:00", "event_type": "purchase"},
        {"user_id": 2, "ts": "2024-03-01T09:30:00", "event_type": "view"},
    ]


def _chain_funnel(tmp: str, rows: list) -> dict:
    events_dir = os.path.join(tmp, "events_in")
    os.makedirs(events_dir)
    with open(os.path.join(events_dir, "batch1.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return {
        "run": _run(
            "funnel-stream", "--events-dir", events_dir,
            "--out-dir", os.path.join(tmp, "out"),
            "--checkpoint-dir", os.path.join(tmp, "ck"),
            "--drain",
        )
    }


def _scd2_rows() -> list:
    return [
        {"event_id": 1, "ts": "2024-03-01T10:00:00", "user_id": 1, "props": '{"k": 5}'},
        {"event_id": 2, "ts": "2024-03-01T10:05:00", "user_id": 1, "props": '{"k": 80}'},
        {"event_id": 3, "ts": "2024-03-01T10:06:00", "user_id": 1, "props": '{"k": 90}'},
    ]


def _chain_scd2(tmp: str) -> dict:
    events_dir = os.path.join(tmp, "events_in")
    os.makedirs(events_dir)
    with open(os.path.join(events_dir, "batch1.json"), "w") as f:
        for r in _scd2_rows():
            f.write(json.dumps(r) + "\n")
    state = os.path.join(tmp, "state")
    return {"run": _run("scd2-stream", "--events-dir", events_dir, "--state-dir", state, "--drain")}


def _chain_scd2_compact(tmp: str) -> dict:
    events_dir = os.path.join(tmp, "events_in")
    os.makedirs(events_dir)
    rows = _scd2_rows()
    with open(os.path.join(events_dir, "b1.json"), "w") as f:
        for r in rows[:2]:
            f.write(json.dumps(r) + "\n")
    state = os.path.join(tmp, "state")
    res = {"first": _run("scd2-stream", "--events-dir", events_dir, "--state-dir", state, "--drain")}
    with open(os.path.join(events_dir, "b2.json"), "w") as f:
        f.write(json.dumps(rows[2]) + "\n")
    res["second"] = _run("scd2-stream", "--events-dir", events_dir, "--state-dir", state, "--drain")
    res["compact"] = _run("scd2-stream", "--state-dir", state, "--compact-state")
    # dimension survives compaction verbatim
    res["after"] = _run("scd2-stream", "--events-dir", events_dir, "--state-dir", state, "--drain")
    return res


def _chain_query() -> dict:
    return {
        "list": _run("query", "--list"),
        "run": _run("query", "hll_distinct", "--sf-dir", "/root/testdata/sf0.001", "--format", "json", "--limit", "0"),
        "typo": _run("query", "q1_pricing_sumary"),  # typo -> suggestion, exit 2
        "explain": _run("query", "dedup_exact", "--sf-dir", "/root/testdata/sf0.001", "--explain"),
    }


@pytest.fixture(scope="module")
def cli(spark, log_dir, tmp_path_factory):
    """Run every chain concurrently, inputs staged on this thread first
    (they need the in-process session). Returns {chain: results}."""
    from jetstream_spark.tables import table

    vec_rows = (
        table(spark, "/root/testdata/sf0.001", "embeddings")
        .limit(3)
        .select("vec_id", "embedding")
        .collect()
    )
    sql_dir = str(tmp_path_factory.mktemp("sqllog"))
    frames = spark.createDataFrame(make_frames(), schema=RAW_FRAME_SCHEMA)
    eventlog.ingest_batch(normalize_frames(frames), sql_dir, wall_clock_us=1_000_000, batch_id=0)
    n_sql_log = eventlog.read_log(spark, sql_dir).count()
    # replay's expected line count, read BEFORE the log chain trims bucket 0
    n_log_total = eventlog.read_log(spark, log_dir).count()

    mk = lambda name: str(tmp_path_factory.mktemp(name))
    jobs = {
        "log": (_chain_log, (log_dir,)),
        "dedup": (_chain_dedup, (mk("dedup"),)),
        "sql": (_chain_sql, (sql_dir,)),
        "ann": (_chain_ann, (mk("ann"), vec_rows)),
        "anomaly": (_chain_anomaly, (mk("anomaly"),)),
        "funnel": (_chain_funnel, (mk("funnel"), _funnel_rows_full())),
        "funnel0": (
            _chain_funnel,
            (
                mk("funnel0"),
                [
                    {"user_id": 1, "ts": "2024-03-01T10:00:00", "event_type": "error"},
                    {"user_id": 2, "ts": "2024-03-01T10:05:00", "event_type": "noise"},
                ],
            ),
        ),
        "scd2": (_chain_scd2, (mk("scd2"),)),
        "scd2c": (_chain_scd2_compact, (mk("scd2c"),)),
        "query": (_chain_query, ()),
    }
    with ThreadPoolExecutor(max_workers=POOL_WIDTH) as pool:
        futs = {k: pool.submit(fn, *args) for k, (fn, args) in jobs.items()}
        out = {k: f.result(timeout=1200) for k, f in futs.items()}
    out["sql"]["n_log"] = n_sql_log
    out["log"]["n_total"] = n_log_total
    return out


@pytest.mark.timeout(300)
def test_cli_replay(cli, log_dir, spark):
    # the chain replayed BEFORE trim dropped bucket 0: both ingested batches
    out = cli["log"]["replay"]
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [json.loads(l) for l in out.stdout.splitlines() if l.startswith("{")]
    assert len(lines) == cli["log"]["n_total"]
    times = [f["time_us"] for f in lines]
    assert times == sorted(times)


@pytest.mark.timeout(300)
def test_cli_compact_and_trim(cli):
    res = cli["log"]
    assert res["n_parquet_before"] >= 2
    assert res["compact"].returncode == 0, res["compact"].stderr[-2000:]
    assert res["n_parquet_after"] == 1
    assert res["trim"].returncode == 0, res["trim"].stderr[-2000:]
    # bucket 0 (1970) is far past TTL relative to now → dropped
    assert not res["part_survives_trim"]


@pytest.mark.timeout(300)
def test_cli_dedup_stream_drain(cli):
    out = cli["dedup"]["first"]
    assert out.returncode == 0, out.stderr[-2000:]
    assert "near-dup pairs so far: 0" in out.stdout
    out = cli["dedup"]["second"]
    assert out.returncode == 0, out.stderr[-2000:]
    assert "near-dup pairs so far: 1" in out.stdout


@pytest.mark.timeout(300)
def test_cli_serve_boots_and_scrapes(cli):
    res = cli["log"]
    assert res["serve_port"], "server never reported its port"
    assert "serve_error" not in res, res.get("serve_error")
    assert res["serve_status"] == 200
    assert "jetstream_subscribers_connected" in res["serve_body"]


@pytest.mark.timeout(300)
def test_cli_sql(cli):
    out = cli["sql"]["good"]
    assert out.returncode == 0, out.stderr[-2000:]
    row = json.loads([l for l in out.stdout.splitlines() if l.startswith("{")][0])
    assert row["n_events"] == cli["sql"]["n_log"]
    assert row["n_docs"] > 0
    assert cli["sql"]["bad"].returncode != 0


@pytest.mark.timeout(300)
def test_cli_sql_on_a_log_dir_without_buckets(spark, tmp_path, capsys):
    """A fresh ingest's data dir holds no bucket before its first commit:
    `sql` still runs a statement that does not read the log, instead of
    failing to infer the empty log's schema."""
    from jetstream_spark.__main__ import main

    spark.catalog.dropTempView("events_log")
    (tmp_path / "_maintenance.lock").write_text("1\n")
    assert main(["sql", "SELECT 1 AS one", "--data-dir", str(tmp_path), "--format", "json"]) == 0
    assert json.loads(capsys.readouterr().out.splitlines()[-1]) == {"one": 1}
    assert not spark.catalog.tableExists("events_log")


@pytest.mark.timeout(300)
def test_cli_ann_stream_drain(cli):
    out = cli["ann"]["run"]
    assert out.returncode == 0, out.stderr[-2000:]
    assert "result rows so far: 15" in out.stdout  # 3 queries x top-5


def test_cli_anomaly_stream_drain(cli):
    out = cli["anomaly"]["run"]
    assert out.returncode == 0, out.stderr[-2000:]
    assert "click 2024-03-01 08:00:00 n=12" in out.stdout
    # --cusum prints the drift table from the SAME state (day rollup):
    # one day of data = one cusum row, statistics zero at the baseline day
    assert "cusum click 2024-03-01 n=28" in out.stdout


def test_cli_funnel_stream_drain(cli):
    out = cli["funnel"]["run"]
    assert out.returncode == 0, out.stderr[-2000:]
    # user 1 completes strictly; user 2's pre-view purchase must not count
    assert "step 1 view: 2 users" in out.stdout
    assert "step 2 click: 1 users" in out.stdout
    assert "step 3 purchase: 1 users" in out.stdout


def test_cli_funnel_stream_drain_no_events(cli):
    """ADVICE r8 (low): an input with no funnel-step events writes no sink
    data files — --drain must print an all-zero table, not die on schema
    inference."""
    out = cli["funnel0"]["run"]
    assert out.returncode == 0, out.stderr[-2000:]
    assert "step 1 view: 0 users" in out.stdout
    assert "step 2 click: 0 users" in out.stdout
    assert "step 3 purchase: 0 users" in out.stdout


def test_cli_scd2_stream_drain(cli):
    out = cli["scd2"]["run"]
    assert out.returncode == 0, out.stderr[-2000:]
    assert "dimension rows: 2 (1 current)" in out.stdout
    assert "u1 v2 tier=3" in out.stdout


def test_cli_scd2_stream_compact_state(cli):
    res = cli["scd2c"]
    for step in ("first", "second", "compact"):
        assert res[step].returncode == 0, res[step].stderr[-2000:]
    assert "state compaction: done" in res["compact"].stdout
    # dimension survives compaction verbatim
    assert "dimension rows: 2 (1 current)" in res["after"].stdout


def test_cli_query_list_and_run(cli):
    out = cli["query"]["list"]
    assert out.returncode == 0, out.stderr[-2000:]
    assert "q1_pricing_summary" in out.stdout and "[oracle]" in out.stdout
    out = cli["query"]["run"]
    assert out.returncode == 0, out.stderr[-2000:]
    assert '"exact_distinct"' in out.stdout
    assert cli["query"]["typo"].returncode == 2
    assert "did you mean" in cli["query"]["typo"].stdout
    out = cli["query"]["explain"]
    assert out.returncode == 0, out.stderr[-2000:]
    assert "Physical Plan" in out.stdout


def test_queries_catalog_in_sync():
    """QUERIES.md is generated from the registry; a stale commit fails here."""
    import pathlib
    import subprocess
    import sys

    root = pathlib.Path(__file__).resolve().parent.parent
    r = subprocess.run(
        [sys.executable, str(root / "tools" / "gen_catalog.py"), "--check"],
        cwd=root, capture_output=True, text=True,
    )
    assert r.returncode == 0, r.stdout + r.stderr
