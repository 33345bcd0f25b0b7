"""The benchmark's correctness checker and generator, without Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

from check import Delivery, canonical, check_log, check_subscriber, expected_indices, log_ok  # noqa: E402
from gen import NSIDS, did_for, frame_bytes, make_events, stream_rows  # noqa: E402


def wire(ev, time_us: int) -> dict:
    """The edge's JSON frame for a generated event (atproto/wire.py)."""
    frame = {"did": ev.did, "time_us": time_us, "type": {"commit": "com", "account": "acc", "identity": "id"}[ev.kind]}
    if ev.kind == "commit":
        frame["commit"] = {"collection": ev.collection, "rkey": f"e{ev.g}", "type": "c"}
    else:
        frame[ev.kind] = {"did": ev.did, "seq": ev.seq}
    return frame


def receive(events, gs):
    return [(float(i), wire(events[g], 1_000 + g)) for i, g in enumerate(gs)]


EVENTS = make_events(3, 200)
BY_G = {ev.g: ev for ev in EVENTS}


def test_clean_log_passes():
    want = expected_indices(EVENTS)
    assert check_subscriber(receive(EVENTS, want), want, BY_G) == Delivery()


def test_duplicate_is_caught():
    want = expected_indices(EVENTS)
    got = receive(EVENTS, want)
    got.insert(11, got[10])
    d = check_subscriber(got, want, BY_G)
    assert d.duplicated == 1 and d.errors >= 1


def test_gap_is_caught():
    want = expected_indices(EVENTS)
    got = receive(EVENTS, want[:50] + want[53:])
    d = check_subscriber(got, want, BY_G)
    assert d.missing == 3 and d.errors == 3


def test_reorder_is_caught():
    want = expected_indices(EVENTS)
    got = receive(EVENTS, want)
    got[20], got[21] = got[21], got[20]
    d = check_subscriber(got, want, BY_G)
    assert d.out_of_order == 1 and d.missing == 0


def test_filter_leak_is_caught_and_bypass_is_not():
    coll = NSIDS[0]
    want = expected_indices(EVENTS, collections=(coll,))
    assert any(BY_G[g].kind != "commit" for g in want), "account/identity bypass the collection filter"
    leak = next(ev.g for ev in EVENTS if ev.kind == "commit" and ev.collection != coll)
    got = receive(EVENTS, sorted(want + [leak]))
    d = check_subscriber(got, want, BY_G)
    assert d.wrongly_filtered == 1 and d.missing == 0


def test_did_filter_applies_to_every_kind():
    did = EVENTS[0].did
    want = expected_indices(EVENTS, dids={did})
    assert want and all(BY_G[g].did == did for g in want)


def test_mismatched_event_is_caught():
    want = expected_indices(EVENTS)
    got = receive(EVENTS, want)
    got[5][1]["did"] = "did:plc:someoneelse"
    assert check_subscriber(got, want, BY_G).mismatched == 1


def test_log_conservation(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(gs, times):
        part = tmp_path / "log" / "hour_bucket=1"
        part.mkdir(parents=True, exist_ok=True)
        commit_t = pa.struct([("rkey", pa.string())])
        seq_t = pa.struct([("seq", pa.int64())])
        rows = {
            "time_us": pa.array(times, pa.int64()),
            "commit": pa.array([{"rkey": f"e{g}"} for g in gs], commit_t),
            "account": pa.array([None] * len(gs), seq_t),
            "identity": pa.array([None] * len(gs), seq_t),
        }
        pq.write_table(pa.table(rows), part / "b0-0.parquet")
        return str(tmp_path / "log")

    assert log_ok(check_log(write([0, 1, 2], [10, 11, 12]), [0, 1, 2]))
    assert not log_ok(check_log(write([0, 1, 2], [10, 12, 11]), [0, 1, 2]))  # not monotonic in seq
    assert not log_ok(check_log(write([0, 1, 2], [10, 10, 12]), [0, 1, 2]))  # time_us repeated
    assert not log_ok(check_log(write([0, 1], [10, 11]), [0, 1, 2]))  # an event lost


def test_same_seed_gives_identical_frames():
    a = b"".join(frame_bytes(ev) for ev in make_events(5, 300))
    b = b"".join(frame_bytes(ev) for ev in make_events(5, 300))
    assert a == b
    assert a != b"".join(frame_bytes(ev) for ev in make_events(6, 300))
    assert make_events(5, 100) == make_events(5, 300)[:100]


def test_stream_follows_the_events_table():
    """Each event's DID is its row's user, so the DID mix is the table's."""
    rows = stream_rows()
    events = make_events(7, 3000)
    users = {did_for(7, u) for u, _, _ in rows}
    assert all(ev.did in users for ev in events)
    assert len({ev.did for ev in events}) > 1000  # 1,500 users in the table


def test_generated_frames_decode_to_their_events():
    from jetstream_spark.atproto.carcbor import decode_xrpc_frame

    for ev in make_events(9, 100):
        f = decode_xrpc_frame(frame_bytes(ev))
        assert f["kind"] == ev.kind and f["seq"] == ev.seq and f["did"] == ev.did
        if ev.kind == "commit":
            op = f["ops"][0]
            assert op["action"] == ev.action and op["path"] == f"{ev.collection}/e{ev.g}"
            assert (op["record_json"] is None) == (ev.action == "delete")
            if op["record_json"]:
                assert json.loads(op["record_json"])["$type"] == ev.collection


def test_canonical_ignores_row_and_column_order():
    import pandas as pd

    a = pd.DataFrame({"x": [1, 2], "y": [0.5, None]})
    b = pd.DataFrame({"y": [None, 0.5], "x": [2, 1]})
    assert canonical(a) == canonical(b)
    assert canonical(a) != canonical(pd.DataFrame({"x": [1, 2], "y": [0.5, 0.25]}))
