"""Repo MST path-walk (reference: GetRecordBytes(ctx, op.Path),
pkg/consumer/consumer.go:222): canonical build from {path: record},
walk-by-path == CID-index lookup, and decoder robustness (malformed
frames raise CborError, never IndexError/struct.error)."""

from __future__ import annotations

import json

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from jetstream_spark.atproto.carcbor import (
    CborError,
    cbor_decode,
    cbor_encode,
    cid_for_block,
    cid_str,
    decode_car,
    decode_xrpc_frame,
    encode_car,
    link,
    mst_build,
    mst_get_record_bytes,
    mst_walk,
)


def _paths(n: int) -> list[str]:
    return [f"app.bsky.feed.post/rkey{i:04d}" for i in range(n)]


def _records(paths: list[str]) -> dict[str, bytes]:
    return {p: cbor_encode({"$type": "app.bsky.feed.post", "text": f"rec {p}"}) for p in paths}


@pytest.mark.parametrize("n", [0, 1, 2, 7, 64, 300])
def test_mst_build_then_walk_every_path(n):
    records = _records(_paths(n))
    root_cid, blocks = mst_build(records)
    for path, rec in records.items():
        assert mst_walk(blocks, root_cid, path) == rec
    assert mst_walk(blocks, root_cid, "app.bsky.feed.post/absent") is None
    assert mst_walk(blocks, root_cid, "") is None or n == 0


def test_mst_walk_equals_cid_index_resolution():
    """The walk and the CID-index lookup must land on the same block for
    every op — the equivalence that justifies the CID-first fast path."""
    records = _records(_paths(50))
    root_cid, blocks = mst_build(records)
    for path, rec in records.items():
        by_cid = blocks[cid_str(cid_for_block(rec))]
        by_path = mst_walk(blocks, root_cid, path)
        assert by_path == by_cid


def test_mst_get_record_bytes_from_commit():
    records = _records(_paths(10))
    root_cid, blocks = mst_build(records)
    commit = cbor_encode({"version": 3, "data": link(root_cid), "rev": "r1"})
    blocks[cid_str(cid_for_block(commit))] = commit
    ccid = cid_str(cid_for_block(commit))
    for path, rec in records.items():
        assert mst_get_record_bytes(blocks, ccid, path) == rec
    assert mst_get_record_bytes(blocks, ccid, "nope/none") is None
    assert mst_get_record_bytes(blocks, "bafy-not-there", "x") is None


@settings(max_examples=30, deadline=None)
@given(
    st.sets(
        st.text(
            alphabet="abcdefghijklmnopqrstuvwxyz0123456789.-/",
            min_size=1,
            max_size=40,
        ),
        max_size=40,
    )
)
def test_mst_property_roundtrip(paths):
    records = {p: cbor_encode({"k": p}) for p in paths}
    root_cid, blocks = mst_build(records)
    for p, rec in records.items():
        assert mst_walk(blocks, root_cid, p) == rec
    # a path not in the set resolves to None
    absent = "zz/absent-key-zz"
    if absent not in records:
        assert mst_walk(blocks, root_cid, absent) is None


def test_xrpc_commit_resolves_record_by_path_without_cid():
    """An op with no usable CID must still get record_json via the MST walk
    from the CAR's commit root — the reference's path-resolution shape."""
    records = _records(_paths(5))
    root_cid, blocks = mst_build(records)
    commit = cbor_encode({"version": 3, "data": link(root_cid), "rev": "r9"})
    all_blocks = [commit] + list(blocks.values())
    car = encode_car(all_blocks, roots=[cid_for_block(commit)])
    path = _paths(5)[3]
    header = cbor_encode({"op": 1, "t": "#commit"})
    body = cbor_encode(
        {
            "repo": "did:plc:alice",
            "seq": 7,
            "rev": "r9",
            "tooBig": False,
            "blocks": car,
            "ops": [{"action": "create", "path": path, "cid": None}],
        }
    )
    frame = decode_xrpc_frame(header + body)
    assert frame is not None and frame["kind"] == "commit"
    (op,) = frame["ops"]
    assert op["cid"] is None
    rec = json.loads(op["record_json"])
    assert rec["text"] == f"rec {path}"


def test_mst_resolved_record_must_match_claimed_cid(spark):
    """S7 on the path fallback (consumer.go:229-231): an op whose claimed
    CID names no block in the CAR gets its record by walking the MST, and
    that record's own CID, not the claim, meets the CID check, so a record
    whose bytes hash elsewhere yields no row. Its sibling op, whose CID is
    in the CAR, still does."""
    from jetstream_spark.atproto.normalize import normalize_frames
    from jetstream_spark.atproto.schema import RAW_FRAME_SCHEMA

    paths = _paths(2)
    records = _records(paths)
    root_cid, blocks = mst_build(records)
    commit = cbor_encode({"version": 3, "data": link(root_cid), "rev": "r9"})
    car = encode_car([commit] + list(blocks.values()), roots=[cid_for_block(commit)])
    claimed = cid_for_block(cbor_encode({"text": "not the record"}))
    assert cid_str(claimed) not in blocks
    body = cbor_encode(
        {
            "repo": "did:plc:alice",
            "seq": 7,
            "rev": "r9",
            "tooBig": False,
            "blocks": car,
            "ops": [
                {"action": "create", "path": paths[0], "cid": link(cid_for_block(records[paths[0]]))},
                {"action": "create", "path": paths[1], "cid": link(claimed)},
            ],
        }
    )
    frame = decode_xrpc_frame(cbor_encode({"op": 1, "t": "#commit"}) + body)
    rows = normalize_frames(spark.createDataFrame([frame], schema=RAW_FRAME_SCHEMA)).collect()
    assert [r["commit"]["rkey"] for r in rows] == [paths[0].split("/")[1]]


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=200))
def test_cbor_decode_malformed_raises_cborerror_only(data):
    """Bounds hardening: arbitrary bytes either decode or raise CborError —
    never IndexError/struct.error/UnicodeDecodeError (which would kill a
    streaming partition task on one corrupt wire frame)."""
    try:
        cbor_decode(data)
    except CborError:
        pass


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=200))
def test_decode_car_malformed_raises_cborerror_only(data):
    try:
        decode_car(data)
    except CborError:
        pass


@settings(max_examples=100, deadline=None)
@given(st.binary(min_size=1, max_size=120))
def test_truncated_valid_frames_raise_cborerror(data):
    """Truncations of a VALID encoded item must raise CborError cleanly."""
    full = cbor_encode({"k": ["abc", 1, data.decode("latin-1")], "b": data})
    for cut in (1, len(full) // 2, len(full) - 1):
        if 0 < cut < len(full):
            with pytest.raises(CborError):
                cbor_decode(full[:cut])
