"""S5/S8: pure-Python DAG-CBOR + CAR v1 codec — round-trips, CID
verification and the atproto JSON mapping. The wire frames that carry
them are decoded in test_firehose_ws.py and test_mst.py."""

from __future__ import annotations

import base64

from jetstream_spark.atproto.carcbor import (
    cbor_decode,
    cbor_encode,
    cid_for_block,
    cid_str,
    decode_car,
    encode_car,
    link,
    to_json_value,
)


def test_cbor_scalar_roundtrip():
    cases = [
        0, 1, 23, 24, 255, 256, 65535, 65536, 2**32, -1, -24, -25, -(2**31),
        True, False, None, 1.5, -2.75, "", "hello", "héllo ✓", b"", b"\x00\xff",
        "x" * 300, b"y" * 70000,
    ]
    for v in cases:
        assert cbor_decode(cbor_encode(v)) == v, repr(v)


def test_cbor_nested_and_links():
    cid = cid_for_block(b"some block")
    value = {
        "text": "hi",
        "n": 42,
        "tags": ["a", "b"],
        "embed": {"ref": link(cid), "blob": b"\x01\x02"},
        "nested": [{"deep": [1, [2, [3]]]}],
    }
    out = cbor_decode(cbor_encode(value))
    assert out["text"] == "hi" and out["tags"] == ["a", "b"]
    assert str(out["embed"]["ref"]) == cid_str(cid)
    j = to_json_value(out)
    assert j["embed"]["ref"] == {"$link": cid_str(cid)}
    assert j["embed"]["blob"] == {"$bytes": base64.b64encode(b"\x01\x02").decode()}


def test_cid_form():
    cid = cid_for_block(cbor_encode({"a": 1}))
    s = cid_str(cid)
    assert s.startswith("baf"), "CIDv1 dag-cbor sha256 renders as baf…"
    assert s == s.lower()


def test_car_roundtrip_and_verification():
    records = [cbor_encode({"i": i, "body": "r" * i}) for i in range(1, 4)]
    car = encode_car(records)
    header, index = decode_car(car)
    assert header["version"] == 1
    assert len(index) == 3
    for rec in records:
        assert index[cid_str(cid_for_block(rec))] == rec

    # corrupt one block's payload: its claimed CID no longer matches the
    # content hash, so it must be dropped from the index
    bad = bytearray(car)
    bad[-1] ^= 0xFF
    _, index2 = decode_car(bytes(bad))
    assert len(index2) == 2, "corrupted block must fail CID verification"
