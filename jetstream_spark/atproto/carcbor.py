"""S5/S8 — pure-Python DAG-CBOR + CAR v1 decode (no external libs).

Reference semantics (pkg/consumer/consumer.go:177-181, 234-243):
a commit frame carries `blocks`, a CAR v1 archive; the consumer reads the
repo from the CAR, resolves each op's record block, verifies the record
CID against the op's CID, and transcodes the CBOR record to JSON
(data.UnmarshalCBOR → json.Marshal). That is exactly what this module
does, implemented from the public specs:

  - DAG-CBOR: RFC 8949 subset — definite lengths only, tag 42 = CID link
    (byte string with a 0x00 identity-multibase prefix);
  - CID v1: 0x01 + codec varint (0x71 dag-cbor) + multihash
    (0x12 sha2-256 + length + digest), rendered as 'b' + lowercase
    base32 (the familiar "bafy…" form) — CIDs here are COMPUTED, not
    faked, so verification is real;
  - CAR v1: varint-framed blocks, each `varint(len) | cid | data`, with a
    DAG-CBOR header {version: 1, roots: [...]}.

Simplification vs the reference: records are resolved by the op's record
CID against the block index rather than walking the repo MST by path —
the op carries the CID of the record it references, so the lookup lands
on the same block. Only when that CID names no block in the CAR does the
decoder walk the MST by path, and then the record carries the CID of the
block it found, so the S7 check still compares real bytes against the
op's claim. JSON mapping follows the atproto data model: bytes →
{"$bytes": base64}, links → {"$link": cid}.

The decoder runs inside DataSource partitions / mapInPandas — the Python
boundary the transport already owns — so it adds no new serialization
seam, and every partition decodes its own frames independently (S2).
"""

from __future__ import annotations

import base64
import hashlib
import json
import struct

# --- varint (unsigned LEB128) --------------------------------------------------


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    # Bounded: a uint64 LEB128 varint is at most 10 bytes; a truncated or
    # runaway continuation raises CborError instead of IndexError so call
    # sites can treat malformed frames as data, not task-killing crashes.
    result = 0
    shift = 0
    for _ in range(10):
        if pos >= len(buf):
            raise CborError("truncated varint")
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not (b & 0x80):
            return result, pos
        shift += 7
    raise CborError("varint longer than 10 bytes")


def _write_varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


# --- CID -----------------------------------------------------------------------

_DAG_CBOR_CODEC = 0x71
_SHA2_256 = 0x12


def cid_for_block(data: bytes, codec: int = _DAG_CBOR_CODEC) -> bytes:
    """CID v1 bytes for a block: version + codec + sha2-256 multihash."""
    digest = hashlib.sha256(data).digest()
    return bytes([0x01]) + _write_varint(codec) + bytes([_SHA2_256, len(digest)]) + digest


def cid_str(cid: bytes) -> str:
    """Multibase base32-lower rendering ('b' prefix) — the canonical CIDv1
    text form the reference compares (op.Cid.String())."""
    return "b" + base64.b32encode(cid).decode().lower().rstrip("=")


def _cid_byte_len(buf: bytes, pos: int) -> int:
    """Length of the CID starting at pos (CID v0 or v1)."""
    start = pos
    if pos + 2 > len(buf):
        raise CborError("truncated CID")
    if buf[pos] == 0x12 and buf[pos + 1] == 0x20:  # CIDv0: bare sha256 multihash
        return 34
    _, pos = _read_varint(buf, pos)  # version
    _, pos = _read_varint(buf, pos)  # codec
    _, pos = _read_varint(buf, pos)  # hash fn
    size, pos = _read_varint(buf, pos)  # digest size
    if pos + size > len(buf):
        raise CborError("truncated CID digest")
    return pos + size - start


# --- DAG-CBOR decode ------------------------------------------------------------


class CborError(ValueError):
    pass


def _decode_item(buf: bytes, pos: int):
    # Every read is bounds-checked: truncated/malformed input raises
    # CborError (never IndexError/struct.error), so one corrupt wire frame
    # can be skipped at the call site instead of killing the partition task.
    if pos >= len(buf):
        raise CborError("truncated CBOR item")
    initial = buf[pos]
    pos += 1
    mt, info = initial >> 5, initial & 0x1F
    if info < 24:
        arg = info
    elif info in (24, 25, 26, 27):
        size = 1 << (info - 24)
        if pos + size > len(buf):
            raise CborError("truncated CBOR length argument")
        arg = int.from_bytes(buf[pos : pos + size], "big")
        pos += size
    else:
        raise CborError("indefinite lengths are not DAG-CBOR")

    if mt == 0:  # unsigned int
        return arg, pos
    if mt == 1:  # negative int
        return -1 - arg, pos
    if mt == 2:  # bytes
        if pos + arg > len(buf):
            raise CborError("truncated byte string")
        return bytes(buf[pos : pos + arg]), pos + arg
    if mt == 3:  # text
        if pos + arg > len(buf):
            raise CborError("truncated text string")
        try:
            return buf[pos : pos + arg].decode("utf-8"), pos + arg
        except UnicodeDecodeError as e:
            raise CborError(f"invalid utf-8 in text string: {e}") from e
    if mt == 4:  # array
        if arg > len(buf) - pos:  # each element is >= 1 byte
            raise CborError("array count exceeds remaining bytes")
        out = []
        for _ in range(arg):
            v, pos = _decode_item(buf, pos)
            out.append(v)
        return out, pos
    if mt == 5:  # map (string keys in DAG-CBOR)
        if arg > (len(buf) - pos) // 2:  # each pair is >= 2 bytes
            raise CborError("map count exceeds remaining bytes")
        m = {}
        for _ in range(arg):
            k, pos = _decode_item(buf, pos)
            v, pos = _decode_item(buf, pos)
            m[k] = v
        return m, pos
    if mt == 6:  # tag — DAG-CBOR allows only 42 (CID link)
        if arg != 42:
            raise CborError(f"unexpected CBOR tag {arg}")
        inner, pos = _decode_item(buf, pos)
        if not isinstance(inner, bytes) or inner[:1] != b"\x00":
            raise CborError("tag 42 payload must be identity-multibase CID bytes")
        return _Link(inner[1:]), pos
    if mt == 7:
        if info == 20:
            return False, pos
        if info == 21:
            return True, pos
        if info == 22:
            return None, pos
        if info == 26:  # float32 (accepted on read)
            return struct.unpack(">f", buf[pos - 4 : pos])[0], pos
        if info == 27:  # float64 (the DAG-CBOR float encoding)
            return struct.unpack(">d", buf[pos - 8 : pos])[0], pos
    raise CborError(f"unsupported CBOR item: major={mt} info={info}")


class _Link:
    """A decoded tag-42 CID link."""

    __slots__ = ("cid",)

    def __init__(self, cid: bytes):
        self.cid = cid

    def __str__(self) -> str:
        return cid_str(self.cid)


def cbor_decode(buf: bytes):
    value, pos = _decode_item(buf, 0)
    if pos != len(buf):
        raise CborError(f"{len(buf) - pos} trailing bytes after CBOR item")
    return value


def cbor_decode_prefix(buf: bytes, pos: int = 0):
    """Decode one CBOR item starting at pos → (value, next_pos). The XRPC
    event-stream framing is two concatenated CBOR items (header, body)."""
    return _decode_item(buf, pos)


# --- DAG-CBOR encode (tests + CAR headers) --------------------------------------


def _encode_head(mt: int, arg: int) -> bytes:
    if arg < 24:
        return bytes([(mt << 5) | arg])
    for info, size in ((24, 1), (25, 2), (26, 4), (27, 8)):
        if arg < (1 << (8 * size)):
            return bytes([(mt << 5) | info]) + arg.to_bytes(size, "big")
    raise CborError("argument too large")


def cbor_encode(value) -> bytes:
    if value is False:
        return b"\xf4"
    if value is True:
        return b"\xf5"
    if value is None:
        return b"\xf6"
    if isinstance(value, _Link):
        inner = b"\x00" + value.cid
        return _encode_head(6, 42) + _encode_head(2, len(inner)) + inner
    if isinstance(value, int):
        return _encode_head(0, value) if value >= 0 else _encode_head(1, -1 - value)
    if isinstance(value, float):
        return b"\xfb" + struct.pack(">d", value)
    if isinstance(value, bytes):
        return _encode_head(2, len(value)) + value
    if isinstance(value, str):
        b = value.encode("utf-8")
        return _encode_head(3, len(b)) + b
    if isinstance(value, list):
        return _encode_head(4, len(value)) + b"".join(cbor_encode(v) for v in value)
    if isinstance(value, dict):
        # DAG-CBOR map key order: length-first then lexicographic over utf-8
        items = sorted(value.items(), key=lambda kv: (len(kv[0].encode()), kv[0].encode()))
        return _encode_head(5, len(items)) + b"".join(
            cbor_encode(k) + cbor_encode(v) for k, v in items
        )
    raise CborError(f"cannot encode {type(value).__name__}")


def link(cid: bytes) -> _Link:
    return _Link(cid)


# --- atproto JSON mapping -------------------------------------------------------


def to_json_value(value):
    """Decoded CBOR → the atproto JSON data model (data.UnmarshalCBOR →
    json.Marshal): bytes become {"$bytes": base64}, links {"$link": cid}."""
    if isinstance(value, _Link):
        return {"$link": str(value)}
    if isinstance(value, bytes):
        return {"$bytes": base64.b64encode(value).decode()}
    if isinstance(value, list):
        return [to_json_value(v) for v in value]
    if isinstance(value, dict):
        return {k: to_json_value(v) for k, v in value.items()}
    return value


# --- CAR v1 ---------------------------------------------------------------------


def encode_car(blocks: list[bytes], roots: list[bytes] | None = None) -> bytes:
    """CAR v1 from raw DAG-CBOR blocks; CIDs are computed (sha2-256)."""
    if roots is None:
        roots = [cid_for_block(blocks[0])] if blocks else []
    header = cbor_encode({"version": 1, "roots": [link(r) for r in roots]})
    out = bytearray(_write_varint(len(header)) + header)
    for data in blocks:
        cid = cid_for_block(data)
        section = cid + data
        out += _write_varint(len(section)) + section
    return bytes(out)


def decode_car(buf: bytes) -> tuple[dict, dict[str, bytes]]:
    """→ (header, {cid_str: block_bytes}). Every block's CID is REVERIFIED
    against its content (sha2-256) — a corrupted block never enters the
    index, which is the S7 integrity contract at the transport layer."""
    pos = 0
    hlen, pos = _read_varint(buf, pos)
    header = cbor_decode(buf[pos : pos + hlen])
    pos += hlen
    index: dict[str, bytes] = {}
    while pos < len(buf):
        slen, pos = _read_varint(buf, pos)
        if pos + slen > len(buf):
            raise CborError("truncated CAR section")
        section = buf[pos : pos + slen]
        pos += slen
        clen = _cid_byte_len(section, 0)
        cid, data = section[:clen], section[clen:]
        if cid[:1] == b"\x01" and cid_for_block(data, codec=_read_varint(cid, 1)[0]) != cid:
            continue  # content does not hash to the claimed CID — drop
        index[cid_str(cid)] = data
    return header, index


# --- repo MST (path → record resolution) ----------------------------------------
#
# The reference resolves a commit op's record bytes BY PATH from the decoded
# repo MST (pkg/consumer/consumer.go:222, `GetRecordBytes(ctx, op.Path)`).
# Firehose ops always carry the record CID too, so the CID-index lookup lands
# on the same block — but path-only resolution needs the walk. Implemented
# from the public atproto repository spec: an MST node is a DAG-CBOR map
#   {"l": <link|null>,                    — subtree left of the first entry
#    "e": [{"p": <int>,                   — bytes shared with the PREVIOUS
#           "k": <bytes>,                 —   key in this node; k = suffix
#           "v": <link>,                  — record block
#           "t": <link|null>}, ...]}      — subtree right of this entry
# with keys sorted, and a key's layer = floor(count of leading zero bits of
# sha256(key) / 2) — deterministic, so the same record set always builds the
# same tree (and therefore the same CIDs).


def _mst_key_layer(key: bytes) -> int:
    digest = hashlib.sha256(key).digest()
    zeros = 0
    for byte in digest:
        if byte == 0:
            zeros += 8
            continue
        zeros += 8 - byte.bit_length()
        break
    return zeros // 2


def mst_build(records: dict[str, bytes]) -> tuple[bytes, dict[str, bytes]]:
    """Canonical MST for {path: record_block_bytes} → (root CID bytes,
    {cid_str: block}) with record AND node blocks included."""
    blocks: dict[str, bytes] = {}

    def put(data: bytes) -> _Link:
        cid = cid_for_block(data)
        blocks[cid_str(cid)] = data
        return _Link(cid)

    items = []
    for path in sorted(records):
        key = path.encode("utf-8")
        items.append((key, put(records[path]), _mst_key_layer(key)))

    def build(sub_items: list, layer: int) -> _Link:
        l_link = None
        entries: list[dict] = []
        run: list = []

        def attach(sub: _Link | None) -> None:
            nonlocal l_link
            if sub is None:
                return
            if entries:
                entries[-1]["t"] = sub
            else:
                l_link = sub

        for it in sub_items:
            if it[2] >= layer:  # == layer by construction (layer is the max)
                attach(build(run, max(d for _, _, d in run)) if run else None)
                run = []
                entries.append({"k": it[0], "v": it[1], "t": None})
            else:
                run.append(it)
        attach(build(run, max(d for _, _, d in run)) if run else None)

        prev = b""
        packed = []
        for e in entries:
            k = e["k"]
            p = 0
            while p < min(len(prev), len(k)) and prev[p] == k[p]:
                p += 1
            packed.append({"p": p, "k": k[p:], "v": e["v"], "t": e["t"]})
            prev = k
        return put(cbor_encode({"l": l_link, "e": packed}))

    if items:
        root = build(items, max(d for _, _, d in items))
    else:
        root = put(cbor_encode({"l": None, "e": []}))
    return root.cid, blocks


def mst_walk(index: dict[str, bytes], root_link, path: str) -> bytes | None:
    """Resolve a record's block bytes by path, walking the MST from
    `root_link` (a _Link or CID bytes) through the block index. Returns
    None for absent paths / unresolvable subtrees (partial CARs)."""
    key = path.encode("utf-8")
    node_link = root_link if isinstance(root_link, _Link) else _Link(root_link)
    while node_link is not None:
        blk = index.get(str(node_link))
        if blk is None:
            return None
        node = cbor_decode(blk)
        if not isinstance(node, dict):
            return None
        descend = node.get("l")
        prev = b""
        for ent in node.get("e") or []:
            p = ent.get("p", 0)
            ek = prev[:p] + (ent.get("k") or b"")
            prev = ek
            if ek == key:
                v = ent.get("v")
                return index.get(str(v)) if isinstance(v, _Link) else None
            if ek < key:
                descend = ent.get("t")
            else:
                break  # keys are sorted: target can only be left of here
        node_link = descend if isinstance(descend, _Link) else None
    return None


def mst_get_record_bytes(index: dict[str, bytes], commit_cid: str, path: str) -> bytes | None:
    """The reference's GetRecordBytes shape (consumer.go:222): commit block →
    its `data` MST root → walk by path."""
    commit_bytes = index.get(commit_cid)
    if commit_bytes is None:
        return None
    try:
        commit = cbor_decode(commit_bytes)
    except CborError:
        return None
    data = commit.get("data") if isinstance(commit, dict) else None
    if not isinstance(data, _Link):
        return None
    return mst_walk(index, data, path)


# --- XRPC event-stream frame decode (the real upstream framing) -----------------


def decode_xrpc_frame_seq(data: bytes) -> int | None:
    """Just the `seq` of one subscribeRepos wire frame — the cheap decode
    used by the planning tail connection (streaming/firehose.py), which
    needs cursor positions but never the CAR payload. Error frames and
    unknown/seq-less bodies return None."""
    header, pos = cbor_decode_prefix(data, 0)
    if header.get("op") == -1:
        return None
    body, _ = cbor_decode_prefix(data, pos)
    seq = body.get("seq") if isinstance(body, dict) else None
    return seq if isinstance(seq, int) else None


def decode_xrpc_frame(data: bytes) -> dict | None:
    """One `com.atproto.sync.subscribeRepos` websocket BINARY frame → the
    engine's RAW_FRAME_SCHEMA dict. The wire is two concatenated DAG-CBOR
    items: header {op, t} then the typed body (the indigo
    events.XRPCStreamEvent layout the reference consumes via
    HandleRepoStream, cmd/jetstream/main.go:328). Commit bodies carry the
    CAR in `blocks`; ops' `cid` are tag-42 links — the op's record is
    resolved from the CAR by that CID and transcoded to JSON (S5/S8), with
    the CID string kept for the S7 verify filter downstream. Unknown event
    types (e.g. #info) return None and are skipped; an error header
    (op = -1) raises, matching the reference's stream-failure propagation
    (consumer.go:156-159)."""
    header, pos = cbor_decode_prefix(data, 0)
    body, _ = cbor_decode_prefix(data, pos)
    if header.get("op") == -1:
        raise RuntimeError(f"error frame from firehose: {body.get('error')}: {body.get('message')}")
    t = header.get("t")
    if t == "#commit":
        car_header, index = decode_car(body.get("blocks") or b"")
        roots = [r for r in (car_header.get("roots") or []) if isinstance(r, _Link)]
        ops = []
        for op in body.get("ops") or []:
            cid = str(op["cid"]) if op.get("cid") is not None else None
            record_json = None
            record_cid = cid
            record_bytes = index.get(cid) if cid is not None else None
            if record_bytes is None and op.get("action") in ("create", "update") and roots:
                # path-only resolution: walk the repo MST from the commit
                # root, the reference's GetRecordBytes(op.Path) behavior
                # (consumer.go:222) for ops without a usable CID. The block
                # found need not be the one the op names, so its own CID
                # goes to the S7 check, which drops the op unless the two
                # agree (consumer.go:229-231).
                record_bytes = mst_get_record_bytes(index, str(roots[0]), op.get("path") or "")
                if record_bytes is not None:
                    record_cid = cid_str(cid_for_block(record_bytes))
            if record_bytes is not None:
                record_json = json.dumps(to_json_value(cbor_decode(record_bytes)), separators=(",", ":"))
            ops.append(
                {
                    "action": op.get("action"),
                    "path": op.get("path"),
                    "cid": cid,
                    "record_json": record_json,
                    "record_cid": record_cid,
                }
            )
        return {
            "kind": "commit",
            "did": body.get("repo"),
            "seq": body.get("seq"),
            "rev": body.get("rev"),
            "too_big": bool(body.get("tooBig", False)),
            "ops": ops,
            "account": None,
            "identity": None,
        }
    if t == "#account":
        return {
            "kind": "account",
            "did": body.get("did"),
            "seq": body.get("seq"),
            "rev": None,
            "too_big": False,
            "ops": None,
            "account": {
                "active": body.get("active"),
                "did": body.get("did"),
                "seq": body.get("seq"),
                "time": body.get("time"),
                "status": body.get("status"),
            },
            "identity": None,
        }
    if t == "#identity":
        return {
            "kind": "identity",
            "did": body.get("did"),
            "seq": body.get("seq"),
            "rev": None,
            "too_big": False,
            "ops": None,
            "account": None,
            "identity": {
                "did": body.get("did"),
                "handle": body.get("handle"),
                "seq": body.get("seq"),
                "time": body.get("time"),
            },
        }
    return None  # unknown/info frame — skipped, like the reference's default case
