"""S16 — the wire format: one JSON text frame per event.

Byte-level contract from the reference (models.go:9-25 + serialize-once at
server.go:73):

  * top-level keys: did, time_us, type, then exactly one of
    commit/account/identity — absent (not null) when empty (`omitempty`)
  * commit.record is RAW JSON (json.RawMessage) — spliced into the frame
    as an object, NOT a quoted string
  * deletes carry no record/cid keys at all

Spark mapping: `to_json` drops null fields by default (= omitempty);
`parse_json` lifts the stored record string to VARIANT so `to_json`
embeds it as raw JSON. The projection is computed ONCE upstream of any
fan-out (P3 serialize-once): subscriber queries filter on the retained
envelope columns next to the prebuilt `value`, never re-serializing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# The frame as one SQL projection: parsed once per plan, where the same
# projection built from Column objects costs ~20 py4j calls per to_wire.
# CASE WHEN without ELSE is null, which to_json then omits.
_WIRE_PROJECTION = (
    "did",
    "time_us",
    "type",
    "commit.collection AS collection",
    """to_json(named_struct(
        'did', did,
        'time_us', time_us,
        'type', type,
        'commit', CASE WHEN commit IS NOT NULL THEN named_struct(
            'rev', commit.rev,
            'type', commit.type,
            'collection', commit.collection,
            'rkey', commit.rkey,
            'record', CASE WHEN commit.record IS NOT NULL THEN parse_json(commit.record) END,
            'cid', commit.cid) END,
        'account', account,
        'identity', identity)) AS value""",
)


def to_wire(df: DataFrame) -> DataFrame:
    """Envelope rows → (did, time_us, type, collection, value) where value
    is the reference-format JSON frame. Filter columns ride alongside so
    S17 predicates never touch the JSON."""
    return df.selectExpr(*_WIRE_PROJECTION)
