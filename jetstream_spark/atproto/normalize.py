"""Normalize: raw firehose frames → flat Event envelopes.

Re-expresses the reference's per-event Go handlers as one declarative
DataFrame transform: one projection and one generator over each frame,
read once (the reference runs 100 hand-pooled workers for this —
main.go:150; Spark's task parallelism replaces the pool, S2):

  S3 event-kind dispatch   consumer.go:99-161   → CASE kind → envelope array
  S4 TooBig guard          consumer.go:105-108  → NOT coalesce(too_big) in the CASE
  S6 op explode            consumer.go:194-305  → transform(ops) + inline, split(path)
  S7 CID verify            consumer.go:222-231  → filter(ops, cid == record_cid)
  S9 envelope build        consumer.go:210-301  → named_struct() projection

S5/S8 (CAR/CBOR decode) happen upstream of this schema: a real firehose
source decodes CAR blocks into `ops[].record_json` before frames reach
here (the decode UDF slot is jetstream_spark.streaming.firehose). Works
identically on batch and streaming DataFrames (same API → reusable in
readStream pipelines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from jetstream_spark.atproto.schema import (
    ACCOUNT_STRUCT,
    COMMIT_CREATE,
    COMMIT_DELETE,
    COMMIT_STRUCT,
    COMMIT_UPDATE,
    EVENT_ACCOUNT,
    EVENT_COMMIT,
    EVENT_IDENTITY,
    IDENTITY_STRUCT,
)

_NULL_COMMIT = f"CAST(NULL AS {COMMIT_STRUCT.simpleString()})"
_NULL_ACCOUNT = f"CAST(NULL AS {ACCOUNT_STRUCT.simpleString()})"
_NULL_IDENTITY = f"CAST(NULL AS {IDENTITY_STRUCT.simpleString()})"
_IS_MUTATION = "op.action IN ('create', 'update')"

# The envelopes as one SQL projection: 8 py4j calls per normalize_frames,
# where the same projection built from Column objects made ~900. A CASE
# WHEN without ELSE is null, which inline skips.
_NORMALIZE_PROJECTION = (
    "did",
    "seq AS _seq",
    f"""inline(CASE
        WHEN kind = 'commit' AND NOT coalesce(too_big, false) THEN transform(
            -- S7: create/update must carry a record whose CID matches the
            -- op's claim (consumer.go:229-231, 265-268); deletes carry neither
            filter(ops, op -> NOT {_IS_MUTATION}
                OR (op.record_json IS NOT NULL AND coalesce(op.cid = op.record_cid, false))),
            -- S6/S9: c/u/d mapping, `collection/rkey` path split, deletes
            -- carry no record/cid (consumer.go:290-297)
            op -> named_struct(
                'type', '{EVENT_COMMIT}',
                'commit', named_struct(
                    'rev', rev,
                    'type', CASE op.action
                        WHEN 'create' THEN '{COMMIT_CREATE}'
                        WHEN 'update' THEN '{COMMIT_UPDATE}'
                        ELSE '{COMMIT_DELETE}' END,
                    'collection', split(op.path, '/')[0],
                    'rkey', split(op.path, '/')[1],
                    'record', CASE WHEN {_IS_MUTATION} THEN op.record_json END,
                    'cid', CASE WHEN {_IS_MUTATION} THEN op.cid END),
                'account', {_NULL_ACCOUNT},
                'identity', {_NULL_IDENTITY}))
        WHEN kind = 'account' THEN array(named_struct(
            'type', '{EVENT_ACCOUNT}',
            'commit', {_NULL_COMMIT},
            'account', account,
            'identity', {_NULL_IDENTITY}))
        WHEN kind = 'identity' THEN array(named_struct(
            'type', '{EVENT_IDENTITY}',
            'commit', {_NULL_COMMIT},
            'account', {_NULL_ACCOUNT},
            'identity', identity))
    END)""",
)


def normalize_frames(frames: DataFrame) -> DataFrame:
    """RAW_FRAME_SCHEMA rows → EVENT_SCHEMA rows (minus time_us, which the
    sequencer assigns downstream — consumer.go:326 happens after this).

    Keeps the upstream `seq` as `_seq` for cursor checkpointing (S12).

    One narrow pass over `frames`: each frame projects to an array of
    envelopes — a kept commit to its surviving ops (S4: a too-big commit
    keeps none), an account or identity frame to one element, any other
    kind to none (S3) — and `inline` flattens them. The source is read
    once; a per-kind union would re-read it (and, for the firehose
    source, re-decode every frame) once per branch.
    """
    return frames.selectExpr(*_NORMALIZE_PROJECTION)
