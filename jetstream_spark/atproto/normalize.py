"""Normalize: raw firehose frames → flat Event envelopes.

Re-expresses the reference's per-event Go handlers as one declarative
DataFrame transform: one projection and one generator over each frame,
read once (the reference runs 100 hand-pooled workers for this —
main.go:150; Spark's task parallelism replaces the pool, S2):

  S3 event-kind dispatch   consumer.go:99-161   → CASE kind → envelope array
  S4 TooBig guard          consumer.go:105-108  → ~coalesce(too_big) in the CASE
  S6 op explode            consumer.go:194-305  → transform(ops) + inline, split(path)
  S7 CID verify            consumer.go:222-231  → filter(ops, cid == record_cid)
  S9 envelope build        consumer.go:210-301  → struct() projection

S5/S8 (CAR/CBOR decode) happen upstream of this schema: a real firehose
source decodes CAR blocks into `ops[].record_json` before frames reach
here (the decode UDF slot is jetstream_spark.streaming.firehose). Works
identically on batch and streaming DataFrames (same API → reusable in
readStream pipelines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jetstream_spark.atproto.schema import (
    COMMIT_CREATE,
    COMMIT_DELETE,
    COMMIT_UPDATE,
    EVENT_ACCOUNT,
    EVENT_COMMIT,
    EVENT_IDENTITY,
)

def _null_commit():
    return F.lit(None).cast(
        "struct<rev:string,type:string,collection:string,rkey:string,record:string,cid:string>"
    )


def _null_account():
    return F.lit(None).cast("struct<active:boolean,did:string,seq:bigint,time:string,status:string>")


def _null_identity():
    return F.lit(None).cast("struct<did:string,handle:string,seq:bigint,time:string>")


def _commit_envelope(op):
    """One op of a kept commit → its envelope (S6/S9): c/u/d mapping,
    `collection/rkey` path split, deletes carry no record/cid
    (consumer.go:290-297)."""
    is_mutation = op["action"].isin("create", "update")
    action = (
        F.when(op["action"] == "create", COMMIT_CREATE)
        .when(op["action"] == "update", COMMIT_UPDATE)
        .otherwise(COMMIT_DELETE)
    )
    return F.struct(
        F.lit(EVENT_COMMIT).alias("type"),
        F.struct(
            F.col("rev").alias("rev"),
            action.alias("type"),
            F.split(op["path"], "/").getItem(0).alias("collection"),
            F.split(op["path"], "/").getItem(1).alias("rkey"),
            F.when(is_mutation, op["record_json"]).alias("record"),
            F.when(is_mutation, op["cid"]).alias("cid"),
        ).alias("commit"),
        _null_account().alias("account"),
        _null_identity().alias("identity"),
    )


def _cid_ok(op):
    """Integrity filter (S7): create/update must carry a record whose CID
    matches the op's claim (consumer.go:229-231, 265-268); deletes carry
    neither."""
    is_mutation = op["action"].isin("create", "update")
    return (~is_mutation) | (
        op["record_json"].isNotNull()
        & F.coalesce(op["cid"] == op["record_cid"], F.lit(False))
    )


def normalize_frames(frames: DataFrame) -> DataFrame:
    """RAW_FRAME_SCHEMA rows → EVENT_SCHEMA rows (minus time_us, which the
    sequencer assigns downstream — consumer.go:326 happens after this).

    Keeps the upstream `seq` as `_seq` for cursor checkpointing (S12).

    One narrow pass over `frames`: each frame projects to an array of
    envelopes — a kept commit to its surviving ops, an account or identity
    frame to one element, any other kind to none — and `inline` flattens
    them. The source is read once; a per-kind union would re-read it (and,
    for the firehose source, re-decode every frame) once per branch.
    """
    kind = F.col("kind")
    too_big = F.coalesce(F.col("too_big"), F.lit(False))  # S4
    envelopes = (
        F.when(
            (kind == "commit") & ~too_big,
            F.transform(F.filter("ops", _cid_ok), _commit_envelope),
        )
        .when(
            kind == "account",
            F.array(
                F.struct(
                    F.lit(EVENT_ACCOUNT).alias("type"),
                    _null_commit().alias("commit"),
                    F.col("account"),
                    _null_identity().alias("identity"),
                )
            ),
        )
        .when(
            kind == "identity",
            F.array(
                F.struct(
                    F.lit(EVENT_IDENTITY).alias("type"),
                    _null_commit().alias("commit"),
                    _null_account().alias("account"),
                    F.col("identity"),
                )
            ),
        )
    )
    return frames.select("did", F.col("seq").alias("_seq"), F.inline(envelopes))
