"""MongoDB change-stream (Debezium-Mongo) envelope decoder -> changelog rows.

The reference's MongoDB CDC path differs from the relational connectors in
three ways, all mirrored here:

- The document images ride as **extended-JSON strings**, not typed structs:
  ``after`` (and ``before`` under pre-image capture) is a serialized BSON
  document (DebeziumEventUtils.java:73 reads ``after`` as JSON text;
  MongoDbCdcEventUtils.java:145-151 re-parses it). ``_id`` may be wrapped as
  ``{"$oid": "..."}`` and must be normalized to the plain hex string so CDC
  rows line up with initial-snapshot rows
  (MongoDbCdcEventUtils.java:76-117 ``generateObjectIdDocument`` /
  ``normalizeObjectId``).
- The source position is a **BsonTimestamp**: ``source.sec`` (epoch seconds)
  + ``source.ord`` (increment), compared (sec, ord) lexicographically
  (MongoDbDebeziumConstants.java ChangeEvent.SOURCE_SECONDS/SOURCE_ORDER;
  MongoDbResumeTokenHelper.java:68-77 builds BsonTimestamp(sec, ord);
  MongoDbCdcTargetPosition.java:55-61 orders events by it). Packed here as
  ``sec * 2^32 + ord`` — exactly BsonTimestamp's own long representation —
  so the engine's single-long LSN arithmetic (checkpoints, bounded replay)
  applies unchanged.
- An update that raced a delete arrives with **both images null** (the
  change-stream full-document lookup found nothing) and must be treated as
  a delete, keyed off the event key
  (DebeziumEventUtils.java:116-120 formatMongoDbDebeziumData).

Ops: ``c``/``i``/``r`` -> I, ``u`` -> U, ``d`` -> D
(DebeziumEventUtils.java:87-90 handles c/i/u + d; r is the snapshot read
code shared with the relational path).

Patch envelopes: under plain change-stream capture (no full-document
lookup; the reference's default is ``change_streams_update_full_with_pre_image``,
MongoDbCdcProperties.java:16, but plain ``change_streams`` is a supported
Debezium mode) an update carries only ``updateDescription.updatedFields``
(a JSON string of the changed columns) and ``removedFields`` (names unset
by the update). ``decode_mongo(..., emit_patch=True)`` surfaces those as a
partial row + ``_ab_null_fields`` — the exact input contract of
``StreamConfig(update_mode="patch")`` (operators/patch.py), so a
change-stream tail without update lookup plugs straight into the engine's
patch mode.

Spark-first: the whole decode is two typed ``from_json`` calls (envelope,
then image) plus string-level ``$oid`` normalization — all inside
whole-stage codegen, no Python on the data path. Undecodable rows yield
``op IS NULL`` for :func:`airbyte_spark.sources.wire.split_malformed`
quarantine routing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from airbyte_spark.sources import wire

# Debezium-Mongo op codes -> engine ops (DebeziumEventUtils.java:87-90).
_OP_MAP = [("c", "I"), ("i", "I"), ("r", "I"), ("u", "U"), ("d", "D")]

#: ``{"$oid": "..."}`` wrapper -> the bare quoted string, applied at the
#: JSON-text level BEFORE the typed parse so ``_id`` lands as a plain
#: string column (normalizeObjectId semantics).
_OID_WRAPPER = r'\{\s*"\$oid"\s*:\s*("[0-9a-fA-F]+")\s*\}'


def envelope_schema() -> StructType:
    """Typed Debezium-Mongo envelope: images are JSON STRINGS (re-parsed
    against the payload schema downstream), position is (sec, ord)."""
    return StructType(
        [
            StructField("before", StringType(), True),
            StructField("after", StringType(), True),
            StructField(
                "updateDescription",
                StructType(
                    [
                        StructField("updatedFields", StringType(), True),
                        StructField(
                            "removedFields", ArrayType(StringType()), True
                        ),
                    ]
                ),
                True,
            ),
            StructField(
                "source",
                StructType(
                    [
                        StructField("ts_ms", LongType(), True),
                        StructField("sec", LongType(), True),
                        StructField("ord", LongType(), True),
                        StructField("db", StringType(), True),
                        StructField("collection", StringType(), True),
                        StructField("snapshot", StringType(), True),
                    ]
                ),
                True,
            ),
            StructField("op", StringType(), True),
            StructField("ts_ms", LongType(), True),
        ]
    )


def bson_timestamp_lsn(sec: Column, ord_: Column) -> Column:
    """(sec, ord) -> one orderable long: ``sec * 2^32 + ord`` — the long
    value of BsonTimestamp itself, so ordering matches
    MongoDbCdcTargetPosition.java:55-61 exactly."""
    return (F.shiftleft(sec.cast("long"), 32) + ord_.cast("long")).cast("long")


def _normalize_oid(json_txt: Column) -> Column:
    return F.regexp_replace(json_txt, _OID_WRAPPER, "$1")


def _key_id(key_txt: Column) -> Column:
    """Event key ``{"id": ...}`` -> the plain id string. The id value may
    itself be a serialized ``{"$oid": "..."}`` document or a (possibly
    quoted) scalar (MongoDbCdcEventUtils.java:76-84
    generateObjectIdDocument)."""
    id_txt = F.get_json_object(key_txt, "$.id")
    oid = F.regexp_extract(id_txt, r'"\$oid"\s*:\s*"([^"]+)"', 1)
    return F.when(oid != "", oid).otherwise(
        F.regexp_replace(id_txt, r'^"|"$', "")
    )


def decode_mongo(
    df: DataFrame,
    payload_schema: StructType,
    *,
    json_col: str = "value",
    key_col: str | None = None,
    partition_col: str | None = None,
    pk_field: str = "_id",
    emit_patch: bool = False,
) -> DataFrame:
    """Decode Debezium-Mongo change-stream JSON envelopes to changelog rows.

    Output: ``op`` (I/U/D), the ``payload_schema`` columns (full after-image
    when present; before-image fallback; nulls on deletes), ``lsn`` (packed
    BsonTimestamp), ``ts_ms``, ``source_partition``. ``pk_field`` is
    additionally recovered from the event key (``key_col``) when the images
    are null — deletes and the update-then-delete race carry the id only in
    the key (DebeziumEventUtils.java:89,116-120).

    With ``emit_patch=True`` an update without an after-image but WITH an
    ``updateDescription`` decodes to a partial row (only the updated fields
    non-null) plus ``_ab_null_fields`` = removedFields, ready for
    ``StreamConfig(update_mode="patch")``; full-image rows carry an empty
    ``_ab_null_fields``. Without ``emit_patch``, such updates keep null
    payloads (caller is expected to run full-document capture).

    Parse failures / unknown ops decode to ``op IS NULL`` — route with
    :func:`airbyte_spark.sources.wire.split_malformed`.
    """
    env = F.from_json(F.col(json_col), envelope_schema())
    d = df.withColumn("_env", env)

    op_raw = wire.op_code(_OP_MAP, F.col("_env.op"))

    after_txt = _normalize_oid(F.col("_env.after"))
    before_txt = _normalize_oid(F.col("_env.before"))
    image_txt = F.coalesce(after_txt, before_txt)
    image = F.from_json(image_txt, payload_schema)

    upd = F.col("_env.updateDescription")
    patch_img = F.from_json(_normalize_oid(upd.getField("updatedFields")), payload_schema)
    is_patch_u = (
        (op_raw == "U")
        & F.col("_env.after").isNull()
        & upd.getField("updatedFields").isNotNull()
    )

    # update-then-delete race: u with no image at all -> delete
    # (DebeziumEventUtils.java:116-120)
    op = F.when(
        (op_raw == "U") & image_txt.isNull() & ~is_patch_u, F.lit("D")
    ).otherwise(op_raw)

    lsn = bson_timestamp_lsn(F.col("_env.source.sec"), F.col("_env.source.ord"))
    ts_ms = F.coalesce(F.col("_env.source.ts_ms"), F.col("_env.ts_ms"))
    key_id = (
        _key_id(F.col(key_col)) if key_col is not None else F.lit(None).cast("string")
    )

    # One-shot carrier (plans/transforms.py project_once): the envelope and
    # image from_json + oid regexps evaluate exactly once per row. Without
    # the barrier, CollapseProject + OptimizeJsonExprs rewrite the image
    # parse into one PRUNED from_json per payload field (each re-scanning
    # the full JSON text — measured 4x) and the quarantine filter re-derives
    # ``op`` with its own envelope parse (another 2x on the split path).
    carrier = wire.head(op, lsn, ts_ms, partition_col) + [
        image.alias("_img"),
        key_id.alias("_kid"),
    ]
    if emit_patch:
        carrier += [
            F.when(is_patch_u, patch_img).alias("_pimg"),
            is_patch_u.alias("_isp"),
            F.when(
                is_patch_u,
                F.coalesce(
                    upd.getField("removedFields"),
                    F.array().cast(ArrayType(StringType())),
                ),
            )
            .when(op == "D", F.lit(None).cast(ArrayType(StringType())))
            .otherwise(F.array().cast(ArrayType(StringType())))
            .alias("_ab_null_fields"),
        ]

    def _rest(once: Column) -> list[Column]:
        def payload_col(f) -> Column:
            base = once.getField("_img").getField(f.name)
            if emit_patch:
                base = F.when(
                    once.getField("_isp"), once.getField("_pimg").getField(f.name)
                ).otherwise(base)
            if f.name == pk_field:
                # deletes / both-null updates / patch rows recover the id
                # from the event key (generateObjectIdDocument)
                base = F.coalesce(base, once.getField("_kid"))
            return base.alias(f.name)

        cols = [payload_col(f) for f in payload_schema.fields]
        if emit_patch:
            cols.append(once.getField("_ab_null_fields").alias("_ab_null_fields"))
        return cols

    return wire.emit_once(d, carrier, _rest)
