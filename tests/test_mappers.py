"""Connection-level mappers (Airbyte "mappings": hash / encrypt / rename /
row-filter, plus length-preserving masking): value semantics, NULL
passthrough, encryption round-trip + determinism, transform-chain
composition, and narrow-plan shape (no exchange added)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airbyte_spark.plans.mappers import (
    apply_mappers,
    decrypt_field,
    encrypt_field,
    hash_field,
    mask_field,
)
from airbyte_spark.plans.transforms import apply_transforms

KEY = "0123456789abcdef"  # 16-byte AES key


@pytest.fixture()
def people(spark):
    return spark.createDataFrame(
        [
            (1, "Ada Lovelace", "555-0101", 120.5),
            (2, "Grace Hopper", "555-0202", -3.0),
            (3, None, None, 42.0),
        ],
        "id int, name string, phone string, balance double",
    )


def test_hash_field_sha256_and_null(people):
    out = hash_field(people, "phone", method="sha256").orderBy("id").collect()
    import hashlib

    assert out[0]["phone_hashed"] == hashlib.sha256(b"555-0101").hexdigest()
    assert out[2]["phone_hashed"] is None  # NULL stays NULL, no sentinel digest
    assert "phone" not in out[0].asDict()


def test_hash_field_unknown_method(people):
    with pytest.raises(ValueError, match="unknown hash method"):
        hash_field(people, "phone", method="crc32")


def test_mask_field_keep_prefix(people):
    out = mask_field(people, "name", keep_prefix=4).orderBy("id").collect()
    assert out[0]["name"] == "Ada " + "*" * len("Lovelace")
    assert len(out[0]["name"]) == len("Ada Lovelace")
    assert out[2]["name"] is None


def test_encrypt_deterministic_and_round_trip(spark, people):
    enc = encrypt_field(people, "phone", key=KEY)
    rows = enc.orderBy("id").collect()
    assert rows[2]["phone_encrypted"] is None
    # deterministic ECB: same plaintext -> same ciphertext across re-syncs,
    # so destination LWW dedup keeps treating re-sent records as duplicates
    again = encrypt_field(people, "phone", key=KEY).orderBy("id").collect()
    assert [r["phone_encrypted"] for r in rows] == [
        r["phone_encrypted"] for r in again
    ]
    dec = decrypt_field(enc, "phone_encrypted", key=KEY, out="phone_plain")
    got = {r["id"]: r["phone_plain"] for r in dec.collect()}
    assert got == {1: "555-0101", 2: "555-0202", 3: None}


def test_encrypt_rejects_bad_key(people):
    with pytest.raises(ValueError, match="16, 24, or 32"):
        encrypt_field(people, "phone", key="short")


def test_mapper_chain_and_transform_dispatch(people):
    specs = [
        {"op": "filter_rows", "predicate": "balance > 0"},
        {"op": "hash_field", "name": "phone", "method": "md5"},
        {"op": "mask_field", "name": "name", "keep_prefix": 1},
        {"op": "rename_field", "from": "id", "to": "customer_id"},
    ]
    for runner in (apply_mappers, apply_transforms):  # one declarative list
        out = runner(people, specs).orderBy("customer_id")
        rows = out.collect()
        assert [r["customer_id"] for r in rows] == [1, 3]
        assert rows[0]["name"] == "A" + "*" * 11
        import hashlib

        assert rows[0]["phone_hashed"] == hashlib.md5(b"555-0101").hexdigest()


def test_mapper_chain_is_narrow(people):
    """The whole chain must fuse into the scan's project/filter stage —
    no Exchange in the plan (mappers add zero shuffles at any scale)."""
    out = apply_mappers(
        people,
        [
            {"op": "filter_rows", "predicate": "balance > 0"},
            {"op": "hash_field", "name": "phone"},
            {"op": "encrypt_field", "name": "name", "key": KEY},
        ],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def _mask2(s):
    return None if s is None else s[:2] + "*" * max(len(s) - 2, 0)


@pytest.mark.parametrize("leg", ["replay", "stream_replay", "demux", "resync"])
def test_engine_sync_with_mappers(spark, workdir, leg):
    """Connection-level mappers applied DURING sync (StreamConfig.mappers):
    the seed and every change row pass the chain on every ingest leg —
    bounded replay, Structured Streaming epochs, a demux window and a
    resync seed — so the final table equals the golden applier run over
    mapper-transformed records."""
    import os

    from airbyte_spark.changelog import (
        ChangelogConfig,
        apply_golden,
        changelog_df,
        seed_df,
        write_changelog,
    )
    from airbyte_spark.config import EngineConfig, StreamConfig
    from airbyte_spark.demux import DemuxEngine
    from airbyte_spark.engine import CdcEngine
    from airbyte_spark.streaming import stream_replay
    from tests.util import assert_frames_equal, final_as_pandas, golden_normalize

    cfg = ChangelogConfig(n_events=600, n_seed_docs=150, dup_pct=2.0, seed=11)
    stream = StreamConfig(
        num_buckets=4,
        mappers=({"op": "mask_field", "name": "source", "keep_prefix": 2},),
    )
    root = os.path.join(workdir, "m")
    ecfg = EngineConfig(batch_events=200)
    if leg == "demux":
        dx = DemuxEngine(spark, root, [stream], cfg=ecfg)
        eng = dx.engine(stream.name)
    else:
        eng = CdcEngine(spark, root, stream, ecfg)
    eng.create_table()
    cl = os.path.join(workdir, "cl")
    write_changelog(spark, cfg, cl)
    if leg == "resync":
        eng.resync(seed_df(spark, cfg), cl)
    else:
        eng.bootstrap(seed_df(spark, cfg))
    if leg == "replay":
        eng.replay(cl)
    elif leg == "stream_replay":
        stream_replay(eng, cl, os.path.join(workdir, "ss"))
    elif leg == "demux":
        dx.replay(changelog_df(spark, cfg).withColumn("_ab_stream", F.lit(stream.name)))

    # EXACT golden over the mapper-transformed records: expected = golden
    # applier run as usual, then the same mask applied to the winners'
    # source values (mapping commutes with LWW because ordering columns
    # are untouched)
    exp = apply_golden(
        seed_df(spark, cfg).toPandas(),
        changelog_df(spark, cfg).toPandas(),
        cfg.vocab_size,
    )
    exp["source"] = exp["source"].map(_mask2)
    assert_frames_equal(final_as_pandas(eng.read_final()), golden_normalize(exp))
    # belt-and-braces: no raw (unmasked) source value reached the table
    import re

    non_null = [
        r["source"]
        for r in eng.read_final().select("source").distinct().collect()
        if r["source"] is not None
    ]
    assert non_null and all(re.fullmatch(r"..\**", v) for v in non_null)


def test_engine_mappers_must_keep_key_and_cursor(spark, workdir):
    import os

    import pytest as _pytest

    from airbyte_spark.changelog import ChangelogConfig, seed_df
    from airbyte_spark.config import EngineConfig, StreamConfig
    from airbyte_spark.engine import CdcEngine

    cfg = ChangelogConfig(n_events=50, n_seed_docs=20)
    stream = StreamConfig(
        num_buckets=2,
        mappers=({"op": "rename_field", "from": "doc_id", "to": "pk"},),
    )
    eng = CdcEngine(
        spark, os.path.join(workdir, "bad"), stream, EngineConfig(batch_events=50)
    )
    eng.create_table()
    with _pytest.raises(ValueError, match="doc_id"):
        eng.bootstrap(seed_df(spark, cfg))
