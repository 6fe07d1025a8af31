"""wal2json transaction-envelope decoding (sources/wal2json.py).

Pins the wire semantics that differ from Debezium's per-row envelopes:
per-TRANSACTION grouping (one JSON doc, a ``change`` array in statement
order), positional columnnames/columnvalues with heterogeneous JSON scalar
types, oldkeys-only deletes, the "X/Y" hex commit LSN, and the packed engine
LSN ``commit_lsn << seq_bits | statement_index`` preserving (commit order,
statement order). Reference position semantics:
PostgresCdcTargetPosition.java:23 (single monotonic LSN);
image selection parity with DebeziumEventUtils.java:98-109.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from airbyte_spark.changelog import ChangelogConfig, changelog_df, seed_df
from airbyte_spark.config import EngineConfig, StreamConfig
from airbyte_spark.engine import CdcEngine
from airbyte_spark.sources.debezium import split_malformed
from airbyte_spark.sources.wal2json import (
    decode_wal2json,
    pack_pg_lsn,
    txn_stats,
)
from tests.util import final_as_pandas

PAYLOAD = StructType(
    [
        StructField("doc_id", StringType(), True),
        StructField("tokens", ArrayType(IntegerType()), True),
        StructField("n_tok", IntegerType(), True),
        StructField("source", StringType(), True),
    ]
)

NAMES = ["doc_id", "tokens", "n_tok", "source"]


def _chg(kind, values=None, names=None, oldkeys=None):
    c = {"kind": kind, "schema": "public", "table": "docs"}
    if values is not None:
        c["columnnames"] = names or NAMES
        c["columnvalues"] = values
    if oldkeys is not None:
        c["oldkeys"] = {"keynames": list(oldkeys), "keyvalues": list(oldkeys.values())}
    return c


def _env(xid, nextlsn, changes, ts="2024-03-01 10:11:12.123+00"):
    return json.dumps(
        {"xid": xid, "nextlsn": nextlsn, "timestamp": ts, "change": changes}
    )


def _decode(spark, envelopes, **kw):
    df = spark.createDataFrame([(e,) for e in envelopes], "value string")
    return decode_wal2json(df, PAYLOAD, **kw)


def test_transaction_explode_and_statement_order(spark):
    out = _decode(
        spark,
        [
            _env(
                7,
                "1/2A9E0B08",
                [
                    _chg("insert", ["d1", [1, 2], 2, "web"]),
                    _chg("update", ["d1", [1, 2, 3], 3, "web"]),
                    _chg("delete", oldkeys={"doc_id": "d2"}),
                ],
            )
        ],
    ).orderBy("lsn")
    rows = out.collect()
    assert [r.op for r in rows] == ["I", "U", "D"]
    assert [r.txn_seq for r in rows] == [0, 1, 2]
    assert all(r.xid == 7 for r in rows)
    commit = (1 << 32) + 0x2A9E0B08
    assert [r.lsn for r in rows] == [commit << 16, (commit << 16) + 1, (commit << 16) + 2]
    # commit timestamp shared by every change of the txn
    assert len({r.ts_ms for r in rows}) == 1
    assert rows[0].ts_ms == 1709287872123  # 2024-03-01T10:11:12.123Z
    # the within-txn update beats the insert in LSN order (LWW correctness)
    assert rows[1].tokens == [1, 2, 3] and rows[1].n_tok == 3


def test_values_are_name_mapped_not_positional_blind(spark):
    """Reordered wire columns must still land in the right payload fields."""
    out = _decode(
        spark,
        [
            _env(
                1,
                "0/10",
                [
                    _chg(
                        "insert",
                        values=[3, "web", "d9", [7, 8, 9]],
                        names=["n_tok", "source", "doc_id", "tokens"],
                    )
                ],
            )
        ],
    )
    r = out.first()
    assert r.doc_id == "d9" and r.tokens == [7, 8, 9]
    assert r.n_tok == 3 and r.source == "web"


def test_delete_carries_only_replica_identity_key(spark):
    out = _decode(
        spark, [_env(2, "0/20", [_chg("delete", oldkeys={"doc_id": "gone"})])]
    )
    r = out.first()
    assert r.op == "D" and r.doc_id == "gone"
    assert r.tokens is None and r.n_tok is None and r.source is None


def test_commit_order_dominates_statement_order(spark):
    out = _decode(
        spark,
        [
            _env(5, "0/200", [_chg("insert", ["b", [1], 1, "s"])]),
            _env(
                4,
                "0/100",
                [
                    _chg("insert", ["a1", [1], 1, "s"]),
                    _chg("insert", ["a2", [1], 1, "s"]),
                ],
            ),
        ],
    )
    rows = out.orderBy("lsn").collect()
    assert [r.doc_id for r in rows] == ["a1", "a2", "b"]


def test_malformed_unknown_kind_and_seq_overflow_quarantined(spark):
    good_env = _env(1, "0/10", [_chg("insert", ["d1", [1], 1, "s"])])
    trunc = _env(2, "0/20", [_chg("truncate")])  # no per-row image
    overflow = _env(
        3, "0/30", [_chg("insert", [f"d{i}", [1], 1, "s"]) for i in range(5)]
    )
    df = spark.createDataFrame(
        [(good_env,), ("{not json",), (trunc,), (overflow,)], "value string"
    )
    good, bad = split_malformed(decode_wal2json(df, PAYLOAD, seq_bits=2))
    # overflow txn keeps its first 2**seq_bits changes, quarantines the rest
    assert sorted(r.doc_id for r in good.collect()) == ["d0", "d1", "d1", "d2", "d3"]
    assert bad.count() == 3  # not-json + truncate + the overflow statement


def test_pack_pg_lsn_total_order(spark):
    df = spark.createDataFrame(
        [("0/FFFFFFFF",), ("1/0",), ("1/1",)], "s string"
    ).select(pack_pg_lsn(F.col("s")).alias("l"))
    vals = [r.l for r in df.collect()]
    assert vals == sorted(vals) and len(set(vals)) == 3
    assert vals[1] == 1 << 32


def test_txn_stats_rollup(spark):
    decoded = _decode(
        spark,
        [
            _env(
                9,
                "0/40",
                [
                    _chg("insert", ["x", [1], 1, "s"]),
                    _chg("update", ["x", [2], 1, "s"]),
                    _chg("delete", oldkeys={"doc_id": "y"}),
                ],
            )
        ],
    )
    s = txn_stats(decoded).first()
    assert (s.n_changes, s.n_insert, s.n_update, s.n_delete) == (3, 1, 1, 1)
    assert s.last_lsn == s.first_lsn + 2


def _encode_changelog_as_wal2json(cl, txn_size=4):
    """Native changelog -> wal2json txn envelopes (txn = lsn // txn_size,
    statement order = lsn order). Returns (feed, lsn_map) where lsn_map is
    (native lsn -> packed engine lsn) for golden remapping."""
    from pyspark.sql.window import Window

    w = cl.withColumn("txn", F.floor(F.col("lsn") / txn_size).cast("long"))
    seq = F.row_number().over(Window.partitionBy("txn").orderBy("lsn")) - 1
    w = w.withColumn("seq", seq)
    commit = F.col("txn") + 1
    lsn_map = w.select(
        "lsn", (F.shiftleft(commit, 16) + F.col("seq")).alias("new_lsn")
    )
    kind = (
        F.when(F.col("op") == "I", F.lit("insert"))
        .when(F.col("op") == "U", F.lit("update"))
        .otherwise(F.lit("delete"))
    )
    chg = F.when(
        F.col("op") == "D",
        F.format_string(
            '{"kind":"delete","schema":"public","table":"docs",'
            '"oldkeys":{"keynames":["doc_id"],"keyvalues":["%s"]}}',
            F.col("doc_id"),
        ),
    ).otherwise(
        F.format_string(
            '{"kind":"%s","schema":"public","table":"docs",'
            '"columnnames":["doc_id","tokens","n_tok","source"],'
            '"columnvalues":["%s",%s,%d,"%s"]}',
            kind,
            F.col("doc_id"),
            F.to_json(F.col("tokens")),
            F.col("n_tok"),
            F.col("source"),
        )
    )
    feed = (
        w.select(
            "txn",
            F.struct("lsn", chg.alias("cj")).alias("ch"),
            "ts_ms",
            "source_partition",
        )
        .groupBy("txn")
        .agg(
            F.array_join(
                F.transform(F.sort_array(F.collect_list("ch")), lambda s: s["cj"]),
                ",",
            ).alias("changes"),
            F.max("ts_ms").alias("commit_ms"),
            F.min("source_partition").alias("part"),
        )
        .select(
            F.format_string(
                '{"xid":%d,"nextlsn":"%X/%X","timestamp":"%s+00","change":[%s]}',
                F.col("txn"),
                F.shiftright(F.col("txn") + 1, 32),
                (F.col("txn") + 1).bitwiseAND(F.lit(0xFFFFFFFF)),
                F.date_format(
                    F.to_utc_timestamp(
                        F.timestamp_millis(F.col("commit_ms")), "UTC"
                    ),
                    "yyyy-MM-dd HH:mm:ss.SSS",
                ),
                F.col("changes"),
            ).alias("value"),
            F.col("part"),
        )
    )
    return feed, lsn_map


def test_commit_aligned_windows_never_split_a_transaction(spark, workdir):
    """EngineConfig(lsn_align_bits=16): every replay-window boundary snaps
    down to a commit boundary, so a transaction's statements always land in
    ONE destination commit — and the final table still matches the
    unaligned replay exactly (boundary placement never affects winners)."""
    cfg = ChangelogConfig(n_events=600, n_seed_docs=150, insert_pct=50, update_pct=35)
    seed = seed_df(spark, cfg)
    native = changelog_df(spark, cfg)
    decoded, _ = _decoded_feed(native, workdir)

    def run(sub, align):
        eng = CdcEngine(
            spark,
            os.path.join(workdir, sub),
            StreamConfig(num_buckets=8),
            # 150 events/batch is NOT a multiple of the 4-statement txns:
            # unaligned boundaries would split transactions
            EngineConfig(batch_events=150, lsn_align_bits=align),
        )
        eng.create_table()
        eng.bootstrap(seed)
        eng.replay(decoded)
        return eng

    eng = run("aligned", 16)
    merges = [
        s
        for s in eng.table.history()
        if s.summary.get("operation", "").startswith("merge")
    ]
    assert len(merges) >= 3  # genuinely batched
    for s in merges:
        hi = int(s.summary["end_lsn"])
        # (lo, hi]: an aligned bound is the last statement slot BELOW a
        # commit boundary, except the stream's final statement
        assert (hi + 1) % (1 << 16) == 0 or hi == max(
            int(m.summary["end_lsn"]) for m in merges
        ), hi
    base = run("unaligned", None)
    import pandas as pd

    pd.testing.assert_frame_equal(
        final_as_pandas(eng.read_final()), final_as_pandas(base.read_final())
    )


def _decoded_feed(native, workdir):
    """Encode ``native`` as wal2json, decode it, and write the decoded feed
    under ``workdir`` once. Returns (feed path, lsn_map): replaying the
    path reads files, while replaying the unpersisted encode+decode plan
    re-derived it on every replay scan (LSN probe, batch stats, merge)."""
    feed, lsn_map = _encode_changelog_as_wal2json(native)
    path = os.path.join(workdir, "wal2json_decoded")
    decode_wal2json(feed, PAYLOAD, partition_col="part").drop(
        "xid", "txn_seq"
    ).write.parquet(path)
    return path, lsn_map


def test_wal2json_feed_replays_to_identical_table(spark, workdir):
    """Golden end-to-end: encode the synthetic changelog as wal2json txn
    envelopes, decode, replay — same winners as the native replay, with
    engine LSNs remapped through the documented packing. Windows are sized
    by events, not by the packed LSN span: 600 events replay as one merge."""
    cfg = ChangelogConfig(n_events=600, n_seed_docs=150, insert_pct=50, update_pct=35)
    seed = seed_df(spark, cfg)
    native = changelog_df(spark, cfg)
    decoded, lsn_map = _decoded_feed(native, workdir)

    def run(cl, sub):
        eng = CdcEngine(
            spark,
            os.path.join(workdir, sub),
            StreamConfig(num_buckets=8),
            EngineConfig(batch_events=200_000),
        )
        eng.create_table()
        eng.bootstrap(seed)
        eng.replay(cl)
        merges = [
            s for s in eng.table.history() if s.summary.get("operation", "").startswith("merge")
        ]
        assert len(merges) == 1, sub
        return final_as_pandas(eng.read_final())

    got = run(decoded, "w2j")
    expected = run(native, "native")
    remap = {r.lsn: r.new_lsn for r in lsn_map.collect()}
    # seed rows never entered the changelog: their lsn (0 or bootstrap lsn)
    # must be untouched by the remap only if absent from the map
    expected["_ab_lsn"] = expected["_ab_lsn"].map(lambda v: remap.get(v, v))
    import pandas as pd

    pd.testing.assert_frame_equal(got, expected, check_dtype=False)
