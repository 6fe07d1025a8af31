"""Destination-side protocol (airbyte_spark/destination.py).

Pins the reference Destination contract (destination.py:43-50 _run_write):
STATE messages are yielded back only after the records preceding them are
durably committed; platform re-delivery after the last acked state is
idempotent; append / overwrite / append_dedup destination sync modes
(airbyte-protocol.md:404-428); Destinations-V2 typing with per-column error
capture into _airbyte_meta.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from airbyte_spark.destination import LakeDestination, parse_catalog, run

CATALOG = {
    "streams": [
        {
            "stream": {
                "name": "users",
                "json_schema": {
                    "properties": {
                        "id": {"type": "integer"},
                        "name": {"type": "string"},
                        "score": {"type": ["null", "number"]},
                        "active": {"type": "boolean"},
                    }
                },
            },
            "destination_sync_mode": "append_dedup",
            "primary_key": [["id"]],
            "cursor_field": ["score"],
        },
        {
            "stream": {
                "name": "logs",
                "json_schema": {"properties": {"line": {"type": "string"}}},
            },
            "destination_sync_mode": "append",
        },
    ]
}


def _rec(stream, data, ts=1000):
    return {"type": "RECORD", "record": {"stream": stream, "data": data, "emitted_at": ts}}


def _state(n):
    return {"type": "STATE", "state": {"data": {"cursor": n}}}


def _dest(spark, workdir, sub="lake"):
    return LakeDestination(spark, os.path.join(workdir, sub), num_buckets=4)


def _users(dest):
    t = dest._table(parse_catalog(CATALOG)["users"])
    return {
        r.id: (r.name, r.score)
        for r in t.scan().collect()
    }


def test_state_acked_after_commit_and_typing(spark, workdir):
    dest = _dest(spark, workdir)
    msgs = [
        _rec("users", {"id": 1, "name": "a", "score": 1.5, "active": True}),
        _rec("users", {"id": 2, "name": "b", "score": "oops", "active": False}),
        _rec("logs", {"line": "hello"}),
        _state(1),
    ]
    acked = list(dest.write({}, CATALOG, msgs))
    assert acked == [_state(1)]
    users = dest._table(parse_catalog(CATALOG)["users"])
    rows = {r.id: r for r in users.scan().collect()}
    assert rows[1].name == "a" and rows[1].score == 1.5 and rows[1].active is True
    # dirty numeric -> NULL + column name captured in _airbyte_meta.errors
    assert rows[2].score is None
    assert "score" in json.loads(rows[2]._airbyte_meta)["errors"]
    assert json.loads(rows[1]._airbyte_meta)["errors"] == []
    logs = dest._table(parse_catalog(CATALOG)["logs"])
    assert [r.line for r in logs.scan().collect()] == ["hello"]


def test_redelivery_after_ack_is_idempotent(spark, workdir):
    dest = _dest(spark, workdir)
    msgs = [_rec("users", {"id": 1, "name": "a", "score": 1.0, "active": True}), _state(1)]
    list(dest.write({}, CATALOG, msgs))
    t = dest._table(parse_catalog(CATALOG)["users"])
    v = t.current_version()
    # platform crash after ack: the whole batch is re-sent verbatim
    fresh = _dest(spark, workdir)  # new process
    acked = list(fresh.write({}, CATALOG, msgs))
    assert acked == [_state(1)]  # still acked...
    assert t.current_version() == v  # ...but nothing recommitted


def test_append_dedup_lww_by_cursor(spark, workdir):
    dest = _dest(spark, workdir)
    msgs = [
        _rec("users", {"id": 1, "name": "old", "score": 1.0, "active": True}),
        _state(1),
        _rec("users", {"id": 1, "name": "new", "score": 2.0, "active": True}),
        _rec("users", {"id": 1, "name": "stale", "score": 0.5, "active": True}),
        _rec("users", {"id": 2, "name": "x", "score": 9.0, "active": False}),
        _state(2),
    ]
    list(dest.write({}, CATALOG, msgs))
    assert _users(dest) == {1: ("new", 2.0), 2: ("x", 9.0)}

    # The winner rule, case by case, against the row_number reference:
    # NULL vs non-NULL cursors, equal cursors broken by extracted_at then
    # by raw id, updates spanning two flushes, and a composite key.
    def u(i, name, score, ts):
        return "users", {"id": i, "name": name, "score": score, "active": True}, ts

    def p(a, b, v, label, ts):
        return "pairs", {"a": a, "b": b, "v": v, "label": label}, ts

    flush1 = [
        u(1, "null-late", None, 3000), u(1, "one-early", 1.0, 1000),
        u(2, "n1", None, 1000), u(2, "n2", None, 2000),
        u(3, "five", 5.0, 1000),
        u(4, "t1", 2.0, 1000), u(4, "t2", 2.0, 2000),
        u(5, "r1", 2.0, 1000), u(5, "r2", 2.0, 1000), u(5, "r3", 2.0, 1000),
        u(6, "a", 1.0, 1000), u(7, "c", 4.0, 1000),
        p(1, 1, 1, "p", 1000), p(1, 2, 5, "q", 1000), p(1, 1, 3, "r", 1000),
    ]
    flush2 = [
        u(3, "null-after", None, 9000), u(6, "b", 3.0, 1000), u(7, "d", 3.0, 1000),
        u(5, "r4", 2.0, 1000), u(2, "n3", None, 1500),
        p(1, 2, 2, "s", 1000), p(2, 1, None, "t", 1000), p(1, 1, 3, "u", 1000),
    ]
    catalog = {"streams": CATALOG["streams"][:1] + [{
        "stream": {"name": "pairs", "json_schema": {"properties": {
            "a": {"type": "integer"}, "b": {"type": "integer"},
            "v": {"type": ["null", "integer"]}, "label": {"type": "string"},
        }}},
        "destination_sync_mode": "append_dedup",
        "primary_key": [["a"], ["b"]],
        "cursor_field": ["v"],
    }]}
    rule = _dest(spark, workdir, sub="rule")
    msgs = [_rec(s, d, ts) for s, d, ts in flush1] + [_state(1)]
    msgs += [_rec(s, d, ts) for s, d, ts in flush2] + [_state(2)]
    list(rule.write({}, catalog, msgs))
    streams = parse_catalog(catalog)
    for name, key, cursor in (("users", ("id",), "score"), ("pairs", ("a", "b"), "v")):
        expected = _row_number_winners(name, [(1, flush1), (2, flush2)], key, cursor)
        cols = list(streams[name].columns)
        got = {
            tuple(r[k] for k in key): {c: r[c] for c in cols}
            for r in rule._table(streams[name]).scan().collect()
        }
        assert got == expected, name
    assert got[(1, 1)]["label"] in ("r", "u")  # equal (v, ts): raw id decides


def _row_number_winners(stream, flushes, key, cursor):
    """The destination's dedup rule written as its row_number window: per
    key, the first row by (cursor DESC NULLS LAST, _airbyte_extracted_at
    DESC, _airbyte_raw_id DESC). ``flushes`` is [(state n, [(stream, data,
    emitted_at)])]; raw ids are derived the way ``LakeDestination`` derives
    them (md5 of "<batch id>:<row index within the flush>")."""
    import hashlib

    best = {}
    for n, recs in flushes:
        sid = hashlib.md5(json.dumps({"data": {"cursor": n}}, sort_keys=True).encode()).hexdigest()
        bid = hashlib.md5(f"{stream}:{sid}".encode()).hexdigest()[:20]
        rows = [(d, ts) for s, d, ts in recs if s == stream]
        for i, (data, ts) in enumerate(rows):
            raw_id = hashlib.md5(f"{bid}:{i}".encode()).hexdigest()
            c = data[cursor]
            rank = (c is not None, 0 if c is None else c, ts, raw_id)
            k = tuple(data[p] for p in key)
            if k not in best or rank > best[k][0]:
                best[k] = (rank, data)
    return {k: data for k, (_, data) in best.items()}


def test_resume_from_last_acked_state(spark, workdir):
    """Kill after state 1; the platform restarts sending the suffix."""
    dest = _dest(spark, workdir)
    list(dest.write({}, CATALOG, [
        _rec("users", {"id": 1, "name": "a", "score": 1.0, "active": True}),
        _state(1),
    ]))
    fresh = _dest(spark, workdir)
    acked = list(fresh.write({}, CATALOG, [
        _rec("users", {"id": 2, "name": "b", "score": 2.0, "active": True}),
        _state(2),
    ]))
    assert acked == [_state(2)]
    assert _users(dest) == {1: ("a", 1.0), 2: ("b", 2.0)}


def test_overwrite_mode_replaces_then_appends(spark, workdir):
    catalog = {
        "streams": [
            {
                "stream": {
                    "name": "snap",
                    "json_schema": {"properties": {"k": {"type": "integer"}}},
                },
                "destination_sync_mode": "overwrite",
            }
        ]
    }
    dest = _dest(spark, workdir)
    list(dest.write({}, catalog, [_rec("snap", {"k": 1}), _state(1)]))
    # second sync invocation: full refresh replaces, later batches append
    dest2 = _dest(spark, workdir)
    list(dest2.write({}, catalog, [
        _rec("snap", {"k": 10}), _state(2),
        _rec("snap", {"k": 11}), _state(3),
    ]))
    t = dest2._table(parse_catalog(catalog)["snap"])
    assert sorted(r.k for r in t.scan().collect()) == [10, 11]


def test_tail_records_flushed_without_state(spark, workdir):
    dest = _dest(spark, workdir)
    acked = list(dest.write({}, CATALOG, [
        _rec("logs", {"line": "no trailing state"}),
    ]))
    assert acked == []
    t = dest._table(parse_catalog(CATALOG)["logs"])
    assert [r.line for r in t.scan().collect()] == ["no trailing state"]


def test_unknown_stream_ignored_and_dedup_requires_pk(spark, workdir):
    dest = _dest(spark, workdir)
    acked = list(dest.write({}, CATALOG, [_rec("ghost", {"x": 1}), _state(1)]))
    assert acked == [_state(1)]
    bad = {
        "streams": [
            {
                "stream": {"name": "s", "json_schema": {"properties": {}}},
                "destination_sync_mode": "append_dedup",
            }
        ]
    }
    with pytest.raises(ValueError, match="primary key"):
        parse_catalog(bad)


def test_cli_shell(spark, workdir, tmp_path, capsys):
    cfg = tmp_path / "config.json"
    cfg.write_text(json.dumps({"root": os.path.join(workdir, "cli_lake"), "num_buckets": 4}))
    cat = tmp_path / "catalog.json"
    cat.write_text(json.dumps(CATALOG))

    assert run(["spec"], spark=spark) == 0
    assert run(["check", "--config", str(cfg)], spark=spark) == 0
    msgs = [_rec("logs", {"line": "cli"}), _state(1)]
    assert run(
        ["write", "--config", str(cfg), "--catalog", str(cat)],
        spark=spark,
        messages=iter(msgs),
    ) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert json.loads(out[0])["type"] == "SPEC"
    assert json.loads(out[1])["connectionStatus"]["status"] == "SUCCEEDED"
    assert json.loads(out[2]) == _state(1)


COMPOSITE_CATALOG = {
    "streams": [
        {
            "stream": {
                "name": "orders",
                "json_schema": {
                    "properties": {
                        "region": {"type": "string"},
                        "order_id": {"type": "integer"},
                        "amount": {"type": "number"},
                        "seq": {"type": "integer"},
                    }
                },
            },
            "destination_sync_mode": "append_dedup",
            "primary_key": [["region"], ["order_id"]],
            "cursor_field": ["seq"],
        }
    ]
}


def test_composite_primary_key_dedup(spark, workdir):
    """Protocol parity: primary_key is a LIST of paths; a 2-column key must
    dedup on BOTH columns (same (region, order_id) re-delivered with a newer
    cursor wins; same order_id in another region is a distinct row), via the
    synthesized _ab_pk hash column."""
    dest = _dest(spark, workdir)
    msgs = [
        _rec("orders", {"region": "eu", "order_id": 1, "amount": 10.0, "seq": 1}),
        _rec("orders", {"region": "us", "order_id": 1, "amount": 20.0, "seq": 1}),
        _rec("orders", {"region": "eu", "order_id": 2, "amount": 30.0, "seq": 1}),
        _state(1),
        # newer version of (eu, 1); (us, 1) untouched
        _rec("orders", {"region": "eu", "order_id": 1, "amount": 11.5, "seq": 2}),
        _state(2),
    ]
    acked = list(dest.write({}, COMPOSITE_CATALOG, msgs))
    assert len(acked) == 2
    t = dest._table(parse_catalog(COMPOSITE_CATALOG)["orders"])
    rows = {(r.region, r.order_id): r.amount for r in t.scan().collect()}
    assert rows == {("eu", 1): 11.5, ("us", 1): 20.0, ("eu", 2): 30.0}
    # the synthesized key column exists, is non-null, and is the bucket key
    snap = t.snapshot()
    assert snap.spec["bucket_by"] == "_ab_pk"
    assert t.scan().filter(F.col("_ab_pk").isNull()).count() == 0


def test_composite_key_null_component_distinct(spark, workdir):
    """A NULL key component is a key value of its own — distinct from the
    string 'null' and from other NULLs with different sibling columns."""
    dest = _dest(spark, workdir)
    msgs = [
        _rec("orders", {"region": None, "order_id": 7, "amount": 1.0, "seq": 1}),
        _rec("orders", {"region": "null", "order_id": 7, "amount": 2.0, "seq": 1}),
        _state(1),
        _rec("orders", {"region": None, "order_id": 7, "amount": 3.0, "seq": 2}),
        _state(2),
    ]
    list(dest.write({}, COMPOSITE_CATALOG, msgs))
    t = dest._table(parse_catalog(COMPOSITE_CATALOG)["orders"])
    rows = {(r.region, r.order_id): r.amount for r in t.scan().collect()}
    assert rows == {(None, 7): 3.0, ("null", 7): 2.0}


def test_pk_column_must_exist_in_schema(spark, workdir):
    bad = {
        "streams": [
            {
                "stream": {
                    "name": "x",
                    "json_schema": {"properties": {"a": {"type": "string"}}},
                },
                "destination_sync_mode": "append_dedup",
                "primary_key": [["a"], ["missing"]],
            }
        ]
    }
    with pytest.raises(ValueError, match="missing"):
        parse_catalog(bad)
