"""Engine update_mode="token_append" (operators/append_fold.py wired
through CdcEngine): suffix-only updates replay through the standard
validate -> fold -> resolve -> merge path.

Laws: N-batch replay == 1-batch replay == single-threaded reference;
kill/resume lands identically; exact redeliveries (same key+lsn) never
double-append; late events raise instead of silently corrupting order.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from airbyte_spark.config import EngineConfig, StreamConfig
from airbyte_spark.engine import CdcEngine

SCHEMA = (
    "op string, doc_id string, lsn long, ts_ms long, source_partition int,"
    " tokens array<int>, n_tok int, source string"
)


def _events():
    """Deterministic doc-growth stream: 30 docs, each an I image then
    suffix appends; every 4th doc dies mid-stream; every 6th restarts
    with a new I after appends."""
    rows = []
    lsn = 1  # replay windows are (lo, hi] above checkpoint 0
    for d in range(30):
        doc = f"doc{d:03d}"
        src = f"s{d % 3}"
        rows.append(("I", doc, lsn, 1000 + lsn, d % 4,
                     [d, d + 1], 2, src)); lsn += 1
        for j in range(d % 5 + 1):
            rows.append(("U", doc, lsn, 1000 + lsn, d % 4,
                         [100 + j, 200 + j], None, None)); lsn += 1
        if d % 4 == 3:
            rows.append(("D", doc, lsn, 1000 + lsn, d % 4,
                         None, None, None)); lsn += 1
        if d % 6 == 5:
            rows.append(("I", doc, lsn, 1000 + lsn, d % 4,
                         [7, 7, 7], 3, src)); lsn += 1
            rows.append(("U", doc, lsn, 1000 + lsn, d % 4,
                         [8], None, None)); lsn += 1
    return rows


def _reference(rows):
    state: dict = {}
    for op, doc, lsn, ts, part, toks, n, src in sorted(rows, key=lambda r: r[2]):
        if op == "I":
            state[doc] = {"tokens": list(toks), "source": src}
        elif op == "D":
            state[doc] = None
        elif op == "U" and state.get(doc) is not None:
            state[doc]["tokens"] = state[doc]["tokens"] + list(toks)
    return {
        k: (tuple(v["tokens"]), len(v["tokens"]), v["source"])
        for k, v in state.items()
        if v is not None
    }


def _replay(spark, root, rows, batch_events, max_batches=None):
    eng = CdcEngine(
        spark,
        root,
        StreamConfig(num_buckets=8, update_mode="token_append"),
        EngineConfig(batch_events=batch_events, validate_tokens=False),
    )
    from airbyte_spark.lake.table import LakeTable

    if not LakeTable.exists(eng.table_root):
        eng.create_table()
    df = spark.createDataFrame(rows, SCHEMA)
    kw = {} if max_batches is None else {"max_batches": max_batches}
    eng.replay(df, **kw)
    return eng


def _final(eng):
    return {
        r["doc_id"]: (tuple(r["tokens"]), r["n_tok"], r["source"])
        for r in eng.read_final().collect()
    }


def test_append_replay_matches_reference_and_batching(spark, workdir):
    rows = _events()
    one = _replay(spark, os.path.join(workdir, "one"), rows, 10_000)
    many = _replay(spark, os.path.join(workdir, "many"), rows, 25)
    ref = _reference(rows)
    assert _final(one) == ref
    assert _final(many) == ref
    assert many.table.current_version() > one.table.current_version()


def test_append_kill_resume_bit_identical(spark, workdir):
    rows = _events()
    root = os.path.join(workdir, "resume")
    _replay(spark, root, rows, 40, max_batches=2)  # killed mid-replay
    resumed = _replay(spark, root, rows, 40)       # fresh engine resumes
    assert _final(resumed) == _reference(rows)


def test_append_redelivery_absorbed(spark, workdir):
    rows = _events()
    # at-least-once: re-deliver every 3rd event verbatim (same lsn)
    dup = rows + [r for i, r in enumerate(rows) if i % 3 == 0]
    eng = _replay(spark, os.path.join(workdir, "dup"), dup, 10_000)
    assert _final(eng) == _reference(rows)


def test_append_late_event_raises(spark, workdir):
    rows = _events()
    eng = _replay(spark, os.path.join(workdir, "late"), rows, 10_000)
    # hand-feed a batch whose events sit below the stored high-water —
    # unreachable via windowed replay, reachable via streaming epochs
    late = spark.createDataFrame(
        [("U", "doc000", 1, 1001, 0, [9], None, None)], SCHEMA
    )
    prepared = eng._prepare_batch(late, eng.table)
    with pytest.raises(ValueError, match="cannot replay out of order"):
        eng._append_winners(prepared, eng.table)


def test_append_to_tombstoned_doc_suppressed(spark, workdir):
    rows = [
        ("I", "a", 1, 1000, 0, [1], 1, "s"),
        ("D", "a", 2, 1001, 0, None, None, None),
    ]
    root = os.path.join(workdir, "tomb")
    _replay(spark, root, rows, 10_000)
    # next sync: a bare append to the dead doc — suppressed, not resurrected
    eng2 = CdcEngine(
        spark, root,
        StreamConfig(num_buckets=8, update_mode="token_append"),
        EngineConfig(batch_events=10_000, validate_tokens=False),
    )
    eng2.replay(spark.createDataFrame(
        [("U", "a", 3, 1002, 0, [2], None, None)], SCHEMA
    ))
    assert _final(eng2) == {}


def test_append_streaming_epochs_match_batch(spark, workdir):
    """Structured Streaming drain (availableNow, multiple epochs) of an
    append-mode changelog lands on the same final table as batch replay —
    epoch boundaries are just another batching, and the mergeable-summary
    algebra makes batching invisible."""
    from airbyte_spark.streaming import stream_replay

    rows = _events()
    # land the changelog as sequential files (ascending mtime) the way a
    # real tail dump arrives — FileStreamSource orders epochs by file
    # modification time, and append-mode epochs MUST be in order (a
    # parallel unordered write correctly raises the late-event guard)
    import time as _time

    clpath = os.path.join(workdir, "cl")
    n = len(rows)
    for i in range(4):
        part = rows[i * n // 4:(i + 1) * n // 4]
        spark.createDataFrame(part, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(clpath)
        _time.sleep(1.1)

    eng = CdcEngine(
        spark,
        os.path.join(workdir, "stream"),
        StreamConfig(num_buckets=8, update_mode="token_append"),
        EngineConfig(batch_events=10_000, validate_tokens=False),
    )
    eng.create_table()
    ckpt = os.path.join(workdir, "ss_ckpt")
    stats = stream_replay(eng, clpath, ckpt, max_files_per_trigger=1)
    assert stats["epochs"] >= 2
    assert _final(eng) == _reference(rows)

    # redelivered drain: no new files -> nothing applied
    before = eng.table.current_version()
    stream_replay(eng, clpath, ckpt)
    assert eng.table.current_version() == before


def test_orphan_appends_counted_not_silent(spark, workdir, capfd):
    """Module policy 'counted and dropped, never silently applied':
    within-batch orphans (append after delete) and cross-batch orphans
    (append to a never-created key) both surface via the
    append_orphans_dropped metric."""
    import json

    rows = [
        ("I", "a", 1, 1001, 0, [1], 1, "s"),
        ("I", "b", 2, 1002, 0, [5], 1, "s"),
        ("D", "b", 3, 1003, 0, None, None, None),
        ("U", "b", 4, 1004, 0, [6], None, None),   # within-batch orphan
        ("U", "zz", 5, 1005, 0, [9], None, None),  # cross-batch orphan
        ("U", "a", 6, 1006, 0, [2], None, None),
    ]
    capfd.readouterr()
    eng = _replay(spark, os.path.join(workdir, "orph"), rows, 10_000)
    err = capfd.readouterr().err
    lines = [l for l in err.splitlines() if "append_orphans_dropped" in l]
    assert lines, err[-2000:]
    m = json.loads(lines[-1])
    assert m["within_batch"] == 1 and m["cross_batch"] == 1
    fin = _final(eng)
    assert fin["a"] == ((1, 2), 2, "s")
    assert "b" not in fin and "zz" not in fin


def test_same_lsn_distinct_payloads_surfaced(spark, workdir, capfd):
    """Two DIFFERENT payloads sharing (key, lsn) — the tie-blind LSN
    packing hazard (decode_dms without seq_col) — emit an
    append_lsn_conflicts_dropped metric instead of silently losing one;
    exact redeliveries (same payload) stay metric-free."""
    import json

    rows = [
        ("I", "a", 1, 1001, 0, [1], 1, "s"),
        ("U", "a", 2, 1002, 0, [2], None, None),
        ("U", "a", 2, 1002, 0, [3], None, None),  # distinct payload, same lsn
    ]
    capfd.readouterr()
    _replay(spark, os.path.join(workdir, "conf"), rows, 10_000)
    err = capfd.readouterr().err
    lines = [l for l in err.splitlines() if "append_lsn_conflicts_dropped" in l]
    assert lines, err[-2000:]
    assert json.loads(lines[-1])["n"] == 1

    # payloads differing only in a carry column conflict too; so do two
    # NULL-key rows sharing an lsn, counted on their own
    rows_carry = [
        ("I", "a", 1, 1001, 0, [1], 1, "s"),
        ("U", "a", 2, 1002, 0, [2], None, "x"),
        ("U", "a", 2, 1002, 0, [2], None, "y"),
        ("U", None, 3, 1003, 0, [4], None, "x"),
        ("U", None, 3, 1003, 0, [4], None, "y"),
    ]
    capfd.readouterr()
    _replay(spark, os.path.join(workdir, "carry"), rows_carry, 10_000)
    err = capfd.readouterr().err
    lines = [l for l in err.splitlines() if "append_lsn_conflicts_dropped" in l]
    assert lines, err[-2000:]
    m = json.loads(lines[-1])
    assert (m["n"], m["null_key"]) == (1, 1)

    # exact redelivery: no conflict metric
    rows2 = [
        ("I", "a", 1, 1001, 0, [1], 1, "s"),
        ("U", "a", 2, 1002, 0, [2], None, None),
        ("U", "a", 2, 1002, 0, [2], None, None),
    ]
    capfd.readouterr()
    eng = _replay(spark, os.path.join(workdir, "redeliv"), rows2, 10_000)
    err = capfd.readouterr().err
    assert "append_lsn_conflicts_dropped" not in err
    assert _final(eng)["a"] == ((1, 2), 2, "s")
