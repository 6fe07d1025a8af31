"""Sync-size estimate trace (AirbyteEstimateTraceMessage analog): emitted
once per replay with the exact count of events past the checkpoint and a
byte estimate scaled to that share of the input's events."""

from __future__ import annotations

import json
import os

from airbyte_spark.changelog import ChangelogConfig, seed_df, write_changelog
from airbyte_spark.config import EngineConfig, StreamConfig
from airbyte_spark.engine import CdcEngine

CFG = ChangelogConfig(n_events=400, n_seed_docs=100, seed=31)


def _estimates(capfd):
    out = capfd.readouterr()
    return [
        json.loads(line)
        for line in (out.out + out.err).splitlines()
        if line.startswith('{"event": "sync_estimate"')
    ]


def test_estimate_full_then_partial(spark, workdir, capfd):
    eng = CdcEngine(
        spark, os.path.join(workdir, "e"), StreamConfig(num_buckets=2),
        EngineConfig(batch_events=100),
    )
    eng.create_table()
    eng.bootstrap(seed_df(spark, CFG))
    cl = os.path.join(workdir, "cl")
    write_changelog(spark, CFG, cl)
    capfd.readouterr()  # drain bootstrap noise

    eng.replay(cl, max_batches=1)
    est = _estimates(capfd)
    assert len(est) == 1
    assert est[0]["row_estimate"] == 400  # nothing replayed yet
    assert est[0]["estimate_type"] == "STREAM"
    assert est[0]["byte_estimate"] and est[0]["byte_estimate"] > 0
    full_bytes = est[0]["byte_estimate"]

    eng.replay(cl)  # resume from lsn 100
    est2 = _estimates(capfd)
    assert len(est2) == 1
    # events past the checkpoint, not the LSN span 300: an at-least-once
    # duplicate re-delivers an LSN <= 100, which the first batch applied
    remaining = spark.read.parquet(cl).filter("lsn > 100").count()
    assert remaining == 299
    assert est2[0]["row_estimate"] == remaining
    assert 0 < est2[0]["byte_estimate"] < full_bytes  # scaled to the rest
