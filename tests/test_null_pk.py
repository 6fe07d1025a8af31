"""NULL-primary-key quarantine: a record whose PK is NULL can never merge
(it would land as a corrupt row keyed by nothing). Dedup-mode syncs must
drop it from the final table — surfaced by metric, retained in the raw
table — while append mode keeps records verbatim (no PK semantics)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from airbyte_spark.changelog import (
    ChangelogConfig,
    apply_golden,
    changelog_df,
    seed_df,
    write_changelog,
)
from airbyte_spark.config import EngineConfig, StreamConfig
from airbyte_spark.engine import CdcEngine
from tests.util import assert_frames_equal, final_as_pandas, golden_normalize

CFG = ChangelogConfig(n_events=600, n_seed_docs=150, dup_pct=2.0, seed=23)


def _poisoned(spark):
    """Every 50th event arrives with a NULL doc_id."""
    ch = changelog_df(spark, CFG)
    return ch.withColumn(
        "doc_id",
        F.when(F.col("lsn") % 50 == 0, F.lit(None).cast("string")).otherwise(
            F.col("doc_id")
        ),
    )


def _expected(spark):
    """Golden over the SAME stream minus the null-PK rows (quarantine
    semantics: they never apply)."""
    clean = _poisoned(spark).filter(F.col("doc_id").isNotNull()).toPandas()
    return golden_normalize(
        apply_golden(seed_df(spark, CFG).toPandas(), clean, CFG.vocab_size)
    )


def _run(spark, workdir, engine_cfg, raw=False):
    eng = CdcEngine(
        spark,
        os.path.join(workdir, "e"),
        StreamConfig(num_buckets=4),
        engine_cfg,
    )
    eng.create_table()
    eng.bootstrap(seed_df(spark, CFG))
    p = os.path.join(workdir, "cl")
    _poisoned(spark).write.parquet(p)
    eng.replay(p)
    return eng


def test_null_pk_quarantined_small_batches(spark, workdir):
    """Small batches (bucket-CoW / MoR dispatch): no NULL-keyed row reaches
    the final table; the rest matches golden exactly."""
    eng = _run(spark, workdir, EngineConfig(batch_events=150))
    final = eng.read_final()
    assert final.filter(F.col("doc_id").isNull()).count() == 0
    assert_frames_equal(final_as_pandas(final), _expected(spark))


def test_null_pk_quarantined_full_merge(spark, workdir):
    """One whole-stream batch (full-merge path): same quarantine, and the
    raw/audit table still retains every delivered record incl. NULL keys."""
    eng = _run(
        spark,
        workdir,
        EngineConfig(batch_events=600, keep_raw_table=True),
    )
    final = eng.read_final()
    assert final.filter(F.col("doc_id").isNull()).count() == 0
    assert_frames_equal(final_as_pandas(final), _expected(spark))
    raw_nulls = (
        eng.read_raw_log().filter(F.col("doc_id").isNull()).count()
    )
    assert raw_nulls == 12  # lsn 50,100,...,600 all retained for forensics


@pytest.mark.parametrize("mor_max_fraction", [None, 2.0], ids=["cow", "mor"])
def test_null_pk_quarantined_stream_epochs(
    spark, workdir, mor_max_fraction, monkeypatch
):
    """Structured Streaming epochs quarantine NULL keys exactly like replay
    batches: three one-file epochs over the poisoned changelog, on the
    bucket-CoW path and on the merge-on-read path, land on golden."""
    from airbyte_spark import engine
    from airbyte_spark.streaming import stream_replay

    # 200-event epochs on 150 rows would take the full merge
    monkeypatch.setattr(engine, "_FULL_MERGE_MIN_FRACTION", float("inf"))

    eng = CdcEngine(
        spark,
        os.path.join(workdir, "e"),
        StreamConfig(num_buckets=4),
        EngineConfig(mor_max_fraction=mor_max_fraction),
    )
    eng.create_table()
    eng.bootstrap(seed_df(spark, CFG))
    p = os.path.join(workdir, "cl")
    _poisoned(spark).repartitionByRange(3, "lsn").write.parquet(p)
    stats = stream_replay(eng, p, os.path.join(workdir, "ss"), max_files_per_trigger=1)
    assert stats["epochs"] == 3
    final = eng.read_final()
    assert final.filter(F.col("doc_id").isNull()).count() == 0
    assert_frames_equal(final_as_pandas(final), _expected(spark))
