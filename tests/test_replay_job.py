"""The spark-submit --py-files job must produce the same golden final table
as in-process replay (the north-rule deployment shape: identical job at any
cluster size; only --master changes)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pyspark
import pytest

from airbyte_spark.changelog import ChangelogConfig, changelog_df, seed_df, write_changelog, apply_golden
from tests.util import assert_frames_equal, final_as_pandas, golden_normalize

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


def _make_zip(path: str) -> None:
    pkg = os.path.join(REPO, "airbyte_spark")
    with zipfile.ZipFile(path, "w") as z:
        for dirpath, _dirs, files in os.walk(pkg):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, REPO))


def test_spark_submit_job_golden(spark, workdir):
    cfg = ChangelogConfig(n_events=1500, n_seed_docs=200, dup_pct=2.0, corrupt_pct=1.0)
    seed = seed_df(spark, cfg)
    seed_path = os.path.join(workdir, "seed")
    seed.write.parquet(seed_path)
    cl_path = os.path.join(workdir, "changelog")
    write_changelog(spark, cfg, cl_path)
    zip_path = os.path.join(workdir, "airbyte_spark.zip")
    _make_zip(zip_path)
    lake = os.path.join(workdir, "lake")

    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            os.path.join(REPO, "jobs", "replay_job.py"),
            "--lake", lake,
            "--changelog", cl_path,
            "--seed", seed_path,
            "--batch-events", "600",
            "--num-buckets", "8",
        ],
        capture_output=True,
        text=True,
        timeout=420,
        env={**os.environ, "PYSPARK_PYTHON": sys.executable},
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    stats = json.loads(
        [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
    )
    assert stats["events"] == cfg.n_events
    assert stats["batches"] == 3  # ceil(1500 / 600)

    # the table the job wrote, read back in-process, must match golden
    from airbyte_spark.config import StreamConfig
    from airbyte_spark.engine import CdcEngine

    eng = CdcEngine(spark, lake, StreamConfig(num_buckets=8))
    exp = golden_normalize(
        apply_golden(seed.toPandas(), changelog_df(spark, cfg).toPandas(), cfg.vocab_size)
    )
    assert_frames_equal(final_as_pandas(eng.read_final()), exp)
    assert stats["final_rows"] == len(exp)


def test_spark_submit_job_streaming_mode(spark, workdir):
    """--streaming drains the changelog via Structured Streaming into the
    same lake; resubmission with the same ss-checkpoint applies nothing."""
    cfg = ChangelogConfig(n_events=600, n_seed_docs=100)
    seed = seed_df(spark, cfg)
    seed_path = os.path.join(workdir, "seed")
    seed.write.parquet(seed_path)
    cl_path = os.path.join(workdir, "changelog")
    write_changelog(spark, cfg, cl_path, n_files=4)
    zip_path = os.path.join(workdir, "airbyte_spark.zip")
    _make_zip(zip_path)
    lake = os.path.join(workdir, "lake")

    def run():
        return subprocess.run(
            [
                SPARK_SUBMIT,
                "--master", "local[2]",
                "--conf", "spark.sql.shuffle.partitions=4",
                "--conf", "spark.ui.enabled=false",
                "--py-files", zip_path,
                os.path.join(REPO, "jobs", "replay_job.py"),
                "--lake", lake,
                "--changelog", cl_path,
                "--seed", seed_path,
                "--num-buckets", "8",
                "--streaming",
                "--ss-checkpoint", os.path.join(workdir, "ss_ckpt"),
                "--max-files-per-trigger", "2",
            ],
            capture_output=True, text=True, timeout=420,
            env={**os.environ, "PYSPARK_PYTHON": sys.executable},
        )

    proc = run()
    assert proc.returncode == 0, proc.stderr[-3000:]
    stats = json.loads([ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1])
    assert stats["epochs"] >= 2 and stats["rows_applied"] > 0

    from airbyte_spark.changelog import apply_golden, changelog_df
    from airbyte_spark.config import StreamConfig
    from airbyte_spark.engine import CdcEngine

    eng = CdcEngine(spark, lake, StreamConfig(num_buckets=8))
    exp = golden_normalize(
        apply_golden(seed.toPandas(), changelog_df(spark, cfg).toPandas(), cfg.vocab_size)
    )
    assert_frames_equal(final_as_pandas(eng.read_final()), exp)

    # resubmit: offsets already consumed -> nothing applied
    proc2 = run()
    assert proc2.returncode == 0, proc2.stderr[-3000:]
    stats2 = json.loads([ln for ln in proc2.stdout.splitlines() if ln.startswith("{")][-1])
    assert stats2["rows_applied"] == 0


@pytest.mark.parametrize(
    "flags",
    [
        ["--streaming"],  # no --ss-checkpoint
        ["--streaming", "--ss-checkpoint", "ss_ckpt", "--format", "jsonl"],
    ],
    ids=["streaming-without-ss-checkpoint", "streaming-non-parquet"],
)
def test_replay_job_rejects_bad_flags_before_creating_the_table(spark, workdir, flags):
    """An impossible flag combination must fail before the job creates the
    table or bootstraps the seed: a rejected run leaves no lake behind."""
    from jobs.replay_job import main

    lake = os.path.join(workdir, "lake")
    with pytest.raises(SystemExit):
        main(["--lake", lake, "--changelog", os.path.join(workdir, "changelog"), *flags])
    assert not os.path.exists(lake)
