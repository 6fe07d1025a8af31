"""The engine's option surface: every ``EngineConfig`` field is set by a
non-test caller or serves a behavioural contract (see config.py), and the
lake commit API takes a fixed parameter list. Adding or removing a knob
must edit these lists."""

from __future__ import annotations

import dataclasses

from airbyte_spark.config import EngineConfig

ENGINE_FIELDS = {
    "batch_events",
    "lsn_align_bits",
    "vocab_size",
    "validate_tokens",
    "write_partitions",
    "compact_after_replay_max_files",
    "mor_max_fraction",
    "mor_max_delta_files",
    "union_type_fallback",
    "keep_raw_table",
    "scd2_history",
    "tombstone_retention_lsns",
    "stage_commits",
}


def test_engine_config_fields_are_pinned():
    assert {f.name for f in dataclasses.fields(EngineConfig)} == ENGINE_FIELDS


def test_lake_commit_api_is_pinned():
    """The lake commit API is an option surface too: a new parameter on
    ``LakeTable.__init__``, ``write_and_commit`` or ``append_delta`` must
    edit these lists."""
    import inspect

    from airbyte_spark.lake.table import LakeTable

    def params(fn):
        return [p for p in inspect.signature(fn).parameters if p != "self"]

    assert params(LakeTable.write_and_commit) == [
        "df", "replace_buckets", "summary", "plan_version", "write_partitions",
        "pre_aligned", "new_spec",
    ]
    assert params(LakeTable.append_delta) == ["df", "summary", "num_files"]
    assert params(LakeTable.__init__) == ["spark", "root"]
