"""The engine's option surface: every ``EngineConfig`` field is set by a
non-test caller or serves a behavioural contract (see config.py). Adding or
removing a knob must edit this list."""

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
