"""Checkpoint document — the GLOBAL state analog.

The reference's CDC state is a GLOBAL AirbyteStateMessage: one shared WAL
position + per-stream states (airbyte-protocol.md:491-511;
MySqlCdcStateHandler.java:38-63). Ours is a JSON document next to the table:
shared max-committed LSN + per-source-partition progress.

Invariants (DebeziumStateDecoratingIterator.java:63-79):
- never checkpoint an offset that is not yet durably committed — we write
  the checkpoint strictly AFTER the lake commit it describes;
- a lost checkpoint is harmless: batch ids stamped into snapshot summaries
  let replay skip already-applied ranges (LakeTable.find_batch).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterable
from dataclasses import dataclass, field

from airbyte_spark.durable import write_json


@dataclass
class Checkpoint:
    max_committed_lsn: int = 0
    target_lsn: int | None = None
    table_schema_version: int = 1
    # cursor the replay progress was tracked under; a configured-cursor
    # change invalidates incremental state (the reference soft-resets on
    # cursor change — BaseTypingDedupingTest "testCursorChange")
    cursor_field: str | None = None
    # source_partition -> {"last_lsn": int, "rows_applied": int}
    per_partition: dict[str, dict] = field(default_factory=dict)
    batches: list[str] = field(default_factory=list)

    # The batches list is a bounded record of the most recent committed
    # batch ids, not the idempotence record: replay's skip decision reads
    # the batch_id stamped in each snapshot summary (LakeTable.find_batch).
    # In the engine only a checkpoint rewind (_rewind_checkpoint) reads it,
    # to drop the ids of reverted commits; it also travels in the emitted
    # state document (to_json). Keeping every id forever would make the
    # checkpoint doc the largest state artifact on a long tail and its
    # rewrite O(n^2) cumulative.
    BATCH_WINDOW = 64  # class constant (unannotated: not a dataclass field)

    def note_batch(self, batch_id: str) -> None:
        """Record a committed batch id, keeping only a recent window."""
        if batch_id not in self.batches:
            self.batches.append(batch_id)
        if len(self.batches) > self.BATCH_WINDOW:
            del self.batches[: len(self.batches) - self.BATCH_WINDOW]

    def to_json(self) -> dict:
        return {
            "shared_state": {
                "max_committed_lsn": self.max_committed_lsn,
                "target_lsn": self.target_lsn,
                "table_schema_version": self.table_schema_version,
                "cursor_field": self.cursor_field,
            },
            "per_partition": [
                {"source_partition": int(p), **v}
                for p, v in sorted(self.per_partition.items(), key=lambda kv: int(kv[0]))
            ],
            "batches": self.batches,
        }

    @staticmethod
    def from_json(d: dict) -> "Checkpoint":
        shared = d.get("shared_state", {})
        return Checkpoint(
            max_committed_lsn=shared.get("max_committed_lsn", 0),
            target_lsn=shared.get("target_lsn"),
            table_schema_version=shared.get("table_schema_version", 1),
            cursor_field=shared.get("cursor_field"),
            per_partition={
                str(e["source_partition"]): {
                    k: v for k, v in e.items() if k != "source_partition"
                }
                for e in d.get("per_partition", [])
            },
            batches=list(d.get("batches", [])),
        )


def load_checkpoint(path: str) -> Checkpoint | None:
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return Checkpoint.from_json(json.load(fh))


def save_checkpoint(path: str, ckpt: Checkpoint) -> None:
    """Atomic replace — readers never observe a torn checkpoint."""
    write_json(path, ckpt.to_json())


def advance_checkpoint(
    path: str,
    lsn: int = 0,
    batch_id: str | None = None,
    schema_version: int | None = None,
    progress: Iterable[tuple[int, int, int]] = (),
) -> None:
    """The one load -> advance -> save step, run strictly after the commit
    it describes. ``max_committed_lsn`` only moves forward (stream epochs
    are file-ordered, not LSN-windowed); ``batch_id`` joins the recent-id
    list; ``progress`` rows ``(source_partition, last_lsn, rows_applied)``
    accumulate into ``per_partition``."""
    ckpt = load_checkpoint(path) or Checkpoint()
    ckpt.max_committed_lsn = max(ckpt.max_committed_lsn, lsn)
    if schema_version is not None:
        ckpt.table_schema_version = schema_version
    if batch_id is not None:
        ckpt.note_batch(batch_id)
    for p, last_lsn, rows in progress:
        cur = ckpt.per_partition.setdefault(str(p), {"last_lsn": 0, "rows_applied": 0})
        cur["last_lsn"] = max(cur["last_lsn"], last_lsn)
        cur["rows_applied"] += rows
    save_checkpoint(path, ckpt)
