"""Durable JSON publish — the one tmp-then-publish write behind every small
metadata document (lake snapshots and tags, checkpoints, catalog pins and
state, cache/job state, object-sink manifests, generation pointers)."""

from __future__ import annotations

import json
import os
import uuid


def write_json(path: str, doc, exclusive: bool = False) -> None:
    """Publish ``doc`` at ``path`` so readers see the old file or the whole
    new one, never a torn write. The document goes to a uniquely named tmp
    file (concurrent writers never share one), is fsynced, then published:
    ``exclusive=True`` hard-links it into place — an atomic create that
    raises ``FileExistsError`` when ``path`` exists (the snapshot-commit
    CAS) — otherwise ``os.replace`` swaps it in."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(doc, fh)
        fh.flush()
        os.fsync(fh.fileno())
    if not exclusive:
        os.replace(tmp, path)
        return
    try:
        os.link(tmp, path)
    finally:
        os.unlink(tmp)
