"""Durable JSON publish (``airbyte_spark.durable.write_json``): every small
metadata document is fsynced before it is published, under a tmp name no
concurrent writer shares. No Spark session needed."""

from __future__ import annotations

import json
import os

import pytest

from airbyte_spark import durable
from airbyte_spark.catalog import CatalogSnapshotStore


def test_write_json_replace_and_exclusive(tmp_path):
    path = str(tmp_path / "doc.json")
    durable.write_json(path, {"v": 1})
    durable.write_json(path, {"v": 2})  # replace semantics
    with pytest.raises(FileExistsError):
        durable.write_json(path, {"v": 3}, exclusive=True)  # the CAS
    with open(path) as fh:
        assert json.load(fh) == {"v": 2}
    assert os.listdir(tmp_path) == ["doc.json"]  # no tmp left behind


def test_catalog_snapshot_commit_fsyncs_before_publish(tmp_path, monkeypatch):
    events = []
    real_fsync, real_replace = os.fsync, os.replace

    def fsync(fd):
        events.append("fsync")
        real_fsync(fd)

    def replace(src, dst):
        events.append("publish")
        real_replace(src, dst)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    store = CatalogSnapshotStore(str(tmp_path / "catalog"))
    v = store.commit({"s1": 3}, op="sync")
    assert events == ["fsync", "publish"]
    assert store.get(v)["streams"] == {"s1": 3}
