"""airbyte-lib-style consumer facade: source -> local cache -> SQL/pandas.

Re-expresses the reference's `airbyte-lib/airbyte_lib/` developer surface
(`get_source` -> `source.check()` -> `source.select_streams()` ->
`read(cache=...)` -> `result["stream"].to_pandas()` / SQL over the cache)
on top of this repo's pieces: ManifestSource supplies the connector verbs,
LakeTable supplies the cache storage, Spark SQL supplies the query layer.

Three-line quickstart (tests/test_lib_facade.py executes this):

    source = get_source(manifest, config={...}, transport=transport)
    result = source.read(spark, LakeCache(spark, "/tmp/cache"))
    result["users"].to_pandas()          # or result.sql("SELECT ...")

Semantics, mirroring airbyte-lib:

- streams WITH a primary key land in a pk-bucketed LakeTable and each
  sync REPLACES records by key (bucket-scoped CoW, the ChunkIndex shape)
  — re-reading a full-refresh stream or overlapping incremental slices
  never duplicates rows;
- pk-less streams land as plain parquet (overwrite per sync);
- per-stream source state persists in the cache (`_state/<key>.json`), so
  the next `read()` of an incremental stream continues where the last
  finished — the caller never touches state documents.

Like the reference's airbyte-lib, this facade is the DEVELOPER workflow
(laptop-scale caches, notebook reads); the 100 TB replay path is
CdcEngine/CatalogEngine, which this module deliberately does not wrap.
"""

from __future__ import annotations

import json
import os
from typing import Any, Iterator, Mapping

from pyspark.sql import DataFrame, SparkSession

from airbyte_spark.durable import write_json
from airbyte_spark.lake.table import LakeTable, conform
from airbyte_spark.sources.declarative import ManifestSource


class SourceCheckFailed(RuntimeError):
    """check() returned CONNECTION_STATUS FAILED."""


def get_source(manifest: dict, *, config: dict | None = None, transport=None) -> "Source":
    """airbyte_lib.get_source analog: a configured, checkable source."""
    return Source(ManifestSource(manifest, transport), config or {})


class Source:
    def __init__(self, src: ManifestSource, config: dict):
        self._src = src
        self.config = dict(config)
        self._selected: list[str] | None = None

    # ------------------------------------------------------------ verbs

    def spec(self) -> dict:
        return self._src.spec()

    def check(self) -> bool:
        """Raises SourceCheckFailed on a failed connection check."""
        status = self._src.check(self.config)["connectionStatus"]
        if status["status"] != "SUCCEEDED":
            raise SourceCheckFailed(status.get("message", "connection check failed"))
        return True

    def get_available_streams(self) -> list[str]:
        return [s.name for s in self._src.streams(self.config)]

    def select_streams(self, names: list[str]) -> None:
        unknown = sorted(set(names) - set(self.get_available_streams()))
        if unknown:
            raise ValueError(f"unknown streams: {unknown}")
        self._selected = list(names)

    def select_all_streams(self) -> None:
        self._selected = None

    # ------------------------------------------------------------- read

    def read(
        self,
        spark: SparkSession,
        cache: "LakeCache",
        *,
        state_key: str = "default",
        max_pages: int | None = None,
    ) -> "ReadResult":
        """Sync selected streams into the cache and return a queryable
        result. Incremental streams resume from the cache's saved state."""
        state = cache.get_state(state_key)
        by_name = {s.name: s for s in self._src.streams(self.config)}
        synced = self._src.read(
            spark, self.config, state=state, streams=self._selected, max_pages=max_pages
        )
        counts: dict[str, int] = {}
        new_state = dict(state)
        for name, (df, st) in synced.items():
            stream = by_name[name]
            counts[name] = cache.write_stream(
                name,
                df,
                primary_key=stream.primary_key,
                incremental=stream.incremental is not None,
            )
            if st is not None:
                new_state[name] = st
        cache.set_state(state_key, new_state)
        return ReadResult(spark, cache, counts)


class LakeCache:
    """The local cache backend: one LakeTable per pk-bearing stream
    (replace-by-key upserts), plain parquet for pk-less streams, and a
    JSON state store — airbyte-lib's cache role (DuckDB there, the lake
    format here so cached streams get snapshots/time-travel for free)."""

    def __init__(self, spark: SparkSession, root: str, num_buckets: int = 8):
        self.spark = spark
        self.root = root
        self.num_buckets = num_buckets
        os.makedirs(os.path.join(root, "_state"), exist_ok=True)

    # ------------------------------------------------------------ state

    def _state_path(self, key: str) -> str:
        return os.path.join(self.root, "_state", f"{key}.json")

    def get_state(self, key: str = "default") -> dict[str, Any]:
        try:
            with open(self._state_path(key)) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return {}

    def set_state(self, key: str, doc: dict[str, Any]) -> None:
        write_json(self._state_path(key), doc)

    # ------------------------------------------------------------ write

    def _stream_root(self, name: str) -> str:
        return os.path.join(self.root, "streams", name)

    def write_stream(
        self, name: str, df: DataFrame, *, primary_key: str | None, incremental: bool
    ) -> int:
        root = self._stream_root(name)
        if primary_key is None:
            # pk-less: every sync is authoritative (full-refresh overwrite)
            df.write.mode("overwrite").parquet(root)
            return self.spark.read.parquet(root).count()

        batch = df.dropDuplicates([primary_key])
        if not LakeTable.exists(root) or set(df.columns) != set(
            LakeTable.load(self.spark, root).snapshot().schema.fieldNames()
        ):
            # first sync, or the stream's schema changed: (re)build the
            # cache table wholesale — cache-scale data, developer workflow
            prior = None
            if LakeTable.exists(root) and incremental:
                prior = LakeTable.load(self.spark, root).scan()
            table = LakeTable.create(
                self.spark,
                root + ".new" if LakeTable.exists(root) else root,
                df.schema,
                primary_key=primary_key,
                num_buckets=self.num_buckets,
                cursor_col=None,
                ts_col=primary_key,
            )
            base = batch
            if prior is not None:
                base = prior.select(*conform(df.schema, prior.schema)).join(
                    batch.select(primary_key), primary_key, "left_anti"
                ).unionByName(batch)
            table.write_and_commit(
                base, replace_buckets=None, summary={"operation": "lib-load"}
            )
            if table.root != root:
                import shutil

                shutil.rmtree(root)
                os.replace(table.root, root)
            return batch.count()

        # steady state: bucket-scoped replace of the batch keys
        table = LakeTable.load(self.spark, root)
        v = table.replace_keys(
            batch.select(primary_key), batch, summary={"operation": "lib-upsert"}
        )
        return 0 if v is None else batch.count()

    # ------------------------------------------------------------- read

    def streams(self) -> list[str]:
        d = os.path.join(self.root, "streams")
        return sorted(os.listdir(d)) if os.path.isdir(d) else []

    def read_stream(self, name: str) -> DataFrame:
        root = self._stream_root(name)
        if LakeTable.exists(root):
            return LakeTable.load(self.spark, root).scan()
        return self.spark.read.parquet(root)


class CachedStream:
    def __init__(self, cache: LakeCache, name: str, processed: int | None):
        self._cache = cache
        self.name = name
        self.processed_records = processed

    def to_df(self) -> DataFrame:
        return self._cache.read_stream(self.name)

    def to_pandas(self):
        return self.to_df().toPandas()


class ReadResult(Mapping):
    """Mapping of stream name -> CachedStream, plus SQL over the cache."""

    def __init__(self, spark: SparkSession, cache: LakeCache, counts: dict[str, int]):
        self.spark = spark
        self.cache = cache
        self.processed_records = dict(counts)

    def __getitem__(self, name: str) -> CachedStream:
        if name not in self.cache.streams():
            raise KeyError(name)
        return CachedStream(self.cache, name, self.processed_records.get(name))

    def __iter__(self) -> Iterator[str]:
        return iter(self.cache.streams())

    def __len__(self) -> int:
        return len(self.cache.streams())

    def sql(self, query: str) -> DataFrame:
        """Run Spark SQL with every cached stream registered as a view."""
        for name in self.cache.streams():
            self.cache.read_stream(name).createOrReplaceTempView(name)
        return self.spark.sql(query)
