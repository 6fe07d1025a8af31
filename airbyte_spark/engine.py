"""CdcEngine — the sync loop, Spark-first.

The reference's whole read->dedup->upsert pipeline
(AbstractSource.read -> stdout JSON -> AsyncStreamConsumer ->
TypeAndDedupeTransaction, SURVEY.md §3) collapses here to, per micro-batch:

    delta = changelog.filter(lsn > last AND lsn <= hi)      # pushdown scan
    delta = validate(delta)                                  # native projection
    winners = lww_dedup(metadata(delta))                     # hash agg
    merge_upsert(table, winners)                             # bucket CoW
    checkpoint(hi)                                           # after commit

Exactly-once: batch_id = hash(stream, lo, hi) is stamped into the commit
summary; replay consults snapshot history before applying, so a crash
between commit and checkpoint write re-skips the batch (the reference gates
state emission on durable writes the same way —
GlobalAsyncStateManager.java:35-54). Bounded replay: the target LSN is
captured at sync start (CdcTargetPosition.java:17-30) — events past it wait
for the next sync.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import time
from collections.abc import Callable, Iterable
from concurrent.futures import ThreadPoolExecutor
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from airbyte_spark import schemas as S
from airbyte_spark.checkpoint import (
    Checkpoint,
    advance_checkpoint,
    load_checkpoint,
    save_checkpoint,
)
from airbyte_spark.config import (
    SYNC_APPEND,
    SYNC_APPEND_DEDUP,
    SYNC_OVERWRITE,
    EngineConfig,
    StreamConfig,
)
from airbyte_spark.durable import write_json
from airbyte_spark.functions.validate import apply_validation
from airbyte_spark.lake.table import LakeTable, conform
from airbyte_spark.lineage import LineageLog, log_metric
from airbyte_spark.operators.dedup import lww_dedup
from airbyte_spark.operators.merge import (
    merge_upsert,
    merge_upsert_full,
    merge_upsert_mor,
)
from airbyte_spark.operators.metadata import inject_cdc_metadata

_SOURCE_ONLY_COLS = {"op", "lsn", "ts_ms", "source_partition", "_ab_null_fields"}
# snapshot-summary operation of a batch commit, per merge mode
_MERGE_OPERATION = {
    "full": "merge-full",
    "cow": "merge",
    "mor": "merge-delta",
    "append": "merge",
    "overwrite": "merge",
}
# A batch whose event count reaches this fraction of the table's rows takes
# the single-action whole-table merge (merge_upsert_full) instead of the
# bucket-pruned paths (_use_full_merge).
_FULL_MERGE_MIN_FRACTION = 0.5


class SchemaEvolutionError(ValueError):
    """Non-additive schema change — requires a soft reset (rebuild from log),
    per DefaultTyperDeduper.java:160-165."""


class CursorChangeError(RuntimeError):
    """The configured cursor field differs from the one the checkpoint was
    built under — incremental progress is meaningless across a cursor
    change, so a soft reset + full re-sync is required (the reference
    rebuilds the final table in the same situation:
    BaseTypingDedupingTest cursor-change scenario,
    DefaultTyperDeduper.java:160-165 soft reset)."""


class OffsetLossError(RuntimeError):
    """The checkpointed LSN is older than the oldest retained change event —
    the WAL was truncated past our offset, so incremental replay would
    silently skip events. The reference detects this and forces a full
    resync (MySqlInitialReadUtil.java:105-114 savedOffsetStillPresentOnServer)."""


class BootstrapIncompleteError(RuntimeError):
    """A sliced initial load committed some but not all of its slices —
    replaying changes over a half-snapshotted table would lose every seed
    row in the un-loaded buckets. Re-run ``bootstrap(seed, slices=K)``;
    committed slices are skipped and only the missing ranges load
    (the reference's resumable initial load restarts at the last completed
    chunk boundary the same way, MySqlInitialLoadRecordIterator.java:30-45)."""


def _batch_id(stream: str, lo: int, hi: int) -> str:
    return hashlib.sha256(f"{stream}:{lo}:{hi}".encode()).hexdigest()[:20]


def _lsn_range(source: DataFrame, lo: int, hi: int) -> DataFrame:
    """The (lo, hi] window of ``source``. The filter is on the cursor, so
    Catalyst pushes it into the parquet scan (PushedFilters) and
    already-applied files are pruned — the analog of the reference's
    ``_airbyte_loaded_at IS NULL`` work marker (SURVEY.md §4)."""
    return source.filter((F.col("lsn") > lo) & (F.col("lsn") <= hi))


def read_changelog(spark: SparkSession, changelog: DataFrame | str) -> DataFrame:
    """The one changelog reader for every ingest leg (replay, demux windows,
    streaming schema inference): a path reads through ``open_changelog``,
    whose ``mergeSchema`` keeps a column added in a later changelog file;
    a DataFrame passes through."""
    if isinstance(changelog, str):
        from airbyte_spark.sources.files import open_changelog

        return open_changelog(spark, changelog)
    return changelog


_WIDENINGS = {  # keys are DataType.simpleString() pairs (current -> incoming)
    ("int", "bigint"): True,
    ("smallint", "int"): True,
    ("smallint", "bigint"): True,
    ("float", "double"): True,
    ("int", "double"): True,
}
# Array ELEMENT widening (Iceberg list-element type promotion): the same
# scalar promotions lift pointwise into array columns — tokens
# array<int> -> array<bigint> is the on-axis case (vocabularies past
# 2^31). Metadata-only like every widening: stored narrower files upcast
# in the scan's cast to the current schema, incoming narrower batches
# upcast at align; element ordering and nullability are untouched.
_WIDENINGS.update(
    {(f"array<{a}>", f"array<{b}>"): True for (a, b) in list(_WIDENINGS)}
)


class CdcEngine:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        stream: StreamConfig | None = None,
        cfg: EngineConfig | None = None,
        _pinned_generation: int | None = None,
    ):
        self.spark = spark
        self.root = root
        self.stream = stream or StreamConfig()
        self.cfg = cfg or EngineConfig()
        # Composite primary key (the protocol's list-of-paths PK,
        # airbyte-protocol.md source_defined_primary_key): normalize to ONE
        # synthesized key column so every downstream stage (bucketing, LWW
        # dedup, merge, purge, lookup, checkpoints) keys on a single 32-char
        # column instead of N-column comparisons — the same idiom as the
        # destination's COMPOSITE_KEY_COL. The hash is injected in
        # _map_records, so every ingest leg (seeds and snapshot chunks via
        # _prepare_seed; replay, demux windows and stream epochs via
        # _admit) gets it from the same place.
        pk = self.stream.primary_key
        self._pk_source_cols: tuple[str, ...] | None = None
        if isinstance(pk, (list, tuple)):
            if len(pk) == 0:
                raise ValueError("primary_key tuple must not be empty")
            if len(pk) == 1:
                self.stream = dataclasses.replace(self.stream, primary_key=pk[0])
            else:
                self._pk_source_cols = tuple(pk)
                self.stream = dataclasses.replace(
                    self.stream, primary_key=S.COL_COMPOSITE_PK
                )
        # ``_pinned_generation`` is internal: resync_staged builds the NEXT
        # generation beside the serving one through an engine pinned there.
        self._pinned_gen = _pinned_generation
        os.makedirs(root, exist_ok=True)
        self.lineage = LineageLog(root)
        self._table: LakeTable | None = None
        self._table_gen: int | None = None
        # token-append scratch: persisted intermediates (the folded batch)
        # released once the batch's commit has run
        self._scratch: list[DataFrame] = []

    # ------------------------------------------------------------- lifecycle

    def generation(self) -> int:
        """Serving generation (Airbyte "refreshes" `_airbyte_generation_id`
        semantics): a truncate-style resync builds generation k+1 beside k
        and swaps a pointer only once complete, so readers never see an
        empty/partial table mid-rebuild. Generation 0 uses the legacy
        paths, so pre-generation tables keep working untouched."""
        if self._pinned_gen is not None:
            return self._pinned_gen
        p = os.path.join(self.root, "generation.json")
        if os.path.exists(p):
            with open(p) as fh:
                return int(json.load(fh).get("generation", 0))
        return 0

    def _gen_paths(self, g: int) -> tuple[str, str]:
        """(table root, checkpoint path) of generation ``g``."""
        base = os.path.join(self.root, self.stream.name)
        if g == 0:
            return base, os.path.join(self.root, "checkpoint.json")
        return f"{base}@gen{g}", os.path.join(self.root, f"checkpoint@gen{g}.json")

    @property
    def table_root(self) -> str:
        return self._gen_paths(self.generation())[0]

    @property
    def checkpoint_path(self) -> str:
        return self._gen_paths(self.generation())[1]

    @property
    def table(self) -> LakeTable:
        # one cached instance PER GENERATION: the snapshot-manifest cache
        # makes the per-batch idempotence walk (find_batch) O(new
        # snapshots); a generation swap invalidates the handle so reads
        # resolve the new serving table
        g = self.generation()
        if self._table is None or self._table_gen != g:
            self._table = LakeTable.load(self.spark, self.table_root)
            self._table_gen = g
        return self._table

    def _summary(self, d: dict) -> dict:
        """Stamp replay-path commit summaries with the WAP staged flag when
        the engine is configured to stage (cfg.stage_commits)."""
        if self.cfg.stage_commits:
            return dict(d, staged=True)
        return d

    def create_table(self, schema: StructType | None = None) -> LakeTable:
        schema = schema or S.tokenseq_schema()
        if self._pk_source_cols is not None and S.COL_COMPOSITE_PK not in [
            f.name for f in schema.fields
        ]:
            from pyspark.sql.types import StringType, StructField

            # key column first: it is the table's bucket identity
            schema = StructType(
                [StructField(S.COL_COMPOSITE_PK, StringType(), False)]
                + list(schema.fields)
            )
        self._table = LakeTable.create(
            self.spark,
            self.table_root,
            schema,
            primary_key=self.stream.primary_key,
            num_buckets=self.stream.num_buckets,
            cursor_col=S.COL_LSN,
            ts_col=S.COL_EXTRACTED_AT,
        )
        self._table_gen = self.generation()
        return self._table

    def bootstrap(self, seed: DataFrame, slices: int = 1) -> int | None:
        """Initial snapshot load (phase 1 of snapshot-then-tail,
        MySqlInitialReadUtil.java:171-180). ``seed`` carries payload columns
        + (lsn, ts_ms). Idempotent via the bootstrap batch id.

        ``slices > 1`` makes the load RESUMABLE at slice granularity (the
        reference's chunk-boundary resume,
        MySqlInitialLoadRecordIterator.java:30-45): the bucket space splits
        into ``slices`` contiguous ranges, each committed separately with its
        own batch id. A crash mid-load re-runs only the missing slices —
        at a 100 TB initial load, one failed executor no longer restarts the
        whole snapshot from zero. The final slice commits under the legacy
        whole-bootstrap id, so completion is detectable from summaries alone
        (checkpoint loss stays harmless) and single-shot/sliced runs are
        mutually idempotent. ``replay`` refuses to start over a
        half-loaded table (:class:`BootstrapIncompleteError`). Resuming with
        a DIFFERENT ``slices`` value re-commits every range (slice ids
        embed the count) — correct via CoW replace, just wasteful.
        """
        table = self.table
        done_bid = _batch_id(self.stream.name, -1, 0)
        if table.find_batch(done_bid) is not None:
            return None
        t0 = time.monotonic()
        snap = table.snapshot()
        out = self._prepare_seed(seed, table).select(*snap.schema.fieldNames())
        # bucket count from the TABLE spec (it may have been rebucketed
        # since creation; stream config only seeds the initial count)
        n_buckets = snap.spec["num_buckets"]
        aligned = snap.spec.get("bucket_fn") == "murmur3"
        if aligned:
            # hashpartitioning(pk, B) == the bucket function: the parallel
            # snapshot load (PK-range chunking analog,
            # MySqlInitialLoadRecordIterator.java:30-45) lands bucket-pure
            # with no second shuffle or cross-bucket sort. The FULL bucket
            # count even for a slice: filtered rows still land at partition
            # index == bucket (other partitions are empty), so slice writes
            # stay shuffle-aligned too.
            out = out.repartition(n_buckets, F.col(self.stream.primary_key))
        slices = max(1, min(int(slices), n_buckets))
        bounds = [round(i * n_buckets / slices) for i in range(slices + 1)]
        bucket_of = table.bucket_expr(self.stream.primary_key)
        version, rows = None, 0
        for i in range(slices):
            lo, hi = bounds[i], bounds[i + 1]
            bid = (
                done_bid
                if i == slices - 1
                else _batch_id(f"{self.stream.name}:bootstrap{slices}", i, slices)
            )
            if table.find_batch(bid) is not None:
                continue
            part = out if slices == 1 else out.filter(
                (bucket_of >= lo) & (bucket_of < hi)
            )
            summary = {"operation": "bootstrap", "batch_id": bid}
            if slices > 1:
                summary.update({"slice": i, "n_slices": slices})
                if i < slices - 1:
                    # only the FINISHING slice commits as "bootstrap" (under
                    # the legacy id) — completion stays summary-detectable
                    summary["operation"] = "bootstrap_slice"
            version = table.write_and_commit(
                part,
                replace_buckets=range(lo, hi),
                summary=summary,
                write_partitions=self.cfg.write_partitions,
                pre_aligned=aligned,
            )
            committed = table.snapshot(version)
            rows += sum(f.rows for f in committed.files if f.bucket in range(lo, hi))
            if slices > 1:
                log_metric(
                    "bootstrap_slice_committed",
                    slice=i,
                    n_slices=slices,
                    buckets=[lo, hi],
                    snapshot=version,
                )
        version = version if version is not None else table.current_version()
        self._advance_checkpoint(bid=done_bid)
        log_metric(
            "bootstrap_committed",
            rows=rows,
            snapshot=version,
            slices=slices,
            wall_ms=int((time.monotonic() - t0) * 1000),
        )
        return version

    def snapshot_chunk(self, chunk: DataFrame, idx: int, n_chunks: int) -> int | None:
        """DBLog-style INCREMENTAL snapshot: apply one snapshot chunk through
        the MERGE path while the tail replays concurrently — the reference's
        "initial load concurrent with CDC" (Debezium incremental snapshots /
        DBLog watermark algorithm; vs :meth:`bootstrap`, which must finish
        before replay starts).

        Correct by construction, no watermark bookkeeping needed: chunk rows
        carry their as-of position in ``lsn`` (the consistent-read point of
        the chunk query), and the merge resolves EVERYTHING by LWW over
        (lsn, ts_ms) against the stored rows — so a tail update that ran
        after the chunk was read wins over the late-arriving chunk row, and
        a tail DELETE can never be resurrected by a late chunk because
        tombstones are retained in storage (operators/merge.py docstring;
        the same property that protects against out-of-order batches).

        Chunks are idempotent via per-chunk batch ids, may arrive in any
        order, and interleave freely with :meth:`replay` calls (single
        writer). Whichever chunk completes the set commits under the legacy
        bootstrap id, so ``bootstrap()`` becomes a no-op afterwards and
        completion is summary-detectable. ``chunk`` carries payload columns
        + (lsn, ts_ms) like a bootstrap seed; rows within a chunk dedup by
        LWW first (one row per PK).
        """
        table = self.table
        idx, n_chunks = int(idx), int(n_chunks)
        if not 0 <= idx < n_chunks:
            raise ValueError(f"chunk idx {idx} outside [0, {n_chunks})")
        done_bid = _batch_id(self.stream.name, -1, 0)

        def chunk_bid(i: int) -> str:
            return _batch_id(f"{self.stream.name}:bootstrapinc{n_chunks}", i, n_chunks)

        if table.find_batch(done_bid) is not None or table.find_batch(
            chunk_bid(idx)
        ) is not None:
            log_metric(
                "chunk_skipped_already_applied", chunk=idx, n_chunks=n_chunks
            )
            return None
        others_done = all(
            table.find_batch(chunk_bid(i)) is not None
            for i in range(n_chunks)
            if i != idx
        )
        bid = done_bid if others_done else chunk_bid(idx)

        # full-row LWW regardless of update_mode: a snapshot row is a whole
        # image, never a patch
        winners = lww_dedup(
            self._prepare_seed(chunk, table), key=self.stream.primary_key
        ).persist()
        try:
            n = winners.count()
            version = self._commit_batch(
                winners,
                summary=self._summary(
                    {
                        "operation": "bootstrap_chunk",
                        "batch_id": bid,
                        "chunk": idx,
                        "n_chunks": n_chunks,
                    }
                ),
                mode="mor" if self._use_mor(table, n) else "cow",
                n_events=n,
            )
        finally:
            winners.unpersist()
            self._drop_scratch()
        if bid == done_bid:
            self._advance_checkpoint(bid=done_bid)
        log_metric(
            "bootstrap_chunk_committed",
            chunk=idx,
            n_chunks=n_chunks,
            rows=n,
            snapshot=version,
            snapshot_complete=bid == done_bid,
        )
        return version

    def _assert_bootstrap_complete(self) -> None:
        """Refuse to replay over a partially-loaded table: some bootstrap
        slices committed but the finishing slice (legacy bootstrap id) is
        absent. Summary-driven — survives checkpoint loss."""
        table = self.table
        if table.find_batch(_batch_id(self.stream.name, -1, 0)) is not None:
            return
        for s in reversed(table.history()):
            op = s.summary.get("operation")
            if op == "soft-reset":
                return
            if op == "bootstrap_slice":
                raise BootstrapIncompleteError(
                    f"bootstrap slice {s.summary.get('slice')}/"
                    f"{s.summary.get('n_slices')} committed but the load "
                    "never finished; re-run bootstrap(seed, slices=...) to "
                    "load the missing ranges before replaying"
                )

    # -------------------------------------------------------- schema evolve

    def _maybe_evolve_schema(self, source_schema: StructType) -> None:
        """Additive evolution: new payload columns appended, int->long /
        float->double widening. Anything else raises (soft-reset territory).
        Semantics of AlterTableReport.java:10-25 +
        BigQuerySqlGenerator.java:300-348 buildAlterTableReport."""
        table = self.table
        snap = table.snapshot()
        current = snap.schema
        cur_by_name = {f.name: f for f in current.fields}
        changed = False
        new_fields = list(current.fields)
        for f in source_schema.fields:
            if f.name in _SOURCE_ONLY_COLS:
                continue
            if f.name not in cur_by_name:
                # new payload column — insert before the engine metadata cols
                insert_at = next(
                    i for i, x in enumerate(new_fields) if x.name in S.ENGINE_COLS
                )
                new_fields.insert(insert_at, f.__class__(f.name, f.dataType, True))
                changed = True
                continue
            cur_t = cur_by_name[f.name].dataType.simpleString()
            new_t = f.dataType.simpleString()
            if cur_t == new_t:
                continue
            if _WIDENINGS.get((cur_t, new_t)):
                idx = next(i for i, x in enumerate(new_fields) if x.name == f.name)
                new_fields[idx] = f.__class__(f.name, f.dataType, True)
                changed = True
            elif _WIDENINGS.get((new_t, cur_t)):
                continue  # source narrower than table — scans upcast, fine
            elif cur_t == "string" and self.cfg.union_type_fallback:
                # already degraded to the union fallback type (or genuinely
                # string with fallback coercion on) — align casts the batch.
                # With fallback OFF a conflicting type against a string
                # column is a non-additive change and must raise below, not
                # silently coerce.
                continue
            elif self.cfg.union_type_fallback:
                # Union/oneOf fallback (supported-data-types.md:74-113): the
                # column degrades to a JSON-string serialization — old files
                # cast (complex: to_json) at scan, incoming batches at align.
                from pyspark.sql.types import StringType

                idx = next(i for i, x in enumerate(new_fields) if x.name == f.name)
                new_fields[idx] = f.__class__(f.name, StringType(), True)
                changed = True
                log_metric(
                    "union_type_fallback", column=f.name,
                    from_type=cur_t, to_type=new_t,
                )
            else:
                raise SchemaEvolutionError(
                    f"non-additive change on column {f.name}: {cur_t} -> {new_t}"
                )
        if changed:
            new_schema = StructType(new_fields)
            v = table.commit_metadata_only(
                summary=self._summary({"operation": "evolve-schema"}),
                new_schema=new_schema,
            )
            log_metric(
                "schema_evolved",
                snapshot=v,
                schema_version=table.snapshot(v).schema_version,
            )

    def apply_schema_changes(
        self, changes: DataFrame, table_id: str | None = None
    ) -> int:
        """Fold decoded Debezium schema-change rows
        (``sources/schema_change.py``) into the table schema via the same
        additive evolution path batch shapes take — the engine's analog of
        the reference replaying its schema-history topic
        (AirbyteSchemaHistoryStorage.java) before decoding data events.

        ``table_id`` filters multi-table schema topics to this stream's
        table. The collect is bounded by design: DDL events are
        metadata-scale (a handful per million DML events) — the same
        bounded-collect contract as the merge path's touched-bucket sets.
        Returns the number of change events folded (0 = nothing usable, no
        commit; evolution itself is also a no-op commit when the derived
        schema adds nothing new)."""
        from airbyte_spark.sources.schema_change import changes_to_payload_schema

        if table_id is not None:
            changes = changes.filter(F.col("table_id") == table_id)
        rows = [r.asDict(recursive=True) for r in changes.collect()]
        payload = changes_to_payload_schema(
            rows, union_type_fallback=self.cfg.union_type_fallback
        )
        if payload is None:
            return 0
        self._maybe_evolve_schema(payload)
        log_metric(
            "schema_changes_applied",
            events=len(rows),
            schema_version=self.table.snapshot().schema_version,
        )
        return len(rows)

    # --------------------------------------------------------------- replay

    def _map_records(self, df: DataFrame) -> DataFrame:
        """Connection-level mappers (StreamConfig.mappers) — the platform
        applies mappings per record between source and destination; here the
        chain compiles to Catalyst expressions once and fuses into whatever
        the sync plan already does (plans/mappers.py, zero added shuffles).
        Every leg passes through — seeds and snapshot chunks via
        _prepare_seed, change rows via _admit — so the destination only
        ever stores mapped values. Composite-PK streams get
        their synthesized key column injected here too — after the mappers,
        so the key always hashes the values the table actually stores."""
        if not self.stream.mappers:
            return self._inject_composite_pk(df)
        from airbyte_spark.plans.mappers import apply_mappers

        # a mapper targeting a column this leg doesn't carry (e.g. the seed
        # lacks a changelog-only field; alignment NULLs it later) is skipped
        # for the leg, mirroring how schema alignment treats missing columns
        specs = []
        for spec in self.stream.mappers:
            col = spec.get("name") or spec.get("from")
            if col is not None and col not in df.columns:
                log_metric(
                    "mapper_skipped_missing_column", op=spec["op"], column=col
                )
                continue
            specs.append(spec)
        out = apply_mappers(df, specs)
        missing = [
            c
            for c in (self.stream.primary_key, self.stream.cursor_field)
            if c in df.columns and c not in out.columns
        ]
        if missing:
            raise ValueError(
                f"mappers removed or renamed required column(s) {missing}; "
                "the primary key and cursor must survive the mapper chain"
            )
        return self._inject_composite_pk(out)

    def _inject_composite_pk(self, df: DataFrame) -> DataFrame:
        """Composite-PK streams: synthesize the single key column
        (md5(to_json(struct(components))) — null-safe, narrow projection,
        computed ONCE at ingest). No-op for single-column keys or legs that
        already carry it (e.g. re-reads of engine output)."""
        if self._pk_source_cols is None or S.COL_COMPOSITE_PK in df.columns:
            return df
        missing = [c for c in self._pk_source_cols if c not in df.columns]
        if missing:
            raise ValueError(
                f"composite primary key components {missing} absent from the "
                f"input (have: {df.columns}); every leg must carry all of "
                f"{list(self._pk_source_cols)}"
            )
        return df.withColumn(
            S.COL_COMPOSITE_PK,
            F.md5(F.to_json(F.struct(*[F.col(c) for c in self._pk_source_cols]))),
        )

    def _admit(self, rows: DataFrame) -> DataFrame:
        """The one admission step for raw change rows (replay, apply_range,
        apply_stream_epoch): map once, refuse a half-loaded table, evolve
        the schema from the MAPPED shape the table will store."""
        rows = self._map_records(rows)
        self._assert_bootstrap_complete()
        self._maybe_evolve_schema(rows.schema)
        return rows

    def _prepare_seed(self, seed: DataFrame, table: LakeTable) -> DataFrame:
        """A snapshot image (bootstrap/resync seed, snapshot chunk) as
        prepared insert events: mapped, ``op='I'``, ``source_partition``
        defaulted to 0, then :meth:`_prepare_batch`."""
        df = self._map_records(seed).withColumn("op", F.lit(S.OP_INSERT))
        if "source_partition" not in df.columns:
            df = df.withColumn("source_partition", F.lit(0))
        return self._prepare_batch(df, table)

    def replay(
        self,
        changelog: DataFrame | str,
        batch_events: int | None = None,
        max_batches: int | None = None,
    ) -> dict:
        """Bounded replay of the change stream up to its current max LSN.

        Resumable: progress below the checkpoint (or any batch id already in
        snapshot summaries) is skipped. Returns summary stats.
        """
        source = self._admit(read_changelog(self.spark, changelog))
        batch_events = batch_events or self.cfg.batch_events

        ckpt = load_checkpoint(self.checkpoint_path) or Checkpoint()
        if (
            ckpt.cursor_field is not None
            and ckpt.cursor_field != self.stream.cursor_field
        ):
            log_metric(
                "cursor_changed",
                checkpoint_cursor=ckpt.cursor_field,
                configured_cursor=self.stream.cursor_field,
            )
            raise CursorChangeError(
                f"checkpoint tracked cursor {ckpt.cursor_field!r} but stream "
                f"configures {self.stream.cursor_field!r}; run soft_reset() + "
                "bootstrap + replay to rebuild"
            )
        ckpt.cursor_field = self.stream.cursor_field
        last = ckpt.max_committed_lsn
        bounds, n_events, n_total = self._plan_windows(
            source, ckpt, self.checkpoint_path, batch_events
        )
        if not bounds:
            return {"batches": 0, "events": 0, "last_committed_lsn": last}

        # Sync-size estimate up front (AirbyteEstimateTraceMessage shape:
        # name/type/row_estimate/byte_estimate — the reference's sources
        # emit it so platforms can show progress): the exact count of events
        # past the checkpoint, from the planner's probe, and the input
        # files' on-disk size scaled by that share of all events.
        byte_estimate = None
        if isinstance(changelog, str) and os.path.isdir(changelog):
            total_b = sum(
                os.path.getsize(os.path.join(dp, f))
                for dp, _, fs in os.walk(changelog)
                for f in fs
                if f.endswith(".parquet")
            )
            byte_estimate = int(total_b * n_events / n_total)
        log_metric(
            "sync_estimate",
            name=self.stream.name,
            estimate_type="STREAM",
            row_estimate=n_events,
            byte_estimate=byte_estimate,
        )

        t0 = time.monotonic()
        total_events = 0
        n_batches = 0
        lo = last
        # Read-ahead: prepare window k+1 CONCURRENTLY with window k's merge —
        # the Spark shape of the reference's source-reads-ahead-while-
        # destination-flushes queue pipeline (AirbyteDebeziumHandler.java
        # BlockingQueue, cap 10,000). The merge itself cannot pipeline (it
        # needs k's commit), but the prepare step is table-independent.
        pool = ThreadPoolExecutor(max_workers=1)
        window = ahead = None  # ahead: the next window, prepared on ``pool``
        try:
            for idx, hi in enumerate(bounds):
                window, ahead = ahead, None
                nxt = bounds[idx + 1] if idx + 1 < len(bounds) else None
                if (
                    nxt is not None
                    and (max_batches is None or n_batches + 1 < max_batches)
                    # an already-applied window is skipped: reading it ahead
                    # would cache and aggregate rows nobody reads
                    and self.table.find_batch(_batch_id(self.stream.name, hi, nxt)) is None
                ):
                    ahead = self._prepare_window(_lsn_range(source, hi, nxt), pool)
                window = window or self._prepare_window(_lsn_range(source, lo, hi))
                total_events += self._apply_window(
                    _batch_id(self.stream.name, lo, hi), window, lo, hi
                )
                lo = hi
                n_batches += 1
                if max_batches is not None and n_batches >= max_batches:
                    break
        finally:
            pool.shutdown(wait=False)
            # a failed window, or the one read ahead of it, leaves its cache
            for w in (window, ahead):
                if w is not None and w[0].is_cached:
                    w[0].unpersist()
        wall = time.monotonic() - t0
        stats = {
            "batches": n_batches,
            "events": total_events,
            "wall_s": round(wall, 3),
            "events_per_sec": round(total_events / wall, 1) if wall > 0 else None,
            "last_committed_lsn": (load_checkpoint(self.checkpoint_path) or Checkpoint()).max_committed_lsn,
        }
        # Post-sync compaction — the reference performs rewriteDataFiles as
        # part of its sync (IcebergConsumer.java:210-224), so its wall time
        # is reported alongside replay throughput (compact_s / total_wall_s)
        # for benchmarks to account for.
        stats["compact_s"] = 0.0
        max_files = self.cfg.compact_after_replay_max_files
        if self.cfg.stage_commits:
            # maintenance deferred while staging (see _commit_batch) — a
            # compaction commit is not staged and must never adopt staged
            # files into published state; run it after publish_staged()
            max_files = None
        if max_files is not None and n_batches > 0:
            t_c = time.monotonic()
            horizon = None
            if self.cfg.tombstone_retention_lsns is not None:
                last_lsn = (load_checkpoint(self.checkpoint_path) or Checkpoint()).max_committed_lsn
                horizon = last_lsn - self.cfg.tombstone_retention_lsns
            v = self.table.compact(
                max_files_per_bucket=max_files,
                tombstone_horizon=horizon,
                deleted_col=S.COL_DELETED_AT,
            )
            compact_s = round(time.monotonic() - t_c, 3)
            if v is not None:
                stats["compact_s"] = compact_s
                log_metric("compacted", snapshot=v, wall_ms=int(compact_s * 1000))
        stats["total_wall_s"] = round(wall + stats["compact_s"], 3)
        log_metric("replay_done", **stats)
        return stats

    def _plan_windows(
        self, source: DataFrame, ckpt: Checkpoint, state_path: str, batch_events: int
    ) -> tuple[list[int], int, int]:
        """The one window planner for a bounded replay of ``source`` from
        ``ckpt`` (this engine's checkpoint, or the demux shared offset). One
        probe aggregate reads the min/max LSN, the event count and the count
        past the checkpoint; then the offset-loss check, and the target LSN
        saved to ``state_path``. Windows are sized by EVENTS, as the
        reference's checkpoint cadence counts records
        (DebeziumIteratorConstants.java:11-15):

        - one window when the remaining events fit in ``batch_events``;
        - arithmetic LSN ranges ``(lo, lo + batch_events]`` when the space is
          dense — the split's window count is within 2x of the windows the
          events need (event-id LSNs; no extra Spark job);
        - event-count quantile bounds otherwise (packed or sparse LSNs:
          wal2json/canal ``commit<<16|seq``, Postgres byte offsets, Mongo
          BsonTimestamps), one approxQuantile pass over the remaining LSNs.

        Correctness does not depend on the bounds: any ascending bounds
        ending at the target partition (last, target], resume recomputes
        them over the REMAINING events only, and committed (lo, hi] ranges
        are never revisited (checkpoint + batch ids). Returns (bounds, events
        past the checkpoint, total events); no bounds = nothing to replay."""
        last = ckpt.max_committed_lsn
        lsn = F.col("lsn")
        mn, target, n_total, n = source.agg(
            F.min(lsn), F.max(lsn), F.count("*"), F.count_if(lsn > last)
        ).first()
        # Gap between our offset and the oldest retained event: the
        # changelog was truncated past the checkpoint. Refuse to skip
        # silently — caller must resync() (reference forces re-snapshot,
        # MySqlInitialReadUtil.java:105-114). The rule is encoding-aware:
        # packed LSNs (canal id<<16, wal2json commit<<16) are SPARSE, so
        # the oldest retained event after normal retention sits at
        # (commit+1)<<bits — far above last+1 with nothing lost. With
        # lsn_align_bits set the comparison runs on commit components;
        # dense encodings (bits 0) keep the strict last+1 rule.
        bits = self.cfg.lsn_align_bits or 0
        if last > 0 and mn is not None and (mn >> bits) > (last >> bits) + 1:
            log_metric("offset_lost", last_committed_lsn=last, min_available_lsn=mn)
            raise OffsetLossError(
                f"checkpoint lsn {last} predates oldest retained event {mn}; "
                "run resync(seed, changelog) to re-snapshot"
            )
        if target is None or target <= last:
            # "future state": nothing to do, checkpoint echoed unchanged
            # (connector-acceptance test_incremental.py:238-305).
            log_metric("replay_noop", last_committed_lsn=last, target_lsn=target)
            return [], 0, n_total
        ckpt.target_lsn = target
        save_checkpoint(state_path, ckpt)
        k = -(-n // batch_events)  # windows the events need
        span_windows = -(-(target - last) // batch_events)
        if k == 1:
            bounds = [target]
        elif span_windows <= 2 * k:
            bounds = [
                min(last + i * batch_events, target) for i in range(1, span_windows + 1)
            ]
        else:
            qs = source.filter(lsn > last).approxQuantile(
                "lsn", [i / k for i in range(1, k)], max(0.0001, 1.0 / (4 * k))
            )
            bounds = sorted({int(q) for q in qs if last < int(q) < target}) + [target]
            log_metric(
                "sparse_lsn_windows",
                windows=len(bounds),
                events=n,
                lsn_span=target - last,
                arithmetic_windows_avoided=span_windows,
            )
        return self._align_bounds(bounds, last, target), n, n_total

    def _align_bounds(self, bounds: list[int], last: int, target: int) -> list[int]:
        """Snap every non-final window bound DOWN to a commit boundary when
        the LSN packs (commit_lsn << lsn_align_bits | statement_index)
        (sources/wal2json.py): a bound landing mid-transaction would split
        the txn's statements across two destination commits. Windows are
        (lo, hi]; snapping hi to ``(hi >> bits << bits) - 1`` puts the
        straddled transaction wholly in the NEXT batch. The final bound is
        always ``target`` (the stream's last statement), so coverage of
        (last, target] is unchanged — only interior boundaries move, and
        correctness never depended on where they sit (resume re-derives
        bounds over remaining events only)."""
        bits = self.cfg.lsn_align_bits
        if not bits:
            return bounds
        snapped = sorted(
            {((b >> bits) << bits) - 1 for b in bounds[:-1]} | {target}
        )
        return [b for b in snapped if b > last]

    def apply_range(self, source: DataFrame, lo: int, hi: int) -> int:
        """Apply one externally-driven (lo, hi] LSN window as an atomic,
        idempotent commit — the per-table leg of a shared-WAL demux
        (demux.py), where the WINDOW loop and the shared offset live above
        this engine. Raw rows pass the same admission step, and the window
        the same apply step, as replay's. Returns rows applied (0 when the
        batch id is already in a snapshot summary)."""
        window = self._prepare_window(_lsn_range(self._admit(source), lo, hi))
        return self._apply_window(_batch_id(self.stream.name, lo, hi), window, lo, hi)

    def _align_to_table(self, batch: DataFrame, table_schema: StructType) -> DataFrame:
        """Project the batch to source cols + the table's payload columns,
        read the way a file written under the batch's schema would be
        (:func:`conform`)."""
        out = [F.col(c) for c in ("op", "lsn", "ts_ms", "source_partition")]
        if self.stream.update_mode == "patch" and "_ab_null_fields" in batch.columns:
            # the explicit-null list is envelope metadata, consumed by the
            # patch fold and never stored
            out.append(F.col("_ab_null_fields"))
        skip = (*S.ENGINE_COLS, "op")
        return batch.select(*out, *conform(table_schema, batch.schema, skip))

    def _prepare_window(
        self, rows: DataFrame, read_ahead: ThreadPoolExecutor | None = None
    ) -> tuple[DataFrame, Callable[[], list]]:
        """The one prepare step of a window — replay window, read-ahead
        window, demux slice or stream epoch: align, validate and inject
        metadata (:meth:`_prepare_batch`); its one :meth:`_batch_stats`
        aggregate runs when the apply step asks for it. A read-ahead window
        is persisted and its stats start now on the ``read_ahead`` pool,
        beside the previous window's merge; a window that feeds the raw
        table is persisted too. Both read the batch twice, and the stats
        action materializes the cache. The plan and the cache are built on
        the calling thread; only the stats action runs on the pool. Returns
        (enriched rows, stats call)."""
        table = self.table
        enriched = self._prepare_batch(rows, table)
        if read_ahead is not None or self.cfg.keep_raw_table:
            enriched = enriched.persist()
        stats = partial(self._batch_stats, enriched, table)
        if read_ahead is not None:
            stats = read_ahead.submit(stats).result
        return enriched, stats

    def _prepare_batch(self, batch: DataFrame, table: LakeTable) -> DataFrame:
        """Align to table schema -> validate (native projection) -> inject CDC
        metadata. No dedup — raw enriched events."""
        batch = self._align_to_table(batch, table.snapshot().schema)
        if self.cfg.validate_tokens:
            batch = apply_validation(batch, self.cfg.vocab_size)
        else:
            batch = batch.withColumn(S.COL_META, F.lit(None).cast(S.META_TYPE))
        return inject_cdc_metadata(batch, key=self.stream.primary_key)

    def _append_raw(self, enriched: DataFrame, bid: str, lo: int, hi: int) -> None:
        """Destinations-V2 raw/audit layer (BigQuerySqlGenerator.java:717-731;
        the raw table is the reference's replay/debug story): append the
        enriched PRE-dedup events of this batch to `<stream>_raw`.
        Append-only (no dedup, no resolution — every delivered event is
        retained), idempotent via its own batch id in the raw table's
        snapshot summaries."""
        raw_root = self.table_root + "_raw"
        if not LakeTable.exists(raw_root):
            LakeTable.create(
                self.spark,
                raw_root,
                enriched.schema,
                primary_key=self.stream.primary_key,
                num_buckets=self.stream.num_buckets,
                cursor_col="lsn",
            )
        raw = LakeTable.load(self.spark, raw_root)
        rbid = f"raw-{bid}"
        if raw.find_batch(rbid) is not None:
            return
        # NEVER staged, even under cfg.stage_commits: the raw/audit table
        # records what was DELIVERED, not what was published — an abandoned
        # staged sync keeps its raw trail (the reference keeps raw rows even
        # when typing fails), and the batch-id check above stops re-applied
        # ranges from appending twice.
        raw.write_and_commit(
            enriched,
            replace_buckets=None,  # pure append
            summary={
                "operation": "raw-append",
                "batch_id": rbid,
                "start_lsn": lo,
                "end_lsn": hi,
            },
            write_partitions=self.cfg.write_partitions,
        )
        log_metric("raw_appended", batch_id=rbid, start_lsn=lo, end_lsn=hi)

    def read_raw_log(self) -> DataFrame:
        """The raw/audit table (every delivered event, pre-dedup) — only
        present when EngineConfig.keep_raw_table is on."""
        return LakeTable.load(self.spark, self.table_root + "_raw").scan()

    def _append_scd2(self, enriched: DataFrame, bid: str, lo: int, hi: int) -> None:
        """SCD2 history write mode (operators/scd2.py): maintain
        `<stream>_history` incrementally — this batch's version rows appended
        with in-batch validity intervals, previously-open rows of touched
        docs closed at the batch's first event per doc. Idempotent via its
        own batch id; runs BEFORE the final-table commit so a crash between
        the two commits re-runs only the missing one on resume."""
        from airbyte_spark.operators.scd2 import create_history_table, scd2_apply

        hist_root = self.table_root + "_history"
        if not LakeTable.exists(hist_root):
            create_history_table(self.spark, hist_root, self.stream.num_buckets)
        hist = LakeTable.load(self.spark, hist_root)
        hbid = f"scd2-{bid}"
        if hist.find_batch(hbid) is not None:
            return
        scd2_apply(
            hist,
            enriched,
            summary=self._summary({
                "operation": "scd2",
                "batch_id": hbid,
                "start_lsn": lo,
                "end_lsn": hi,
            }),
            write_partitions=self.cfg.write_partitions,
        )

    def read_history(self) -> DataFrame:
        """The SCD2 history table (every record version with validity
        interval + active flag) — only present when EngineConfig.scd2_history
        is on."""
        return LakeTable.load(self.spark, self.table_root + "_history").scan()

    def _winners(
        self, enriched: DataFrame, table: LakeTable, buckets: list[int] | None
    ) -> DataFrame:
        """LWW dedup of a prepared batch to one row per PK. In plain
        ``append`` sync mode every record is kept (no dedup), matching the
        reference's incremental|append semantics (airbyte-protocol.md:404-428).
        ``buckets``: the batch's touched-bucket set (_batch_stats), which
        bounds the patch/append resolve scans."""
        if self.stream.sync_mode == SYNC_APPEND:
            return enriched
        if self.stream.update_mode == "patch":
            return self._patch_winners(enriched, table, buckets)
        if self.stream.update_mode == "token_append":
            return self._append_winners(enriched, table, buckets)
        return lww_dedup(enriched, key=self.stream.primary_key)

    def _patch_winners(
        self, enriched: DataFrame, table: LakeTable, buckets: list[int] | None
    ) -> DataFrame:
        """Patch-mode batch -> full-row winners: column-wise fold to one
        patch row per key (operators/patch.py), then resolve against the
        CURRENT state of only the touched ``buckets`` (manifest-pruned scan;
        None reads every bucket)."""
        from airbyte_spark.operators.patch import fold_patches, resolve_patches

        pk = self.stream.primary_key
        snap = table.snapshot()
        payload_cols = [
            f.name for f in S.payload_fields(snap.schema) if f.name not in (pk, "op")
        ]
        fold_in = enriched.withColumn("_errs", F.col(S.COL_META)["errors"]).drop(
            *[c for c in S.ENGINE_COLS if c in enriched.columns]
        )
        folded = fold_patches(
            fold_in,
            payload_cols=payload_cols,
            key=pk,
            order_col="lsn",
            carry_cols=("source_partition",),
            errors_col="_errs",
        )
        resolved = resolve_patches(table, folded, payload_cols, buckets, key=pk)
        resolved = resolved.withColumn(
            S.COL_META, F.struct(F.col("_errs").alias("errors"))
        ).drop("_errs")
        return inject_cdc_metadata(resolved, key=self.stream.primary_key)

    def _append_winners(
        self,
        enriched: DataFrame,
        table: LakeTable,
        buckets: list[int] | None = None,
    ) -> DataFrame:
        """Token-append batch -> full-row winners (update_mode=
        "token_append": U events carry ONLY the appended token suffix —
        operators/append_fold.py). Fold to one mergeable summary per key,
        then resolve against the CURRENT state of only the touched
        ``buckets`` (manifest-pruned scan, same pruning as patch mode; None
        reads every bucket). Exact
        redeliveries (same key+lsn) are dropped before the fold — appends
        are not idempotent, so at-least-once absorption must happen
        HERE, not in the downstream LWW. A key whose batch events reach at
        or below the stored high-water LSN raises: concatenation cannot be
        replayed out of order (unreachable under LSN-windowed batch
        replay; reachable in hand-fed streaming epochs)."""
        from airbyte_spark.operators.append_fold import (
            fold_token_appends,
            resolve_appends,
        )

        pk = self.stream.primary_key
        snap = table.snapshot()
        payload_cols = [
            f.name for f in S.payload_fields(snap.schema) if f.name not in (pk, "op")
        ]
        if "tokens" not in payload_cols:
            raise ValueError(
                "update_mode='token_append' requires a 'tokens' payload column"
            )
        carry = tuple(c for c in payload_cols if c not in ("tokens", "n_tok"))
        fold_base = enriched.withColumn(
            "_errs",
            F.coalesce(F.col(S.COL_META)["errors"], F.expr("array()")),
        ).drop(*[c for c in S.ENGINE_COLS if c in enriched.columns])
        # (key, lsn) dedup below absorbs exact redeliveries — but when two
        # DIFFERENT payloads share a (key, lsn), one is silently lost. That
        # happens with tie-blind LSN packings (decode_dms without seq_col):
        # count and surface it, never swallow it (module policy). The
        # fingerprint covers every payload column, carry columns included.
        # countDistinct skips NULLs, so NULL-key rows (which the dedup
        # below also collapses per lsn) are counted on their own.
        fp = F.md5(F.to_json(F.struct("op", *payload_cols)))
        null_lsn = F.when(F.col(pk).isNull(), F.col("lsn"))
        cstats = fold_base.agg(
            F.countDistinct(pk, "lsn").alias("a"),
            F.countDistinct(pk, "lsn", fp).alias("b"),
            F.countDistinct(null_lsn).alias("null_a"),
            F.countDistinct(null_lsn, fp).alias("null_b"),
        ).collect()[0]
        n_conflicts = cstats["b"] - cstats["a"]
        n_null_conflicts = cstats["null_b"] - cstats["null_a"]
        if n_conflicts or n_null_conflicts:
            log_metric(
                "append_lsn_conflicts_dropped",
                n=n_conflicts,
                null_key=n_null_conflicts,
                hint="distinct payloads shared (key, lsn); supply a "
                "tie-breaking sequence (e.g. decode_dms seq_col)",
            )
        fold_in = fold_base.dropDuplicates([pk, "lsn"])
        folded = fold_token_appends(
            fold_in,
            key=pk,
            tokens_col="tokens",
            order_cols=("lsn", "ts_ms"),
            carry_cols=carry,
            last_cols=("ts_ms", "source_partition"),
            errors_col="_errs",
        ).persist()
        self._scratch.append(folded)
        winners, late, orphans = resolve_appends(
            table, folded, buckets, key=pk, carry_cols=carry
        )
        n_late = late.count()
        if n_late:
            raise ValueError(
                f"token_append: {n_late} key(s) with events at or below the "
                "stored high-water LSN — appends cannot replay out of order"
            )
        # the module policy is "counted and dropped, never silently
        # applied": surface orphan appends like quarantine counts —
        # within-batch from the persisted fold summary (cheap), cross-batch
        # from the resolve join
        n_within = folded.agg(F.sum("n_orphans").alias("o")).collect()[0]["o"] or 0
        n_cross = orphans.count()
        if n_within or n_cross:
            log_metric(
                "append_orphans_dropped",
                within_batch=int(n_within),
                cross_batch=int(n_cross),
            )
        n_tok_type = dict(
            (f.name, f.dataType.simpleString()) for f in snap.schema.fields
        ).get("n_tok", "int")
        winners = winners.select(
            "op",
            "lsn",
            F.col("last_ts_ms").alias("ts_ms"),
            F.coalesce(F.col("last_source_partition"), F.lit(0)).alias(
                "source_partition"
            ),
            pk,
            "tokens",
            F.col("n_tok").cast(n_tok_type).alias("n_tok"),
            *carry,
            F.struct(F.col("_errs").alias("errors")).alias(S.COL_META),
        )
        return inject_cdc_metadata(winners, key=pk)

    def _drop_scratch(self) -> None:
        for df in self._scratch:
            df.unpersist()
        self._scratch.clear()

    def _use_full_merge(self, table: LakeTable, n_events: int) -> bool:
        """Large batches (vs table size) merge the whole table in one
        single-action pass (merge_upsert_full); small batches keep the
        bucket-pruned two-phase path. Bulk replay sits squarely in the
        first regime — bucket pruning cannot skip anything when a batch
        touches every bucket anyway. ``n_events`` is the ACTUAL event count
        of the batch (from _batch_stats) — never the LSN span, which
        overstates sparse ranges and would trigger whole-table rewrites for
        near-empty batches."""
        if (
            self.stream.sync_mode != SYNC_APPEND_DEDUP
            # patch/append batches resolve against touched buckets before
            # commit (_patch_winners/_append_winners); the bucket-CoW / MoR
            # paths then apply as-is, the single-pass whole-table union-fold
            # does not.
            or self.stream.update_mode in ("patch", "token_append")
        ):
            return False
        snap = table.snapshot()
        if snap.spec.get("bucket_fn") != "murmur3":
            return False
        table_rows = sum(f.rows for f in snap.files)
        return n_events >= _FULL_MERGE_MIN_FRACTION * max(table_rows, 1)

    def _merge_mode(self, table: LakeTable, n_events: int) -> str:
        """How a batch commits: "full" | "cow" | "mor" in append_dedup sync
        mode, else the sync mode itself ("append" | "overwrite")."""
        if self.stream.sync_mode != SYNC_APPEND_DEDUP:
            return self.stream.sync_mode
        if self._use_full_merge(table, n_events):
            return "full"
        return "mor" if self._use_mor(table, n_events) else "cow"

    def _use_mor(self, table: LakeTable, n_events: int) -> bool:
        """Merge-on-read dispatch: a batch far smaller than the table (the
        steady-state tailing regime on a huge table) appends delta files
        instead of rewriting buckets — per-batch write bytes then scale with
        the batch, not the table. Copy-on-write remains for mid-size batches
        where folding immediately is cheaper than deferred resolution."""
        frac = self.cfg.mor_max_fraction
        if frac is None or self.stream.sync_mode != SYNC_APPEND_DEDUP:
            return False
        snap = table.snapshot()
        base_rows = sum(f.rows for f in snap.files if f.kind != "delta")
        return base_rows > 0 and n_events < frac * base_rows

    def _commit_batch(
        self,
        winners: DataFrame,
        summary: dict,
        mode: str,
        affected_buckets: list[int] | None = None,
        n_events: int | None = None,
    ) -> int | None:
        """Dispatch on destination sync mode (airbyte-protocol.md:404-417):
        append_dedup -> whole-table merge of the raw events (``mode``
        "full", large batches), delta append (merge-on-read, small batches)
        or bucket-CoW MERGE; append -> pure file append; overwrite ->
        replace the whole table with this batch (full-refresh overwrite,
        BigQuerySqlGenerator.java:684-694 tmp-swap analog)."""
        sync = self.stream.sync_mode
        if sync == SYNC_APPEND_DEDUP:
            if mode == "full":
                return merge_upsert_full(self.table, winners, summary=summary)
            if mode == "mor":
                table = self.table
                if (
                    table.delta_file_count() >= self.cfg.mor_max_delta_files
                    and not self.cfg.stage_commits
                ):
                    # fold deltas back into base before appending more —
                    # bounds scan-side read amplification. Deferred while
                    # staging: the fold's commit is not staged and folding
                    # staged deltas into base files would implicitly
                    # publish them.
                    v = table.compact()
                    log_metric("mor_fold", snapshot=v)
                n_files = max(
                    1, min(self.cfg.write_partitions or 8, 1 + (n_events or 0) // 250_000)
                )
                return merge_upsert_mor(
                    table, winners, summary=summary, num_files=n_files
                )
            return merge_upsert(
                self.table,
                winners,
                summary=summary,
                write_partitions=self.cfg.write_partitions,
                affected_buckets=affected_buckets,
            )
        table = self.table
        cols = table.snapshot().schema.fieldNames()
        rows = winners.select(*cols)
        # replace range comes from the TABLE's spec, not stream config: after
        # a rebucket the table may hold more buckets than the config says
        replace = (
            range(table.snapshot().spec["num_buckets"]) if sync == SYNC_OVERWRITE else None
        )
        return table.write_and_commit(
            rows,
            replace_buckets=replace,
            summary=summary,
            write_partitions=self.cfg.write_partitions,
        )

    # ----------------------------------------------------------- soft reset

    def soft_reset(self) -> int:
        """Drop all data (keep schema + spec) and clear replay progress —
        the reference's soft reset when the existing table can't be evolved
        in place (DefaultTyperDeduper.java:160-165,
        TypeAndDedupeTransaction.java:65-71). Caller then re-bootstraps and
        replays from scratch."""
        table = self.table
        empty = self.spark.createDataFrame([], table.snapshot().schema)
        version = table.write_and_commit(
            empty,
            replace_buckets=range(table.snapshot().spec["num_buckets"]),
            summary={"operation": "soft-reset"},
        )
        save_checkpoint(self.checkpoint_path, Checkpoint())
        log_metric("soft_reset", snapshot=version)
        return version

    def resync(self, seed: DataFrame, changelog: DataFrame | str) -> dict:
        """Full re-snapshot + tail after offset loss: soft reset, bootstrap
        from the fresh seed snapshot, replay whatever the changelog still
        retains (MySqlInitialReadUtil.java:105-114 'full resync')."""
        self.soft_reset()
        # fresh bootstrap id: the soft reset invalidated the old one's data,
        # so bypass the bootstrap idempotence check by seeding progress first
        source = read_changelog(self.spark, changelog)
        mn = source.agg(F.min("lsn")).first()[0]
        table = self.table
        version = table.write_and_commit(
            self._prepare_seed(seed, table).select(*table.snapshot().schema.fieldNames()),
            replace_buckets=range(table.snapshot().spec["num_buckets"]),
            summary={"operation": "resync-bootstrap"},
            write_partitions=self.cfg.write_partitions,
        )
        # resume incremental replay just below the oldest retained event
        # (soft_reset left a fresh checkpoint)
        resume_lsn = max(0, (mn or 1) - 1)
        self._advance_checkpoint(resume_lsn)
        log_metric("resync_bootstrapped", snapshot=version, resume_lsn=resume_lsn)
        return self.replay(source)

    def resync_staged(
        self,
        seed: DataFrame,
        changelog: DataFrame | str,
        batch_events: int | None = None,
    ) -> dict:
        """Truncate-style resync WITHOUT a serving gap (Airbyte "refreshes"
        / `_airbyte_generation_id` semantics): build generation k+1 in a
        sibling table while generation k keeps serving every read, then
        atomically swap the generation pointer once the new table is fully
        bootstrapped and replayed. A crash mid-rebuild leaves the pointer
        on k (readers unaffected) and a re-run RESUMES the staged build —
        bootstrap and batch commits are idempotent in the staged table via
        the same batch-id mechanism as any sync. Old generations stay on
        disk for time-travel until :meth:`drop_old_generations`."""
        staged = self._next_generation()
        if not LakeTable.exists(staged.table_root):
            staged.create_table(self.table.snapshot().schema)
        staged.bootstrap(seed)
        source = read_changelog(self.spark, changelog)
        ckpt = load_checkpoint(staged.checkpoint_path) or Checkpoint()
        if ckpt.max_committed_lsn == 0:
            # the fresh seed reflects source state just below the oldest
            # retained event — replay only the tail past it
            mn = source.agg(F.min("lsn")).first()[0]
            staged._advance_checkpoint(max(0, (mn or 1) - 1))
        stats = staged.replay(source, batch_events)
        stats["generation"] = self._swap_generation(staged)
        return stats

    def _next_generation(self) -> CdcEngine:
        """An engine pinned at generation k+1, beside the serving k."""
        staged = CdcEngine(
            self.spark, self.root, self.stream, self.cfg,
            _pinned_generation=self.generation() + 1,
        )
        # self.stream already names the synthesized key column; the
        # components it hashes carry over
        staged._pk_source_cols = self._pk_source_cols
        return staged

    def _swap_generation(self, staged: CdcEngine) -> int:
        """ATOMIC pointer swap to ``staged``'s generation: the only moment
        readers change generations, and only once the staged table is
        complete. Returns the new serving generation."""
        gen = staged.generation()
        write_json(os.path.join(self.root, "generation.json"), {"generation": gen})
        self._table = None  # next read resolves the new generation
        log_metric("generation_swapped", generation=gen)
        return gen

    def migrate_vocab(self, mapping, unk_id: int, size: int | None = None) -> dict:
        """Tokenizer-swap migration (vocab v1 -> v2): rebuild the table in
        generation k+1 with every stored token id rewritten through the
        mapping, then atomically swap the generation pointer — the same
        no-serving-gap discipline as :meth:`resync_staged`, but a PURE
        PROJECTION of current state (no source replay): the checkpoint
        carries over verbatim, so v2-id events resume exactly where v1
        left off. The remap is an Arrow-vectorized broadcast lookup
        (functions/remap.py — one np.take inside the scan-project stage,
        zero shuffle, zero per-row Python); unmapped ids rewrite to
        ``unk_id`` and are counted, never dropped. Tombstones (NULL
        tokens) pass through, so out-of-order suppression keeps working
        across the migration. The ``_raw`` delivery log intentionally
        stays in v1 ids (it is the audit trail of what was delivered).
        A crash mid-rebuild leaves the pointer on k — readers unaffected,
        and a re-run rebuilds the staged generation from scratch."""
        import numpy as np

        from airbyte_spark.functions.remap import make_token_remapper, mapping_table

        lut = mapping if isinstance(mapping, np.ndarray) else mapping_table(mapping, size)
        staged = self._next_generation()
        # a v2 id domain past 2^31 (or an unk past it) needs array<bigint>
        # tokens: the staged generation is created WIDENED (the same
        # promotion _WIDENINGS allows mid-replay), so the remap can never
        # silently wrap in int32
        wide = bool(lut.size and int(lut.max()) > (1 << 31) - 1) or unk_id > (
            1 << 31
        ) - 1
        from pyspark.sql.types import ArrayType, LongType, StructField, StructType

        schema = self.table.snapshot().schema
        if wide:
            schema = StructType(
                [
                    StructField("tokens", ArrayType(LongType()), f.nullable)
                    if f.name == "tokens"
                    else f
                    for f in schema.fields
                ]
            )
        if not LakeTable.exists(staged.table_root):
            staged.create_table(schema)
        else:
            # a leftover staged generation (crashed resync_staged / prior
            # narrow-mapping run) may carry array<int> tokens while THIS
            # migration needs array<bigint>: widen the stale staged schema
            # through the standard additive-evolution path (int->bigint is a
            # legal promotion; a wider leftover stays wide — scans upcast)
            # instead of letting the cast below overflow at write
            staged._maybe_evolve_schema(schema)
        tok_t = next(
            f.dataType.simpleString()
            for f in staged.table.snapshot().schema.fields
            if f.name == "tokens"
        )
        cur = self.table.scan()
        remap = make_token_remapper(lut, unk_id)
        with_r = cur.withColumn("_r", remap(F.col("tokens"))).persist()
        try:
            totals = with_r.agg(
                F.count("*").alias("rows"),
                F.sum("_r.n_remapped").alias("ids_remapped"),
                F.sum("_r.n_unk").alias("ids_unk"),
            ).first()
            cols = staged.table.snapshot().schema.fieldNames()
            projected = with_r.withColumn(
                "tokens", F.col("_r.tokens").cast(tok_t)
            ).drop("_r")
            version = staged.table.write_and_commit(
                projected.select(*cols),
                replace_buckets=range(staged.table.snapshot().spec["num_buckets"]),
                summary={
                    "operation": "vocab-migration",
                    "ids_remapped": int(totals["ids_remapped"] or 0),
                    "ids_unk": int(totals["ids_unk"] or 0),
                },
                write_partitions=self.cfg.write_partitions,
            )
        finally:
            with_r.unpersist()
        ckpt = load_checkpoint(self.checkpoint_path)
        if ckpt is not None:
            ckpt.table_schema_version = staged.table.snapshot(version).schema_version
            save_checkpoint(staged.checkpoint_path, ckpt)
        out = {
            "generation": self._swap_generation(staged),
            "rows": int(totals["rows"]),
            "ids_remapped": int(totals["ids_remapped"] or 0),
            "ids_unk": int(totals["ids_unk"] or 0),
        }
        log_metric("vocab_migrated", **out)
        return dict(out, snapshot=version)

    def drop_old_generations(self) -> list[int]:
        """Delete superseded generations' tables + checkpoints (run after
        downstream readers have moved past time-traveling into them)."""
        import shutil

        dropped = []
        for g in range(self.generation()):
            root, ck = self._gen_paths(g)
            for suffix in ("", "_raw", "_history"):
                if os.path.isdir(root + suffix):
                    shutil.rmtree(root + suffix, ignore_errors=True)
            if os.path.exists(ck):
                os.unlink(ck)
            dropped.append(g)
        if dropped:
            log_metric("generations_dropped", generations=dropped)
        return dropped

    def apply_stream_epoch(self, batch_df: DataFrame, epoch_id: int) -> int:
        """foreachBatch sink for Structured Streaming replay
        (airbyte_spark.streaming.replay). Exactly-once: the Structured
        Streaming checkpointLocation tracks source offsets, and the
        epoch-stamped batch id makes a re-delivered epoch (crash between
        commit and SS offset write) a no-op — the same two-sided idempotence
        the batch path gets from LSN-range batch ids. An epoch's raw rows
        pass replay's admission step and take replay's apply step (raw and
        SCD2 side tables included); its LSN range is the one its events
        carry. Returns rows applied."""
        eid = int(epoch_id)
        window = self._prepare_window(self._admit(batch_df))
        return self._apply_window(
            _batch_id(f"{self.stream.name}:stream", eid, eid), window, epoch=eid
        )

    def _apply_window(
        self,
        bid: str,
        window: tuple[DataFrame, Callable[[], list]],
        lo: int = 0,
        hi: int = 0,
        epoch: int | None = None,
    ) -> int:
        """The one apply step of a window, for replay windows (inline or
        read ahead), demux slices and stream epochs: batch-id skip, empty
        check, raw and SCD2 side tables, then :meth:`_finish_batch`.
        ``window`` is the :meth:`_prepare_window` result; its stats run only
        past the skip. A stream epoch's (lo, hi] comes from its events.
        Returns rows applied: delivered events minus quarantined NULL-key
        events, 0 for a skipped or empty window — never the LSN span, which
        sparse LSN spaces make meaningless."""
        table = self.table
        enriched, compute_stats = window
        try:
            existing = table.find_batch(bid)
            if existing is not None:
                # crash between commit and checkpoint: reconcile only
                self._advance_checkpoint(hi, bid)
                log_metric(
                    "batch_skipped_already_applied",
                    batch_id=bid,
                    epoch=epoch,
                    snapshot=existing,
                )
                return 0
            t0 = time.monotonic()
            stats = compute_stats()
            if not stats:
                # an empty window never commits (least of all a whole-table
                # rewrite); only the checkpoint moves
                log_metric("batch_empty", batch_id=bid, epoch=epoch, start_lsn=lo, end_lsn=hi)
                self._advance_checkpoint(hi)
                return 0
            if epoch is not None:
                lo = min(int(r["min_lsn"]) for r in stats)
                hi = max(int(r["max_lsn"]) for r in stats)
            if self.cfg.keep_raw_table:
                self._append_raw(enriched, bid, lo, hi)
            if self.cfg.scd2_history:
                self._append_scd2(enriched, bid, lo, hi)
            return self._finish_batch(enriched, stats, table, bid, lo, hi, t0, epoch)
        finally:
            if enriched.is_cached:
                enriched.unpersist()

    def _advance_checkpoint(
        self, hi: int = 0, bid: str | None = None, progress: Iterable = ()
    ) -> None:
        """The one engine checkpoint advance (``advance_checkpoint`` at the
        serving table's schema version), after the commit it describes."""
        advance_checkpoint(
            self.checkpoint_path, hi, bid, self.table.snapshot().schema_version, progress
        )

    def _batch_stats(self, enriched: DataFrame, table: LakeTable) -> list:
        """The batch's numbers from ONE aggregate over its DELIVERED events,
        per source partition: min/max lsn, event count, NULL-key count and
        the touched-bucket set. Every consumer reads them from here: the
        empty check and merge dispatch (counts), quarantine, lineage and
        the checkpoint, the CoW rewrite set and the patch/append resolve
        scans (buckets — the winners' keys are a subset of the delivered
        keys; a NULL key only adds the bucket of hash(NULL), a no-op
        rewrite). On a persisted window (:meth:`_prepare_window`) this
        action is also the one that materializes the cache."""
        pk = self.stream.primary_key
        return (
            enriched.groupBy("source_partition")
            .agg(
                F.min("lsn").alias("min_lsn"),
                F.max("lsn").alias("max_lsn"),
                F.count("*").alias("rows"),
                F.sum(F.col(pk).isNull().cast("long")).alias("null_pk"),
                F.collect_set(table.bucket_expr(pk)).alias("buckets"),
            )
            .collect()
        )

    def _finish_batch(
        self,
        enriched: DataFrame,
        stats: list,
        table: LakeTable,
        bid: str,
        lo: int,
        hi: int,
        t0: float,
        epoch: int | None = None,
    ) -> int:
        """Commit a non-empty prepared batch and end it — the ONE place that
        writes lineage rows, advances the checkpoint and emits
        ``batch_committed``, for every merge mode and for replay windows and
        stream epochs alike. ``stats`` are its :meth:`_batch_stats`.
        rows_applied = delivered events minus quarantined NULL-key events,
        per source partition (the reference's per-state record counts,
        AsyncStreamConsumer.java:199-221). Returns it."""
        t_commit = time.monotonic()
        n_events = sum(int(r["rows"]) for r in stats)
        mode = self._merge_mode(table, n_events)
        buckets = sorted({int(b) for r in stats for b in r["buckets"]})
        # the full merge folds the raw events into the whole table in one
        # pass; every other mode commits the batch's winners
        rows = enriched if mode == "full" else self._winners(enriched, table, buckets)
        # quarantine: a NULL key cannot merge (it would land as a corrupt
        # row); the raw table retains it. Append mode has no PK semantics
        # and keeps every record verbatim.
        quarantine = self.stream.sync_mode != SYNC_APPEND

        def _nulls(r) -> int:
            return int(r["null_pk"]) if quarantine else 0

        n_null = sum(_nulls(r) for r in stats)
        if n_null:
            log_metric(
                "null_pk_quarantined",
                batch_id=bid,
                delivered_rows=n_null,
                raw_retained=bool(self.cfg.keep_raw_table),
            )
            rows = rows.filter(F.col(self.stream.primary_key).isNotNull())
        summary = {
            "operation": _MERGE_OPERATION[mode],
            "batch_id": bid,
            "start_lsn": lo,
            "end_lsn": hi,
        }
        if epoch is not None:
            summary["epoch"] = epoch
        try:
            version = self._commit_batch(
                rows,
                summary=self._summary(summary),
                mode=mode,
                affected_buckets=buckets,
                n_events=n_events,
            )
        finally:
            self._drop_scratch()

        wall_ms = int((time.monotonic() - t0) * 1000)
        # prepare = validate + stats (+ raw/SCD2 side tables); commit = the
        # dedup/merge write and this finish step
        prepare_ms = int((t_commit - t0) * 1000)
        self.lineage.append(
            [
                {
                    "batch_id": bid,
                    "source_partition": int(r["source_partition"]),
                    "start_lsn": int(r["min_lsn"]),
                    "end_lsn": int(r["max_lsn"]),
                    "rows_applied": int(r["rows"]) - _nulls(r),
                    "commit_snapshot_id": int(version),
                    "wall_ms": wall_ms,
                }
                for r in stats
            ]
        )
        self._advance_checkpoint(
            hi,
            bid,
            [
                (int(r["source_partition"]), int(r["max_lsn"]), int(r["rows"]) - _nulls(r))
                for r in stats
            ],
        )

        rows_applied = n_events - n_null
        log_metric(
            "batch_committed",
            batch_id=bid,
            epoch=epoch,
            start_lsn=lo,
            end_lsn=hi,
            merge_mode=mode,
            events=n_events,
            null_pk_quarantined=n_null,
            rows_applied=rows_applied,
            snapshot=version,
            wall_ms=wall_ms,
            prepare_ms=prepare_ms,
            commit_ms=wall_ms - prepare_ms,
            events_per_sec=round(n_events / (wall_ms / 1000.0), 1) if wall_ms else None,
        )
        return rows_applied

    # ----------------------------------------------------------------- read

    def read_final(self, version: int | None = None) -> DataFrame:
        """The deduped final table: tombstones filtered (they are retained in
        storage for ordering — BigQuerySqlGenerator.java:577-586).
        ``version`` time-travels to an earlier snapshot (every commit is a
        readable snapshot; merge-on-read deltas resolve per version)."""
        return self.table.scan(version=version).filter(
            F.col(S.COL_DELETED_AT).isNull()
        )

    def read_raw(self, version: int | None = None) -> DataFrame:
        return self.table.scan(version=version)

    def read_final_published(self) -> DataFrame:
        """``read_final`` pinned to the published head — under
        cfg.stage_commits this is what downstream consumers read while a
        staged sync awaits its audit (write-audit-publish)."""
        return self.read_final(version=self.table.published_version())

    # -------------------------------------------------- write-audit-publish

    def audit(self, specs: list[dict]) -> list:
        """Run declarative data-quality audits (airbyte_spark/audits.py)
        against the STAGED table state, with the published head as the
        row-delta baseline. Pure read — no publish/abandon decision."""
        from airbyte_spark.audits import run_audits

        return run_audits(
            self.read_final(), specs, published=self.read_final_published()
        )

    def audit_and_publish(self, specs: list[dict]) -> tuple[bool, list]:
        """The full write-AUDIT-publish gate: evaluate ``specs`` over the
        staged state; publish atomically when every expectation passes,
        otherwise abandon (reverting to the published head AND rewinding
        the checkpoint so the rejected LSN range replays next sync).
        Returns (published, results)."""
        results = self.audit(specs)
        ok = all(r.passed for r in results)
        if ok:
            self.publish_staged()
        else:
            self.abandon_staged()
            log_metric(
                "sync_rejected_by_audit",
                failed=[r.name for r in results if not r.passed],
            )
        return ok, results

    def publish_staged(self) -> int:
        """Accept a staged sync: atomically publish every staged commit on
        the final table (and the SCD2 history table when that write mode is
        on — it stages alongside). Returns the final table's new published
        version. See EngineConfig.stage_commits."""
        hist_root = self.table_root + "_history"
        if self.cfg.scd2_history and LakeTable.exists(hist_root):
            LakeTable.load(self.spark, hist_root).publish_staged()
        v = self.table.publish_staged()
        log_metric("sync_published", version=v)
        return v

    def abandon_staged(self) -> int:
        """Reject a staged sync: revert the final table (and staged SCD2
        history) to the published head AND roll the checkpoint back so the
        rejected LSN range replays from scratch next sync — the abandoned
        batch ids are freed in the table's idempotence index by the abandon
        commit, so re-application is not skipped. The raw/audit table keeps
        its rows (delivery forensics survive a rejected publish)."""
        staged = set(self.table.staged_versions())
        if not staged:
            return self.table.current_version()
        v = self.table.abandon_staged()
        hist_root = self.table_root + "_history"
        if self.cfg.scd2_history and LakeTable.exists(hist_root):
            LakeTable.load(self.spark, hist_root).abandon_staged()
        max_lsn = self._rewind_checkpoint(staged | {v})
        log_metric(
            "sync_abandoned",
            version=v,
            abandoned_snapshots=len(staged),
            rolled_back_to_lsn=max_lsn,
        )
        return v

    def rollback_to(self, version: int) -> int:
        """Recover from bad data that already committed: revert the final
        table to a retained snapshot (LakeTable.rollback_to — metadata-only
        commit, history preserved, rolled-back batch ids freed) AND rewind
        the checkpoint to the surviving commits' high-water LSN, so the
        next ``replay()`` re-applies the rolled-back range from the
        changelog. The raw/audit table keeps its rows (delivery forensics
        survive a rollback, same contract as ``abandon_staged``). An SCD2
        history table cannot be pointed at a content snapshot — rebuild it
        (soft reset) after a rollback instead."""
        if self.cfg.scd2_history and LakeTable.exists(self.table_root + "_history"):
            raise RuntimeError(
                "rollback_to with scd2_history requires rebuilding the "
                "history table: soft-reset the stream after rollback"
            )
        rolled = {
            v
            for v in self.table.existing_versions()
            if v > version
        }
        new_head = self.table.rollback_to(version)
        if version == new_head:
            return new_head
        max_lsn = self._rewind_checkpoint(rolled | {new_head})
        log_metric(
            "sync_rolled_back",
            version=new_head,
            target=version,
            rolled_back_to_lsn=max_lsn,
        )
        return new_head

    def _rewind_checkpoint(self, reverted: set[int]) -> int:
        """Checkpoint rollback: recompute replay progress from the commits
        outside ``reverted`` (the undone versions plus the revert commit).
        per_partition stats are advisory lineage (the JSONL log is
        authoritative) and reset with the range. Returns the rewound LSN."""
        ckpt = load_checkpoint(self.checkpoint_path) or Checkpoint()
        max_lsn = 0
        keep: set[str] = set()
        for s in self.table.history():
            if s.version in reverted:
                continue
            b = s.summary.get("batch_id")
            if b is not None:
                keep.add(b)
                end = s.summary.get("end_lsn")
                if end is not None:
                    max_lsn = max(max_lsn, int(end))
        ckpt.max_committed_lsn = max_lsn
        ckpt.batches = [b for b in ckpt.batches if b in keep]
        ckpt.per_partition = {}
        ckpt.table_schema_version = self.table.snapshot().schema_version
        save_checkpoint(self.checkpoint_path, ckpt)
        return max_lsn

    def read_final_as_of(self, ts_ms: int) -> DataFrame:
        """Time travel by wall-clock timestamp (Iceberg TIMESTAMP AS OF):
        the final table as of the latest commit at or before ``ts_ms``."""
        return self.read_final(version=self.table.version_as_of(ts_ms))

    def read_changes_since(self, lsn: int, include_deletes: bool = True) -> DataFrame:
        """Incremental CONSUMER view: rows whose last applied change is
        newer than ``lsn`` — what a downstream training job re-processes
        after its own checkpoint. File pruning is manifest-driven (per-file
        max_cursor), so only files that contain newer rows are read at all:
        the storage-side analog of the cursor predicate the reference's
        incremental reads push into SQL
        (incremental-append-deduped.md:118-122). Tombstones newer than
        ``lsn`` are included (deletes must propagate) unless disabled."""
        out = self.table.scan(min_cursor_gt=lsn).filter(F.col(S.COL_LSN) > lsn)
        if not include_deletes:
            out = out.filter(F.col(S.COL_DELETED_AT).isNull())
        return out

    def read_changes_between(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Classified snapshot-diff changelog (insert/update/delete rows
        with `_change_type`) between two committed snapshots — see
        LakeTable.read_changes. Every batch commit is a snapshot, so a
        downstream consumer can subscribe per-batch: remember the snapshot
        version it last saw, diff to current, repeat."""
        return self.table.read_changes(
            from_version, to_version, deleted_col=S.COL_DELETED_AT
        )

    def expire_snapshots(self, keep_last: int = 10) -> dict:
        """Table maintenance: drop snapshots (and unreferenced data files)
        older than the last ``keep_last`` — bounds storage by retained
        history instead of total churn. See LakeTable.expire_snapshots."""
        return self.table.expire_snapshots(keep_last=keep_last)
