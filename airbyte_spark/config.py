"""Stream / engine configuration.

The reference models this as a ConfiguredAirbyteCatalog — per-stream sync
mode, cursor field, primary key (airbyte-protocol.md:365-417,
airbyte_cdk/python/airbyte_cdk/sources/streams/core.py:228-279). We have one
stream (the tokenized-sequences table), so the catalog collapses to two
dataclasses.
"""

from __future__ import annotations

from dataclasses import dataclass, field


# Destination sync modes (airbyte-protocol.md:404-417). append_dedup is the
# reference's "incremental | append + dedup" — final table unique per PK.
SYNC_APPEND = "append"
SYNC_OVERWRITE = "overwrite"
SYNC_APPEND_DEDUP = "append_dedup"


@dataclass(frozen=True)
class StreamConfig:
    """One replicated stream == one lake table.

    Mirrors ConfiguredAirbyteStream: name, primary key, cursor field,
    destination sync mode (airbyte-protocol.md:365-417).
    """

    name: str = "tokenseq"
    # Stream namespace (airbyte-protocol.md stream_descriptor.namespace —
    # the source schema/dataset): routes the stream's lake table into a
    # namespace subdirectory (the destination-schema analog) and is carried
    # on state stream_descriptors. Stream NAMES must still be unique within
    # a catalog (a documented simplification of the reference's
    # (namespace, name) key — sync()/changelog routing key on name).
    namespace: str | None = None
    # Primary key: one column name, or a tuple of columns for a COMPOSITE
    # key (the protocol's source_defined_primary_key list). Composite keys
    # are normalized by CdcEngine to ONE synthesized md5(to_json(struct))
    # column (schemas.COL_COMPOSITE_PK) injected at ingest, so bucketing /
    # dedup / merge / purge / lookup all key on a single column.
    primary_key: str | tuple[str, ...] = "doc_id"
    cursor_field: str = "lsn"
    sync_mode: str = SYNC_APPEND_DEDUP
    # Connection-level mappers (Airbyte "mappings": hash/mask/encrypt/
    # rename/row-filter — plans/mappers.py spec dicts), applied to every
    # record between source read and destination write: the seed at
    # bootstrap AND each replay batch see the same chain, so the table only
    # ever stores mapped values. Tuple of dicts (frozen dataclass).
    # Renaming/removing the primary key or cursor column raises at sync.
    mappers: tuple = ()
    # Update-envelope semantics: "full" = every U event carries the complete
    # after-image (row-based replication, the default); "patch" = U events
    # carry ONLY changed columns (MongoDB change streams / MySQL
    # binlog_row_image=MINIMAL) — absent column means unchanged, an
    # explicitly-nulled column is listed in the event's `_ab_null_fields`
    # array. Patch batches fold column-wise (operators/patch.py) and are
    # resolved to full rows against the touched buckets before commit, so
    # every stored row stays a complete image and scan/merge paths are
    # unchanged. "token_append": U events carry ONLY the appended token
    # suffix (document-growth streams — operators/append_fold.py); I
    # restarts the epoch, D tombstones, appends concatenate in LSN order
    # and resolve against touched buckets before commit. Only meaningful
    # with sync_mode=append_dedup.
    update_mode: str = "full"
    # Lake layout: final table bucketed by hash(primary_key) % num_buckets so
    # MERGE rewrites only affected buckets and dedup shuffles align.
    # SIZING RULE: pick num_buckets ~ table_bytes / target_file_bytes
    # (256 MB-1 GB files), rounded to a power of two — a 100 TB table wants
    # tens of thousands of buckets, not this test-scale default. More
    # buckets = finer CoW granularity and more merge/write parallelism;
    # small batches dodge the rewrite question entirely via merge-on-read.
    num_buckets: int = 32


@dataclass(frozen=True)
class EngineConfig:
    """Replay-loop settings.

    Every field is set by a non-test caller or serves a behavioural
    contract, named in its comment; ``tests/test_config.py`` pins the set.

    ``batch_events`` is the micro-batch size — the analog of the reference's
    checkpoint cadence (state every 10,000 records, DebeziumIteratorConstants
    .java:11-15) and flush batch (FormatConfig.java:22). We checkpoint once
    per committed batch: commit and checkpoint are one atomic unit. Every
    job sets it (``--batch-events``), as do ``bench.py`` and perfbench.
    """

    batch_events: int = 1_000_000
    # Transactional batching: when the LSN packs (commit_lsn << bits |
    # statement_index) — sources/wal2json.py — align every replay-window
    # bound DOWN to a commit boundary so no transaction is ever split across
    # two commits of the destination table (atomicity of source txns under
    # batched replay). None = positions are not sub-ordered; no alignment.
    # Set by cdc_tail_job (wal2json/maxwell/canal, --lsn-align-bits) and
    # demux_job (canal wire).
    lsn_align_bits: int | None = None
    # Token-id range checked by validation: replay_job and cdc_tail_job
    # --vocab-size.
    vocab_size: int = 50_257
    # Validation policy: rows with bad payloads are repaired + flagged in
    # _ab_meta.errors, never dropped (error-capture pattern of
    # BigQuerySqlGenerator.java:544-566). cdc_tail_job turns it off for
    # streams that carry no token payload (--validate-tokens opts in).
    validate_tokens: bool = True
    # Write parallelism for the per-bucket CoW rewrite: bench.py and
    # replay_job --write-partitions.
    write_partitions: int | None = None
    # Post-sync compaction (the reference rewrites data files after each
    # sync, IcebergConsumer.java:210-224): after replay, rewrite any bucket
    # fragmented beyond this many files into one. None disables (bench.py,
    # perfbench and tools/sf_point.py time replay without it).
    compact_after_replay_max_files: int | None = 4
    # Merge-on-read: when a batch's event count is BELOW this fraction of
    # the table's base rows, commit the deduped winners as delta files
    # (append-only, write bytes ~ batch size) and resolve LWW at scan time
    # instead of rewriting buckets. None disables (always copy-on-write).
    # This is what keeps small-batch tailing viable on a table that is
    # orders of magnitude larger than each batch (the 100 TB regime).
    # replay_job --mor-max-fraction.
    mor_max_fraction: float | None = 0.05
    # Fold deltas back into base (compact, inline in the batch that hits
    # the threshold) once this many delta files accumulate — bounds
    # scan-side read amplification. perfbench sets 3 so its tail steps
    # include a fold.
    mor_max_delta_files: int = 64
    # Union / oneOf type fallback (supported-data-types.md:74-113): when an
    # incoming column's type conflicts non-additively with the table's, the
    # reference's destinations degrade the column to a JSON-string
    # serialization rather than failing. When True, such a conflict evolves
    # the column to string (old values cast, complex values to_json) instead
    # of raising SchemaEvolutionError (soft-reset territory).
    # replay_job --union-type-fallback.
    union_type_fallback: bool = False
    # Destinations-V2 raw/audit layer (BigQuerySqlGenerator.java:717-731
    # raw schema; the reference's replay/debug story): when True, every
    # batch's enriched pre-dedup events are ALSO appended to a side table
    # `<stream>_raw` (append-only, batch-id idempotent). Off by default —
    # it doubles write volume; the changelog itself usually serves as the
    # replay log in this engine. replay_job --keep-raw-table.
    keep_raw_table: bool = False
    # SCD-type-2 history write mode (generate_scd_type_2_model,
    # normalization stream_processor.py:742-900): when True, every batch
    # ALSO maintains `<stream>_history` — one row per record version with
    # (valid_from_ms, valid_to_ms, is_active), intervals closed
    # incrementally as later batches supersede them. Contract: N-batch
    # replay and 1-batch replay produce bit-identical history tables.
    scd2_history: bool = False
    # Tombstone retention horizon (in LSNs): during compaction, drop
    # tombstone rows older than max_committed_lsn - this value. A tombstone
    # is only needed to suppress late out-of-order updates, so once the
    # source's reordering window has passed it is dead weight (the table
    # otherwise accretes deleted keys forever on delete-heavy streams).
    # None = retain forever. replay_job --tombstone-retention-lsns.
    tombstone_retention_lsns: int | None = None
    # Write-audit-publish (Iceberg WAP; no Airbyte analog — its platform
    # trusts each sync): when True, every replay-path commit (batch merges,
    # raw/SCD2 appends, mid-replay schema evolution) lands STAGED — visible
    # to the auditor via scan() but not to readers pinned to
    # read_published()/read_final_published(). engine.publish_staged()
    # flips visibility atomically; engine.abandon_staged() reverts the
    # table AND rolls the checkpoint back so the rejected LSN range
    # re-applies on the next replay. Table maintenance (MoR delta folds,
    # post-replay compaction) is deferred while staging so a maintenance
    # commit can never implicitly publish staged data. Bootstrap is never
    # staged (there is no published baseline to audit against yet).
    # CatalogEngine.sync_transaction stages every stream this way.
    # CAVEAT (streaming): Structured-Streaming epochs stage+publish fine,
    # but abandon_staged() cannot roll back the SS offset log — after an
    # abandon, discard the checkpointLocation (or replay the range in
    # batch mode); the table-side batch ids are freed either way.
    stage_commits: bool = False
