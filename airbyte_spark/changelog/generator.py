"""Deterministic, distributed change-stream generator.

Every column is a pure arithmetic function of the event index (via
``spark.range``), so generation is embarrassingly parallel, reproducible at
any parallelism, and never touches Python row-at-a-time code (whole-stage
codegen end-to-end). The same formulas are mirrored in plain numpy by the
golden applier's tests.

Knobs mirror the failure modes the reference's CDC suite exercises
(CdcSourceTest.java / BaseSqlGeneratorIntegrationTest.java):
- insert/update/delete mix;
- hot-key skew (top-K docs absorb p% of updates) — the straggler case the
  single-process reference never faces;
- at-least-once duplicate re-emission (dup_pct re-emits an earlier event
  verbatim, same LSN — "Inclusive Cursors", incremental-append-deduped
  .md:108-112);
- payload corruption (n_tok != len(tokens)) to exercise validation repair.

All arithmetic stays below 2^62 so it is identical under ANSI and legacy
overflow semantics.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

BASE_TS_MS = 1_700_000_000_000  # fixed epoch base; no wall clock in data path
_M31 = 2_147_483_648  # 2^31


@dataclass(frozen=True)
class ChangelogConfig:
    n_events: int = 10_000
    n_seed_docs: int = 1_000
    seed: int = 42
    insert_pct: int = 60
    update_pct: int = 30  # delete = 100 - insert - update
    hot_keys: int = 16
    hot_pct: int = 30  # % of updates/deletes hitting the hot set
    dup_pct: float = 2.0  # % of events that are re-emissions (at-least-once)
    dup_lag: int = 50
    corrupt_pct: float = 0.0  # % of events with n_tok != len(tokens)
    n_source_partitions: int = 4
    max_tokens: int = 64
    vocab_size: int = 50_257
    # Patch-style update envelopes (StreamConfig.update_mode="patch"):
    # U events carry only a changed-column subset — tokens+n_tok travel as
    # one group (they are one logical field; a source would never ship one
    # without the other), `source` as another; ~1 in 5 source-bearing
    # patches instead EXPLICITLY nulls it via the `_ab_null_fields` list.
    # The column is emitted whenever this is on (empty array on I events,
    # NULL payloads on D as usual).
    patch_updates: bool = False


def _lcg(x: str) -> str:
    return f"(({x}) * 1103515245 + 12345) % {_M31}"


def _h(c: str, salt: int, seed: int) -> str:
    """Two-round LCG hash of a non-negative int64 column; result in [0, 2^31)."""
    return _lcg(_lcg(f"({c} + {salt * 7919 + seed * 104729}) % {_M31}"))


def _tokens_expr(doc_idx: str, lsn: str, length: str, vocab: int) -> str:
    """tokens[t] = (doc_idx*1009 + lsn*31 + t*7) % vocab — pure, versioned by lsn."""
    return (
        f"transform(sequence(0, {length} - 1), "
        f"t -> CAST(({doc_idx} * 1009 + {lsn} * 31 + t * 7) % {vocab} AS INT))"
    )


def _doc_id_expr(doc_idx: str) -> str:
    return f"format_string('doc%09d', {doc_idx})"


def _source_expr(doc_idx: str) -> str:
    return f"element_at(array('web', 'books', 'code'), CAST({doc_idx} % 3 + 1 AS INT))"


# The formulas are SQL text, one selectExpr per stage: a Column-built tree
# costs one driver->JVM call per operator (~600 for the changelog), and
# inlining j / doc_idx into every use multiplies the analyzed tree.


def seed_df(spark: SparkSession, cfg: ChangelogConfig) -> DataFrame:
    """The initial snapshot: docs [0, n_seed_docs) at LSN 0 (pre-stream).

    Analog of the reference's PK-chunked initial load
    (MySqlInitialLoadRecordIterator.java:30-45) — here a parallel range scan.
    """
    length = f"CAST(1 + {_h('id', 11, cfg.seed)} % {cfg.max_tokens} AS INT)"
    return (
        spark.range(cfg.n_seed_docs)
        .selectExpr("id AS doc_idx", f"{_tokens_expr('id', '0', length, cfg.vocab_size)} AS tokens")
        .selectExpr(
            f"{_doc_id_expr('doc_idx')} AS doc_id",
            "tokens",
            "CAST(size(tokens) AS INT) AS n_tok",
            f"{_source_expr('doc_idx')} AS source",
            "CAST(0 AS BIGINT) AS lsn",
            f"{BASE_TS_MS - 1} AS ts_ms",
            f"CAST(doc_idx % {cfg.n_source_partitions} AS INT) AS source_partition",
        )
    )


def changelog_df(spark: SparkSession, cfg: ChangelogConfig) -> DataFrame:
    """The bounded change stream: n_events rows, strictly increasing event
    position; dup events repeat an earlier event verbatim (same LSN)."""
    s = cfg.seed
    dup_bp = int(cfg.dup_pct * 100)  # basis points
    corrupt_bp = int(cfg.corrupt_pct * 100)
    r_op = f"{_h('j', 2, s)} % 100"
    is_hot = f"{_h('j', 3, s)} % 100 < {cfg.hot_pct}"
    hot_idx = f"{_h('j', 4, s)} % {max(cfg.hot_keys, 1)}"
    is_corrupt = f"{_h('j', 7, s)} % 10000 < {corrupt_bp}"
    tokens = _tokens_expr("doc_idx", "lsn", "length", cfg.vocab_size)
    df = (
        spark.range(cfg.n_events)
        .selectExpr(
            f"CASE WHEN {_h('id', 1, s)} % 10000 < {dup_bp} AND id >= {cfg.dup_lag} "
            f"THEN id - {cfg.dup_lag} ELSE id END AS j"
        )
        .selectExpr(
            "j",
            f"CASE WHEN {r_op} < {cfg.insert_pct} THEN 'I' "
            f"WHEN {r_op} < {cfg.insert_pct + cfg.update_pct} THEN 'U' ELSE 'D' END AS op",
            f"CASE WHEN {is_hot} THEN {hot_idx} "
            f"ELSE {_h('j', 5, s)} % {cfg.n_seed_docs} END AS existing_idx",
            "CAST(j + 1 AS BIGINT) AS lsn",
            f"CAST({BASE_TS_MS} + j * 1000 AS BIGINT) AS ts_ms",
            f"CAST(1 + {_h('j', 6, s)} % {cfg.max_tokens} AS INT) AS length",
        )
        .selectExpr(
            "*",
            f"CASE WHEN op = 'I' THEN {cfg.n_seed_docs} + j ELSE existing_idx END AS doc_idx",
            f"CASE WHEN {is_corrupt} THEN length + 1 + CAST({_h('j', 8, s)} % 5 AS INT) "
            "ELSE length END AS n_tok_raw",
        )
    )
    cols = [
        "op",
        f"{_doc_id_expr('doc_idx')} AS doc_id",
        "lsn",
        "ts_ms",
        f"CAST(doc_idx % {cfg.n_source_partitions} AS INT) AS source_partition",
    ]
    if not cfg.patch_updates:
        return df.selectExpr(
            *cols,
            f"CASE WHEN op = 'D' THEN NULL ELSE {tokens} END AS tokens",
            "CAST(CASE WHEN op = 'D' THEN NULL ELSE n_tok_raw END AS INT) AS n_tok",
            f"CASE WHEN op = 'D' THEN NULL ELSE {_source_expr('doc_idx')} END AS source",
        )

    # patch envelopes: mask m in [0,4) -> 0: tokens-group only, 1: source
    # only, 2/3: both; explicit source null on ~20% of source-bearing Us
    df = df.selectExpr("*", f"{_h('j', 21, s)} % 4 AS m").selectExpr(
        "*",
        "(op != 'U' OR m != 1) AS tok_present",
        "(op != 'U' OR m != 0) AS src_present",
    ).selectExpr(
        "*", f"op = 'U' AND src_present AND {_h('j', 22, s)} % 5 = 0 AS src_null"
    )
    return df.selectExpr(
        *cols,
        f"CASE WHEN op = 'D' OR NOT tok_present THEN NULL ELSE {tokens} END AS tokens",
        "CAST(CASE WHEN op = 'D' OR NOT tok_present THEN NULL ELSE n_tok_raw END AS INT) AS n_tok",
        f"CASE WHEN op = 'D' OR NOT src_present OR src_null THEN NULL "
        f"ELSE {_source_expr('doc_idx')} END AS source",
        "CASE WHEN src_null THEN array('source') "
        "ELSE CAST(array() AS ARRAY<STRING>) END AS _ab_null_fields",
    )


def write_changelog(spark: SparkSession, cfg: ChangelogConfig, path: str, n_files: int = 8) -> None:
    """Materialize the stream as a parquet dataset, range-partitioned by LSN
    so incremental ``lsn > ckpt`` scans prune whole files (the cursor
    predicate of incremental-append-deduped.md:118-122 pushed to storage)."""
    df = changelog_df(spark, cfg)
    df.repartitionByRange(n_files, "lsn").write.mode("overwrite").parquet(path)
