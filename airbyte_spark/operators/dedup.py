"""Last-writer-wins dedup — the central operator of the engine.

Reference semantics: keep the most recent record per PK, ordered by cursor
DESC then extracted_at DESC, via ``row_number() OVER (PARTITION BY pk ORDER
BY cursor DESC, _airbyte_extracted_at DESC) = 1``
(BigQuerySqlGenerator.java:572-631; JdbcSqlGenerator.java:171-179).

Spark-first redesign: a window forces a full shuffle + per-partition SORT of
*all* events, and a hot key lands on one task (the reference never faces
this — it is single-process). We instead compute the winner with a
``max_by(payload_struct, order_struct)`` aggregate: Catalyst plans it as
partial_max_by (map-side, BEFORE the shuffle) -> exchange -> final_max_by,
so each map task emits at most one row per key it saw. A doc_id with 10^7
duplicate events shuffles ~num_map_tasks rows, not 10^7 — skew is crushed
before the wire. Plan nuance (see PLANS.md): with an array payload in the
buffer the aggregate is sort-based (HashAggregate needs fixed-width
mutable buffers), i.e. partition-local sorts on both sides of the single
exchange; the hot key still never concentrates, and the alternative
(hash-agg the order key, join winners back) would cost a second full
exchange — strictly worse.

Ordering is made *total* with a deterministic content-hash tie-break so
resumed replays are bit-identical even on pathological (same lsn, same
ts_ms, different payload) inputs.

The reference-shaped row_number plan lives on in the tests
(tests/util.py ``lww_window_reference``) as the oracle this aggregate is
checked against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ORDER_COLS = ("lsn", "ts_ms")


def _order_struct(df: DataFrame, order_cols: tuple[str, ...]):
    """Total order: (*order_cols, content-hash). Struct comparison in Spark
    is lexicographic by field position."""
    payload = [c for c in df.columns if c not in order_cols]
    return F.struct(
        *[F.col(c) for c in order_cols],
        F.xxhash64(*[F.col(c) for c in payload]).alias("_tb"),
    )


def lww_dedup(
    df: DataFrame,
    key: str = "doc_id",
    order_cols: tuple[str, ...] = ORDER_COLS,
) -> DataFrame:
    """One row per ``key``: the max-(lsn, ts_ms) event. Keeps every column,
    ``key`` first.

    Tombstones participate like any event (delete-wins-if-newest —
    BaseSqlGeneratorIntegrationTest.java:863-919 ordering tests).
    """
    cols = [c for c in df.columns if c != key]
    row = F.struct(*[F.col(c) for c in cols])
    ord_ = _order_struct(df, order_cols)
    # single hash aggregate; Catalyst inserts the map-side partial
    winners = df.groupBy(key).agg(F.max_by(row, ord_).alias("_row"))
    return winners.select(F.col(key), F.col("_row.*"))
