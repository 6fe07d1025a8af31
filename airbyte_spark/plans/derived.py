"""Deterministic CDC changelog derived from the `events` table.

The driver's correctness gate compares a Spark DataFrame against a DuckDB
SQL oracle over the same parquet. To gate the *CDC pipeline* itself, we
derive a change stream from `events` using only arithmetic/string functions
whose semantics are bit-identical in Spark SQL and DuckDB:

- op mix via a 2-round LCG hash of event_id (all operands < 2^31, products
  < 2^62 — exact in BIGINT, no overflow under either engine's semantics);
- lsn = event_id + 1 (unique, monotone cursor);
- doc_id: inserts mint fresh docs, updates/deletes target user_id-keyed
  docs (hot via natural user_id distribution);
- token payloads as list-comprehension arrays of the same formula the
  native generator uses; ~10% of rows get a corrupted n_tok to exercise the
  token validation inside the gate.

The SQL text is generated once and specialized per dialect only where the
function *name* differs (unix_millis/epoch_ms, transform/list_transform).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_M = 2_147_483_648  # 2^31


def _h_sql(expr: str, salt: int) -> str:
    """2-round LCG hash, pure BIGINT arithmetic, result in [0, 2^31)."""
    r1 = f"((({expr}) + {salt}) % {_M})"
    r2 = f"(({r1} * 1103515245 + 12345) % {_M})"
    return f"(({r2} * 1103515245 + 12345) % {_M})"


def changelog_sql(dialect: str, events_rel: str = "events") -> str:
    """SELECT producing the derived changelog. dialect: 'spark' | 'duckdb'.

    Columns: op, doc_id, lsn, ts_ms, source_partition, event_type,
    n_tok (possibly corrupted), tokens (array<int>), payload_hash.
    """
    if dialect == "spark":
        # testdata parquet timestamps surface as TIMESTAMP_NTZ in Spark 4;
        # session tz is pinned UTC, so the cast is exact.
        ts_ms = "unix_millis(CAST(ts AS TIMESTAMP))"
        tokens = (
            "transform(sequence(0, tok_len - 1), "
            "t -> CAST((doc_num * 1009 + lsn * 31 + t * 7) % 50257 AS INT))"
        )
    elif dialect == "duckdb":
        ts_ms = "epoch_ms(ts)"
        tokens = (
            "list_transform(range(0, tok_len), "
            "t -> CAST((doc_num * 1009 + lsn * 31 + t * 7) % 50257 AS INT))"
        )
    else:  # pragma: no cover
        raise ValueError(dialect)

    h_op = _h_sql("x", 1)
    h_len = _h_sql("x", 2)
    h_pay = _h_sql("x", 3)
    h_cor = _h_sql("x", 7)
    h_cor_amt = _h_sql("x", 8)

    return f"""
WITH base AS (
  SELECT CAST(event_id AS BIGINT) AS x,
         CAST(user_id AS BIGINT) AS uid,
         event_type,
         {ts_ms} AS ts_ms
  FROM {events_rel}
), derived AS (
  SELECT
    CASE WHEN {h_op} % 100 < 60 THEN 'I'
         WHEN {h_op} % 100 < 90 THEN 'U'
         ELSE 'D' END AS op,
    CASE WHEN {h_op} % 100 < 60 THEN 1000000 + x ELSE uid END AS doc_num,
    x + 1 AS lsn,
    ts_ms,
    event_type,
    CAST(1 + {h_len} % 64 AS BIGINT) AS tok_len,
    ({h_cor} % 100 < 10) AS corrupt,
    CAST(1 + {h_cor_amt} % 5 AS BIGINT) AS corrupt_amt,
    {h_pay} AS payload_hash,
    x
  FROM base
)
SELECT
  op,
  printf('doc%09d', doc_num) AS doc_id,
  lsn,
  ts_ms,
  CAST(doc_num % 4 AS BIGINT) AS source_partition,
  CASE WHEN op = 'D' THEN NULL ELSE event_type END AS event_type,
  CASE WHEN op = 'D' THEN NULL
       WHEN corrupt THEN tok_len + corrupt_amt
       ELSE tok_len END AS n_tok,
  CASE WHEN op = 'D' THEN NULL ELSE {tokens} END AS tokens,
  CASE WHEN op = 'D' THEN NULL ELSE payload_hash END AS payload_hash
FROM derived
"""


def derived_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-side derived changelog (registers a scoped temp view)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("_ab_events_src")
    return spark.sql(changelog_sql("spark", "_ab_events_src"))


ORACLE_CHANGELOG_CTE = changelog_sql("duckdb", "events")
