"""LWW dedup: the max_by aggregate matches the reference-shaped row_number
window plan and implements the tie-break chain of
BigQuerySqlGenerator.java:456-477."""

from __future__ import annotations

from pyspark.sql import functions as F

from airbyte_spark.changelog import ChangelogConfig, changelog_df
from airbyte_spark.operators.dedup import lww_dedup
from airbyte_spark.schemas import changelog_schema
from tests.util import lww_window_reference


def _mk(spark, rows):
    return spark.createDataFrame(
        [tuple(r) for r in rows],
        changelog_schema(),
    )


def test_higher_lsn_wins(spark):
    df = _mk(
        spark,
        [
            ("I", "d1", 1, 100, 0, [1], 1, "web"),
            ("U", "d1", 5, 500, 0, [2], 1, "web"),
            ("U", "d1", 3, 300, 0, [3], 1, "web"),
        ],
    )
    out = lww_dedup(df).collect()
    assert len(out) == 1 and out[0].lsn == 5 and out[0].tokens == [2]


def test_extracted_at_breaks_lsn_tie(spark):
    # same lsn, different ts_ms -> later extracted_at wins (lww_ties fixture)
    df = _mk(
        spark,
        [
            ("U", "d1", 7, 100, 0, [1], 1, "web"),
            ("U", "d1", 7, 900, 0, [2], 1, "web"),
        ],
    )
    out = lww_dedup(df).collect()
    assert out[0].ts_ms == 900 and out[0].tokens == [2]


def test_tombstone_wins_if_newest(spark):
    df = _mk(
        spark,
        [
            ("U", "d1", 9, 900, 0, [1], 1, "web"),
            ("D", "d1", 10, 1000, 0, None, None, None),
            ("U", "d1", 8, 800, 0, [2], 1, "web"),
        ],
    )
    out = lww_dedup(df).collect()
    assert out[0].op == "D" and out[0].lsn == 10


def test_lww_matches_window_reference(spark):
    """Hot keys (60% of events on 4 keys) and redeliveries: the aggregate
    picks the same winner row, column for column, as the window plan."""
    cfg = ChangelogConfig(n_events=4000, n_seed_docs=200, dup_pct=5.0, hot_pct=60, hot_keys=4)
    df = changelog_df(spark, cfg)
    out = lww_dedup(df).orderBy("doc_id").collect()
    ref = lww_window_reference(df).orderBy("doc_id").collect()
    assert out == ref
    # exactly one row per key, and it is the max (lsn, ts_ms) of that key
    keys = df.select("doc_id").distinct().count()
    assert len(out) == keys


def test_winner_is_max_order(spark):
    cfg = ChangelogConfig(n_events=2000, n_seed_docs=100, dup_pct=0.0)
    df = changelog_df(spark, cfg)
    out = lww_dedup(df)
    expected_max = df.groupBy("doc_id").agg(F.max(F.struct("lsn", "ts_ms")).alias("m"))
    joined = out.join(expected_max, "doc_id")
    bad = joined.filter(
        (F.col("lsn") != F.col("m.lsn")) | (F.col("ts_ms") != F.col("m.ts_ms"))
    )
    assert bad.count() == 0


def test_strategies_agree_with_null_cursor(spark):
    """The aggregate and the window reference produce the identical winner
    when the primary order column is NULLABLE (null loses to non-null;
    all-null ties fall to the secondary column) — the NULL-cursor rules of
    BigQuerySqlGenerator.java:456-477 hold for both plans."""
    rows = [
        ("a", None, 5, "x1"), ("a", 100, 1, "x2"), ("a", None, 9, "x3"),
        ("b", None, 3, "y1"), ("b", None, 9, "y2"),
        ("c", 7, 1, "z1"), ("c", 7, 2, "z2"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, lsn bigint, ts_ms bigint, v string")
    out = {r["doc_id"]: r["v"] for r in lww_dedup(df, key="doc_id").collect()}
    ref = {r["doc_id"]: r["v"] for r in lww_window_reference(df).collect()}
    assert out == ref == {"a": "x2", "b": "y2", "c": "z2"}


def test_connected_components_nonconvergence_raises(spark):
    """ADVICE r2: hitting max_rounds with labels still moving means the
    labeling is split — it must raise, never return silently."""
    import pytest as _pytest

    from airbyte_spark.operators.components import connected_components

    chain = spark.createDataFrame(
        [(f"d{i:02d}", f"d{i + 1:02d}") for i in range(12)], ["a_id", "b_id"]
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_rounds=2).collect()
    done = {
        r.doc_id: r.component_id
        for r in connected_components(chain, max_rounds=30).collect()
    }
    assert set(done.values()) == {"d00"} and len(done) == 13
