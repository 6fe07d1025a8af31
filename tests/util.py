"""Test helpers: golden comparison utilities."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from airbyte_spark.operators.dedup import ORDER_COLS, _order_struct


def final_as_pandas(df: DataFrame) -> pd.DataFrame:
    """Project engine output to the golden comparison columns."""
    pdf = df.select("doc_id", "tokens", "n_tok", "source", "_ab_lsn").toPandas()
    pdf["tokens"] = pdf["tokens"].map(lambda a: None if a is None else [int(x) for x in a])
    pdf["n_tok"] = pdf["n_tok"].astype("Int64")
    pdf["_ab_lsn"] = pdf["_ab_lsn"].astype("int64")
    return pdf.sort_values("doc_id").reset_index(drop=True)


def golden_normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.copy()
    out["tokens"] = out["tokens"].map(lambda a: None if a is None else [int(x) for x in a])
    out["n_tok"] = out["n_tok"].astype("Int64")
    out["_ab_lsn"] = out["_ab_lsn"].astype("int64")
    return out.sort_values("doc_id").reset_index(drop=True)


def lww_window_reference(
    df: DataFrame, key: str = "doc_id", order_cols: tuple[str, ...] = ORDER_COLS
) -> DataFrame:
    """The reference-shaped LWW plan, ``row_number() OVER (PARTITION BY key
    ORDER BY <total order> DESC) = 1`` (BigQuerySqlGenerator.java:572-631),
    over the same total order as ``lww_dedup`` and with its column order:
    the oracle the max_by aggregate is checked against."""
    w = Window.partitionBy(key).orderBy(F.col("_ord").desc())
    return (
        df.withColumn("_ord", _order_struct(df, order_cols))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(key, *[c for c in df.columns if c != key])
    )


def assert_frames_equal(actual: pd.DataFrame, expected: pd.DataFrame) -> None:
    assert len(actual) == len(expected), f"row count {len(actual)} != {len(expected)}"
    pd.testing.assert_frame_equal(actual, expected, check_dtype=False)
