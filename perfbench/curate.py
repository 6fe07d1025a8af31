"""curate_ops workload: warm runs of the heaviest curation and decoder
queries of ``__spark_entry__.queries()`` over a corpus generated from the
seed, each checked against its ``oracle_sql()`` twin in DuckDB.

Each query is timed as planning (``queryExecution().executedPlan()``:
analysis, optimization, physical planning) and execution (building the
DataFrame, which may run eager jobs, plus ``toPandas()``).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import __spark_entry__ as entry
from spans import NullCounters
from tools.oracle_check import _canon, _hash

# query -> the input table whose rows it consumes; one query per module
# on no replay path: token_dedup, packing, line_dedup, fuzzy_dedup and
# the sources/ decoders
QUERIES = {
    "dedup_span_excision": "documents",
    "tokens_pack_incremental": "events",
    "docs_line_dedup": "documents",
    "dedup_minhash_lsh": "documents",
    "cdc_mongo_decode": "events",
}

N_DOCS = 1_000
N_EVENTS = 10_000

_WORDS = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]


def write_corpus(sf_dir: str, seed: int, n_docs: int = N_DOCS, n_events: int = N_EVENTS) -> dict:
    """documents + events parquet in the schema of the repository's testdata
    tables (TESTDATA.md), a pure function of ``seed``. Returns the row
    count of each table."""
    rng = np.random.default_rng(seed)
    os.makedirs(sf_dir, exist_ok=True)
    lens = rng.integers(10, 101, n_docs)
    words = np.array(_WORDS)[rng.integers(0, len(_WORDS), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    tails = rng.random(n_docs) < 0.05
    texts = [" ".join(w) + (" dup" if t else "") for w, t in zip(np.split(words, cuts), tails)]
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(5, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_events)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1_500, n_events), pa.int64()),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_events)],
            "value": np.round(rng.gamma(2.0, 30.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    pq.write_table(docs, os.path.join(sf_dir, "documents.parquet"))
    pq.write_table(events, os.path.join(sf_dir, "events.parquet"))
    return {"documents": n_docs, "events": n_events}


@dataclass
class RoundResult:
    attempted: int  # queries run
    ops_s: list[float]  # the pass over all queries
    records: int  # input rows the queries consumed
    busy_s: float
    wall_s: float
    plan_ms: dict[str, float]
    exec_ms: dict[str, float]
    results: dict[str, pd.DataFrame]


class CurateWorkload:
    n_checks = len(QUERIES)
    # what a round takes on 4 cores; a run measures --seconds // round_s rounds
    round_s = 8.0

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.sf_dir = os.path.join(work, "corpus")
        self.rows = write_corpus(self.sf_dir, seed)
        self.queries = entry.queries()

    def warm_up(self) -> None:
        """One pass: the first pass in a fresh JVM costs about three warm
        ones (class loading, code generation, Python workers)."""
        self.run_round(NullCounters())

    def layer_metrics(self, r: RoundResult) -> dict[str, float]:
        out = {}
        for name in QUERIES:
            out[f"query.{name}.plan_ms"] = r.plan_ms[name]
            out[f"query.{name}.exec_ms"] = r.exec_ms[name]
        return out

    def run_round(self, counters) -> RoundResult:
        """One curation pass: every query in ``QUERIES``, timed as one
        operation (the queries differ too much in size for a median over
        them to be steady)."""
        t_round = time.perf_counter()
        records, busy_s, plan_ms, exec_ms, results = 0, 0.0, {}, {}, {}
        for name, table in QUERIES.items():
            t0 = time.perf_counter()

            def op(name=name):
                df = self.queries[name](self.spark, self.sf_dir)
                t1 = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                return df.toPandas(), t2 - t1

            results[name], plan_s = counters.op(name, op)
            query_s = time.perf_counter() - t0
            plan_ms[name] = plan_s * 1e3
            exec_ms[name] = (query_s - plan_s) * 1e3
            records += self.rows[table]
            busy_s += query_s
        return RoundResult(
            len(QUERIES),
            [busy_s],
            records,
            busy_s,
            time.perf_counter() - t_round,
            plan_ms,
            exec_ms,
            results,
        )

    def check(self, r: RoundResult) -> int:
        """Number of queries whose result differs from the DuckDB oracle."""
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in ("documents", "events"):
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            return sum(
                not _same(r.results[name], con.sql(oracles[name]).df()) for name in QUERIES
            )
        finally:
            con.close()


def _same(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> bool:
    """The oracle comparison of tools/oracle_check.py: row count, column
    names, and a hash of the canonicalized values."""
    if len(spark_pdf) != len(oracle_pdf) or sorted(map(str.lower, spark_pdf.columns)) != sorted(
        map(str.lower, oracle_pdf.columns)
    ):
        return False
    a, b = _canon(spark_pdf), _canon(oracle_pdf)
    b.columns = a.columns
    return _hash(a) == _hash(b)
