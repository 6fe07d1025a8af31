"""catchup_tail workload: seed + changelog from the repo's generator; each
round bootstraps a fresh table, catches up a backlog, then tails small
batches with a reader, as closed-loop ``CdcEngine.replay`` calls from one
client thread.

The correctness gate is independent of the engine: Spark SQL computes the
expected final table straight from seed ∪ changelog (last writer wins on
``(lsn, ts_ms)``, tombstones dropped, token repair by ``pmod``/``size``)
and both sides are compared by row count plus
``bit_xor(xxhash64(...))``, an order-insensitive checksum that cannot
overflow under ANSI arithmetic the way a ``sum`` of hashes does.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from airbyte_spark.changelog import ChangelogConfig, seed_df, write_changelog
from airbyte_spark.config import EngineConfig, StreamConfig
from airbyte_spark.engine import CdcEngine
from spans import lake_counters


@dataclass(frozen=True)
class Call:
    """One ``CdcEngine.replay`` call of a round."""

    batch_events: int
    max_batches: int
    # a tail step: the call plus a point lookup of the reader's keys, timed
    # together as one operation
    tail: bool


SEED_DOCS = 20_000
# Catch-up, then tail. The first call replays a 20k-event backlog in two
# batches with prefetch: the first batch is half the table
# (merge_upsert_full), the second ~38% of the grown table (bucket
# copy-on-write, merge_upsert). Then six ~1.3% batches append
# merge-on-read deltas (merge_upsert_mor); the fourth folds the three
# deltas before appending. The fold and the first, coldest step are the
# two slowest, so the median step is a warm plain one.
CALLS = (Call(10_000, 2, tail=False),) + (Call(400, 1, tail=True),) * 6
ENGINE = {"mor_max_delta_files": 3, "compact_after_replay_max_files": None}
READER_KEYS = 32


@dataclass
class RoundResult:
    attempted: int  # replay calls
    ops_s: list[float]  # tail steps
    records: int  # events delivered
    busy_s: float  # wall of the replay calls
    wall_s: float
    engine: CdcEngine
    start_version: int
    last_lsn: int


class CdcWorkload:
    n_checks = 1
    # what a round takes on 4 cores; a run measures --seconds // round_s rounds
    round_s = 30.0

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.work = work
        self.cfg = ChangelogConfig(
            n_events=sum(c.batch_events * c.max_batches for c in CALLS),
            n_seed_docs=SEED_DOCS,
            seed=seed,
            dup_pct=2.0,
            corrupt_pct=1.0,
            max_tokens=128,
        )
        # the seed is a pure function of cfg, read lazily by each bootstrap
        self.seed = seed_df(spark, self.cfg)
        self.changelog_path = os.path.join(work, "changelog")
        write_changelog(spark, self.cfg, self.changelog_path, n_files=4)
        hot = list(range(self.cfg.hot_keys))
        cold = random.Random(seed).sample(range(len(hot), SEED_DOCS), READER_KEYS - len(hot))
        self.keys = [f"doc{i:09d}" for i in hot + cold]
        self.rounds = 0

    def warm_up(self) -> None:
        """Nothing: input generation and the bootstrap take the JVM's cold
        start, and a warm-up round would cost as much as a measured one.
        The measured round is a sync in a fresh process, as a scheduler
        launches one."""

    def run_round(self, counters) -> RoundResult:
        """Bootstrap a fresh table from the seed, then make the calls."""
        t_round = time.perf_counter()
        lake = os.path.join(self.work, f"lake{self.rounds}")
        shutil.rmtree(os.path.join(self.work, f"lake{self.rounds - 1}"), ignore_errors=True)
        self.rounds += 1
        eng = CdcEngine(self.spark, lake, StreamConfig(), EngineConfig(**ENGINE))
        eng.create_table()
        counters.op(
            "bootstrap",
            lambda: eng.bootstrap(self.seed),
            setup=True,
        )
        start_version = eng.table.current_version()
        ops_s, records, busy_s, last_lsn = [], 0, 0.0, 0
        for call in CALLS:

            def op(call=call):
                t0 = time.perf_counter()
                stats = eng.replay(
                    self.changelog_path,
                    batch_events=call.batch_events,
                    max_batches=call.max_batches,
                )
                replay_s = time.perf_counter() - t0
                if call.tail:
                    eng.table.lookup(self.keys).collect()
                return stats, replay_s

            t0 = time.perf_counter()
            stats, replay_s = counters.op("tail" if call.tail else "catchup", op)
            if call.tail:
                ops_s.append(time.perf_counter() - t0)
            busy_s += replay_s
            records += stats["events"]
            last_lsn = stats["last_committed_lsn"]
        return RoundResult(
            len(CALLS),
            ops_s,
            records,
            busy_s,
            time.perf_counter() - t_round,
            eng,
            start_version,
            last_lsn,
        )

    def layer_metrics(self, r: RoundResult) -> dict[str, float]:
        return lake_counters(r.engine.table, r.start_version, r.records)

    def check(self, r: RoundResult) -> int:
        """1 if the final table of round ``r`` differs from the reference."""
        vocab = r.engine.cfg.vocab_size
        cols = ["doc_id", "lsn", "ts_ms", "tokens", "n_tok", "source"]
        seed = self.seed.select(F.lit("I").alias("op"), *cols)
        changes = (
            self.spark.read.parquet(self.changelog_path)
            .filter(F.col("lsn") <= r.last_lsn)
            .select("op", *cols)
        )
        winners = seed.unionByName(changes).groupBy("doc_id").agg(
            F.max_by(F.struct("op", "tokens", "source", "lsn"), F.struct("lsn", "ts_ms")).alias("w")
        )
        expected = winners.filter(F.col("w.op") != "D").selectExpr(
            "doc_id",
            f"transform(w.tokens, t -> CAST(pmod(t, {vocab}) AS INT)) AS tokens",
            "CAST(size(w.tokens) AS INT) AS n_tok",
            "w.source AS source",
            "CAST(w.lsn AS BIGINT) AS _ab_lsn",
        )
        actual = r.engine.read_final().selectExpr(
            "doc_id",
            "CAST(tokens AS ARRAY<INT>) AS tokens",
            "CAST(n_tok AS INT) AS n_tok",
            "source",
            "CAST(_ab_lsn AS BIGINT) AS _ab_lsn",
        )
        return int(_checksum(expected) != _checksum(actual))


def _checksum(df: DataFrame) -> tuple[int, int]:
    row = df.selectExpr(
        "count(*) AS n", "bit_xor(xxhash64(doc_id, tokens, n_tok, source, _ab_lsn)) AS x"
    ).first()
    return row["n"], row["x"]
