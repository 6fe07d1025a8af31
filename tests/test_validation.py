"""Native token validation: repair + flag, never drop
(BigQuerySqlGenerator.java:544-566 error-capture semantics)."""

from __future__ import annotations

from pyspark.sql import functions as F

from airbyte_spark.changelog.golden import _validate_payload
from airbyte_spark.functions.validate import apply_validation
from airbyte_spark.schemas import changelog_schema


def _mk(spark, rows):
    return spark.createDataFrame([tuple(r) for r in rows], changelog_schema())


def test_ok_row_untouched(spark):
    df = _mk(spark, [("I", "d1", 1, 1, 0, [1, 2, 3], 3, "web")])
    r = apply_validation(df, vocab_size=100).first()
    assert r.tokens == [1, 2, 3] and r.n_tok == 3 and r._ab_meta.errors == []


def test_n_tok_mismatch_repaired(spark):
    df = _mk(spark, [("I", "d1", 1, 1, 0, [1, 2, 3], 7, "web")])
    r = apply_validation(df, vocab_size=100).first()
    assert r.n_tok == 3 and r._ab_meta.errors == ["n_tok_mismatch"]


def test_oov_normalized(spark):
    df = _mk(spark, [("I", "d1", 1, 1, 0, [1, 250, -3], 3, "web")])
    r = apply_validation(df, vocab_size=100).first()
    assert r.tokens == [1, 50, 97]  # mod-vocab normalization (python % semantics)
    assert r._ab_meta.errors == ["oov_tokens"]


def test_both_errors(spark):
    df = _mk(spark, [("I", "d1", 1, 1, 0, [150], 9, "web")])
    r = apply_validation(df, vocab_size=100).first()
    assert set(r._ab_meta.errors) == {"oov_tokens", "n_tok_mismatch"}
    assert r.n_tok == 1 and r.tokens == [50]


def test_delete_null_passthrough(spark):
    df = _mk(spark, [("D", "d1", 1, 1, 0, None, None, None)])
    r = apply_validation(df, vocab_size=100).first()
    assert r.tokens is None and r.n_tok is None and r._ab_meta.errors == []


def test_vectorized_batch(spark):
    rows = []
    for i in range(500):
        bad = i % 7 == 0
        rows.append(("I", f"d{i}", i + 1, i, 0, [i % 100], 1 if not bad else 5, "web"))
    df = _mk(spark, rows).repartition(4)
    out = apply_validation(df, vocab_size=100)
    flagged = out.filter(F.array_contains("_ab_meta.errors", "n_tok_mismatch")).count()
    assert flagged == len([i for i in range(500) if i % 7 == 0])
    assert out.filter(F.col("n_tok") != F.size("tokens")).count() == 0


def test_matches_golden_on_random_payloads(spark):
    import random

    rng = random.Random(17)
    vocab = 100
    rows, expect = [], {}
    for i in range(600):
        r = rng.random()
        toks = None if r < 0.1 else [] if r < 0.2 else [
            rng.randint(-2 * vocab, 2 * vocab) for _ in range(rng.randint(1, 9))
        ]
        if rng.random() < 0.15:
            n_tok = None
        elif toks is not None and rng.random() < 0.6:
            n_tok = len(toks)
        else:
            n_tok = rng.randint(0, 9)
        rows.append(("U", f"d{i}", i + 1, i, 0, toks, n_tok, "web"))
        expect[f"d{i}"] = _validate_payload(toks, n_tok, vocab)
    out = apply_validation(_mk(spark, rows).repartition(3), vocab_size=vocab)
    assert out.schema["_ab_meta"].dataType.simpleString() == "struct<errors:array<string>>"
    assert out.schema["_ab_meta"].dataType["errors"].nullable
    assert out.schema["_ab_meta"].dataType["errors"].dataType.containsNull
    got = {r.doc_id: (r.tokens, r.n_tok, r._ab_meta.errors) for r in out.collect()}
    for doc_id, want in expect.items():
        assert got[doc_id] == want, doc_id


def test_replay_batch_plan_has_no_python_udf(spark, workdir):
    import os

    from airbyte_spark.config import EngineConfig, StreamConfig
    from airbyte_spark.engine import CdcEngine

    eng = CdcEngine(spark, os.path.join(workdir, "lake"), StreamConfig(num_buckets=4),
                    EngineConfig(vocab_size=100))
    eng.create_table()
    batch = _mk(spark, [("I", "d1", 1, 1, 0, [1, 250], 5, "web")])
    prepared = eng._prepare_batch(batch, eng.table)
    plan = prepared._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    (row,) = prepared.collect()
    assert row.tokens == [1, 50] and row.n_tok == 2
