"""Token payload validation / normalization — one native Catalyst projection.

The reference captures per-column typing errors into _airbyte_meta.errors
instead of failing the row (BigQuerySqlGenerator.java:544-566 safe-cast CTE;
airbyte-protocol.md:439-450 'destinations never fail on mismatch'). Same
policy here: repair + flag, never drop.

Rules (mirrored 1:1 by changelog.golden._validate_payload):
- tokens element out of [0, vocab)    -> token %= vocab, flag "oov_tokens"
- n_tok != len(tokens)                -> n_tok := len(tokens), flag "n_tok_mismatch"
- tokens NULL (delete image)          -> passthrough, no flags

Implementation notes: built-in higher-order functions only (``exists`` for
the OOV flag, ``transform`` + ``pmod`` for the repair, ``size`` for the
length), so the check runs inside the scan's projection with no Python
worker, no Arrow round trip and no ``ArrowEvalPython`` node in the plan.
The expressions are SQL text, parsed once in the JVM: building the same
lambdas through the Column API crosses py4j per node (~130 ms vs ~5 ms per
call, measured on a 4-core x86 host).
"""

from __future__ import annotations

from pyspark.sql import functions as F

# the schema the replay's full-merge read casts to: a nullable errors array
_META_TYPE = "struct<errors: array<string>>"
_ERR_OOV = "oov_tokens"
_ERR_MISMATCH = "n_tok_mismatch"


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def apply_validation(df, vocab_size: int, tokens_col: str = "tokens", n_tok_col: str = "n_tok"):
    """Replace tokens/n_tok with repaired values; attach _ab_meta.errors."""
    t, n, v = _quote(tokens_col), _quote(n_tok_col), int(vocab_size)
    n_tok_type = df.schema[n_tok_col].dataType.simpleString()
    oov = f"coalesce(exists({t}, x -> x < 0 OR x >= {v}), false)"
    mismatch = f"{t} IS NOT NULL AND ({n} IS NULL OR {n} != size({t}))"
    errors = (
        f"filter(array(IF({oov}, '{_ERR_OOV}', NULL), IF({mismatch}, '{_ERR_MISMATCH}', NULL)),"
        " e -> e IS NOT NULL)"
    )
    return df.withColumns(
        {
            tokens_col: F.expr(
                f"CAST(IF({oov}, transform({t}, x -> pmod(x, {v})), {t}) AS array<int>)"
            ),
            n_tok_col: F.expr(f"CAST(IF({t} IS NULL, {n}, size({t})) AS {n_tok_type})"),
            "_ab_meta": F.expr(f"CAST(named_struct('errors', {errors}) AS {_META_TYPE})"),
        }
    )
