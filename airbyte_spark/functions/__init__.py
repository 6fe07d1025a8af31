"""Payload functions.

North rule: no per-row Python. Token validation (`apply_validation`) is a
pure Catalyst projection; the rest are Arrow-batched pandas UDFs
(`pandas_udf`) or Spark column expressions.
"""

from airbyte_spark.functions.multimodal import (
    extract_asset_features,
    sample_frames,
    synthesize_assets,
)
from airbyte_spark.functions.textnorm import clean_text, unicode_clean
from airbyte_spark.functions.validate import apply_validation

__all__ = [
    "apply_validation",
    "clean_text",
    "unicode_clean",
    "extract_asset_features",
    "sample_frames",
    "synthesize_assets",
]
