"""Column-level expression helpers (JVM-side, codegen-friendly).

The re-exported helpers return Spark Column expressions built from
``pyspark.sql.functions`` — no Python UDFs in the hot path. The two Python
exceptions are explicit: ``udtfs`` (table functions) and ``pandas_aggs``
(a grouped pandas aggregate), each used by the queries that need them.
"""

from hubverse_transform_spark.functions.casts import cast_to, double_to_string_arrow
from hubverse_transform_spark.functions.nulls import NULL_TOKENS, normalize_null_tokens
from hubverse_transform_spark.functions.text import (
    bpe_ish_token_count,
    lang_id_expr,
    quality_score,
    whitespace_token_count,
)
from hubverse_transform_spark.functions.vectors import cosine_similarity, dot_product, l2_norm

__all__ = [
    "NULL_TOKENS",
    "normalize_null_tokens",
    "cast_to",
    "double_to_string_arrow",
    "cosine_similarity",
    "dot_product",
    "l2_norm",
    "lang_id_expr",
    "quality_score",
    "whitespace_token_count",
    "bpe_ish_token_count",
]
