"""Scalar expression helpers shared across operators."""

from big_data_hadoop_spark.functions.text import (
    NUMBER_PATTERN,
    WORD_PATTERN,
    split_tokens,
)

__all__ = [
    "NUMBER_PATTERN",
    "WORD_PATTERN",
    "split_tokens",
]
