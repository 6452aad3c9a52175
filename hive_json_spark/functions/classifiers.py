"""The reference's three string/number classifiers as Spark column functions.

The reference applies these regexes per value on the driver
(JsonSchemaFinder.java:41-49); here they run JVM-side inside whole-stage
codegen via ``regexp_like`` — no Python in the hot path. Spark's regexp
dialect is Java's, i.e. *identical* to the reference's ``Pattern`` usage;
the pattern strings are the ones ``types.py`` compiles for the local fold.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from hive_json_spark.types import DECIMAL_REGEX, HEX_REGEX, TIMESTAMP_REGEX


def is_hex_binary(col: Column | str) -> Column:
    """True when the string would be typed ``binary`` (even-length hex)."""
    return F.regexp_like(F.col(col) if isinstance(col, str) else col, F.lit(HEX_REGEX))


def is_timestamp_like(col: Column | str) -> Column:
    """True when the string matches the (syntax-only) timestamp shape."""
    return F.regexp_like(F.col(col) if isinstance(col, str) else col, F.lit(TIMESTAMP_REGEX))


def is_decimal_like(col: Column | str) -> Column:
    """True when a number's lexical form takes the integer/decimal path
    (anything else — scientific notation — falls through to float/double)."""
    return F.regexp_like(F.col(col) if isinstance(col, str) else col, F.lit(DECIMAL_REGEX))


def classify_string(col: Column | str) -> Column:
    """'timestamp' | 'binary' | 'string' — pickType's string branch order
    (timestamp wins over hex, JsonSchemaFinder.java:97-105)."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.when(is_timestamp_like(c), F.lit("timestamp"))
        .when(is_hex_binary(c), F.lit("binary"))
        .otherwise(F.lit("string"))
    )
