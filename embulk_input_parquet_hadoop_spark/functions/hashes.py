"""Oracle-stable hash/text primitives.

All built-ins (JVM-side, whole-stage-codegen friendly); no UDFs. Where a
query needs the *same* hash value in Spark and in the DuckDB oracle, we
derive integers from ``md5`` hex (identical in both engines) instead of
``xxhash64`` (Spark-only). Internal pipeline salting still uses
``xxhash64`` — cheaper, and never compared across engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_long(col: Column, hex_chars: int = 15) -> Column:
    """First ``hex_chars`` hex digits of md5 as a non-negative bigint.

    DuckDB equivalent: ``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)``.
    15 hex chars = 60 bits < 63, so it always fits a signed bigint.
    """
    return F.conv(F.substring(F.md5(col), 1, hex_chars), 16, 10).cast("long")


def words(col: Column) -> Column:
    """Whitespace tokenization with empty tokens dropped.

    DuckDB equivalent: ``list_filter(string_split(x, ' '), w -> w <> '')``.
    """
    return F.filter(F.split(col, " "), lambda w: w != "")


WORDS_SQL = "list_filter(string_split({expr}, ' '), w -> w <> '')"


def token_ids(col: Column, vocab: int = 50257) -> Column:
    """Deterministic token ids for a text column: md5-based word hash mod
    vocab, as array<int>. Used to derive ``tokens`` tables from text."""
    return F.transform(
        words(col),
        lambda w: F.pmod(F.conv(F.substring(F.md5(w), 1, 15), 16, 10)
                         .cast("long"), F.lit(vocab)).cast("int"))
