"""Scalar column kernels (SURVEY.md §2.7) — each a Column -> Column function.

These compile the reference's imperative per-row Python (cited per function,
paths relative to /root/reference) into native Catalyst expressions so they
stay inside whole-stage codegen; the only Python-resident kernel is
``unaccent`` (Arrow-vectorized pandas_udf).
"""

from __future__ import annotations

import unicodedata
import uuid

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def keep_digits(col: Column) -> Column:
    """''.join(filter(str.isnumeric, s)) — scripts/bills/bills_federal.py:21-22."""
    return F.regexp_replace(col, "[^0-9]", "")


def strip_leading_zeros(col: Column) -> Column:
    """.lstrip('0') — scripts/census/census_utils.py:13-14."""
    return F.regexp_replace(col, "^0+", "")


def normalize_division_id(col: Column) -> Column:
    """OCD id normalization: jurisdiction→division, drop /government —
    scripts/utils.py:3-6."""
    return F.replace(
        F.replace(col, F.lit("jurisdiction"), F.lit("division")),
        F.lit("/government"),
        F.lit(""),
    )


def multi_format_timestamp(col: Column, formats: list[str]) -> Column:
    """strptime fallback chain (ISO then date-only, error → null) —
    scripts/bills/bills_state.py:35-51."""
    return F.coalesce(*[F.try_to_timestamp(col, F.lit(f)) for f in formats])


@F.pandas_udf(T.StringType())
def unaccent(s: pd.Series) -> pd.Series:
    """NFD-normalize and drop combining marks —
    scripts/bills/vote_matching.py:88-92. Python-resident (no Spark builtin
    pre-collation), Arrow-vectorized."""

    def _u(x):
        if x is None:
            return None
        return "".join(
            ch for ch in unicodedata.normalize("NFD", x)
            if unicodedata.category(ch) != "Mn"
        )

    return s.map(_u)


# --- deterministic surrogate keys -----------------------------------------

def surrogate_key_md5(*cols: Column, sep: str = "_") -> Column:
    """Deterministic surrogate key: md5 of '_'-joined parts — the
    oracle-checkable stand-in for the reference's uuid5 minting
    (scripts/bills/bills_federal.py:27-36)."""
    return F.md5(F.concat_ws(sep, *cols))


def md5_long(col, digits: int = 8) -> Column:
    """The leading ``digits`` hex digits of md5(col) read as a LONG — the
    engine's deterministic stand-in for rand(). Splits, samples, sketches,
    random walks and synthetic embeddings draw from it, so Spark and
    DuckDB (``CAST('0x' || substr(md5(x), 1, d) AS BIGINT)``) pick the same
    values at any parallelism. NULL in, NULL out."""
    return F.conv(F.substring(F.md5(col), 1, digits), 16, 10).cast("long")


def spark_sql_md5_long(expr: str, digits: int = 8) -> str:
    """``md5_long`` as Spark SQL text, for callers that build an ``F.expr``.
    It parses to the same expression, but plans print it as ``substr``
    where ``md5_long`` prints ``substring``."""
    return f"CAST(conv(substr(md5({expr}), 1, {digits}), 16, 10) AS BIGINT)"


def hash_bucket(col, mod) -> Column:
    """Deterministic uniform bucket in [0, mod) from md5 of a string
    column; ``mod`` is an int or a Column."""
    return md5_long(col) % mod


def sql_hash_bucket(expr: str, mod: int) -> str:
    """The DuckDB oracle text of ``hash_bucket``."""
    return (
        f"CAST(('0x' || substr(md5({expr}), 1, 8)) AS BIGINT) % {mod}"
    )


def uuid5(name: Column, namespace: uuid.UUID = uuid.NAMESPACE_OID) -> Column:
    """RFC-4122-exact UUIDv5 as a native expression (no Python UDF):
    sha1(namespace_bytes ‖ name) with version/variant bits spliced into the
    hex — scripts/bills/bills_federal.py:28,32. DuckDB has no sha1, so this
    op is rows-only; parity with python uuid.uuid5 is unit-tested."""
    ns_hex = namespace.bytes.hex()
    h = F.sha1(F.concat(F.unhex(F.lit(ns_hex)), name.cast("binary")))
    # variant nibble: (hex_digit_17 & 0x3) | 0x8
    variant = F.lower(
        F.conv(
            (F.conv(F.substring(h, 17, 1), 16, 10).cast("int") % 4 + 8).cast("string"),
            10,
            16,
        )
    )
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.concat(F.lit("5"), F.substring(h, 14, 3)),
        F.concat(variant, F.substring(h, 18, 3)),
        F.substring(h, 21, 12),
    )
