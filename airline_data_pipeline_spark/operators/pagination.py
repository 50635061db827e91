"""Keyset pagination (SURVEY.md P6, O1, O2, O5).

The reference's API paginates with `reset_index()` row numbers and a
base64 `date:index` cursor (`api/app.py:46-58,134,147-168`) — stable
only because the data is one CSV read in fixed order. The distributed
analog needs a *deterministic total order* without a global row
number (a single-partition `row_number()` window, or
`monotonically_increasing_id`, which is partition-layout dependent and
unfit for cursors): keyset pagination on a natural key
(`flight_date, flight_number, origin`), where the cursor predicate
prunes partitions and no global sort runs — `keyset_page` implements
that path.
"""

from __future__ import annotations

import base64
import re
from datetime import date

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, DateType, IntegralType, StringType

_ISO_DATE = re.compile(r"[0-9]{4}-[0-9]{2}-[0-9]{2}")
_INTEGER = re.compile(r"-?[0-9]+")


def encode_cursor(*parts) -> str:
    """Opaque cursor: base64 of ':'-joined key parts (op O5, driver-side)."""
    raw = ":".join(str(p) for p in parts)
    return base64.urlsafe_b64encode(raw.encode()).decode()


def decode_cursor(cursor: str, n_parts: int) -> list[str]:
    try:
        raw = base64.urlsafe_b64decode(cursor.encode()).decode()
    except ValueError as exc:  # binascii.Error, UnicodeDecodeError
        raise ValueError("malformed cursor: not base64 text") from exc
    parts = raw.split(":")
    if len(parts) != n_parts:
        raise ValueError(f"malformed cursor: expected {n_parts} parts")
    return parts


def parse_cursor_part(part: str, key: str, dtype: DataType | None):
    """One decoded cursor part as a literal of its key column's type.

    Checked on the driver, so a forged cursor fails here with a
    ValueError instead of inside a Spark cast: dates must be ISO
    ``YYYY-MM-DD``, integer keys plain 64-bit integers, string keys
    non-empty. Parts of other types pass through as strings for Spark
    to cast.
    """
    try:
        if isinstance(dtype, DateType):
            if not _ISO_DATE.fullmatch(part):
                raise ValueError(part)
            return date.fromisoformat(part)
        if isinstance(dtype, IntegralType):
            if not _INTEGER.fullmatch(part) or not -(2**63) <= int(part) < 2**63:
                raise ValueError(part)
            return int(part)
    except ValueError as exc:
        raise ValueError(f"malformed cursor: bad {key} {part!r}") from exc
    if isinstance(dtype, StringType) and not part:
        raise ValueError(f"malformed cursor: empty {key}")
    return part


def keyset_predicate(keys: list[str], after: list) -> Column:
    """Lexicographic '(k1,k2,...) > (v1,v2,...)' as a boolean expression
    (op P6 generalized to any key arity).

    For keys (a, b, c): a>v1 OR (a=v1 AND b>v2) OR (a=v1 AND b=v2 AND c>v3).
    Against a date-partitioned table the leading disjunct prunes
    partitions, so each page reads only the tail of the data.
    """
    clauses: list[Column] = []
    for i, key in enumerate(keys):
        clause = F.col(key) > F.lit(after[i])
        for j in range(i):
            clause = (F.col(keys[j]) == F.lit(after[j])) & clause
        clauses.append(clause)
    pred = clauses[0]
    for c in clauses[1:]:
        pred = pred | c
    return pred


def keyset_page(
    df: DataFrame,
    keys: list[str],
    limit: int = 100,
    cursor: str | None = None,
    max_limit: int = 1000,
) -> tuple[DataFrame, Column]:
    """One page: filter past the cursor, order by the key, limit.

    Mirrors the reference's filter→sort→head chain
    (`api/app.py:147-159`) with its ≤1000 page cap (`api/app.py:131`).
    Returns (page_df, key_tuple_column) — the caller encodes the last
    row's key tuple as the next cursor. A ``limit`` below 1 or a
    malformed cursor raises ValueError before any Spark job runs.
    """
    if limit < 1:
        raise ValueError(f"limit must be at least 1, got {limit}")
    limit = min(limit, max_limit)
    out = df
    if cursor is not None:
        types = {f.name: f.dataType for f in df.schema.fields}
        after = [
            parse_cursor_part(part, k, types.get(k))
            for k, part in zip(keys, decode_cursor(cursor, len(keys)))
        ]
        out = out.filter(keyset_predicate(keys, after))
    out = out.orderBy(*[F.col(k) for k in keys]).limit(limit)
    return out, F.concat_ws(":", *[F.col(k).cast("string") for k in keys])
