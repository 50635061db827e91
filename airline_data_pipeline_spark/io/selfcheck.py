"""Testdata-encoding self-check (environment-drift guard).

The driver regenerates `/root/testdata` between rounds and has already
shipped the `ts` column under two different parquet encodings —
TIMESTAMP(NANOS) (round ≤2) and timestamp[us] tz-naive (round 3+), the
latter of which silently became TIMESTAMP_NTZ under Spark 4 defaults and
turned a whole round of event-time queries red before the reader
normalization in `readers.table()` was added. This module turns the NEXT
re-encode into one loud assert at startup instead of fifty red driver
rows: it reads the parquet footer of every testdata table with pyarrow
(no Spark needed — runs before the JVM boots) and fails with a message
naming the file and the offending type if an encoding outside the
normalizer's contract appears.

Called from `tests/conftest.py` (session autouse).
"""

from __future__ import annotations

import os

# Encodings `readers.table()` is known to normalize into session-TZ
# TIMESTAMP(micros). Anything else is a new driver encoding the reader
# has never seen — fail fast and name it.
_KNOWN_TS_ENCODINGS = {
    "timestamp[us]",  # tz-naive micros (current testdata; NTZ-normalized)
    "timestamp[ns]",  # TIMESTAMP(NANOS) (read as long under nanosAsLong)
    "timestamp[ms]",  # tolerated: Spark reads millis natively as TIMESTAMP
    "timestamp[us, tz=UTC]",  # tz-aware micros: native TIMESTAMP
    "timestamp[ns, tz=UTC]",
}

TESTDATA_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def check_testdata_encodings(sf_dir: str) -> list[str]:
    """Assert every testdata table's `ts`-like columns use an encoding
    `readers.table()` can normalize. Returns the list of files checked.

    Raises AssertionError naming the offending file/column/type on the
    first unknown encoding, e.g.::

        testdata encoding drift: /root/testdata/sf0.1/events.parquet
        column 'ts' is timestamp[s] — not in the normalizer contract
        (readers.table() handles: timestamp[us], timestamp[ns], ...).
    """
    import pyarrow.parquet as pq

    checked: list[str] = []
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        schema = pq.read_schema(path)
        for field in schema:
            t = str(field.type)
            if t.startswith("timestamp") and t not in _KNOWN_TS_ENCODINGS:
                known = ", ".join(sorted(_KNOWN_TS_ENCODINGS))
                raise AssertionError(
                    f"testdata encoding drift: {path} column {field.name!r} "
                    f"is {t} — not in the normalizer contract "
                    f"(readers.table() handles: {known}). Extend the "
                    f"normalization in airline_data_pipeline_spark/io/"
                    f"readers.py:table before trusting any query results."
                )
        checked.append(path)
    if not checked:
        # A mistyped/empty sf_dir is exactly the environment-drift
        # scenario this guard exists for — passing vacuously would
        # defer the failure back to scattered query-level reds.
        raise AssertionError(
            f"testdata encoding check found no tables under {sf_dir!r} "
            f"(expected parquet files named {sorted(TESTDATA_TABLES)})"
        )
    return checked
