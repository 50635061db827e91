"""Validation contracts as first-class tested ops (SURVEY.md P9, P10, U2).

The reference validates at runtime with hand-rolled checks
(`ingest.py:63-114` file contracts, `process.py:78-123` post-transform
checks). Here validation is a reusable `expect()` surface with two
tiers:

- **schema assertions** — driver-side, zero Spark jobs (column
  presence, types); and
- **data assertions** — ONE aggregate job evaluating every data check
  simultaneously (null counts, value ranges), never one job per check.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class ValidationError(AssertionError):
    """Raised by expect(..., raise_on_failure=True) with all failures."""


@dataclass
class ExpectationResult:
    passed: bool
    failures: list[str] = field(default_factory=list)
    checked: int = 0

    def raise_if_failed(self) -> None:
        if not self.passed:
            raise ValidationError("; ".join(self.failures))


def require_columns(df: DataFrame, required: list[str]) -> ExpectationResult:
    """Required-column existence check (op P9) — driver-side, no job.

    Reference: set-difference checks at `ingest.py:80-91,326-330` and
    `process.py:84-89`.
    """
    missing = sorted(set(required) - set(df.columns))
    return ExpectationResult(
        passed=not missing,
        failures=[f"missing columns: {missing}"] if missing else [],
        checked=len(required),
    )


def require_types(df: DataFrame, expected: dict[str, str]) -> ExpectationResult:
    """Dtype contract (op P10, schema half) — driver-side, no job.

    ``expected`` maps column → Spark simpleString type ('date',
    'double', 'string', ...). Reference: `process.py:99-107`.
    """
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    failures = []
    for col, typ in expected.items():
        if col not in actual:
            failures.append(f"{col}: missing")
        elif actual[col] != typ:
            failures.append(f"{col}: expected {typ}, got {actual[col]}")
    return ExpectationResult(not failures, failures, len(expected))


def validation_profile(
    df: DataFrame,
    not_null: list[str] | None = None,
    value_range: dict[str, tuple[float, float]] | None = None,
    allowed_values: dict[str, list] | None = None,
) -> DataFrame:
    """The single-row aggregate every `expect()` check reads from — one
    job regardless of constraint count. Exposed as a DataFrame so the
    validation pass itself is oracle-checkable: `__n` row count,
    `__null__c` null counts, `__min__c`/`__max__c` ranges,
    `__bad__c` outside-allowed-set counts."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in not_null or []:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__null__{c}"))
    for c in (value_range or {}):
        aggs.append(F.min(c).alias(f"__min__{c}"))
        aggs.append(F.max(c).alias(f"__max__{c}"))
    for c, allowed in (allowed_values or {}).items():
        aggs.append(
            F.sum((~F.col(c).isin(allowed) & F.col(c).isNotNull()).cast("long")).alias(
                f"__bad__{c}"
            )
        )
    return df.agg(*aggs)


def expect(
    df: DataFrame,
    not_null: list[str] | None = None,
    value_range: dict[str, tuple[float, float]] | None = None,
    allowed_values: dict[str, list] | None = None,
    non_empty: bool = False,
    raise_on_failure: bool = False,
    on_failure=None,
) -> ExpectationResult:
    """Data-content assertions in ONE aggregate pass (op P10, data half).

    Reference: critical-null check `process.py:92-96` and 0/1 range
    check `process.py:111-117`, each a separate eager pandas pass. Here
    every check compiles into a single `agg(...)` — one job regardless
    of how many constraints, which is what makes validation affordable
    at 100 TB.

    ``on_failure(failures: list[str])`` is the alerting hook (the
    reference emails on validation failure, `ingest.py:34-61`); it fires
    before any raise, so alert-then-abort and alert-then-continue are
    both one-liners.
    """
    row = validation_profile(df, not_null, value_range, allowed_values).first()
    result = counter_failures(
        row.asDict(), PROFILE_NAMES, not_null, value_range, allowed_values, non_empty
    )
    if result.failures and on_failure is not None:
        on_failure(list(result.failures))
    if raise_on_failure:
        result.raise_if_failed()
    return result


# Counter names per kind ("n", "null", "min", "max", "bad"), formatted
# with the column: the `validation_profile` row and the `observed`
# Observation name the same counters differently.
PROFILE_NAMES = {
    "n": "__n", "null": "__null__{}", "min": "__min__{}", "max": "__max__{}",
    "bad": "__bad__{}",
}
OBSERVED_NAMES = {"n": "n_rows", "null": "null_{}", "bad": "bad_{}"}


def counter_failures(
    counters: dict,
    names: dict[str, str],
    not_null: list[str] | None = None,
    value_range: dict[str, tuple[float, float]] | None = None,
    allowed_values: dict[str, list] | None = None,
    non_empty: bool = False,
) -> ExpectationResult:
    """The failure messages for counters already computed — by
    `validation_profile` (``names=PROFILE_NAMES``) or by an `observed`
    write (``names=OBSERVED_NAMES``; it counts no ranges). Driver-side,
    no job."""
    def get(kind: str, c: str = ""):
        return counters[names[kind].format(c)]

    failures: list[str] = []
    checked = 0
    if non_empty:
        checked += 1
        if get("n") == 0:
            failures.append("dataframe is empty")
    for c in not_null or []:
        checked += 1
        n = get("null", c)
        if n and n > 0:
            failures.append(f"{c}: {n} null values")
    for c, (lo, hi) in (value_range or {}).items():
        checked += 1
        mn, mx = get("min", c), get("max", c)
        if mn is not None and (mn < lo or mx > hi):
            failures.append(f"{c}: range [{mn}, {mx}] outside [{lo}, {hi}]")
    for c in (allowed_values or {}):
        checked += 1
        n = get("bad", c)
        if n and n > 0:
            failures.append(f"{c}: {n} values outside allowed set")
    return ExpectationResult(not failures, failures, checked)


# The data half of the contract, as `expect`/`observed` keyword args.
PROCESSED_CHECKS = {
    "not_null": ["airline", "origin", "destination"],
    "allowed_values": {"flight_status": ["On Time", "Delayed"]},
}


def validate_processed_flights(
    df: DataFrame, observed_counters: dict | None = None
) -> ExpectationResult:
    """The reference's post-transform contract (`process.py:78-123`)
    expressed through the engine surface: required columns + dtypes
    (no job) and null/status-set/non-empty checks.

    Standalone, the data checks cost one aggregate job over ``df``.
    `run_pipeline` instead observes ``PROCESSED_CHECKS`` on its
    warehouse write and passes those counters as ``observed_counters``
    (`OBSERVED_NAMES`): the same failures, with no job of its own."""
    r1 = require_columns(
        df,
        ["flight_date", "airline", "flight_number", "origin", "destination",
         "departure_delay", "arrival_delay", "flight_status"],
    )
    if not r1.passed:
        return r1
    if observed_counters is None:
        r2 = expect(df, non_empty=True, **PROCESSED_CHECKS)
    else:
        r2 = counter_failures(
            observed_counters, OBSERVED_NAMES, non_empty=True, **PROCESSED_CHECKS
        )
    return ExpectationResult(
        r1.passed and r2.passed, r1.failures + r2.failures, r1.checked + r2.checked
    )


def observed(
    df: DataFrame,
    name: str,
    not_null: list[str] | None = None,
    value_range: dict[str, tuple[float, float]] | None = None,
    allowed_values: dict[str, list] | None = None,
    extra: list | None = None,
):
    """Inline validation metrics via Spark's Observation API (U2, the
    zero-extra-job tier).

    `validation_profile` costs one dedicated aggregate job; this
    attaches the same counters to whatever action the caller runs next
    (a write, a count, a downstream aggregate) — the metrics are
    accumulated DURING that job's single data pass, so at 100 TB the
    validation is literally free: no second scan, no extra shuffle.
    This replaces the reference's separate post-transform validation
    pass (`process.py:78-123`) with Spark-native observed metrics.

    Returns ``(observed_df, observation)``; read
    ``observation.get`` (blocks until the next action completes) for
    ``{"n_rows": ..., "null_<col>": ..., "oob_<col>": ...,
    "bad_<col>": ...}`` (`OBSERVED_NAMES`; `counter_failures` turns
    them into `expect`'s messages).
    """
    from pyspark.sql import Observation

    metrics = [F.count(F.lit(1)).alias("n_rows")]
    for c in not_null or []:
        metrics.append(
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"null_{c}")
        )
    for c, (lo, hi) in (value_range or {}).items():
        metrics.append(
            F.count(
                F.when((F.col(c) < lo) | (F.col(c) > hi), 1)
            ).alias(f"oob_{c}")
        )
    for c, allowed in (allowed_values or {}).items():
        metrics.append(
            F.count(
                F.when(~F.col(c).isin(allowed) & F.col(c).isNotNull(), 1)
            ).alias(f"bad_{c}")
        )
    # Caller-supplied aggregate expressions (each must carry an alias) —
    # e.g. a stage-specific enrichment-match counter.
    metrics.extend(extra or [])
    obs = Observation(name)
    return df.observe(obs, *metrics), obs
