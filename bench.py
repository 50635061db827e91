"""Machine-speed canary for benchmark reports.

`perfbench/run.py` records `cpu_canary_sec` next to a traced run so a
reader can separate host drift from plan regressions.
"""

from __future__ import annotations

import time


def cpu_canary_sec(spark) -> float:
    """Machine-speed reference: a pure codegen'd hash loop over a fixed
    row count — no IO, no shuffle, plan-invariant across rounds. Lets a
    future reader separate machine drift from plan regressions: if a
    query's time moved but canary/query ratio did not, the machine
    moved, not the plan (round-7/8 minhash watch item). Best of 3 after
    one JIT warm-up."""
    from pyspark.sql import functions as F

    def one() -> float:
        t0 = time.time()
        spark.range(0, 50_000_000, 1, 32).select(
            F.sum(F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(1000003)))
        ).collect()
        return time.time() - t0

    one()
    return round(min(one() for _ in range(3)), 3)
