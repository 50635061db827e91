"""Deterministic pins for the scale gate's estimator (VERDICT r15 #1).

The hardened `_gate` (interleaved 1x/3x pairs + min-combined retry)
must keep BOTH properties:

- a planted quadratic still trips: its 3x/1x ratio is a property of
  the PLAN, so the minima converge to the true ~9x ratio and
  min-combining cannot mask it;
- a genuinely-linear op whose 3x point was inflated by an ambient-load
  window (the r15 driver flake: the old factor-grouped order put every
  3x reading in one load window) passes once the retry's quiet reading
  wins the min.

No Spark, no wall clock: `bench_scale.time_query` is scripted, the
synthesize hook is a no-op, so this runs in milliseconds and pins the
gate LOGIC rather than the machine.
"""

from __future__ import annotations

import pytest

import bench_scale
from tests.test_scale_gate import GATED, RELATIONAL_GATED, _fit, _gate


class _Scripted:
    """`time_query` stand-in: scripted per-(op, factor) readings,
    consumed in order so the retry round sees the later entries; the
    last entry repeats if the round count exceeds the script."""

    def __init__(self, label: str, script: dict[tuple[str, int], list[float]]):
        self.label = label
        self.script = {k: list(v) for k, v in script.items()}
        self.calls: list[tuple[str, int]] = []

    def __call__(self, spark, fn, sf_dir):
        factor = 1 if f"{self.label}1_" in sf_dir else 3
        self.calls.append((fn, factor))
        seq = self.script[(fn, factor)]
        return seq.pop(0) if len(seq) > 1 else seq[0]


def _no_synth(spark, base, out_dir, factor):
    return None


def test_planted_quadratic_still_trips(monkeypatch):
    fake = _Scripted("plant", {("q", 1): [1.0], ("q", 3): [9.0]})
    monkeypatch.setattr(bench_scale, "time_query", fake)
    with pytest.raises(AssertionError, match="super-linear scaling"):
        _gate(None, "plant", _no_synth, {"q": "q"}, {"q": 0.8})
    # the retry DID run (4 calls: pair + retry pair) and still tripped
    assert len(fake.calls) == 4


def test_load_inflated_linear_op_passes_on_min_combined_retry(monkeypatch):
    # first round: quiet 1x, loaded 3x (exponent 1.26 >= 0.8 ceiling);
    # retry round: quiet pair (3x = 1.3, true ~linear-minus-floor).
    # min-combining must clear it: min(4.0, 1.3) -> exponent 0.24.
    fake = _Scripted("noise", {("q", 1): [1.0, 1.0], ("q", 3): [4.0, 1.3]})
    monkeypatch.setattr(bench_scale, "time_query", fake)
    _gate(None, "noise", _no_synth, {"q": "q"}, {"q": 0.8})
    assert len(fake.calls) == 4


def test_green_first_round_skips_retry(monkeypatch):
    fake = _Scripted("quiet", {("q", 1): [1.0], ("q", 3): [1.5]})
    monkeypatch.setattr(bench_scale, "time_query", fake)
    _gate(None, "quiet", _no_synth, {"q": "q"}, {"q": 0.8})
    assert len(fake.calls) == 2  # one pair, no retry


def test_interleaving_order_is_per_op_pairs(monkeypatch):
    # two ops: calls must go (a,1),(a,3),(b,1),(b,3) — NOT factor-grouped
    fake = _Scripted(
        "order",
        {("a", 1): [1.0], ("a", 3): [1.2], ("b", 1): [1.0], ("b", 3): [1.2]},
    )
    monkeypatch.setattr(bench_scale, "time_query", fake)
    _gate(None, "order", _no_synth, {"a": "a", "b": "b"}, {"a": 0.8, "b": 0.8})
    assert fake.calls == [("a", 1), ("a", 3), ("b", 1), ("b", 3)]


def test_fit_matches_log3_ratio():
    t = {1: {"q": 2.0}, 3: {"q": 6.0}}
    assert _fit(t, ["q"]) == {"q": 1.0}


def test_gated_names_resolve():
    """Every gated operator still has a runnable: the slow gate looks
    names up in `EXTRA_FAMILY`, then the registry."""
    from airline_data_pipeline_spark.queries.suite import registry

    reg = registry()
    assert not [n for n in GATED if n not in bench_scale.EXTRA_FAMILY and n not in reg]
    assert not [n for n in RELATIONAL_GATED if n not in reg]


def test_perfbench_canary_importable():
    """perfbench's traced run calls `bench.cpu_canary_sec(spark)`."""
    import bench

    assert callable(bench.cpu_canary_sec)
