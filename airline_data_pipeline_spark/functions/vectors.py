"""Array-vector math as built-in higher-order functions.

For `array<float>` embedding columns (FIXTURES.md §A embeddings table).
`F.zip_with` + `F.aggregate` compile to Catalyst higher-order-function
expressions — the dot product of two 64-dim vectors never leaves the
JVM. This is the hot path of brute-force similarity search; a Pandas-UDF
variant exists in `operators/similarity.py` for very wide vectors where
NumPy BLAS wins, but the default is expression-only.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Elementwise product then sum — Σ aᵢ·bᵢ."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    """√Σ aᵢ² ."""
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_similarity(a: Column, b: Column) -> Column:
    """dot(a,b) / (‖a‖·‖b‖); null-safe on zero vectors (returns null).

    NOTE for hot paths: this expression evaluates five HOF aggregates
    per call (the `when` guard re-evaluates both norms — HOFs defeat
    Catalyst subexpression elimination). Pair-scoring callers should
    precompute `l2_norm` per SIDE and divide a single `dot` by the
    stored product instead — as of round 15 EVERY pair-scoring site in
    `operators/similarity.py` does (brute force, LSH, both IVF probes,
    the PQ re-rank, and the SRP verifies; bit-identical by
    tests/test_similarity.py::test_hoisted_norm_scorers_bit_identical;
    the r14 A/B measured 1.48 s → 1.13 s on the sf0.1 label-vote
    query). This helper remains the public one-off-scoring API — do
    not call it per candidate pair in engine code.
    A statically-unrolled `F.get`-chain dot was
    also tried and REJECTED: 64 unrolled terms push the generated
    method past the JVM's HugeMethodLimit, the JIT bails to the
    interpreter, and the query ran 3x slower (4.74 s) than the boxed
    HOF fold — don't resurrect it without re-measuring.
    """
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom != 0, dot(a, b) / denom)


def cosine_from_norms(
    a: Column, b: Column, a_norm: Column, b_norm: Column
) -> Column:
    """`dot(a,b) / (a_norm·b_norm)` with the SAME zero/null-denominator
    guard as `cosine_similarity` — the pair-scoring form for callers
    that hoisted `l2_norm` per ROW below their join (the r14/r15
    discipline; every pair-scoring site in `operators/similarity.py`
    routes through here, except `cosine_near_dup_pairs`: its SRP
    self-join verify scores whole bucket blocks in numpy with this
    same fold, bit-identical, because per pair this interpreted fold
    cost ~7.7 µs of core time at 64 dims and dominated the operator,
    see `similarity._block_verify_fn`). Bit-identical to
    `cosine_similarity` on the same inputs when the norms are
    `l2_norm` of the same columns (IEEE
    multiplication commutes; the dot fold is element-ordered either
    way — pinned by test_hoisted_norm_scorers_bit_identical). One
    definition so a future change to the guard semantics (NaN,
    underflow) cannot silently split the two forms across eight call
    sites."""
    denom = a_norm * b_norm
    return F.when(denom != 0, dot(a, b) / denom)
