"""Embedding similarity search (SURVEY.md §2.10; ANN over array<float>).

Three tiers, cheapest plan that meets recall wins:

- `brute_force_topk`  — exact: broadcast the query set, score every
  corpus row with JVM-side expressions, per-query top-k window. The
  baseline and the verifier for the approximate paths. O(n·q) but
  embarrassingly parallel and shuffle-free until the final (tiny)
  top-k aggregation.
- `lsh_topk`          — random-hyperplane (signed random projection)
  LSH: bucket corpus + queries by sign bits, score only same-bucket
  pairs with multi-probe via several independent hash tables. The
  100 TB path: shuffle keys are (table, bucket), scored pairs are a
  small fraction of n·q.
- `ivf_topk`          — IVF-style coarse quantization: deterministic
  seeded centroid sample, assign corpus rows to nearest centroid, probe
  the closest `nprobe` centroids per query.

All scoring uses functions/vectors.py expressions (zip_with/aggregate);
vectors never leave the JVM. Pandas-UDF scoring only wins for very wide
vectors (≥1k dims) — not the default. One measured exception: the SRP
self-join verify of `cosine_near_dup_pairs` at 64 dims. Its unique
candidates saturate (1.9M of the 2.0M pairs of 2,000 vectors), so it
scores each (tbl, bucket) block in one numpy pass instead of one
interpreted fold per pair (sf0.1 1x/3x: 8.2/31.1 s → 2.3-3.3/5.2-6.3 s
on 4 cores, same rows and cosines).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from airline_data_pipeline_spark.functions.vectors import (
    cosine_from_norms,
    dot,
    l2_norm,
)
from airline_data_pipeline_spark.io.localrel import local_df
from airline_data_pipeline_spark.io.readers import (
    count_parquet_rows,
    read_meta_first,
    read_small_rows,
)
from airline_data_pipeline_spark.operators.topk import top_k_per_group


def _reuse(df: DataFrame) -> DataFrame:
    """Materialize a derived SELF-JOIN input once (lazy localCheckpoint)
    so both join sides read the same RDD blocks — the vector twin of
    `dedup._reuse`: `cosine_near_dup_pairs`' bucket table otherwise
    re-runs the SRP ArrowEvalPython matmul once per join side (r15 plan
    audit). The key table is 12 bytes/row; checkpoint-not-persist for
    the lifecycle reasons in `dedup_minhash_against_reference`."""
    return df.localCheckpoint(eager=False)


def brute_force_scores(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str = "vec_id",
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """Every (query, neighbor) similarity, UNRANKED.

    The query side is broadcast (query sets are human-scale); the
    corpus streams through untouched — no shuffle of corpus vectors.
    Callers that re-rank on their own terms (the suite's rounded-score
    discipline) use this directly: ranking here too would add a full
    |corpus|x|queries| window pass that the re-rank immediately
    discards (A/B at sf0.1, 10% query sample: 0.90-0.97 s with the
    discarded rank vs 0.63-0.77 s without, identical results).

    Per-pair cost discipline (VERDICT r13 #1, the `knn_label_vote`
    anomaly hunt): the naive `cosine_similarity(a, b)` expression
    evaluates FIVE interpreted HOF aggregates per pair (the `when`
    null-guard re-evaluates both norms), each boxing every element.
    Norms depend on one side only, so they are precomputed per ROW
    here — bit-identical (same fold over the same input, verified
    0 mismatches over all 999,500 sf0.1 pairs), but norm work drops
    from O(pairs) to O(rows) and the per-pair residue is a single dot
    product. Interleaved A/B at sf0.1 through the full label-vote
    query (4 reps): 1.48 s naive vs 1.13 s this shape. A third variant
    — unrolling the dot into 64 codegen'd `F.get` terms — measured
    4.74 s: the generated method blows past the JVM's HugeMethodLimit
    and runs interpreted, 3x WORSE than the boxed HOF fold. Rejected;
    HOF dot stays.
    """
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    if metric == "cosine":
        # one norm per row, below the join — never per pair. The guard
        # `denom != 0` now re-evaluates only a scalar multiply.
        q = q.withColumn("__qn", l2_norm(F.col("__qv")))
        c = c.withColumn("__cn", l2_norm(F.col("__cv")))
        denom = F.col("__cn") * F.col("__qn")
        score = F.when(
            denom != 0,
            dot(F.col("__qv"), F.col("__cv")) / denom,
        )
    else:
        score = dot(F.col("__qv"), F.col("__cv"))
    return (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score", score)
        .select("query_id", "neighbor_id", "score")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """Exact top-k neighbors per query.

    `brute_force_scores` + deterministic ranking (score desc, neighbor
    id tiebreak). Result: (query_id, neighbor_id, score).
    """
    scored = brute_force_scores(corpus, queries, corpus_id, query_id, vec_col, metric)
    return top_k_per_group(
        scored, ["query_id"], "score", k, ascending=False, tiebreakers=["neighbor_id"]
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH
# ---------------------------------------------------------------------------
_SRP_SEED = 0x5EED


def _srp_buckets_udf(dims: int, n_bits: int, n_tables: int):
    """Pandas UDF: embedding -> array<int> of `n_tables` bucket ids
    (sign patterns of n_bits Gaussian hyperplanes per table).

    One numpy matmul per Arrow batch: signs = X @ W >= 0, then pack
    bits per table. The hyperplane matrix W is regenerated from a
    fixed seed on each executor (np.random.RandomState's stream is
    stable across platforms by numpy's legacy-RNG guarantee) — no
    stored model, deterministic across runs.

    Why a UDF when the rest of this module stays JVM-side: an
    expression-tree formulation of dims × (n_tables·n_bits)
    projections either unrolls into dozens of aggregate expressions
    (multi-second codegen JIT) or shares one HOF-aggregate across
    all bit extractions — and higher-order functions defeat Catalyst
    subexpression elimination, so the whole fold re-evaluates per
    bit (observed 60+ s for 500 rows). The matmul is the canonical
    SRP formulation and costs microseconds per batch.
    """
    W = np.random.RandomState(_SRP_SEED).standard_normal(
        (dims, n_tables * n_bits)
    )
    weights = 1 << np.arange(n_bits, dtype=np.int64)

    @pandas_udf("array<int>")
    def buckets(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        X = np.vstack(v.to_numpy())  # (batch, dims)
        signs = (X @ W) >= 0
        packed = (
            (signs.reshape(len(X), n_tables, n_bits) * weights)
            .sum(axis=2)
            .astype(np.int32)
        )
        return pd.Series(list(packed))

    return buckets


def _bucketize(df, id_alias: str, vec_col: str, dims: int, n_bits: int, n_tables: int):
    """(id, tbl, bucket) rows — one per (row, table) via posexplode of
    the per-row bucket array. Vectors deliberately do NOT ride along:
    the bucket join and candidate dedup shuffle 12-byte keys, and
    vectors are joined back only for the rows that survive (at ≥1k dims
    that is the difference between shuffling kilobytes and bytes per
    candidate). `cosine_near_dup_pairs` joins them on afterwards, per
    bucket row, for its per-block verify (see its docstring)."""
    udf = _srp_buckets_udf(dims, n_bits, n_tables)
    return df.select(
        F.col(id_alias),
        F.posexplode(udf(F.col(vec_col))).alias("tbl", "bucket"),
    )


def _nearest_subcell_by_cell_udf(mats: "dict[int, np.ndarray]"):
    """Pandas UDF: (cell, embedding) -> nearest SUB-centroid index
    against that cell's own normalized matrix — the batched-Lloyd twin
    of `_nearest_cells_udf(Cn, 1)` (same lenient malformed-row
    handling, same stable cosine-desc/lowest-index tie-break), with
    the per-cell matrices shipped as one closure dict so ALL hot
    cells' assignment runs in ONE job instead of one job per cell
    (split_hot_cells, VERDICT r15 #4)."""

    @pandas_udf("int")
    def sub(cell: pd.Series, v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int32")
        out = np.zeros(len(v), dtype=np.int32)
        cells_arr = cell.to_numpy()
        vec_arr = v.to_numpy()
        for c, M in mats.items():
            idx = np.nonzero(cells_arr == c)[0]
            if idx.size == 0:
                continue
            d = M.shape[1]
            X = np.zeros((idx.size, d), dtype=np.float64)
            for r_i, r in enumerate(idx):
                a = vec_arr[r]
                if a is None:
                    continue
                a = np.asarray(a, dtype=np.float64)[:d]
                X[r_i, : len(a)] = a
            # row norm does not move an argmax, but keep the exact
            # _nearest_cells_udf arithmetic so the sims match bit-wise
            norms = np.linalg.norm(X, axis=1, keepdims=True)
            Xn = X / np.where(norms == 0.0, 1.0, norms)
            sims = Xn @ M.T
            out[idx] = np.argsort(-sims, axis=1, kind="stable")[:, 0]
        return pd.Series(out)

    return sub


def _fit_subcentroids_batched(
    cells: DataFrame,
    hot: list[int],
    n_splits: int,
    refine_iters: int,
) -> "dict[int, np.ndarray]":
    """Sub-centroid fits for EVERY hot cell in TWO Spark jobs total
    (one seed-sample job + one per-Lloyd-pass means job) instead of
    two PER CELL (VERDICT r15 #4: the maintenance pass's job count was
    dominated by split_hot_cells' per-cell fit jobs — each a full
    plan/schedule/collect round-trip over a driver-sized result).

    Same model as `_fit_centroids` per cell: a deterministic
    xxhash-ordered sample of the cell's own rows seeds `n_splits`
    sub-centroids, optionally Lloyd-refined with per-(cell, sub, pos)
    means that fall back to the seed component where absent. The one
    deliberate divergence: the seed order tie-breaks on the row id
    (`row_number` over (hash, id)) where `_fit_centroids`' global
    orderBy+limit leaves hash ties unordered — a strictly MORE
    deterministic choice; probe-all/top-k results are invariant to
    sub-cell assignment either way (every row stays reachable).

    Returns {cell: normalized (<=n_splits, dims) matrix}."""
    from pyspark.sql import Window

    sub = cells.filter(
        F.col("cell").isin([int(c) for c in hot])
    ).select("cell", F.col("neighbor_id").alias("cid"), F.col("__cv").alias("cvec"))
    w = Window.partitionBy("cell").orderBy("__r", "cid")
    seeds = (
        sub.withColumn("__r", F.pmod(F.xxhash64("cid"), F.lit(1_000_000)))
        .withColumn("__k", F.row_number().over(w))
        .filter(F.col("__k") <= n_splits)
        .select("cell", "__k", "cvec")
        .collect()
    )
    grouped: dict[int, list] = {}
    for r in sorted(seeds, key=lambda r: (int(r["cell"]), int(r["__k"]))):
        grouped.setdefault(int(r["cell"]), []).append(
            np.asarray([float(x) for x in r["cvec"]], dtype=np.float64)
        )
    # raw seed matrices are kept across passes and normalized per pass
    # — exactly _fit_centroids' C/Cn split, so a per-component fallback
    # (empty sub-cell, ragged gap) falls back to the RAW seed component
    raw_mats: dict[int, np.ndarray] = {
        c: np.vstack(rows) for c, rows in grouped.items()
    }

    def _norm(d: "dict[int, np.ndarray]") -> "dict[int, np.ndarray]":
        return {
            c: C / np.linalg.norm(C, axis=1, keepdims=True)
            for c, C in d.items()
        }

    mats = _norm(raw_mats)
    for _ in range(refine_iters):
        assigned = sub.select(
            "cell",
            _nearest_subcell_by_cell_udf(mats)(
                F.col("cell"), F.col("cvec")
            ).alias("sc"),
            F.posexplode(F.col("cvec")).alias("pos", "x"),
        )
        means = (
            assigned.groupBy("cell", "sc", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        per: dict[int, dict[int, dict[int, float]]] = {}
        for r in means:
            per.setdefault(int(r["cell"]), {}).setdefault(
                int(r["sc"]), {}
            )[int(r["pos"])] = r["m"]
        for c, C in raw_mats.items():
            C = C.copy()
            for sc, comps in per.get(c, {}).items():
                # seed-width rebuild with per-component fallback —
                # exactly _fit_centroids' malformed-row discipline
                C[sc] = [comps.get(i, C[sc][i]) for i in range(C.shape[1])]
            raw_mats[c] = C
        mats = _norm(raw_mats)
    return mats


def cap_hot_buckets(banded, keys: list[str], max_bucket_size: int | None):
    """Drop every row belonging to a bucket with more than
    ``max_bucket_size`` members.

    A boilerplate-heavy corpus puts thousands of near-identical rows in
    one bucket, and the candidate self-join is QUADRATIC in bucket
    membership — AQE skew-split spreads the work but cannot reduce the
    pair count. The count aggregate is map-side-combined (tiny), the
    hot-bucket list is by construction small (only buckets over the
    cap), so the guard costs one broadcast anti-join. Rows dropped here
    are exactly the ones whose duplicates are cheapest to find by exact
    fingerprint dedup first — the standard pipeline runs exact dedup
    before LSH.
    """
    if max_bucket_size is None:
        return banded
    hot = (
        banded.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > max_bucket_size)
        .select(*keys)
    )
    return banded.join(F.broadcast(hot), on=keys, how="left_anti")


def cap_hot_buckets_two_sided(
    b_new: DataFrame,
    b_ref: DataFrame,
    keys: list[str],
    max_bucket_size: int | None,
) -> tuple[DataFrame, DataFrame]:
    """`cap_hot_buckets` over the UNION of two banded sides, re-split —
    the cross-set gates' capping contract: a bucket hot on either (or
    both) sides is dropped consistently from BOTH join inputs, because
    the cross-join blowup is |new ∩ bucket| × |ref ∩ bucket| and
    per-side caps under-count it."""
    if max_bucket_size is None:
        return b_new, b_ref
    # _reuse: without it each SIDE'S banding derivation plans THREE
    # times — under the hot-count aggregate, under the n-split, and
    # under the r-split of the anti-joined union (the last known
    # dual-derivation site after r15's self-join sweep, VERDICT r15
    # #5); the union is a narrow key table, so materializing it once
    # is the same trade as every other _reuse site.
    union = _reuse(
        b_new.select(F.lit("n").alias("__side"), "*").unionByName(
            b_ref.select(F.lit("r").alias("__side"), "*")
        )
    )
    capped = cap_hot_buckets(union, keys, max_bucket_size)
    return (
        capped.filter(F.col("__side") == "n").drop("__side"),
        capped.filter(F.col("__side") == "r").drop("__side"),
    )


def lsh_scores(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str = "vec_id",
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    n_bits: int = 4,
    n_tables: int = 12,
    max_bucket_size: int | None = None,
    broadcast_query_vectors: bool = True,
) -> DataFrame:
    """Every SRP-colliding (query, neighbor) similarity, UNRANKED.

    Tuning: per-bit collision prob for angle θ is 1−θ/π, so recall for
    neighbors at cosine c needs n_bits · arccos(c)/π ≲ ln(n_tables).
    The defaults (4 bits × 12 tables) give ~0.85 top-10 recall on the
    synthetic corpus whose nearest neighbors sit at cosine 0.3-0.5;
    corpora with genuinely close neighbors (≥0.8) can afford 8-12 bits
    and fewer tables, cutting scored pairs by 10-100×. Cost is the
    collision fraction (~n·q / 2^n_bits per table).

    Shuffle shape: bucket join and candidate dedup carry ids only;
    vectors join back afterward. ``broadcast_query_vectors=False`` is
    for SELF-kNN (queries == corpus): broadcasting a corpus-sized
    query side would violate the model-sized-broadcast discipline, so
    the vector join-back becomes a plain equi-join on the 8-byte id.
    ``max_bucket_size`` drops degenerate buckets (see
    `cap_hot_buckets`).
    """
    c_base = corpus.select(F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("__cv"))
    q_base = queries.select(F.col(query_id).alias("query_id"), F.col(vec_col).alias("__qv"))
    c = cap_hot_buckets(
        _bucketize(c_base, "neighbor_id", "__cv", dims, n_bits, n_tables),
        ["tbl", "bucket"], max_bucket_size,
    )
    q = _bucketize(q_base, "query_id", "__qv", dims, n_bits, n_tables)

    pairs = (
        c.join(q, on=["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    # per-pair cost discipline (VERDICT r14 #1, the brute_force_scores
    # pattern finished across every pair-scoring site this round): the
    # naive cosine_similarity expression evaluates FIVE interpreted HOF
    # aggregates per candidate pair (the null-guard re-evaluates both
    # norms; HOFs defeat Catalyst CSE). Norms depend on one side only,
    # so they are precomputed per ROW below the join — bit-identical
    # (same fold over the same input; IEEE multiply commutes), and the
    # per-pair residue is a single dot. This is the scorer every
    # LSH-swap path and the PageRank edge build run through, and at
    # exact-recall dials it scores ~all pairs — the most HOF-heavy
    # site of the six hoisted.
    q_vec = q_base.withColumn("__qn", l2_norm(F.col("__qv")))
    c_vec = c_base.withColumn("__cn", l2_norm(F.col("__cv")))
    q_side = F.broadcast(q_vec) if broadcast_query_vectors else q_vec
    return (
        pairs.join(q_side, "query_id")
        .join(c_vec, "neighbor_id")
        .withColumn(
            "score",
            cosine_from_norms(
                F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cn")
            ),
        )
        .select("query_id", "neighbor_id", "score")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    n_bits: int = 4,
    n_tables: int = 12,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Approximate top-k: `lsh_scores` + deterministic ranking (score
    desc, neighbor id tiebreak). See `lsh_scores` for tuning and
    shuffle-shape notes."""
    scored = lsh_scores(
        corpus, queries, corpus_id, query_id, vec_col,
        dims, n_bits, n_tables, max_bucket_size,
    )
    return top_k_per_group(
        scored, ["query_id"], "score", k, ascending=False, tiebreakers=["neighbor_id"]
    )


# ---------------------------------------------------------------------------
# IVF-style coarse quantization
# ---------------------------------------------------------------------------
def _nearest_cells_udf(Cn: np.ndarray, n: int, strict: bool = False):
    """Pandas UDF: embedding -> the `n` nearest centroid ids (cosine,
    spherical) against the normalized centroid matrix ``Cn`` — one numpy
    matmul per Arrow batch, matrix shipped in the UDF closure.

    ``strict=True`` (the index-APPEND path) raises a clear ValueError on
    a NULL or wrong-width vector instead of zero-pad/truncate: the
    lenient form is right for QUERY-time assignment (a malformed corpus
    row lands in some cell instead of killing the job), but appending it
    to a stored artifact would corrupt the index silently. Validating
    inside the UDF checks exactly the rows being written, at zero extra
    scan cost (the probe-guard lesson from ADVICE r10 — a separate
    validation action over a nondeterministic source checks the wrong
    rows)."""

    @pandas_udf("array<bigint>")
    def cells(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        d = Cn.shape[1]
        arrs = v.to_numpy()
        if strict:
            for a in arrs:
                if a is None or len(a) != d:
                    raise ValueError(
                        f"index append rejected a "
                        f"{'NULL' if a is None else f'{len(a)}-d'} vector "
                        f"(index dims = {d}); drop or fix malformed rows "
                        f"before appending — zero-padding them into a "
                        f"stored artifact would corrupt it silently"
                    )
        if any(a is None or len(a) != d for a in arrs):
            # ragged/malformed vectors: NULL -> zeros, zero-pad short,
            # truncate long — a bad corpus row lands in SOME cell
            # instead of killing the whole Arrow batch (np.vstack would
            # raise on raggedness; len(None) raised a bare TypeError
            # before review r11). Lenient assignment is QUERY-time only
            # (ivf_scores / _fit_centroids); every write path assigns
            # strictly so malformed rows can never enter the artifact.
            X = np.zeros((len(arrs), d), dtype=np.float64)
            for r, a in enumerate(arrs):
                if a is None:
                    continue
                a = np.asarray(a, dtype=np.float64)[:d]
                X[r, : len(a)] = a
        else:
            X = np.vstack(arrs).astype(np.float64)
        norms = np.linalg.norm(X, axis=1, keepdims=True)
        Xn = X / np.where(norms == 0.0, 1.0, norms)
        sims = Xn @ Cn.T  # (batch, n_centroids)
        # stable argsort: cosine desc, ties to the lower centroid id
        idx = np.argsort(-sims, axis=1, kind="stable")[:, :n]
        return pd.Series([row.tolist() for row in idx])

    return cells


def ivf_scores(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str = "vec_id",
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    nprobe: int = 4,
    refine_iters: int = 0,
) -> DataFrame:
    """Every cell-colliding (query, neighbor) similarity, UNRANKED —
    see `ivf_topk` for the ranked form and `brute_force_scores` for why
    re-ranking callers want the unranked frame.

    IVF: centroids = deterministic corpus sample, optionally Lloyd-
    refined; corpus rows are assigned to their nearest centroid (one
    broadcast pass); each query probes its `nprobe` nearest centroid
    cells.

    At 100 TB: the assignment pass is a broadcast map (no shuffle), the
    probe join shuffles on cell id only — cells are the unit of work,
    and nprobe/n_centroids is the recall/cost dial.

    ``refine_iters`` runs that many Lloyd (k-means) passes over the
    sampled seed centroids before the index is built: assign every
    corpus row to its nearest current centroid (same broadcast Arrow
    matmul as the final pass), recompute each cell's mean vector, and
    collect only the model-sized (n_centroids × dims) per-component
    averages back to the driver. Balanced cells mean the nprobe'd cells
    cover more true neighbors at the same cost, so recall at fixed
    nprobe improves (asserted in tests/test_similarity.py); empty cells
    keep their seed centroid. Each pass is one extra corpus scan —
    at 100 TB run refinement on a sample or reuse a saved model.
    """
    Cn = _fit_centroids(
        corpus, corpus_id, vec_col, n_centroids, refine_iters
    )

    def nearest_cells(df: DataFrame, id_alias: str, n: int) -> DataFrame:
        """Top-n nearest centroid cells per row — one Arrow batch matmul,
        no shuffle."""
        return df.select(
            F.col(id_alias),
            F.col(vec_col),
            F.explode(_nearest_cells_udf(Cn, n)(F.col(vec_col))).alias("cell"),
        )

    # norms hoisted below the cell join (the lsh_scores discipline):
    # per exploded (id, cell) row — nprobe per query, 1 per corpus row
    # — never per candidate pair
    c_cells = nearest_cells(
        corpus.select(F.col(corpus_id).alias("neighbor_id"), vec_col), "neighbor_id", 1
    ).withColumnRenamed(vec_col, "__cv").withColumn(
        "__cn", l2_norm(F.col("__cv"))
    )
    q_cells = nearest_cells(
        queries.select(F.col(query_id).alias("query_id"), vec_col), "query_id", nprobe
    ).withColumnRenamed(vec_col, "__qv").withColumn(
        "__qn", l2_norm(F.col("__qv"))
    )

    return (
        c_cells.join(q_cells, on="cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn(
            "score",
            cosine_from_norms(
                F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cn")
            ),
        )
        .select("query_id", "neighbor_id", "score")
    )


def _fit_centroids(
    corpus: DataFrame,
    corpus_id: str,
    vec_col: str,
    n_centroids: int,
    refine_iters: int,
) -> "np.ndarray":
    """The IVF model fit shared by the inline path (`ivf_scores`) and
    the stored-artifact path (`write_ivf_index`): a deterministic
    xxhash-ordered corpus sample seeds the centroids, optionally
    Lloyd-refined; returns the row-NORMALIZED centroid matrix."""
    cents = (
        corpus.select(F.col(corpus_id).alias("cid"), F.col(vec_col).alias("cvec"))
        .withColumn("__r", F.pmod(F.xxhash64(F.col("cid")), F.lit(1_000_000)))
        .orderBy("__r")
        .limit(n_centroids)
        .select("cvec")
    )
    # n_centroids rows — driver-size by construction; centroid_id is the
    # sample-order index. The matrix rides to executors inside the UDF
    # closure: an expression-tree alternative (n_centroids × dims
    # literals, one HOF-aggregate cosine per centroid per row) costs
    # seconds of Catalyst analysis + re-evaluated folds per row.
    C = np.vstack([r["cvec"] for r in cents.collect()]).astype(np.float64)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)

    for _ in range(refine_iters):
        assigned = corpus.select(
            _nearest_cells_udf(Cn, 1)(F.col(vec_col))[0].alias("cell"),
            F.posexplode(F.col(vec_col)).alias("pos", "x"),
        )
        # Per-(cell, component) mean: partial-aggregated map-side, the
        # shuffled/collected result is model-sized (n_centroids × dims).
        means = (
            assigned.groupBy("cell", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        per_cell: dict[int, dict[int, float]] = {}
        for r in means:
            per_cell.setdefault(int(r["cell"]), {})[int(r["pos"])] = r["m"]
        # Rebuild each refined centroid at the SEED width, falling back
        # to the seed component where a (cell, pos) mean is absent and
        # ignoring positions past the seed width: with ragged embedding
        # arrays a positional [comps[i] for i in range(len(comps))]
        # rebuild would KeyError on gaps and shape-fail on overlong
        # vectors — malformed corpus rows must degrade refinement, not
        # crash it.
        C = C.copy()
        for cell, comps in per_cell.items():
            C[cell] = [
                comps.get(i, C[cell][i]) for i in range(C.shape[1])
            ]
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)

    return Cn


def write_ivf_index(
    corpus: DataFrame,
    index_dir: str,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    refine_iters: int = 0,
    files_per_cell: int = 1,
) -> None:
    """Fit and STORE the IVF index: the production shape of the ANN
    side, mirroring `dedup.write_minhash_index` for text. Artifact:
    `centroids` (cell, vec), `cells` (the corpus pre-assigned to its
    nearest centroid, written `partitionBy(cell)`), and a param `meta`
    table so a drifted caller can't probe with mismatched settings.

    At 100 TB the payoff is the PARTITIONED cells table: a probe reads
    only its nprobe cells' files (static/dynamic partition pruning on
    the `cell` directory column) — the index is scanned, never
    shuffled, and never re-fit per batch.
    """
    spark = corpus.sparkSession
    Cn = _fit_centroids(corpus, corpus_id, vec_col, n_centroids, refine_iters)
    # a corpus smaller than n_centroids yields fewer centroids than
    # requested — meta must record the ACTUAL index shape, not the ask
    n_actual = int(Cn.shape[0])
    # local_df, not createDataFrame(list): the parallelized-Python-RDD
    # path cost 4-5 s PER tiny write (io/localrel.py) — it was most of
    # the stored-index build time
    local_df(
        spark,
        [(i, [float(x) for x in Cn[i]]) for i in range(n_actual)],
        "cell int, vec array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(index_dir + "/centroids")
    n_written = _write_cells(corpus, Cn, index_dir, corpus_id, vec_col,
                             files_per_cell, mode="overwrite")
    _write_meta(spark, index_dir, n_actual, int(Cn.shape[1]), n_rows=n_written)


def _write_cells(
    corpus: DataFrame,
    Cn: np.ndarray,
    index_dir: str,
    corpus_id: str,
    vec_col: str,
    files_per_cell: int,
    mode: str,
    cells_dir: str | None = None,
) -> int:
    """Assign `corpus` rows to their nearest centroid and land them in
    the cell-partitioned layout — shared by the initial build
    (mode=overwrite) and `append_to_ivf_index` (mode=append). Both
    paths assign STRICTLY: a NULL or wrong-width vector raises inside
    the UDF instead of being zero-padded into the stored artifact (the
    lenient pad is for QUERY-time assignment only — `ivf_scores`,
    `_fit_centroids` — where a malformed row should land in some cell
    rather than kill the job, and nothing is persisted).

    Returns the number of rows written, counted by an Observation
    riding the write action itself — no extra job, and no post-write
    rescan of the (possibly millions-of-files) cells table, so the
    meta ledger update stays O(batch) on appends.

    ``cells_dir`` overrides the live ``<index_dir>/cells`` target —
    the refit path writes the re-assigned layout into a sibling tmp
    dir and swaps it in, never overwriting the live table in place."""
    from pyspark.sql import Observation

    obs = Observation()
    assigned = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        _nearest_cells_udf(Cn, 1, strict=True)(F.col(vec_col))[0].alias("cell"),
    ).observe(obs, F.count(F.lit(1)).alias("n"))
    # repartition on (cell, salt), not cell alone: hashing on `cell`
    # only would land every row of a cell in ONE partition, and
    # partitionBy("cell") would then write exactly one file per cell
    # regardless of files_per_cell. The salt spreads each cell over
    # files_per_cell writer partitions so big cells get a multi-file
    # layout (single-file cell scans serialize — the bench_scale
    # pathology) while pruning still works on the `cell` directory.
    salt = F.pmod(F.xxhash64("neighbor_id"), F.lit(max(1, files_per_cell)))
    (
        assigned.repartition(
            max(1, files_per_cell) * max(1, int(Cn.shape[0])), "cell", salt
        )
        .write.mode(mode)
        .partitionBy("cell")
        .parquet(cells_dir if cells_dir is not None else index_dir + "/cells")
    )
    return int(obs.get["n"])


def _write_meta(
    spark, index_dir: str, n_centroids: int, dims: int,
    n_rows: int | None = None, fit_gen: int = 0,
) -> None:
    """(Re)write the one-row param table with the cells row-count
    ledger and the fit-generation counter (``fit_gen``: 0 at build,
    +1 per `refit_ivf_index` — the audit trail for "which centroid
    model scored this probe"). Callers on the lifecycle hot path pass
    the incrementally-maintained count (build: rows written; append:
    old ledger + rows appended — review r11: a footer recount here
    would list every file under cells/, making append
    O(index-file-count) on a long-appended index, the very pathology
    compact_ivf_cells exists for).
    ``n_rows=None`` falls back to the one-time footer recount — the
    upgrade path for artifacts written before the ledger existed.

    The stamp is a tmp-write + `replace_parquet_dir` swap, never a
    Spark mode('overwrite') on the live path (ADVICE r11): Spark
    overwrite DELETES the directory before writing, so a crash
    mid-stamp would leave the index with no meta at all — centroids
    count/dims lost and `load_ivf_index` dead — a window re-opened on
    EVERY append/compact just to refresh the informational row ledger.
    With the swap, every crash point leaves either the old meta or the
    new one live."""
    if n_rows is None:
        n_rows = count_parquet_rows(spark, index_dir + "/cells")
    from airline_data_pipeline_spark.io.writers import replace_parquet_dir

    tmp = index_dir + "/meta__stamping"
    local_df(
        spark,
        [(n_centroids, dims, int(n_rows), int(fit_gen))],
        "n_centroids int, dims int, n_rows bigint, fit_gen int",
    ).coalesce(1).write.mode("overwrite").parquet(tmp)
    replace_parquet_dir(spark, tmp, index_dir + "/meta")


def append_to_ivf_index(
    batch: DataFrame,
    index_dir: str,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    files_per_cell: int = 1,
) -> None:
    """Grow a stored IVF index with a new corpus batch — the lifecycle
    step between write-once and rebuild (the incremental-corpus story
    `dedup_minhash_against_index` tells for text, completed for ANN).

    Batch rows are assigned to the EXISTING centroids (no re-fit: the
    centroid table is the frozen model; probes against the appended
    index stay consistent with every earlier batch) and land as NEW
    files inside the existing `cell=` directories — the stored rows are
    never read, never rewritten, never shuffled. The meta ledger is
    re-stamped incrementally (old count + rows written, counted by an
    Observation on the write itself) — no post-append rescan, so the
    whole operation is O(batch) no matter how many files the index
    holds (measured flat at 1×/3×/10× index scale, BASELINE.md
    "Scaling measurement — round-11 append lifecycle"). With
    probe-all-cells the
    appended index is score-identical to a from-scratch rebuild on the
    union corpus (oracle-checked: `knn_via_appended_ivf_index`); at
    fixed nprobe the difference is recall drift as the corpus outgrows
    the frozen centroids — measured ≤ 0.02 recall@10 at 2× growth
    (BASELINE.md, the round-11 append lifecycle's "Recall drift"
    paragraph) — the rebuild dial, same as any production IVF.

    Two loud guards (review r11): a NULL or wrong-width vector raises
    inside the assignment UDF (checking exactly the rows being
    written) instead of being zero-padded into the artifact, and the
    batch's column TYPES must match the stored cells schema — parquet
    append performs no schema validation, so an uncast float batch
    would otherwise mix FLOAT and DOUBLE files and fail confusingly at
    the next probe's scan.
    """
    spark = batch.sparkSession
    meta, Cn, cells = load_ivf_index(spark, index_dir)
    stored = {f.name: f.dataType for f in cells.schema.fields}
    incoming = batch.select(
        F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    ).schema.fields
    # compare via simpleString: physical type drift (float vs double,
    # int vs bigint) must trip, but parquet round-trips every column as
    # nullable so a raw DataType equality would false-positive on
    # containsNull/nullable alone
    drift = [
        f"{f.name}: batch {f.dataType.simpleString()} != stored "
        f"{stored[f.name].simpleString()}"
        for f in incoming
        if f.name in stored
        and f.dataType.simpleString() != stored[f.name].simpleString()
    ]
    if drift:
        raise ValueError(
            f"index append rejected a schema-drifted batch for "
            f"{index_dir}: {'; '.join(drift)} — cast the batch to the "
            f"stored types first (parquet append would silently mix "
            f"physical types across files)"
        )
    old_rows = meta.asDict().get("n_rows")
    n_written = _write_cells(batch, Cn, index_dir, corpus_id, vec_col,
                             files_per_cell, mode="append")
    _write_meta(
        spark, index_dir, int(Cn.shape[0]), int(Cn.shape[1]),
        n_rows=(old_rows + n_written) if old_rows is not None else None,
        fit_gen=meta.asDict().get("fit_gen") or 0,
    )


def compact_ivf_cells(spark, index_dir: str, files_per_cell: int = 1) -> None:
    """Maintenance step after repeated appends: every
    `append_to_ivf_index` lands a fresh set of files inside the touched
    `cell=` directories, so a long-lived index accumulates small files
    and probe scans degrade into file-listing/footer storms (the same
    pathology any small-file compaction exists for, but cell-aware:
    a plain compaction would destroy the partition layout pruning
    depends on). This rewrites the cells table back to ~``files_per_cell``
    files per cell — same (cell, salt) writer-spread as the initial
    build — into a sibling directory, then swaps it in with a
    park-rename-delete sequence (the source is read while the new
    layout is written, never in place; every crash point leaves a
    loadable or restorable state — see the inline comment), and
    re-stamps the meta ledger. Cell
    ASSIGNMENTS are reused verbatim from the stored rows: compaction
    must never re-derive them, so a post-compaction probe is
    bit-identical (oracle-checked: `knn_via_compacted_ivf_index`).

    At 100 TB this is the third verb of the index lifecycle —
    write once, append per batch at O(batch), compact on a maintenance
    cadence at O(index) but IO-only (no UDF, no re-fit, one shuffle on
    (cell, salt)).
    """
    meta, Cn, cells = load_ivf_index(spark, index_dir)
    n_cells = int(Cn.shape[0])
    tmp = index_dir + "/cells__compacting"
    salt = F.pmod(F.xxhash64("neighbor_id"), F.lit(max(1, files_per_cell)))
    (
        cells.repartition(max(1, files_per_cell) * max(1, n_cells), "cell", salt)
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(tmp)
    )
    # park-rename-delete swap (crash-safe at every point) — shared
    # primitive, see io.writers.replace_parquet_dir
    from airline_data_pipeline_spark.io.writers import replace_parquet_dir

    replace_parquet_dir(spark, tmp, index_dir + "/cells")
    _write_meta(spark, index_dir, n_cells, int(Cn.shape[1]),
                n_rows=meta.asDict().get("n_rows"),
                fit_gen=meta.asDict().get("fit_gen") or 0)


def retract_from_ivf_index(
    spark,
    index_dir: str,
    ids,
    files_per_cell: int = 1,
) -> None:
    """Remove vectors from a stored IVF index — the deletion verb of
    the ANN store (VERDICT r12 #1: the MinHash index could forget a
    document, `dedup.retract_from_minhash_index`; the embedding store
    carries the same GDPR/right-to-be-forgotten obligation — the
    reference's upload-dedup step,
    `/root/reference/data_ingestion/ingest.py:208-252`, is the ancestor
    of this whole incremental-corpus family). After retraction the
    index probes exactly as if it had been rebuilt on
    corpus-minus-retracted (oracle-checked:
    `knn_via_retracted_ivf_index`) — in particular, a retracted
    vector's slot in every query's top-k BACKFILLS with the next
    nearest neighbor, which is the observable point of the operation
    (unit-tested).

    ``ids`` is either a driver-sized Python collection (literal
    IN-list, no join) or a DataFrame holding the retraction set in its
    ``neighbor_id`` column / sole column (broadcast anti-join) — the
    same contract as the MinHash retraction. The cells table (and the
    pqcodes table, when a PQ artifact exists) rewrites WITHOUT the
    retracted rows into a sibling dir — cell ASSIGNMENTS are reused
    verbatim (no re-fit, no assignment UDF; retraction changes
    membership, never the model), the same (cell, salt) writer-spread
    as build/compact keeps the partitionBy(cell) pruning layout — and
    swaps in via the crash-safe `replace_parquet_dir`. One IO-parallel
    O(index) pass per table; the retraction set never shuffles the
    index.

    Ledger coherence: the meta row ledger re-stamps from the rewrite's
    own Observation count (kept rows), and when a PQ artifact exists
    its ``pqmeta`` ledger re-stamps from ITS kept count — so the
    pm.n_rows == meta.n_rows consistency guard in the PQ probe stays
    coherent through a retraction (both decrement together), while an
    artifact that was ALREADY stale (rows appended since the encode)
    stays detectably stale and keeps failing loudly with the re-encode
    message. ``fit_gen`` is untouched: the centroid model did not
    change.

    Crash ordering — cells FIRST: once cells swaps, BOTH probe paths
    already behave fully-retracted (the full-vector probe scans cells;
    the PQ probe may still shortlist a retracted id from stale
    pqcodes, but the exact re-rank inner-joins the cells table and the
    orphan candidate drops out — the same inert-orphan asymmetry the
    MinHash retraction documents for shingles). Then pqcodes, then the
    two ledger stamps (each a park-swap). A crash between any two
    steps leaves a loadable index that is at worst ledger-stale — the
    PQ guard fails loudly, never silently — and re-running the
    retraction (idempotent: the anti-join is a no-op on already-gone
    rows, the stamps recount) restores full consistency.
    """
    from airline_data_pipeline_spark.io.writers import replace_parquet_dir
    from pyspark.sql import Observation

    meta, Cn, cells = load_ivf_index(spark, index_dir)
    md = meta.asDict()
    n_cells = int(Cn.shape[0])

    if isinstance(ids, DataFrame):
        src = ids
        col = "neighbor_id" if "neighbor_id" in src.columns else (
            src.columns[0] if len(src.columns) == 1 else None
        )
        if col is None:
            raise ValueError(
                f"retraction DataFrame must have a 'neighbor_id' column "
                f"or exactly one column; got {src.columns}"
            )
        rid = src.select(F.col(col).alias("neighbor_id")).distinct()

        def drop_retracted(df: DataFrame) -> DataFrame:
            return df.join(F.broadcast(rid), on="neighbor_id", how="left_anti")
    else:
        id_list = list(ids)
        if not id_list:
            return  # nothing to retract; don't rewrite the index for a no-op

        def drop_retracted(df: DataFrame) -> DataFrame:
            return df.filter(~F.col("neighbor_id").isin(id_list))

    # the PQ artifact is keyed on pqmeta, same as load_pq_artifact
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    pqmeta_p = jvm.org.apache.hadoop.fs.Path(index_dir + "/pqmeta")
    has_pq = pqmeta_p.getFileSystem(hconf).exists(pqmeta_p)

    # cells: kept rows land in the same salted cell-partitioned layout
    cells_tmp = index_dir + "/cells__retracting"
    obs = Observation()
    salt = F.pmod(F.xxhash64("neighbor_id"), F.lit(max(1, files_per_cell)))
    (
        drop_retracted(cells)
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .repartition(max(1, files_per_cell) * max(1, n_cells), "cell", salt)
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(cells_tmp)
    )
    replace_parquet_dir(spark, cells_tmp, index_dir + "/cells")
    n_kept = int(obs.get["n"])

    if has_pq:
        pm = read_meta_first(spark, index_dir + "/pqmeta").asDict()
        codes_tmp = index_dir + "/pqcodes__retracting"
        pq_obs = Observation()
        (
            drop_retracted(spark.read.parquet(index_dir + "/pqcodes"))
            .observe(pq_obs, F.count(F.lit(1)).alias("n"))
            .repartition(max(1, n_cells), "cell")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(codes_tmp)
        )
        replace_parquet_dir(spark, codes_tmp, index_dir + "/pqcodes")
        pm_tmp = index_dir + "/pqmeta__stamping"
        local_df(
            spark,
            [(
                int(pm["m"]), int(pm["ksub"]), int(pm["dsub"]),
                int(pm["fit_gen"] or 0), int(pq_obs.get["n"]),
            )],
            "m int, ksub int, dsub int, fit_gen int, n_rows bigint",
        ).coalesce(1).write.mode("overwrite").parquet(pm_tmp)
        replace_parquet_dir(spark, pm_tmp, index_dir + "/pqmeta")

    _write_meta(
        spark, index_dir, n_cells, int(md["dims"]),
        n_rows=n_kept, fit_gen=md.get("fit_gen") or 0,
    )


def refit_ivf_index(
    spark,
    index_dir: str,
    sample_frac: float = 1.0,
    n_centroids: int | None = None,
    refine_iters: int = 0,
    files_per_cell: int = 1,
) -> None:
    """The FOURTH verb of the stored-IVF lifecycle — the "keep data
    fresh" rebuild the reference declares but never builds
    (`/root/reference/README.md:112-116`), shaped for an ANN store:
    re-fit the centroid model from the index's OWN stored rows and
    re-assign every row to the new model, without ever re-reading the
    original corpus.

    Why it exists: `append_to_ivf_index` assigns new batches to the
    FROZEN centroids — O(batch) and probe-consistent, but as the
    corpus outgrows the fitted model, fixed-nprobe recall drifts.
    Measured on this synthetic corpus (BASELINE.md "Scaling
    measurement — round-11 append lifecycle", its "Recall drift"
    paragraph): ≤ 0.02 recall@10 penalty at 2× growth — so the documented
    cadence is DON'T refit before the corpus has at least doubled past
    the last fit; refit when drift on a held-out probe set exceeds
    what your recall SLO tolerates (the drift is distribution-shift
    bound, not row-count bound: an appended batch from a NEW cluster
    the fitted centroids never saw degrades immediately, which is the
    case `tests/test_similarity.py::test_refit_recovers_recall_on_
    shifted_corpus` constructs).

    Mechanics: centroids re-fit from a deterministic xxhash-ordered
    sample of the stored rows (``sample_frac`` of the index — the fit
    is model-sized either way, the sample just bounds the seed scan),
    then ONE O(index) IO-parallel pass re-assigns all rows (the same
    strict assignment UDF as the build) into a sibling layout, and the
    cells + centroids directories swap in via `replace_parquet_dir`.
    Meta re-stamps with ``fit_gen`` incremented and the ledger set
    from the rewrite's own Observation count. With probe-all the
    refitted index is score-identical to any other assignment of the
    same rows (cells partition the corpus; oracle-checked:
    `knn_via_refitted_ivf_index`).

    Crash safety: both new layouts are COMPLETE in tmp dirs before the
    first swap, so a crash before it changes nothing. A crash between
    the two swaps leaves new cells paired with old centroids — a
    recall-degraded but loadable and lossless state (cells hold
    id+vector verbatim); re-running the refit restores consistency.
    Live serving streams ride through the swap via the annotate sink's
    stale-listing reload (`streaming.events.run_ann_annotate_sink`).
    """
    if not (0.0 < sample_frac <= 1.0):
        raise ValueError(f"sample_frac must be in (0, 1], got {sample_frac}")
    from airline_data_pipeline_spark.io.writers import replace_parquet_dir

    meta, Cn_old, cells = load_ivf_index(spark, index_dir)
    n_ask = n_centroids if n_centroids is not None else int(Cn_old.shape[0])
    corpus = cells.select("neighbor_id", "__cv")
    sample = corpus
    if sample_frac < 1.0:
        sample = corpus.filter(
            F.pmod(F.xxhash64("neighbor_id"), F.lit(1_000_000))
            < int(sample_frac * 1_000_000)
        )
    Cn_new = _fit_centroids(sample, "neighbor_id", "__cv", n_ask, refine_iters)
    n_actual = int(Cn_new.shape[0])
    if Cn_new.shape[1] != Cn_old.shape[1]:
        raise ValueError(
            f"refit produced {Cn_new.shape[1]}-d centroids on a "
            f"{Cn_old.shape[1]}-d index at {index_dir} — stored rows are "
            f"malformed"
        )
    cent_tmp = index_dir + "/centroids__refitting"
    cells_tmp = index_dir + "/cells__refitting"
    local_df(
        spark,
        [(i, [float(x) for x in Cn_new[i]]) for i in range(n_actual)],
        "cell int, vec array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(cent_tmp)
    n_written = _write_cells(
        corpus, Cn_new, index_dir, "neighbor_id", "__cv",
        files_per_cell, mode="overwrite", cells_dir=cells_tmp,
    )
    replace_parquet_dir(spark, cells_tmp, index_dir + "/cells")
    replace_parquet_dir(spark, cent_tmp, index_dir + "/centroids")
    _write_meta(
        spark, index_dir, n_actual, int(Cn_new.shape[1]),
        n_rows=n_written,
        fit_gen=(meta.asDict().get("fit_gen") or 0) + 1,
    )


def _finish_cell_split(spark, index_dir: str, stage: str, old_cell: int):
    """Complete a staged cell split: move every staged ``cell=<id>``
    dir into the live cells table — NEW sub-cell dirs first, the
    replaced ``cell=<old>`` dir LAST (so no crash point loses rows:
    until the final replace, every original row is still present in
    the old dir; the window where new dirs coexist with the unreplaced
    old dir can double-count the moved rows under probe-all, which is
    why split and fsck both drive THIS shared finisher to closure
    rather than leaving the window open) — then delete the stage root.
    Idempotent: a resumed finish processes only the dirs still in the
    stage (renames MOVE them out), and `replace_parquet_dir` handles
    both first-write and park-swap cases."""
    from airline_data_pipeline_spark.io.writers import (
        hadoop_fs,
        replace_parquet_dir,
    )

    _, fs, P = hadoop_fs(spark, index_dir)
    # unconditional park sweep (ADVICE r14): if a prior finish crashed
    # between a swap's rename-in and its mandatory park delete, the
    # lingering cells/cell=N__replaced dir sits OUTSIDE the stage — a
    # resumed finish iterating only staged dirs would never touch it,
    # and it corrupts partition discovery (int → string inference) and
    # double-counts the replaced rows. Swept here, loud on failure,
    # independent of what the stage still holds. fsck sweeps the same
    # parks so an index without a stage heals too.
    if fs.exists(P(index_dir + "/cells")):
        for st in fs.listStatus(P(index_dir + "/cells")):
            nm = st.getPath().getName()
            if nm.endswith("__replaced") and not fs.delete(st.getPath(), True):
                raise IOError(
                    f"cell split at {index_dir}: could not sweep the "
                    f"lingering swap park {nm} under cells/ — it WILL "
                    f"corrupt partition discovery; delete it by hand"
                )
    staged = sorted(
        st.getPath().getName()
        for st in fs.listStatus(P(stage))
        if st.getPath().getName().startswith("cell=")
    )
    old_name = f"cell={old_cell}"
    # Lloyd refinement can strand sub-cell 0 — which reuses the split
    # cell's id — with ZERO assigned rows, and partitionBy writes no
    # dir for an empty partition (ADVICE r14, medium): without a
    # staged cell=<old> the loop below would never replace the live
    # old-cell dir, leaving every hot-cell row duplicated (old dir +
    # new sub-cell dirs) and the ledger adrift. Materialize the empty
    # partition as an empty staged dir so the replace runs: the live
    # old dir becomes a file-less dir (invisible to partition
    # discovery — no rows, no type-inference poison). Done HERE, in
    # the shared finisher, so both the split-time call and a
    # fsck-resumed finish are covered at every crash point; an empty
    # `staged` can then only mean a finish that already moved
    # everything (cell=<old> moves LAST), never an ambiguous state.
    if staged and old_name not in staged:
        if not fs.mkdirs(P(f"{stage}/{old_name}")):
            raise IOError(
                f"cell split at {index_dir}: sub-cell 0 received no "
                f"rows and the empty staged {old_name} could not be "
                f"created — the live {old_name} dir still holds rows "
                f"now duplicated in the staged sub-cells; finish by "
                f"hand or re-run fsck_ivf_index"
            )
        staged.append(old_name)
    for name in [n for n in staged if n != old_name] + (
        [old_name] if old_name in staged else []
    ):
        replace_parquet_dir(
            spark, f"{stage}/{name}", f"{index_dir}/cells/{name}"
        )
        # the swap's park is named <dir>__replaced and its delete is
        # best-effort — but UNDER a partitioned table a lingering
        # `cell=5__replaced` dir changes partition-column type
        # inference (int → string) and poisons every cells scan, so
        # here the delete is mandatory, verified, and loud
        park = P(f"{index_dir}/cells/{name}__replaced")
        if fs.exists(park) and not fs.delete(park, True):
            raise IOError(
                f"cell split at {index_dir}: could not delete the swap "
                f"park {name}__replaced under cells/ — it WILL corrupt "
                f"partition discovery; delete it by hand before the "
                f"next probe"
            )
    if not fs.delete(P(stage), True):
        raise IOError(
            f"cell split at {index_dir} FINISHED (cells and centroids "
            f"are consistent) but the stage root {stage} could not be "
            f"deleted — inert residue; remove by hand or run "
            f"fsck_ivf_index"
        )


def split_hot_cells(
    spark,
    index_dir: str,
    max_cell_fraction: float = 0.25,
    max_cell_rows: int | None = None,
    n_splits: int = 2,
    refine_iters: int = 2,
    files_per_cell: int = 1,
    max_parallel_stages: int = 4,
) -> list[tuple[int, list[int]]]:
    """LOCAL rebalancing of a drifted stored IVF index — split only the
    cells that outgrew the model, at O(hot cell) instead of
    `refit_ivf_index`'s O(index).

    Why it exists: appends assign to the FROZEN centroids, so a data
    distribution the fitted model never saw piles into few cells; every
    probe that touches such a cell then scans a corpus-fraction, and at
    100 TB a cell holding 25% of the index makes a quarter of the data
    the probe floor. The global refit repairs this at one full-index
    rewrite; production ANN stores (IVF rebalancing) repair it locally:
    re-fit ``n_splits`` sub-centroids from the HOT CELL'S OWN rows
    only, re-assign just those rows, and touch no other cell. A cell of
    near-identical vectors cannot split (every row lands in one
    sub-cell) — that corpus shape is the dedup family's job, not the
    index's.

    A cell is hot when its row count exceeds ``max_cell_rows`` (or
    ``max_cell_fraction`` of the ledger when rows is None). Detection
    is one map-side-combined groupBy-count over the cells scan —
    maintenance-cadence cost, model-sized result.

    Cell-id discipline: `load_ivf_index` requires the centroid table to
    be a DENSE 0..n-1 range (matrix row == cell id), so sub-cell 0
    reuses the split cell's id and the rest extend the range. The
    centroid swap + meta stamp (``fit_gen`` +1 — a PQ artifact encoded
    against the old cell space goes loudly stale, exactly as after a
    refit) commits the new model BEFORE rows move: at every crash
    point all rows remain probe-all-reachable (new centroids probing a
    not-yet-populated dir read empty; the staged layout is a COPY).
    The row moves run last via `_finish_cell_split`; an interrupted
    finish resumes through `fsck_ivf_index`, which knows the stage
    layout. Fixed-nprobe recall is transiently degraded between the
    stamp and the finish — the same documented window as a refit's
    dual swap.

    Execution shape (r15 opt, guide §2.6; fits batched r16, VERDICT
    r15 #4): ALL hot cells' sub-centroid fits run in two Spark jobs
    total (`_fit_subcentroids_batched` — one seed-sample job, one
    Lloyd-means job per refine pass, each collecting a model-sized
    result), the staged re-assign WRITES of distinct hot cells are
    independent jobs against disjoint `cell=` dirs run from a small
    driver thread pool (``max_parallel_stages``) that back-fill each
    other's stage tails, and only the model commits + row moves stay
    sequential, in gid-allocation order. Fits are deterministic
    (xxhash sample + Lloyd; the batched seed tie-breaks hash
    collisions on row id where the old per-cell fit left them
    unordered — probe-all/top-k results are invariant to sub-cell
    assignment either way), gid allocation is sequential in the same
    hot order as the old one-cell-at-a-time loop, and every read
    happens BEFORE any finish renames a dir. Crash vocabulary is
    unchanged: a stage whose ids exceed the committed centroid count
    (or lacks `_SUCCESS`) is exactly fsck's "uncommitted stage"
    finding and gets deleted; gid-allocation-order commits guarantee a
    crash at ANY point leaves each earlier stage finishable and each
    later stage uncommitted.

    Returns [(old_cell, [sub-cell global ids])] for every cell split.
    """
    if not 0.0 < max_cell_fraction <= 1.0:
        raise ValueError(
            f"max_cell_fraction must be in (0, 1], got {max_cell_fraction}"
        )
    if n_splits < 2:
        raise ValueError(f"n_splits must be >= 2, got {n_splits}")
    from airline_data_pipeline_spark.io.writers import replace_parquet_dir

    meta, Cn, cells = load_ivf_index(spark, index_dir)
    md = meta.asDict()
    counts = {
        int(r["cell"]): int(r["n"])
        for r in cells.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    total = sum(counts.values())
    cap = max_cell_rows if max_cell_rows is not None else int(
        max_cell_fraction * total
    )
    hot = sorted(
        (c for c, n in counts.items() if n > cap),
        key=lambda c: -counts[c],
    )
    if not hot:
        return []

    cent_rows = {
        int(r["cell"]): [float(x) for x in r["vec"]]
        for r in read_small_rows(spark, index_dir + "/centroids")
    }
    next_id = len(cent_rows)

    def _read_cell(c: int) -> DataFrame:
        # every read in phases 1-2 runs BEFORE any finish renames a
        # dir — strictly safer than the old loop's fresh-read-per-
        # split discipline (the fsck loop's lesson), which existed
        # because finishes interleaved with reads
        return (
            spark.read.parquet(index_dir + "/cells")
            .filter(F.col("cell") == c)
            .select("neighbor_id", "__cv")
        )

    # Phase 1 — fit every hot cell's sub-centroids BATCHED (r16,
    # VERDICT r15 #4): the r15 shape ran two fit jobs (seed sample +
    # Lloyd pass) PER HOT CELL from a thread pool; the batched fit
    # runs one seed job + one means job for ALL hot cells — the
    # per-cell work was a driver-sized collect each, so the job count,
    # not the data, was the cost (plans/r15/ivf_maint_jobcounts:
    # ~10 jobs/split, fits the largest share)
    from concurrent.futures import ThreadPoolExecutor

    sub_mats = _fit_subcentroids_batched(
        spark.read.parquet(index_dir + "/cells"), hot, n_splits, refine_iters
    )
    subs = [sub_mats[c] for c in hot]
    workers = max(1, min(len(hot), max_parallel_stages))

    # gid allocation stays sequential in hot order — same ids, same
    # commit order, content-identical artifact to the sequential loop
    plan: list[tuple[int, "np.ndarray", list[int]]] = []
    for c, sub in zip(hot, subs):
        if int(sub.shape[0]) < 2:
            continue  # a 1-row (or degenerate) cell cannot split
        gids = [c] + list(range(next_id, next_id + int(sub.shape[0]) - 1))
        next_id += int(sub.shape[0]) - 1
        plan.append((c, sub, gids))

    # Phase 2 — stage every re-assigned layout concurrently (a COPY —
    # live rows untouched; distinct cells write distinct
    # cellsplit__staging_<c> dirs). A crash anywhere here leaves only
    # stages whose ids exceed the committed centroid count or lack
    # _SUCCESS — exactly fsck's delete-the-uncommitted-stage finding.
    def _stage_one(item: tuple[int, "np.ndarray", list[int]]) -> None:
        c, sub, gids = item
        stage = f"{index_dir}/cellsplit__staging_{c}"
        gid_arr = F.array(*[F.lit(g) for g in gids])
        salt = F.pmod(F.xxhash64("neighbor_id"), F.lit(max(1, files_per_cell)))
        assigned = _read_cell(c).select(
            "neighbor_id",
            "__cv",
            F.element_at(
                gid_arr,
                (_nearest_cells_udf(sub, 1, strict=True)(F.col("__cv"))[0] + 1)
                .cast("int"),
            ).alias("cell"),
        )
        assigned.repartition(
            max(1, files_per_cell) * len(gids), "cell", salt
        ).write.mode("overwrite").partitionBy("cell").parquet(stage)

    with ThreadPoolExecutor(max_workers=workers) as pool:
        list(pool.map(_stage_one, plan))

    # Phase 3 — commit each model and move its rows SEQUENTIALLY in
    # gid-allocation order: centroids swap + meta stamp (fit_gen +1),
    # THEN the row moves — the old per-cell ordering, so every crash
    # point keeps all rows probe-all-reachable, and every stage after
    # the crash point stays uncommitted (its ids are past the stamped
    # centroid count) for fsck to delete.
    done: list[tuple[int, list[int]]] = []
    for c, sub, gids in plan:
        for i, g in enumerate(gids):
            cent_rows[g] = [float(x) for x in sub[i]]
        tmp = index_dir + "/centroids__splitting"
        local_df(
            spark,
            [(g, cent_rows[g]) for g in sorted(cent_rows)],
            "cell int, vec array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(tmp)
        replace_parquet_dir(spark, tmp, index_dir + "/centroids")
        _write_meta(
            spark, index_dir, len(cent_rows), int(md["dims"]),
            n_rows=md.get("n_rows"),
            fit_gen=(md.get("fit_gen") or 0) + 1,
        )
        md["fit_gen"] = (md.get("fit_gen") or 0) + 1
        stage = f"{index_dir}/cellsplit__staging_{c}"
        _finish_cell_split(spark, index_dir, stage, c)
        done.append((c, gids))
    return done


def fsck_ivf_index(spark, index_dir: str, clean: bool = False) -> DataFrame:
    """Enumerate — and with ``clean=True`` repair — every crash state
    the IVF/PQ lifecycle verbs document (VERDICT r12 #4; the ANN twin
    of `dedup.fsck_minhash_index`). Returns a driver-sized findings
    table (component, issue, detail, action); empty means canonical.

    States covered, mapped to the verbs that can leave them:
    - **missing live table with staged/parked layout** (append/compact/
      retract/refit/PQ-encode crashed inside `replace_parquet_dir`):
      finish the interrupted swap, else restore the park. Without
      fsck, `load_ivf_index` dies on PATH_NOT_FOUND.
    - **tmp/park residue beside intact tables** (`__compacting`,
      `__retracting`, `__refitting`, `__stamping`, `__fitting`,
      `__encoding`, `__replaced`): inert; deleted.
    - **ledger drift** (meta.n_rows ≠ the cells table's actual row
      count — e.g. a crash between a cells swap and its meta
      re-stamp): informational-row drift, but it feeds the PQ
      consistency guard; clean re-stamps meta from a recount (the one
      O(index)-IO step here, and exactly the footer recount
      `_write_meta(n_rows=None)` documents as the upgrade path).
    - **centroid-count drift** (meta.n_centroids ≠ centroids rows —
      crash between a refit's/split's centroids swap and its stamp):
      clean re-stamps from the actual table AND bumps fit_gen, because
      the crashed verb would have — a same-generation restamp would
      let a pre-swap PQ artifact pass the staleness guard (ADVICE r14).
    - **incomplete PQ artifact** (codebooks/pqcodes present but pqmeta
      never stamped — add_pq_to_ivf_index crashed before its LAST
      swap): by design the artifact is not live (`load_pq_artifact`
      keys on pqmeta); remnants are deleted and the finding says to
      re-run the encode.
    - **stale PQ artifact** (pqmeta fit_gen/n_rows ≠ meta — rows
      appended or a refit ran after the encode): REPORT-ONLY, never
      auto-repaired: the fix is a re-encode pass
      (`add_pq_to_ivf_index`), which fsck must not silently spend;
      until then every PQ probe already fails loudly.

    Directory-level checks are O(1) driver-side FS calls; the ledger
    recount is the only data scan. Offline maintenance — do not run
    concurrently with lifecycle verbs or a serving stream's reload.
    """
    from airline_data_pipeline_spark.io.writers import (
        fsck_swap_states,
        hadoop_fs,
    )

    findings = list(fsck_swap_states(spark, index_dir, ["meta"], clean))
    if any(f[0] == "meta" and f[3].startswith("FATAL") for f in findings):
        return local_df(
            spark, sorted(findings),
            "component string, issue string, detail string, action string",
        )
    findings += fsck_swap_states(
        spark, index_dir, ["centroids", "cells"], clean
    )

    _, fs, P = hadoop_fs(spark, index_dir)
    # lingering per-cell swap parks (ADVICE r14): a crash between a
    # cell swap's rename-in and its mandatory park delete leaves
    # cells/cell=N__replaced OUTSIDE any stage — fsck_swap_states
    # covers only root-level `<table>__replaced` parks, and a resumed
    # _finish_cell_split used to iterate staged dirs only, so nothing
    # repaired these. They poison partition-column inference
    # (int → string) and double-count the replaced rows; always swept.
    if fs.exists(P(index_dir + "/cells")):
        for st in fs.listStatus(P(index_dir + "/cells")):
            nm = st.getPath().getName()
            if not nm.endswith("__replaced"):
                continue
            if clean:
                action = (
                    "deleted" if fs.delete(st.getPath(), True)
                    else "FATAL: delete failed"
                )
            else:
                action = "would delete (clean=False)"
            findings.append((
                "cells",
                "lingering per-cell swap park (crash between a cell "
                "swap's rename-in and its park delete); corrupts "
                "partition discovery and duplicates the replaced rows",
                f"cells/{nm}", action,
            ))
    # interrupted cell split (`split_hot_cells`): a staged layout whose
    # sub-cell ids the committed centroid model KNOWS is a finish to
    # resume (`_finish_cell_split` is idempotent — renames moved dirs
    # out of the stage); one whose ids the model does not know crashed
    # BEFORE the commit, so the stage is an inert copy — deleted.
    # Ordering: after the table swap-states (a missing cells/centroids
    # dir is restored first), before the ledger checks (a resumed
    # finish changes no row counts — the stage is a copy of live rows).
    if fs.exists(P(index_dir + "/centroids")) and fs.exists(
        P(index_dir + "/cells")
    ):
        n_cent_now = count_parquet_rows(spark, index_dir + "/centroids")
        for st in fs.listStatus(P(index_dir)):
            name = st.getPath().getName()
            if not name.startswith("cellsplit__staging_"):
                continue
            stage = f"{index_dir}/{name}"
            old_cell = int(name.rsplit("_", 1)[1])
            staged_ids = [
                int(s.getPath().getName().split("=", 1)[1])
                for s in fs.listStatus(P(stage))
                if s.getPath().getName().startswith("cell=")
            ]
            committed = fs.exists(P(stage + "/_SUCCESS")) and all(
                i < n_cent_now for i in staged_ids
            )
            if committed:
                if clean:
                    _finish_cell_split(spark, index_dir, stage, old_cell)
                    action = "finished interrupted cell split (moved staged dirs in)"
                else:
                    action = "would finish split (clean=False)"
                findings.append((
                    "cells",
                    "interrupted cell split with committed centroid model",
                    name, action,
                ))
            else:
                if clean:
                    action = (
                        "deleted" if fs.delete(P(stage), True)
                        else "FATAL: delete failed"
                    )
                else:
                    action = "would delete (clean=False)"
                findings.append((
                    "cells",
                    "cell-split stage from before its model commit "
                    "(inert copy; live rows untouched)",
                    name, action,
                ))
    md = read_meta_first(spark, index_dir + "/meta").asDict()
    restamp = {}
    # existence, not just non-FATAL: in report-only mode a missing
    # table stays missing (the swap-finish is only described), so the
    # row-level scans must skip it rather than die on PATH_NOT_FOUND
    if fs.exists(P(index_dir + "/centroids")):
        n_cent = count_parquet_rows(spark, index_dir + "/centroids")
        if n_cent != int(md["n_centroids"]):
            findings.append((
                "meta",
                "centroid-count drift (crash between a refit's or "
                "split's centroids swap and its stamp)",
                f"meta says {md['n_centroids']}, centroids table has "
                f"{n_cent}",
                "re-stamped meta with fit_gen bumped" if clean
                else "would re-stamp with fit_gen bump (clean=False)",
            ))
            restamp["n_centroids"] = n_cent
    if fs.exists(P(index_dir + "/cells")) and md.get("n_rows") is not None:
        n_actual = count_parquet_rows(spark, index_dir + "/cells")
        if n_actual != int(md["n_rows"]):
            findings.append((
                "meta",
                "row-ledger drift (crash between a cells swap and its "
                "meta re-stamp)",
                f"ledger says {md['n_rows']}, cells table has {n_actual}",
                "re-stamped meta" if clean else "would re-stamp (clean=False)",
            ))
            restamp["n_rows"] = n_actual
    if restamp and clean:
        # keep a pre-ledger artifact's n_rows=None as None (ADVICE
        # r13: defaulting it to 0 during a centroid-only restamp
        # INTRODUCED row-ledger drift; None takes _write_meta's
        # footer-recount upgrade path instead)
        ledger = restamp.get("n_rows", md.get("n_rows"))
        # centroid-count drift means a refit/split swapped the cell
        # space but crashed before its stamp — the crashed verb WOULD
        # have bumped fit_gen, so the restamp must too (ADVICE r14):
        # keeping the old generation would let a PQ artifact encoded
        # against the pre-swap cell layout pass the staleness guard
        # and silently probe codes partitioned by dead assignments.
        _write_meta(
            spark, index_dir,
            int(restamp.get("n_centroids", md["n_centroids"])),
            int(md["dims"]),
            n_rows=None if ledger is None else int(ledger),
            fit_gen=(md.get("fit_gen") or 0)
            + (1 if "n_centroids" in restamp else 0),
        )
        md = read_meta_first(spark, index_dir + "/meta").asDict()

    children = {st.getPath().getName() for st in fs.listStatus(P(index_dir))}
    pq_parts = {
        c for c in children
        if c.startswith(("pqmeta", "codebooks", "pqcodes"))
    }
    if pq_parts:
        if "pqmeta" in children or any(
            c.startswith("pqmeta__") and c != "pqmeta__replaced"
            for c in children
        ) or "pqmeta__replaced" in children:
            findings += fsck_swap_states(spark, index_dir, ["pqmeta"], clean)
        if fs.exists(P(index_dir + "/pqmeta")):
            findings += fsck_swap_states(
                spark, index_dir, ["codebooks", "pqcodes"], clean
            )
            pm = read_meta_first(spark, index_dir + "/pqmeta").asDict()
            stale = []
            if (pm.get("fit_gen") or 0) != (md.get("fit_gen") or 0):
                stale.append(
                    f"fit_gen {pm.get('fit_gen')} != index {md.get('fit_gen')}"
                )
            if (pm.get("n_rows") or 0) != (md.get("n_rows") or 0):
                stale.append(
                    f"n_rows {pm.get('n_rows')} != ledger {md.get('n_rows')}"
                )
            if stale:
                findings.append((
                    "pqmeta",
                    "stale PQ artifact (encoded before an append/refit)",
                    "; ".join(stale),
                    "REPORT-ONLY: re-run add_pq_to_ivf_index (probes "
                    "already fail loudly)",
                ))
        else:
            # never-stamped artifact: remnants are not live and never
            # will be — load_pq_artifact keys on pqmeta
            for c in sorted(pq_parts):
                if clean:
                    action = (
                        "deleted" if fs.delete(P(f"{index_dir}/{c}"), True)
                        else "FATAL: delete failed"
                    )
                else:
                    action = "would delete (clean=False)"
                findings.append((
                    "pqmeta",
                    "incomplete PQ artifact (encode crashed before the "
                    "pqmeta stamp); re-run add_pq_to_ivf_index",
                    c, action,
                ))

    return local_df(
        spark, sorted(findings),
        "component string, issue string, detail string, action string",
    )


def load_ivf_index(spark, index_dir: str):
    """Open a `write_ivf_index` artifact: (meta row, normalized centroid
    matrix, cells scan). Load ONCE per job/stream — the centroid matrix
    is model-sized and rides in the probe UDF's closure."""
    meta = read_meta_first(spark, index_dir + "/meta")
    crows = sorted(
        read_small_rows(spark, index_dir + "/centroids"),
        key=lambda r: int(r["cell"]),
    )
    C = np.vstack([r["vec"] for r in crows]).astype(np.float64)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    cells = spark.read.parquet(index_dir + "/cells")
    return meta, Cn, cells


def ivf_index_scores(
    queries: DataFrame,
    index_dir: str,
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 4,
) -> DataFrame:
    """`ivf_scores`, but against a STORED index — the incremental /
    serving shape. The index is never shuffled and never re-fit: the
    batch-sized probe rows broadcast against the cell-partitioned
    scan, so each probe touches only its nprobe cells' files.

    One-shot form: loads the index per call. Repeat callers (the
    streaming annotate sink's per-trigger probes) load once and use
    `ivf_scores_against_loaded_index` — the same handle-reuse split as
    the minhash gate's `gate_against_loaded_index`."""
    if nprobe < 1:  # argument error: fail before any I/O or Spark job
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    spark = queries.sparkSession
    meta, Cn, cells = load_ivf_index(spark, index_dir)
    return ivf_scores_against_loaded_index(
        queries, meta, Cn, cells, query_id, vec_col, nprobe,
        index_dir=index_dir,
    )


def ivf_scores_against_loaded_index(
    queries: DataFrame,
    meta,
    Cn: np.ndarray,
    cells: DataFrame,
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 4,
    index_dir: str = "<loaded index>",
    pin_probe: bool = True,
) -> DataFrame:
    """The stored-index probe over already-loaded handles
    (`load_ivf_index`) — the per-micro-batch entry point for the
    streaming annotate sink, which loads meta/centroids/cells ONCE
    instead of paying a driver-blocking meta read + centroid collect
    per trigger. ``index_dir`` is for error messages only.

    ``pin_probe=False`` skips the eager localCheckpoints of the probe
    batch and its cell assignments. They exist to make the dims/NULL
    guard validate exactly the probed rows when the probe SOURCE is
    nondeterministic (ADVICE r10) — but checkpoint blocks are only
    freed by GC, so a long-running caller probing thousands of
    micro-batches would accumulate them (review r11; the corpus gate
    explicitly unpersists per batch for the same reason). A foreachBatch
    micro-batch is already materialized and deterministic, so the sink
    passes False: the guard stays exact, and the only cost is the
    batch-sized assignment UDF running once more for the pruning
    collect."""
    if nprobe < 1:  # argument error: fail before any I/O or Spark job
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    # Pin the probe batch BEFORE validating it (ADVICE r10): the guard
    # below is a separate action, and with a nondeterministic probe
    # source (sample/limit/rand) the rows it validates would not be the
    # rows later probed — a drifted/NULL vector could slip past, or a
    # spurious error fire. localCheckpoint(eager) materializes the
    # batch once; both the guard aggregate and the probe join read the
    # SAME rows, and the probe lineage is no longer re-executed as an
    # extra job per call. Batch-sized by contract, so this is cheap;
    # the join strategy is pinned by the explicit broadcast hint below,
    # so lckpt's default stats can't flip it.
    if pin_probe:
        queries = queries.localCheckpoint(eager=True)
    # consume the meta table, not just load it (the minhash twin
    # `dedup_minhash_against_index` reads its banding params the same
    # way): a drifted caller otherwise fails only as an opaque numpy
    # shape error inside the Arrow UDF. The probe side is batch-sized
    # by contract (it broadcasts below), so one aggregate over it is
    # cheap; min/max over EVERY row (not first()) catches a NULL or
    # drifted vector anywhere in the batch, deterministically. size(
    # NULL) is NULL (which min/max would skip), so coalesce to -1 to
    # make a NULL embedding surface as mn == -1.
    probe = queries.agg(
        F.min(F.coalesce(F.size(F.col(vec_col)), F.lit(-1))).alias("mn"),
        F.max(F.coalesce(F.size(F.col(vec_col)), F.lit(-1))).alias("mx"),
    ).first()
    if probe is not None and probe["mn"] is not None:
        if probe["mn"] == -1:
            raise ValueError(
                f"probe batch contains NULL {vec_col} vectors; drop or "
                f"impute them before probing the index at {index_dir}"
            )
        if probe["mn"] != meta["dims"] or probe["mx"] != meta["dims"]:
            raise ValueError(
                f"probe vector dims {probe['mn']}..{probe['mx']} != index "
                f"dims {meta['dims']} (index at {index_dir} was built on "
                f"{meta['dims']}-d vectors)"
            )
    # probing more cells than exist is well-defined (scan everything):
    # clamp so _nearest_cells_udf never asks numpy for a top-k > n.
    # Clamp to the LOADED matrix, not meta (ADVICE r10): the matrix is
    # what the UDF slices, and an older artifact whose meta recorded
    # the REQUESTED count (pre-n_actual fix) would make a meta-based
    # clamp ineffective.
    nprobe = min(nprobe, int(Cn.shape[0]))
    # __qn hoisted per probe row (the lsh_scores discipline) and — when
    # pinned — materialized into the checkpoint, so the broadcast side
    # carries its norm precomputed
    q_cells = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.explode(_nearest_cells_udf(Cn, nprobe)(F.col(vec_col))).alias("cell"),
    ).withColumn("__qn", l2_norm(F.col("__qv")))
    if pin_probe:
        q_cells = q_cells.localCheckpoint(eager=True)
    # STATIC partition pruning on the cells scan (round 11): the "each
    # probe reads only its nprobe cells' files" claim was aspirational
    # before — Spark does not insert dynamic partition pruning for this
    # broadcast-UDF-derived build side (verified: PartitionFilters held
    # only isnotnull(cell)), so the probe scanned EVERY cell's files.
    # The probe batch is driver-small by contract, so its distinct cell
    # set is too (≤ nprobe × |batch|): collect it (from the pinned
    # q_cells — the assignment UDF runs once, not twice) and push it as
    # a LITERAL IN-list, which prunes at file-listing time,
    # deterministically, in the plan (asserted in tests/test_plans.py).
    # At 100 TB this is the difference between listing/scanning
    # n_centroids directories and nprobe-ish of them per probe batch.
    probe_cells = sorted(
        r["cell"] for r in q_cells.select("cell").distinct().collect()
    )
    pruned = cells.filter(F.col("cell").isin(probe_cells)).withColumn(
        "__cn", l2_norm(F.col("__cv"))
    )
    return (
        pruned.join(F.broadcast(q_cells), on="cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn(
            "score",
            cosine_from_norms(
                F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cn")
            ),
        )
        .select("query_id", "neighbor_id", "score")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    nprobe: int = 4,
    refine_iters: int = 0,
) -> DataFrame:
    """Approximate top-k: `ivf_scores` + deterministic ranking (score
    desc, neighbor id tiebreak)."""
    scored = ivf_scores(
        corpus, queries, corpus_id, query_id, vec_col,
        n_centroids, nprobe, refine_iters,
    )
    return top_k_per_group(
        scored, ["query_id"], "score", k, ascending=False, tiebreakers=["neighbor_id"]
    )


# ---------------------------------------------------------------------------
# Product quantization over the stored IVF index (IVF-PQ)
# ---------------------------------------------------------------------------
#
# The remaining standard ANN memory lever at 100 TB (VERDICT r11 #5): the
# cells table stores full float vectors, so the candidate-generation scan
# reads dims×8 bytes per row. PQ splits each vector into `m` subvectors,
# quantizes each against a per-subspace codebook of `ksub` codewords
# (model-sized, fitted like the centroids from a deterministic sample),
# and stores only the m one-byte codes — the candidate scan shrinks
# ~dims×8/m-fold (asserted ≥4× on parquet file bytes in
# tests/test_similarity.py). Probes score candidates with ASYMMETRIC
# distance (exact query vector vs reconstructed codewords), keep the
# top-`rerank` per query, and re-rank ONLY those against the full-vector
# cells table — so the returned scores are exact, and with probe-all +
# a sufficient rerank depth the result is exactly the true top-k
# (oracle-checked: `knn_via_pq_ivf_index`). The rerank depth is the
# recall dial, and this synthetic corpus is PQ's worst case (uniform
# random vectors, no cluster structure for the codebooks to exploit):
# measured here, m=16/ksub=256 puts the worst true-top-10 member at ADC
# rank 21 (500 rows) / 68 (2000 rows), so the registry row reranks 150
# (test_pq_adc_candidates_contain_true_topk keeps the margin honest);
# m=8/ksub=16 — fine on clustered corpora — missed 4 of 11 at depth 50.


def _fit_pq_codebooks(X: "np.ndarray", m: int, ksub: int, lloyd_iters: int):
    """Driver-side per-subspace k-means on a model-sized sample.
    Deterministic: seeds are the first `ksub` sample rows in xxhash
    order; Lloyd iterations keep a codeword in place when its cluster
    empties. X is (sample_rows × dims) — a few thousand rows by
    construction, so the (s × ksub × dsub) distance tensors are
    driver-trivial."""
    s, dims = X.shape
    dsub = dims // m
    ks = min(ksub, s)
    CB = np.empty((m, ks, dsub), dtype=np.float64)
    for j in range(m):
        Xj = X[:, j * dsub:(j + 1) * dsub]
        C = Xj[:ks].copy()
        for _ in range(lloyd_iters):
            d = ((Xj[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            a = d.argmin(1)
            for c in range(ks):
                mask = a == c
                if mask.any():
                    C[c] = Xj[mask].mean(0)
        CB[j] = C
    return CB


def _pq_encode_udf(CB: "np.ndarray"):
    """Arrow-batched encoder: vector -> m-byte PQ code (binary).
    Strict like the cells write path: a NULL or wrong-width vector
    raises instead of being silently quantized into the artifact."""
    m, ks, dsub = CB.shape
    dims = m * dsub

    @pandas_udf("binary")
    def enc(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        if v.isnull().any():
            raise ValueError(
                "PQ encode: NULL vector in the stored cells table — the "
                "index artifact is corrupt (the build path rejects NULLs)"
            )
        lens = v.map(len)
        if int(lens.min()) != dims or int(lens.max()) != dims:
            raise ValueError(
                f"PQ encode: vector dims {int(lens.min())}..{int(lens.max())} "
                f"!= index dims {dims}"
            )
        V = np.vstack(v.to_numpy()).astype(np.float64)
        codes = np.empty((len(v), m), dtype=np.uint8)
        for j in range(m):
            Vj = V[:, j * dsub:(j + 1) * dsub]
            d = ((Vj[:, None, :] - CB[j][None, :, :]) ** 2).sum(-1)
            codes[:, j] = d.argmin(1)
        return pd.Series([c.tobytes() for c in codes])

    return enc


def _adc_cosine_udf(CB: "np.ndarray"):
    """Asymmetric-distance cosine: exact query vector against the
    codeword reconstruction of each candidate. Reconstruct-and-dot is
    O(dims) per row — same arithmetic as a full cosine; the PQ win is
    the SCAN (m bytes read per candidate instead of dims×8), which is
    the 100 TB bottleneck. The codebook squared-norm table makes the
    reconstructed vector's norm a gather+sum, matching the standard
    ADC formulation (||x̂||² = Σ_j ||c_{j,code_j}||², exact because
    subspaces are orthogonal slices)."""
    m, ks, dsub = CB.shape
    CBn2 = (CB ** 2).sum(-1)  # (m, ksub) squared codeword norms

    @pandas_udf("double")
    def adc(codes: pd.Series, qv: pd.Series) -> pd.Series:
        B = len(codes)
        if B == 0:
            return pd.Series([], dtype=float)
        C = np.frombuffer(b"".join(codes.tolist()), dtype=np.uint8).reshape(B, m)
        Q = np.vstack(qv.to_numpy()).astype(np.float64)
        recon = np.empty((B, m * dsub), dtype=np.float64)
        n2 = np.zeros(B)
        for j in range(m):
            cj = C[:, j]
            recon[:, j * dsub:(j + 1) * dsub] = CB[j][cj]
            n2 += CBn2[j][cj]
        dots = np.einsum("bd,bd->b", recon, Q)
        denom = np.sqrt((Q * Q).sum(1)) * np.sqrt(n2)
        out = np.where(denom > 0, dots / np.maximum(denom, 1e-300), 0.0)
        return pd.Series(out)

    return adc


def add_pq_to_ivf_index(
    spark,
    index_dir: str,
    m: int = 8,
    ksub: int = 16,
    sample_rows: int = 2048,
    lloyd_iters: int = 4,
) -> None:
    """Augment a stored IVF index with a product-quantization artifact:
    `codebooks` (m per-subspace codeword tables, model-sized),
    `pqcodes` (every stored row's m-byte code, written partitionBy(cell)
    so probes prune it exactly like the cells table), and a `pqmeta`
    param table. One O(index) IO-parallel encode pass; the stored full
    vectors are untouched (they stay the exact re-rank side).

    Crash-safe and idempotently re-runnable: each table lands complete
    in a sibling tmp dir and swaps in via `replace_parquet_dir`;
    `pqmeta` swaps LAST, so a crashed run leaves no readable-but-
    partial PQ artifact (`load_pq_artifact` keys on pqmeta).

    Re-run after `append_to_ivf_index` (appended rows have no codes —
    probes fail loudly on the count mismatch) and after
    `refit_ivf_index`/`compact_ivf_cells` (cell layout changed). Codes
    re-encode in one pass; the codebooks refit with them, so there is
    no codebook-drift state to manage."""
    from airline_data_pipeline_spark.io.writers import replace_parquet_dir

    meta, Cn, cells = load_ivf_index(spark, index_dir)
    dims = int(meta["dims"])
    if m < 1 or dims % m != 0:
        raise ValueError(
            f"m={m} must be a positive divisor of index dims {dims}"
        )
    if not (1 <= ksub <= 256):
        raise ValueError(
            f"ksub={ksub} must be in [1, 256] (codes are one byte per "
            f"subspace)"
        )
    # neighbor_id as the secondary key (ADVICE r12): pmod(xxhash64, 1e6)
    # collides, and TakeOrdered on the hash alone would make the sample
    # — and therefore the codebooks — partition-order-dependent on ties
    sample = (
        cells.select("neighbor_id", "__cv")
        .withColumn("__r", F.pmod(F.xxhash64("neighbor_id"), F.lit(1_000_000)))
        .orderBy("__r", "neighbor_id")
        .limit(sample_rows)
        .select("__cv")
        .collect()
    )
    X = np.vstack([r["__cv"] for r in sample]).astype(np.float64)
    CB = _fit_pq_codebooks(X, m, ksub, lloyd_iters)
    ks_actual = int(CB.shape[1])
    dsub = dims // m

    cb_tmp = index_dir + "/codebooks__fitting"
    local_df(
        spark,
        [
            (j, c, [float(x) for x in CB[j, c]])
            for j in range(m)
            for c in range(ks_actual)
        ],
        "subspace int, code int, vec array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(cb_tmp)
    replace_parquet_dir(spark, cb_tmp, index_dir + "/codebooks")

    codes_tmp = index_dir + "/pqcodes__encoding"
    (
        cells.select(
            "neighbor_id",
            "cell",
            _pq_encode_udf(CB)(F.col("__cv")).alias("pq_code"),
        )
        # one file per cell: codes are m bytes/row, so even a huge cell's
        # code file is small; pruning still works on the cell directory
        .repartition(max(1, int(Cn.shape[0])), "cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(codes_tmp)
    )
    replace_parquet_dir(spark, codes_tmp, index_dir + "/pqcodes")

    pm_tmp = index_dir + "/pqmeta__stamping"
    local_df(
        spark,
        [(
            m, ks_actual, dsub,
            int(meta.asDict().get("fit_gen") or 0),
            int(meta.asDict().get("n_rows") or 0),
        )],
        "m int, ksub int, dsub int, fit_gen int, n_rows bigint",
    ).coalesce(1).write.mode("overwrite").parquet(pm_tmp)
    replace_parquet_dir(spark, pm_tmp, index_dir + "/pqmeta")


def load_pq_artifact(spark, index_dir: str):
    """Open the PQ side of an index: (pqmeta row, (m × ksub × dsub)
    codebook tensor, pqcodes scan). Model-sized except the scan."""
    from pyspark.errors import AnalysisException

    try:
        pm = read_meta_first(spark, index_dir + "/pqmeta")
    except AnalysisException as exc:
        # ONLY the missing-path class gets the "no PQ artifact" message
        # (ADVICE r12: a bare except here misdiagnosed permissions /
        # corrupt-parquet / transient-FS faults as a missing artifact);
        # everything else re-raises untouched
        get_cls = getattr(exc, "getCondition", None) or getattr(
            exc, "getErrorClass", lambda: None
        )
        if get_cls() != "PATH_NOT_FOUND":
            raise
        raise ValueError(
            f"index at {index_dir} has no PQ artifact — run "
            f"add_pq_to_ivf_index first"
        ) from exc
    rows = read_small_rows(spark, index_dir + "/codebooks")
    CB = np.zeros((int(pm["m"]), int(pm["ksub"]), int(pm["dsub"])))
    for r in rows:
        CB[int(r["subspace"]), int(r["code"])] = r["vec"]
    codes = spark.read.parquet(index_dir + "/pqcodes")
    return pm, CB, codes


def ivf_pq_index_scores(
    queries: DataFrame,
    index_dir: str,
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 4,
    rerank: int = 50,
) -> DataFrame:
    """The memory-lever probe path: candidates are generated from the
    m-bytes-per-row `pqcodes` scan (statically partition-pruned to the
    probe's cells, ADC-scored against the exact query vectors), the
    top-`rerank` per query re-rank against the full-vector cells table
    (also pruned; the candidate set is batch×rerank-sized and
    broadcasts), and the returned `score` is the EXACT cosine — the
    approximation only decides WHICH rerank candidates get exact
    scores. Output schema matches `ivf_index_scores`:
    (query_id, neighbor_id, score), restricted to the rerank depth.

    One-shot form: loads both handle sets per call. Repeat callers
    (the streaming annotate sink's per-trigger probes with
    ``use_pq=True``) load once and use
    `ivf_pq_scores_against_loaded_index` — the same handle-reuse
    split as the full-vector probe."""
    spark = queries.sparkSession
    meta, Cn, cells = load_ivf_index(spark, index_dir)
    pm, CB, pqcodes = load_pq_artifact(spark, index_dir)
    return ivf_pq_scores_against_loaded_index(
        queries, meta, Cn, cells, pm, CB, pqcodes,
        query_id, vec_col, nprobe, rerank, index_dir=index_dir,
    )


def ivf_pq_scores_against_loaded_index(
    queries: DataFrame,
    meta,
    Cn: np.ndarray,
    cells: DataFrame,
    pm,
    CB: np.ndarray,
    pqcodes: DataFrame,
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 4,
    rerank: int = 50,
    index_dir: str = "<loaded index>",
    pin_probe: bool = True,
) -> DataFrame:
    """The PQ probe over already-loaded handles (`load_ivf_index` +
    `load_pq_artifact`) — the per-micro-batch entry point for the
    streaming annotate sink's PQ mode, which loads meta/centroids/
    cells/codebooks/pqcodes ONCE per stream instead of per trigger.
    ``pin_probe`` follows `ivf_scores_against_loaded_index`'s
    contract: True for one-shot callers (guard validates exactly the
    probed rows under nondeterministic sources), False inside
    foreachBatch (already-materialized batches; per-trigger eager
    localCheckpoints would accumulate GC-freed-only blocks). The
    artifact-consistency guards (dims product, fit_gen, row ledger)
    run here so serving streams get them too."""
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    if rerank < 1:
        raise ValueError(f"rerank must be >= 1, got {rerank}")
    if int(pm["m"]) * int(pm["dsub"]) != int(meta["dims"]):
        raise ValueError(
            f"PQ artifact at {index_dir} quantizes "
            f"{int(pm['m']) * int(pm['dsub'])}-d vectors but the index is "
            f"{int(meta['dims'])}-d — re-run add_pq_to_ivf_index"
        )
    idx_gen = meta.asDict().get("fit_gen") or 0
    if (pm["fit_gen"] or 0) != idx_gen:
        raise ValueError(
            f"PQ artifact at {index_dir} was encoded at fit_gen "
            f"{pm['fit_gen']} but the index is at fit_gen {idx_gen} — a "
            f"refit re-assigned the rows; re-run add_pq_to_ivf_index"
        )
    if (pm["n_rows"] or 0) != (meta.asDict().get("n_rows") or 0):
        raise ValueError(
            f"PQ artifact at {index_dir} covers {pm['n_rows']} rows but "
            f"the cells ledger says {meta.asDict().get('n_rows')} — rows "
            f"were appended since the encode and would be invisible to "
            f"ADC candidate generation; re-run add_pq_to_ivf_index"
        )
    # Pin then validate the probe batch — same contract as
    # ivf_scores_against_loaded_index (the guard must see exactly the
    # probed rows even under a nondeterministic source).
    if pin_probe:
        queries = queries.localCheckpoint(eager=True)
    probe = queries.agg(
        F.min(F.coalesce(F.size(F.col(vec_col)), F.lit(-1))).alias("mn"),
        F.max(F.coalesce(F.size(F.col(vec_col)), F.lit(-1))).alias("mx"),
    ).first()
    if probe is not None and probe["mn"] is not None:
        if probe["mn"] == -1:
            raise ValueError(
                f"probe batch contains NULL {vec_col} vectors; drop or "
                f"impute them before probing the index at {index_dir}"
            )
        if probe["mn"] != meta["dims"] or probe["mx"] != meta["dims"]:
            raise ValueError(
                f"probe vector dims {probe['mn']}..{probe['mx']} != index "
                f"dims {meta['dims']} (index at {index_dir} was built on "
                f"{meta['dims']}-d vectors)"
            )
    nprobe = min(nprobe, int(Cn.shape[0]))
    # __qn hoisted per probe row (the lsh_scores discipline) and
    # carried through the ADC shortlist so the exact re-rank never
    # evaluates a per-pair norm
    q_cells = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.explode(_nearest_cells_udf(Cn, nprobe)(F.col(vec_col))).alias("cell"),
    ).withColumn("__qn", l2_norm(F.col("__qv")))
    if pin_probe:
        q_cells = q_cells.localCheckpoint(eager=True)
    # static IN-list pruning, same as the full-vector probe: both the
    # pqcodes candidate scan and the cells re-rank scan list only the
    # probed cells' files (plan-asserted in tests/test_plans.py)
    probe_cells = sorted(
        r["cell"] for r in q_cells.select("cell").distinct().collect()
    )
    candidates = (
        pqcodes.filter(F.col("cell").isin(probe_cells))
        .join(F.broadcast(q_cells), on="cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("adc", _adc_cosine_udf(CB)(F.col("pq_code"), F.col("__qv")))
    )
    shortlist = top_k_per_group(
        candidates.select("query_id", "neighbor_id", "adc", "__qv", "__qn"),
        ["query_id"], "adc", rerank, tiebreakers=["neighbor_id"],
    )
    pruned_cells = cells.filter(F.col("cell").isin(probe_cells)).withColumn(
        "__cn", l2_norm(F.col("__cv"))
    )
    return (
        pruned_cells.join(
            F.broadcast(
                shortlist.select("query_id", "neighbor_id", "__qv", "__qn")
            ),
            on="neighbor_id",
        )
        .withColumn(
            "score",
            cosine_from_norms(
                F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cn")
            ),
        )
        .select("query_id", "neighbor_id", "score")
    )


# rows x columns of one verify chunk: a block of m members is scored
# in row slices of max(1, _VERIFY_CHUNK_PAIRS // m) rows, so even an
# uncapped 100k-member bucket holds a few MB per slice, never m² x dims
_VERIFY_CHUNK_PAIRS = 1 << 18

# numpy twins of the element types `dot` folds: Spark multiplies
# array<float> elements in float and widens the product into the double
# accumulator, so the products must round in float32 here too
_DOT_DTYPES = {"float": np.float32, "double": np.float64}


def _block_verify_fn(id_col: str, vec_col: str, threshold: float, dtype):
    """applyInPandas body for `cosine_near_dup_pairs`: one (tbl, bucket)
    block in, its id-ordered pairs at cosine ≥ threshold out.

    Bit-identical to `cosine_from_norms(a, b, l2_norm(a), l2_norm(b))`:
    the norms arrive precomputed by Spark's own `l2_norm`, and the dot
    is the same sequential left-to-right fold (`acc + x*y`, one
    dimension per numpy step, IEEE double accumulator, products in the
    element type). No BLAS or pairwise summation, whose reassociation
    would move the last bits. Spark's `>=` sorts NaN above every
    number, so a NaN cosine passes any threshold; numpy's `>=` already
    fails a number against a NaN threshold, as Spark's does.

    Self-contained on purpose: the closure pickles by value, so the
    Python workers never import this package."""

    def verify(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="stable")
        ids = pdf[id_col].to_numpy()
        norms = pdf["__n"].to_numpy(np.float64)
        vecs = pdf[vec_col].to_numpy()
        lengths = np.fromiter(map(len, vecs), np.int64, len(vecs))
        out = []
        # `zip_with` pads a shorter array with NULL, so pairs of unequal
        # lengths score NULL and drop: only same-length rows pair up
        for width in np.unique(lengths):
            sel = np.flatnonzero(lengths == width)
            m = len(sel)
            if m < 2:
                continue
            xt = np.ascontiguousarray(
                np.stack(vecs[sel]).astype(dtype, copy=False).T
            )
            bid, bnorm = ids[sel], norms[sel]
            step = max(1, _VERIFY_CHUNK_PAIRS // m)
            for r0 in range(0, m - 1, step):
                r1 = min(m, r0 + step)
                acc = np.zeros((r1 - r0, m - r0))
                prod = np.empty(acc.shape, dtype)
                for k in range(width):
                    np.multiply(xt[k, r0:r1, None], xt[k, None, r0:], out=prod)
                    acc += prod
                denom = bnorm[r0:r1, None] * bnorm[None, r0:]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = acc / denom
                    keep = (
                        (bid[None, r0:] > bid[r0:r1, None])
                        & (denom != 0)
                        & ((cos >= threshold) | np.isnan(cos))
                    )
                i, j = np.nonzero(keep)
                out.append(
                    pd.DataFrame(
                        {
                            "id_a": bid[r0 + i],
                            "id_b": bid[r0 + j],
                            "cosine": cos[i, j],
                        }
                    )
                )
        if not out:
            return pd.DataFrame(
                {"id_a": ids[:0], "id_b": ids[:0], "cosine": norms[:0]}
            )
        return pd.concat(out, ignore_index=True)

    return verify


def cosine_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dims: int = 64,
    n_bits: int = 6,
    n_tables: int = 6,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-space near-duplicate pairs (id_a < id_b, cosine ≥ t).

    SRP-LSH buckets (high-cosine pairs collide with high probability),
    then an exact cosine verify per (tbl, bucket) block: the vectors
    and their Spark-computed `l2_norm` ride onto the checkpointed
    bucket rows, and one `applyInPandas` call scores each block's
    id-ordered pairs in one vectorised numpy pass (row chunks of
    `_VERIFY_CHUNK_PAIRS`, see `_block_verify_fn` for the bit-identity
    to `cosine_from_norms`). Only the pairs at or above ``threshold``
    leave the block, and only they are deduplicated across tables.
    Ids are assumed unique; NULL ids, and vectors whose norm is NULL
    (a NULL vector or element), pair with nothing. Element types are
    float or double.

    Why the vectors ride to the block instead of joining back onto
    deduplicated candidate pairs: the candidate set saturates. With 24
    tables of 8 buckets nearly every pair of 2,000 vectors collides
    somewhere (1.9M unique candidates), so the verify, not the bucket
    join, sets the wall time, and Spark evaluates the `zip_with` +
    `aggregate` dot by interpretation at ~7.7 µs of core time per
    64-dim pair. Per block the fold runs over whole rows at once:
    `bench_scale.bench_embedding_dedup` at sf0.1 1x/3x went from
    8.2/31.1 s to 2.3-3.3/5.2-6.3 s on a 4-core host, with the same
    rows and cosines. The cost is a 24x replicated vector shuffle
    (rows x tables x dims), cheap at 64 dims against the per-pair
    dot. ``max_bucket_size`` drops degenerate buckets (see
    `cap_hot_buckets`).
    """
    vtype = df.schema[vec_col].dataType
    etype = getattr(vtype, "elementType", None)
    dtype = _DOT_DTYPES.get(etype.simpleString() if etype else None)
    if dtype is None:
        raise TypeError(
            f"cosine_near_dup_pairs needs array<float> or array<double>, "
            f"got {vtype.simpleString()}"
        )
    base = df.select(F.col(id_col), F.col(vec_col))
    # _reuse BEFORE the cap (see dedup_minhash): the SRP matmul UDF
    # otherwise runs a second time for the hot-bucket count when
    # max_bucket_size is set
    buck = cap_hot_buckets(
        _reuse(_bucketize(base, id_col, vec_col, dims, n_bits, n_tables)),
        ["tbl", "bucket"], max_bucket_size,
    )
    # norms per ROW, in Spark (one HOF fold per vector, never per pair);
    # a NULL norm would reach numpy as NaN and pass, so it drops here
    vecs = base.withColumn("__n", l2_norm(F.col(vec_col))).filter(
        F.col("__n").isNotNull()
    )
    id_type = df.schema[id_col].dataType.simpleString()
    return (
        buck.join(vecs, id_col)
        .groupBy("tbl", "bucket")
        .applyInPandas(
            _block_verify_fn(id_col, vec_col, threshold, dtype),
            f"id_a {id_type}, id_b {id_type}, cosine double",
        )
        # the pandas->Arrow return path writes NaN as NULL; no NULL
        # cosine is ever emitted, so a NULL here is a NaN cosine
        .withColumn("cosine", F.coalesce("cosine", F.lit(float("nan"))))
        # a pair's cosine is the same in every block it collides in (and
        # never -0.0, so key normalization moves no value): a whole-row
        # distinct is the dedup on (id_a, id_b). Not dropDuplicates on
        # the pair: its first(cosine) rewrite gets a new attribute that
        # a later exceptAll fails to bind (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND,
        # Spark 4.1)
        .distinct()
    )


def embedding_gate_against_reference(
    new_df: DataFrame,
    ref_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dims: int = 64,
    n_bits: int = 6,
    n_tables: int = 6,
    max_bucket_size: int | None = None,
    round_digits: int | None = None,
) -> DataFrame:
    """Incremental SEMANTIC near-dup gate (the SemDeDup-shape twin of
    `dedup.dedup_minhash_against_reference`): rows of ``new_df`` with
    no reference vector at cosine ≥ threshold.

    Both sides bucketize through the SAME deterministic SRP hyperplanes
    (`_srp_buckets_udf` is seed-derived, so a batch banded today
    collides with a reference banded last month); candidates come only
    from cross-set (tbl, bucket) collisions — batch-internal dups never
    self-filter — and survivors verify with exact cosine. Hot buckets
    cap on the UNION of both sides, as in the minhash gate.

    ``round_digits`` applies the engine's half-up rounding to the
    cosine BEFORE thresholding — the cross-engine reproducibility knob
    (a 1-ulp libm difference cannot flip membership at a rounded
    boundary); None keeps the raw IEEE comparison.
    """
    from airline_data_pipeline_spark.functions.numeric import round_half_up

    base_new = new_df.select(F.col(id_col), F.col(vec_col))
    base_ref = ref_df.select(F.col(id_col), F.col(vec_col))
    b_new = _bucketize(base_new, id_col, vec_col, dims, n_bits, n_tables)
    b_ref = _bucketize(base_ref, id_col, vec_col, dims, n_bits, n_tables)
    b_new, b_ref = cap_hot_buckets_two_sided(
        b_new, b_ref, ["tbl", "bucket"], max_bucket_size
    )
    pairs = (
        b_new.alias("n")
        .join(
            b_ref.alias("r"),
            (F.col("n.tbl") == F.col("r.tbl"))
            & (F.col("n.bucket") == F.col("r.bucket")),
        )
        .select(
            F.col(f"n.{id_col}").alias("new_id"),
            F.col(f"r.{id_col}").alias("ref_id"),
        )
        .dropDuplicates(["new_id", "ref_id"])
    )
    # norms per ROW below the verify joins (the lsh_scores discipline)
    vn = base_new.select(
        F.col(id_col).alias("new_id"), F.col(vec_col).alias("__vn")
    ).withColumn("__nn", l2_norm(F.col("__vn")))
    vr = base_ref.select(
        F.col(id_col).alias("ref_id"), F.col(vec_col).alias("__vr")
    ).withColumn("__rn", l2_norm(F.col("__vr")))
    cos = cosine_from_norms(
        F.col("__vn"), F.col("__vr"), F.col("__nn"), F.col("__rn")
    )
    if round_digits is not None:
        cos = round_half_up(cos, round_digits)
    contaminated = (
        pairs.join(vn, "new_id")
        .join(vr, "ref_id")
        .filter(cos >= threshold)
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )
    return new_df.join(F.broadcast(contaminated), on=id_col, how="left_anti")


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization (embedding storage op).

    scale = max(|x|); q_i = round_half_up(x_i · 127 / scale) ∈ [-127, 127].
    Adds ``__scale`` (double; NULL for all-zero vectors) and ``__q``
    (array<long> of quantized values; NULL when scale is NULL). 4×
    storage reduction for ANN candidate stages — at 100 TB the
    embedding column IS most of the bytes shuffled, and int8 candidate
    scoring + float32 re-rank of the survivors is the standard recipe.

    All arithmetic is float→double (exact) then IEEE double ops, so any
    engine given the same formula produces bit-identical integers —
    which is what lets the driver hash-compare the quantized output.
    """
    xd = F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double")))
    raw_scale = F.array_max(xd)
    scale = F.when(raw_scale > 0, raw_scale)  # NULL for all-zero vectors
    q = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * 127 / scale + F.lit(0.5)).cast("long"),
    )
    return df.withColumn("__scale", scale).withColumn(
        "__q", F.when(scale.isNotNull(), q)
    )


def random_projection(
    df: DataFrame,
    out_dims: int,
    in_dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "rp",
) -> DataFrame:
    """Sparse random projection (Achlioptas JL transform): reduce
    ``in_dims``-d embeddings to ``out_dims`` dims while approximately
    preserving pairwise distances — the cheap pre-step before ANN
    indexing when vectors are wide.

    Matrix entries R[i][j] ∈ {+1, 0, −1} with probs {1/6, 2/3, 1/6},
    drawn deterministically from a portable md5 hash of (salt, i, j) —
    no stored model, reproducible by ANY engine, and 2/3 sparse so the
    multiply touches ~d/3 entries. y_j = Σ_i x_i·R[i][j], with the
    Achlioptas scale √3/√out_dims left to the caller (a scalar factor
    that cancels in cosine/ratio uses).

    Distributed formulation — never a driver-side matmul: the vector
    explodes to (id, i, x_i) rows, joins the BROADCAST nonzero matrix
    entries on i, and partial-aggregates per (id, j); the output vector
    reassembles from a sorted (j, y) collect per id. Inputs are
    quantized to exact integer micros before the sum, so the grouped
    aggregation is int64 — order-independent and bit-stable across
    engines/partitionings (a double sum here would drift in the last
    ulp and break hash comparison). Per-component absolute error from
    quantization is ≤ in_dims·5e-7.
    """
    from airline_data_pipeline_spark.functions.text import portable_hash60

    spark = df.sparkSession
    # (i, j, r) for the nonzero entries only — in_dims×out_dims rows
    # before the filter, model-sized either way; broadcast to executors.
    R = (
        spark.range(in_dims)
        .select(F.col("id").alias("i"))
        .crossJoin(spark.range(out_dims).select(F.col("id").alias("j")))
        .withColumn(
            "__h",
            F.pmod(
                portable_hash60(
                    F.concat(
                        F.lit(salt + ":"),
                        F.col("i").cast("string"),
                        F.lit(":"),
                        F.col("j").cast("string"),
                    )
                ),
                F.lit(6),
            ),
        )
        .withColumn(
            "r",
            F.when(F.col("__h") == 0, F.lit(1))
            .when(F.col("__h") == 1, F.lit(-1))
            .otherwise(F.lit(0)),
        )
        .filter(F.col("r") != 0)
        .select("i", "j", "r")
    )
    exploded = df.select(
        F.col(id_col), F.posexplode(F.col(vec_col)).alias("i", "__x")
    ).withColumn(
        # exact integer micros: float→double cast is exact, the scaled
        # round-half-up is the same IEEE computation everywhere
        "__xq",
        F.floor(F.col("__x").cast("double") * 1_000_000 + F.lit(0.5)).cast("long"),
    )
    comps = (
        exploded.join(F.broadcast(R), "i")
        .groupBy(id_col, "j")
        .agg(F.sum(F.col("__xq") * F.col("r")).alias("__yq"))
    )
    # Reassemble over a FULL 0..out_dims-1 spine via a map lookup, not
    # from whatever (id, j) groups happen to exist: an output column j
    # whose R entries are all zero (prob (2/3)^in_dims — negligible at
    # 64 dims but real for small in_dims) has no group, and a
    # positional rebuild would silently drop that component and shift
    # the rest, breaking component identity and the out_dims width.
    # Missing components are exactly 0 (zero dot product), so default 0.
    return (
        comps.groupBy(id_col)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("j", "__yq"))
            ).alias("__m")
        )
        .select(
            id_col,
            F.transform(
                F.sequence(F.lit(0), F.lit(out_dims - 1)),
                lambda j: F.coalesce(
                    F.element_at(F.col("__m"), j.cast("long")), F.lit(0).cast("long")
                )
                / F.lit(1_000_000.0),
            ).alias("reduced"),
        )
    )


def write_srp_index(
    ref_df: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    n_bits: int = 2,
    n_tables: int = 24,
    num_files: int = 32,
) -> None:
    """Materialize the SEMANTIC gate's reference as a write-once parquet
    artifact — the embedding twin of `dedup.write_minhash_index`:
    ``buckets`` holds the (id, tbl, bucket) SRP-LSH keys, ``vectors``
    the full vectors for exact-cosine verification, ``meta`` a one-row
    param table. Until now `embedding_gate_against_reference` re-ran
    the reference's SRP bucketization on every call — fine for a batch
    job, wrong for the 100 TB shape, where the frozen corpus should be
    hashed ONCE and every ingest batch reads (never recomputes, never
    shuffles) the stored keys, exactly as the text gate's minhash
    artifact already works.

    The SRP hyperplanes are seed-derived from (dims, n_bits, n_tables)
    (`_srp_buckets_udf`), so recording those in meta makes a batch
    banded TODAY collide correctly with a reference banded at build
    time — and makes it impossible to probe with drifted settings (the
    same property the minhash meta gives the text side). Both tables
    write multi-file so gate scans parallelize.
    """
    spark = ref_df.sparkSession
    base = ref_df.select(F.col(id_col), F.col(vec_col))
    _bucketize(base, id_col, vec_col, dims, n_bits, n_tables).repartition(
        num_files, "tbl", "bucket"
    ).write.mode("overwrite").parquet(index_dir + "/buckets")
    base.repartition(num_files, id_col).write.mode("overwrite").parquet(
        index_dir + "/vectors"
    )
    local_df(
        spark,
        [(dims, n_bits, n_tables, id_col, vec_col)],
        "dims int, n_bits int, n_tables int, id_col string, vec_col string",
    ).coalesce(1).write.mode("overwrite").parquet(index_dir + "/meta")


def append_to_srp_index(
    batch_df: DataFrame,
    index_dir: str,
    num_files: int = 8,
) -> None:
    """Grow a stored SRP index with an admitted batch — the O(batch)
    append that completes the gate-then-admit loop on the embedding
    side (`dedup.append_to_minhash_index`'s contract, vector-shaped):
    bucketization params AND column names inherit from the index's own
    meta, only the new batch is hashed, and the stored tables are never
    read or rewritten. Write ordering — vectors FIRST, buckets second:
    an orphan vector row (vectors committed, buckets append crashed) is
    inert (nothing verifies a vector without a bucket collision); the
    reverse would leave bucket hits whose exact-cosine verification
    silently finds no vector — the lying state the text side documents.
    """
    spark = batch_df.sparkSession
    md = read_meta_first(spark, index_dir + "/meta").asDict()
    id_col, vec_col = md["id_col"], md["vec_col"]
    missing = [c for c in (id_col, vec_col) if c not in batch_df.columns]
    if missing:
        raise ValueError(
            f"SRP index append rejected a batch for {index_dir}: the "
            f"index records columns ({id_col!r}, {vec_col!r}) but the "
            f"batch has no {missing} — rename to the artifact's names"
        )
    base = batch_df.select(F.col(id_col), F.col(vec_col))
    stored = {
        f.name: f.dataType.simpleString()
        for f in spark.read.parquet(index_dir + "/vectors").schema.fields
    }
    drift = [
        f"{f.name}: batch {f.dataType.simpleString()} != stored {stored[f.name]}"
        for f in base.schema.fields
        if f.dataType.simpleString() != stored[f.name]
    ]
    if drift:
        raise ValueError(
            f"SRP index append rejected a schema-drifted batch for "
            f"{index_dir}: {'; '.join(drift)} — cast the batch first "
            f"(parquet append validates nothing)"
        )
    base.repartition(num_files, id_col).write.mode("append").parquet(
        index_dir + "/vectors"
    )
    _bucketize(
        base, id_col, vec_col, md["dims"], md["n_bits"], md["n_tables"]
    ).repartition(num_files, "tbl", "bucket").write.mode("append").parquet(
        index_dir + "/buckets"
    )


def load_srp_index(spark, index_dir: str):
    """Open a `write_srp_index` artifact: (meta row, bucket scan, vector
    scan). Load ONCE per job/stream."""
    meta = read_meta_first(spark, index_dir + "/meta")
    return (
        meta,
        spark.read.parquet(index_dir + "/buckets"),
        spark.read.parquet(index_dir + "/vectors"),
    )


def compact_srp_index(spark, index_dir: str, num_files: int = 32) -> None:
    """Maintenance step after repeated appends — the SRP twin of
    `dedup.compact_minhash_index` / `compact_ivf_cells`, completing
    compaction symmetry across all three stored indexes (VERDICT r13
    #6): each `append_to_srp_index` lands ``num_files`` new files per
    table, so a long-appended index degrades gate scans into
    small-file listing storms. Rewrites buckets (repartitioned on
    (tbl, bucket) — the gate's join keys, so the layout stays
    join-aligned) and vectors (on the id) back to ``num_files`` files
    each, swapping each table in with the crash-safe
    park-rename-delete primitive. Rows are copied verbatim — no
    re-hashing — so gate results are bit-identical (unit-tested); a
    crash between the two table swaps leaves one table compacted and
    one not, which is still a CONSISTENT index (compaction changes
    layout, never content). Meta is a param table and is untouched;
    the hot-bucket ledger keys (tbl, bucket) counts, which compaction
    preserves, so it needs no refresh.
    """
    from airline_data_pipeline_spark.io.writers import replace_parquet_dir

    md = read_meta_first(spark, index_dir + "/meta").asDict()
    for live, keys in (
        (index_dir + "/buckets", ["tbl", "bucket"]),
        (index_dir + "/vectors", [md["id_col"]]),
    ):
        tmp = f"{live}__compacting"
        spark.read.parquet(live).repartition(
            num_files, *keys
        ).write.mode("overwrite").parquet(tmp)
        replace_parquet_dir(spark, tmp, live)


def refresh_srp_hot_buckets(
    spark, index_dir: str, hot_threshold: int = 64
) -> int:
    """(Re)materialize the SRP index's HOT-BUCKET LEDGER — the skew
    guard the stored semantic gate was missing (VERDICT r13 #2: its
    non-stored twin caps via `cap_hot_buckets_two_sided`, the minhash
    artifact grew `dedup.refresh_hot_buckets` in r13, but
    `gate_vectors_against_loaded_index` had neither — one boilerplate
    embedding cluster in a 100 TB reference makes candidate `pairs`
    |hot-bucket|x|batch| per trigger, and `pairs` is then BROADCAST).

    One groupBy-count pass over the stored buckets keeps every
    (tbl, bucket) whose occupancy exceeds ``hot_threshold``, lands it
    as the tiny ``hotbuckets`` table via the crash-safe swap, and
    returns the hot count — O(index) once per maintenance cycle
    instead of O(index) per ingest batch. Gates opt in with
    ``skip_hot=True``: hot buckets are EXCLUDED from candidate
    generation, trading recall on boilerplate-cluster vectors for a
    bounded pair count (the documented `cap_hot_buckets` contract).

    Refresh cadence mirrors the minhash ledger's: appends leave it
    conservatively stale (a newly-hot bucket keeps generating pairs —
    cost creeps, recall unaffected) — refresh on the compaction
    cadence; retraction can leave a listed bucket cold (skip_hot then
    over-skips — a recall leak) — refresh after retractions. The SRP
    index has no reband verb, so no generation stamp is needed: the
    hyperplane family is fixed at build time (changing n_bits/n_tables
    is a rebuild), so ledger keys can never index a stale bucket space.
    """
    from airline_data_pipeline_spark.io.writers import replace_parquet_dir

    hot = (
        spark.read.parquet(index_dir + "/buckets")
        .groupBy("tbl", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > hot_threshold)
        .select("tbl", "bucket")
    )
    tmp = index_dir + "/hotbuckets__refreshing"
    hot.coalesce(1).write.mode("overwrite").parquet(tmp)
    replace_parquet_dir(spark, tmp, index_dir + "/hotbuckets")
    return count_parquet_rows(spark, index_dir + "/hotbuckets")


def load_srp_hot_buckets(spark, index_dir: str) -> DataFrame:
    """Open the SRP index's hot-bucket ledger, loud if it was never
    materialized — `skip_hot=True` silently gating nothing would be
    indistinguishable from a working guard."""
    from airline_data_pipeline_spark.io.writers import hadoop_fs

    _, fs, P = hadoop_fs(spark, index_dir)
    if not fs.exists(P(index_dir + "/hotbuckets")):
        raise ValueError(
            f"skip_hot=True but {index_dir} has no hotbuckets ledger — "
            f"run refresh_srp_hot_buckets first (on the compaction "
            f"cadence)"
        )
    return spark.read.parquet(index_dir + "/hotbuckets")


def gate_vectors_against_loaded_index(
    new_df: DataFrame,
    meta,
    b_ref: DataFrame,
    v_ref: DataFrame,
    threshold: float = 0.95,
    round_digits: int | None = None,
    hot: DataFrame | None = None,
) -> DataFrame:
    """The semantic gate over already-loaded SRP-index handles — the
    per-micro-batch entry point for the streaming admit sink (which
    loads handles once per stream). Rows of ``new_df`` with no stored
    vector at (rounded) cosine ≥ threshold survive. The batch side
    broadcasts at every join — the stored buckets and vectors are
    scanned, never shuffled (the minhash `gate_against_loaded_index`
    shape, vector-verified instead of Jaccard-verified).

    ``hot`` is the optional hot-bucket ledger
    (`refresh_srp_hot_buckets`) — the stored gate's skew guard
    (VERDICT r13 #2): batch bucket keys anti-join the broadcast ledger
    BEFORE the pairs join, so a boilerplate embedding cluster's
    |hot-bucket|x|batch| pair blowup never materializes (and never
    reaches the `pairs` broadcast). Hot-bucket batch vectors are
    ADMITTED un-gated — the documented recall-for-boundedness trade
    every cap in this family makes."""
    from airline_data_pipeline_spark.functions.numeric import round_half_up

    md = meta.asDict()
    id_col, vec_col = md["id_col"], md["vec_col"]
    base_new = new_df.select(F.col(id_col), F.col(vec_col))
    b_new = _bucketize(
        base_new, id_col, vec_col, md["dims"], md["n_bits"], md["n_tables"]
    )
    if hot is not None:
        b_new = b_new.join(
            F.broadcast(hot.select("tbl", "bucket")),
            on=["tbl", "bucket"],
            how="left_anti",
        )
    pairs = (
        b_ref.alias("r")
        .join(
            F.broadcast(b_new.alias("n")),
            (F.col("n.tbl") == F.col("r.tbl"))
            & (F.col("n.bucket") == F.col("r.bucket")),
        )
        .select(
            F.col(f"n.{id_col}").alias("new_id"),
            F.col(f"r.{id_col}").alias("ref_id"),
        )
        .distinct()
    )
    # norms per ROW below the verify joins (the lsh_scores discipline):
    # per stored-vector row on the scan side, per batch row on the
    # broadcast side — never per candidate pair
    cos = cosine_from_norms(
        F.col("__vn"), F.col("__vr"), F.col("__nn"), F.col("__rn")
    )
    if round_digits is not None:
        cos = round_half_up(cos, round_digits)
    contaminated = (
        v_ref.select(F.col(id_col).alias("ref_id"), F.col(vec_col).alias("__vr"))
        .withColumn("__rn", l2_norm(F.col("__vr")))
        .join(F.broadcast(pairs), "ref_id")
        .join(
            F.broadcast(
                base_new.select(
                    F.col(id_col).alias("new_id"), F.col(vec_col).alias("__vn")
                ).withColumn("__nn", l2_norm(F.col("__vn")))
            ),
            "new_id",
        )
        .filter(cos >= threshold)
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )
    return new_df.join(F.broadcast(contaminated), on=id_col, how="left_anti")


def embedding_gate_against_index(
    new_df: DataFrame,
    index_dir: str,
    threshold: float = 0.95,
    round_digits: int | None = None,
    skip_hot: bool = False,
) -> DataFrame:
    """One-shot form of the stored-artifact semantic gate: load the SRP
    index handles and gate ``new_df`` against them. Equals
    `embedding_gate_against_reference` on the same reference by
    construction (same seed-derived hyperplanes, same exact-cosine
    verify) — oracle-checked by `embedding_gate_via_index`.
    ``skip_hot=True`` excludes the precomputed hot-bucket ledger
    (`refresh_srp_hot_buckets`) from candidate generation — loud if the
    ledger was never materialized."""
    spark = new_df.sparkSession
    meta, b_ref, v_ref = load_srp_index(spark, index_dir)
    hot = load_srp_hot_buckets(spark, index_dir) if skip_hot else None
    return gate_vectors_against_loaded_index(
        new_df, meta, b_ref, v_ref, threshold, round_digits, hot=hot
    )


def retract_from_srp_index(
    spark,
    index_dir: str,
    ids,
    num_files: int = 32,
) -> None:
    """Remove vectors from a stored SRP index — the GDPR deletion verb
    of the semantic gate's artifact, completing the verb symmetry with
    both sibling stores (`dedup.retract_from_minhash_index` for text,
    `retract_from_ivf_index` for the ANN store). After retraction the
    index gates exactly as if built on reference-minus-retracted
    (oracle-checked: `embedding_gate_after_retraction`) — a retracted
    vector's semantic twin RE-ADMITS on the next gate.

    ``ids``: driver-sized Python collection (literal IN-list) or a
    DataFrame with the id column / a single column (broadcast
    anti-join). Both tables rewrite WITHOUT the retracted rows into
    sibling dirs (join-aligned layouts preserved) and park-swap in.

    Crash ordering — buckets FIRST, the minhash retraction's argument
    verbatim: once buckets swaps, a retracted id can produce no
    candidate pair, so gating already behaves fully-retracted; its
    orphan vector rows are inert (nothing cosine-verifies a vector
    without a bucket hit) and `fsck_srp_index` or a re-run sweeps
    them. Meta is a param table (hyperplane family, column names) and
    is untouched.
    """
    from airline_data_pipeline_spark.io.writers import replace_parquet_dir

    md = read_meta_first(spark, index_dir + "/meta").asDict()
    id_col = md["id_col"]

    if isinstance(ids, DataFrame):
        src = ids
        col = id_col if id_col in src.columns else (
            src.columns[0] if len(src.columns) == 1 else None
        )
        if col is None:
            raise ValueError(
                f"retraction DataFrame must have a {id_col!r} column or "
                f"exactly one column; got {src.columns}"
            )
        rid = src.select(F.col(col).alias(id_col)).distinct()

        def drop_retracted(df: DataFrame) -> DataFrame:
            return df.join(F.broadcast(rid), on=id_col, how="left_anti")
    else:
        id_list = list(ids)
        if not id_list:
            return  # nothing to retract; don't rewrite the index for a no-op

        def drop_retracted(df: DataFrame) -> DataFrame:
            return df.filter(~F.col(id_col).isin(id_list))

    for live, keys in (
        (index_dir + "/buckets", ["tbl", "bucket"]),
        (index_dir + "/vectors", [id_col]),
    ):
        tmp = f"{live}__retracting"
        drop_retracted(spark.read.parquet(live)).repartition(
            num_files, *keys
        ).write.mode("overwrite").parquet(tmp)
        replace_parquet_dir(spark, tmp, live)


def fsck_srp_index(
    spark, index_dir: str, clean: bool = False, num_files: int = 32
) -> DataFrame:
    """Detect — and with ``clean=True`` repair — the SRP artifact's
    crash states, completing the fsck symmetry across all three stored
    indexes. Same classes as `dedup.fsck_minhash_index`, minus the
    bucket generations (the SRP index has no reband verb — its recall
    dial is n_bits/n_tables, which change the hyperplane family and
    therefore require a rebuild, recorded in meta so a drifted gate is
    impossible rather than silently wrong):
    - missing live table with a staged/parked layout → finish/restore
      the interrupted swap;
    - tmp/park residue beside intact tables → checked deletes;
    - orphan vector rows (no bucket row: interrupted append or
      retraction) → inert but dead weight; rewritten out;
    - lying bucket rows (no vector row: a bucket hit whose cosine
      verification silently finds nothing) → rewritten out.
    """
    from airline_data_pipeline_spark.io.writers import (
        fsck_swap_states,
        hadoop_fs,
        replace_parquet_dir,
    )

    findings = list(fsck_swap_states(spark, index_dir, ["meta"], clean))
    if any(f[0] == "meta" and f[3].startswith("FATAL") for f in findings):
        return local_df(
            spark, sorted(findings),
            "component string, issue string, detail string, action string",
        )
    md = read_meta_first(spark, index_dir + "/meta").asDict()
    id_col = md["id_col"]
    findings += fsck_swap_states(
        spark, index_dir, ["buckets", "vectors"], clean
    )
    fatal = {f[0] for f in findings if f[3].startswith("FATAL")}
    _, fs, P = hadoop_fs(spark, index_dir)
    # the hot-bucket ledger is OPTIONAL (refresh_srp_hot_buckets): fsck
    # its swap states only when it (or its residue) exists, and a
    # missing-with-no-recovery state is just "not materialized"
    hot_children = {
        st.getPath().getName()
        for st in fs.listStatus(P(index_dir))
        if st.getPath().getName().startswith("hotbuckets")
    }
    if hot_children and hot_children != {"hotbuckets"}:
        findings += [
            f for f in fsck_swap_states(spark, index_dir, ["hotbuckets"], clean)
            if "no recoverable state" not in f[1]
        ]
    if not fatal and fs.exists(P(index_dir + "/buckets")) and fs.exists(
        P(index_dir + "/vectors")
    ):
        # fresh reads inside the loop — the first repair rewrites one
        # table, so the second check must list its files anew
        for label, live, keys, keep_src, issue in (
            (
                "vectors", index_dir + "/vectors", [id_col],
                index_dir + "/buckets",
                "orphan vector rows (no bucket row: interrupted append "
                "or retraction)",
            ),
            (
                "buckets", index_dir + "/buckets", ["tbl", "bucket"],
                index_dir + "/vectors",
                "lying bucket rows (no vector row: collisions would "
                "silently verify-fail)",
            ),
        ):
            df_full = spark.read.parquet(live)
            keep_ids = spark.read.parquet(keep_src).select(id_col).distinct()
            n_orphans = df_full.select(id_col).distinct().join(
                keep_ids, id_col, "left_anti"
            ).count()
            if n_orphans == 0:
                continue
            if clean:
                tmp = f"{live}__fsck"
                df_full.join(keep_ids, id_col, "left_semi").repartition(
                    num_files, *keys
                ).write.mode("overwrite").parquet(tmp)
                replace_parquet_dir(spark, tmp, live)
                action = "rewrote table without orphan ids"
            else:
                action = "would rewrite (clean=False)"
            findings.append((label, issue, f"{n_orphans} orphan ids", action))
    return local_df(
        spark, sorted(findings),
        "component string, issue string, detail string, action string",
    )
