"""Similarity-search tests: LSH and IVF recall vs the exact brute-force
baseline, determinism, and the pandas as-of variant."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from airline_data_pipeline_spark.io.readers import table
from airline_data_pipeline_spark.operators.similarity import (
    brute_force_topk,
    cosine_near_dup_pairs,
    ivf_topk,
    lsh_topk,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return table(spark, SF, "embeddings").cache()


@pytest.fixture(scope="module")
def queries(emb):
    return emb.filter(F.col("vec_id") < 10)


@pytest.fixture(scope="module")
def exact(emb, queries):
    out = brute_force_topk(emb, queries, k=10)
    return {
        q: {r["neighbor_id"] for r in rows}
        for q, rows in _group(out.collect()).items()
    }


def _group(rows):
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    return by_q


def test_brute_force_is_deterministic(emb, queries):
    a = brute_force_topk(emb, queries, k=5).collect()
    b = brute_force_topk(emb, queries, k=5).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_brute_force_excludes_self_and_has_k(emb, queries, exact):
    for q, neighbors in exact.items():
        assert q not in neighbors
        assert len(neighbors) == 10


def test_lsh_recall_against_exact(emb, queries, exact):
    """SRP-LSH top-10 must recover most of the true top-10. Defaults
    (4 bits × 12 tables) give ~0.85 empirical recall on this corpus;
    assert a conservative floor to keep the test stable across seeds."""
    approx = lsh_topk(emb, queries, k=10)
    got = {
        q: {r["neighbor_id"] for r in rows}
        for q, rows in _group(approx.collect()).items()
    }
    recalls = [
        len(got.get(q, set()) & neighbors) / len(neighbors)
        for q, neighbors in exact.items()
    ]
    assert sum(recalls) / len(recalls) >= 0.6, recalls


def test_ivf_recall_against_exact(emb, queries, exact):
    approx = ivf_topk(emb, queries, k=10, n_centroids=16, nprobe=8)
    got = {
        q: {r["neighbor_id"] for r in rows}
        for q, rows in _group(approx.collect()).items()
    }
    recalls = [
        len(got.get(q, set()) & neighbors) / len(neighbors)
        for q, neighbors in exact.items()
    ]
    assert sum(recalls) / len(recalls) >= 0.4, recalls


def _mean_recall(approx_df, exact):
    got = {
        q: {r["neighbor_id"] for r in rows}
        for q, rows in _group(approx_df.collect()).items()
    }
    recalls = [
        len(got.get(q, set()) & neighbors) / len(neighbors)
        for q, neighbors in exact.items()
    ]
    return sum(recalls) / len(recalls)


def test_default_settings_recall_floors(emb, queries, exact):
    """Regression canary: recall@10 at DEFAULT (non-guaranteed) settings
    vs brute force, so a tuning change that silently destroys recall
    fails here instead of passing the rows-only oracle checks (which use
    guaranteed-recall settings).

    Measured on this corpus: LSH defaults (4 bits × 12 tables) = 0.86.
    IVF defaults (16 centroids, nprobe=4) = 0.37 — near its theoretical
    ceiling here, NOT a weak implementation: the synthetic embeddings
    are near-uniform random directions (true neighbors at cosine
    0.3-0.5), so neighbors scatter across cells roughly uniformly and
    recall is bounded near nprobe/n_centroids = 0.25 plus the gain from
    probing the query's own densest cells. Clustered real-world corpora
    are the favorable case for IVF; the uniform corpus is its worst."""
    lsh_recall = _mean_recall(lsh_topk(emb, queries, k=10), exact)
    assert lsh_recall >= 0.8, f"lsh default recall@10 {lsh_recall} (was 0.86)"
    ivf_recall = _mean_recall(ivf_topk(emb, queries, k=10), exact)
    assert ivf_recall >= 0.3, f"ivf default recall@10 {ivf_recall} (was 0.37)"


def test_ivf_lloyd_refinement_improves_recall_at_fixed_nprobe(emb, queries, exact):
    """One Lloyd pass over the sampled seed centroids must buy recall at
    the SAME nprobe: balanced cells cover more true neighbors per probe.
    Measured on this corpus at defaults (16 centroids, nprobe=4):
    0.37 unrefined → 0.46 after one pass (0.46 after two — converged);
    at nprobe=8: 0.64 → 0.69."""
    base = _mean_recall(ivf_topk(emb, queries, k=10), exact)
    refined = _mean_recall(ivf_topk(emb, queries, k=10, refine_iters=1), exact)
    assert refined >= base + 0.05, (
        f"refined recall {refined} vs unrefined {base} (measured 0.46 vs 0.37)"
    )


def test_ivf_refinement_survives_ragged_vectors(spark):
    """Lloyd refinement must DEGRADE, not crash, on malformed corpus
    rows: a vector shorter than the seed width leaves (cell, pos) gaps
    (pre-fix: KeyError on the driver) and a longer one overflows the
    seed centroid's shape (pre-fix: list-assignment shape failure).
    Gaps now fall back to the seed component; overflow positions are
    ignored."""
    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    rows.append((100, [1.0, 2.0, 3.0]))  # short / ragged
    rows.append((101, [0.5] * 12))  # longer than the seed width
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = corpus.filter(F.col("vec_id") < 3)
    out = ivf_topk(
        corpus, queries, k=5, n_centroids=4, nprobe=2, refine_iters=1
    ).collect()
    assert len(out) > 0
    assert all(r["query_id"] != r["neighbor_id"] for r in out)


def test_near_dup_pairs_verified_scores(emb):
    pairs = cosine_near_dup_pairs(emb, threshold=0.4, n_bits=4, n_tables=8)
    rows = pairs.collect()
    assert all(r["cosine"] >= 0.4 for r in rows)
    assert all(r["id_a"] < r["id_b"] for r in rows)


def _near_dup_truth(df, threshold):
    """Brute force in Spark: every pair with id_a < id_b whose
    `cosine_from_norms` (per-row `l2_norm`) is ≥ threshold."""
    from airline_data_pipeline_spark.functions.vectors import (
        cosine_from_norms,
        l2_norm,
    )

    v = df.withColumn("n", l2_norm(F.col("embedding")))
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cosine_from_norms(
                F.col("a.embedding"), F.col("b.embedding"),
                F.col("a.n"), F.col("b.n"),
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def _exact_rows(df):
    # repr round-trips a double exactly and makes NaN equal to NaN
    return sorted((r["id_a"], r["id_b"], repr(r["cosine"])) for r in df.collect())


@pytest.mark.parametrize("element", ["double", "float"])
def test_near_dup_pairs_equal_brute_force_exactly(spark, element):
    """At guaranteed recall (0 bits: every table is one bucket holding
    every vector) the per-block verify returns exactly the brute-force
    pairs, cosines equal as doubles. The data holds a zero vector
    (NULL cosine, excluded), exact duplicates (cosine 1.0), a NaN
    component (NaN cosine, which passes `>=` as in Spark), and one
    bucket larger than the verify's row chunk, so the chunked path
    runs; 2 tables exercise the cross-table dedup."""
    import random

    from airline_data_pipeline_spark.operators import similarity

    dims, n = 8, 600
    assert similarity._VERIFY_CHUNK_PAIRS // n < n  # several row chunks
    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dims)]) for i in range(n)]
    rows[5] = (5, [0.0] * dims)
    rows[7] = (7, list(rows[3][1]))
    rows[9] = (9, list(rows[3][1]))
    rows[11] = (11, [float("nan")] + rows[12][1][1:])
    df = spark.createDataFrame(
        rows, f"vec_id long, embedding array<{element}>"
    )
    t = 0.5
    got = _exact_rows(
        cosine_near_dup_pairs(df, threshold=t, dims=dims, n_bits=0, n_tables=2)
    )
    want = _exact_rows(_near_dup_truth(df, t))
    assert got == want
    ids = {(a, b) for a, b, _ in got}
    assert (3, 7) in ids and (7, 9) in ids
    # the zero vector's denominator is 0 (NULL cosine) except against
    # the NaN vector, where 0 * NaN = NaN passes the `!= 0` guard
    assert {pair for pair in ids if 5 in pair} == {(5, 11)}
    assert {c for a, b, c in got if 11 in (a, b)} == {"nan"}
    assert sum(11 in pair for pair in ids) == n - 1


def test_asof_pandas_variant_with_tolerance(spark):
    from airline_data_pipeline_spark.operators.asof import asof_join_pandas
    import pandas as pd

    base = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(i, 1, base + dt.timedelta(minutes=10 * i)) for i in range(10)],
        "id long, key long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, base + dt.timedelta(minutes=10 * j - 7), float(j)) for j in range(10)],
        "key long, ts timestamp, v double",
    )
    out = asof_join_pandas(
        left, right, on="ts", by="key", tolerance=pd.Timedelta(minutes=5)
    )
    got = {r["id"]: r["v_asof"] for r in out.collect()}
    # nearest-earlier within 5 min exists for every left row (gap is 7 min → j
    # at t-7 is outside tolerance... check a couple of exact values instead
    lp = pd.DataFrame(
        [(i, 1, base + dt.timedelta(minutes=10 * i)) for i in range(10)],
        columns=["id", "key", "ts"],
    ).sort_values("ts")
    rp = pd.DataFrame(
        [(1, base + dt.timedelta(minutes=10 * j - 7), float(j)) for j in range(10)],
        columns=["key", "ts", "v"],
    ).sort_values("ts")
    exp = pd.merge_asof(lp, rp, on="ts", by="key", tolerance=pd.Timedelta(minutes=5))
    expected = {
        int(r.id): (None if pd.isna(r.v) else float(r.v)) for r in exp.itertuples()
    }
    assert got == expected


def test_random_projection_deterministic_and_shape(emb):
    """Sparse RP: fixed output width, reproducible across invocations
    (hash-drawn matrix, integer-exact sums), and the scaled projection
    approximately preserves norms (JL) on average."""
    import math

    from airline_data_pipeline_spark.operators.similarity import random_projection

    a = random_projection(emb, out_dims=16, in_dims=64).collect()
    b = random_projection(emb, out_dims=16, in_dims=64).collect()
    assert {r["vec_id"]: tuple(r["reduced"]) for r in a} == {
        r["vec_id"]: tuple(r["reduced"]) for r in b
    }
    assert all(len(r["reduced"]) == 16 for r in a)
    orig = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    scale = math.sqrt(3.0 / 16.0)
    ratios = []
    for r in a:
        x = orig[r["vec_id"]]
        nx = math.sqrt(sum(v * v for v in x))
        ny = scale * math.sqrt(sum(v * v for v in r["reduced"]))
        ratios.append(ny / nx)
    mean = sum(ratios) / len(ratios)
    assert 0.85 < mean < 1.15, mean


def test_random_projection_zero_columns_keep_position(spark):
    """An output column j whose R entries are all zero (real at small
    in_dims: prob (2/3)^in_dims per column) must appear as literal 0.0
    at position j — the pre-fix positional rebuild silently dropped it
    and shifted later components, breaking component identity and the
    out_dims width. Across 3 salts at in_dims=2 a zeroed column occurs
    with probability ~1-6e-7, so this pins the spine fix."""
    from airline_data_pipeline_spark.operators.similarity import random_projection

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [-0.5, 0.25])],
        "vec_id long, embedding array<double>",
    )
    saw_zero_component = False
    for salt in ("rp", "rp2", "rp3"):
        out = random_projection(
            df, out_dims=8, in_dims=2, salt=salt
        ).collect()
        assert all(len(r["reduced"]) == 8 for r in out), salt
        # a zeroed column j is zero for EVERY vector, so detect by column
        cols = list(zip(*(r["reduced"] for r in out)))
        saw_zero_component |= any(all(v == 0.0 for v in c) for c in cols)
    assert saw_zero_component


def test_scaled_bits_near_dup_recall_floor(spark):
    """Recall canary for the documented LSH scale recipe
    (BASELINE.md / bench_scale.bench_embedding_dedup): growing n_bits
    with the corpus keeps candidates ~linear, but each extra bit costs
    per-table collision probability — this pins the measured recall so
    tuning can't silently trade recall for speed. At sf0.1's 2000
    vectors the recipe picks n_bits=3 (measured recall 1.000 vs the
    guaranteed-recall ground truth); even two steps tighter (n_bits=5,
    the 10x-corpus width) the 24-table redundancy holds ≥0.9."""
    from airline_data_pipeline_spark.io.readers import table as t

    e = t(spark, "/root/testdata/sf0.1", "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
    )

    def pair_set(n_bits, cap=None):
        p = cosine_near_dup_pairs(
            e, threshold=0.40, n_bits=n_bits, n_tables=24, max_bucket_size=cap
        )
        return {
            (r["id_a"], r["id_b"])
            for r in p.filter(F.col("cosine") >= 0.45).collect()
        }

    truth = pair_set(2)  # guaranteed-recall settings = ground truth
    assert len(truth) > 50
    recipe = pair_set(3, cap=2000)  # log2(2000/250) = 3, the recipe's pick
    assert len(recipe & truth) / len(truth) >= 0.99, len(recipe & truth)
    tight = pair_set(5, cap=2000)  # the 10x-corpus width on 1x data
    assert len(tight & truth) / len(truth) >= 0.90, len(tight & truth)


def test_embedding_gate_against_reference_drops_only_cross_set(spark):
    from airline_data_pipeline_spark.operators.similarity import (
        embedding_gate_against_reference,
    )

    dims = 64
    x = [1.0] + [0.0] * (dims - 1)
    y = [0.0, 1.0] + [0.0] * (dims - 2)
    ref = spark.createDataFrame([(0, x)], "vec_id long, embedding array<double>")
    batch = spark.createDataFrame(
        [(10, x), (11, y), (12, y)],  # 10 dups the ref; 11/12 dup each other
        "vec_id long, embedding array<double>",
    )
    kept = embedding_gate_against_reference(
        batch, ref, threshold=0.9, n_bits=2, n_tables=24
    )
    # only the cross-set dup is dropped — batch-internal dups never
    # self-filter (the gate's contract)
    assert {r["vec_id"] for r in kept.collect()} == {11, 12}

    # union-side hot-bucket cap path executes; cap below bucket sizes
    # collapses recall by design, so nothing is dropped
    capped = embedding_gate_against_reference(
        batch, ref, threshold=0.9, n_bits=2, n_tables=24, max_bucket_size=1
    )
    assert capped.count() == 3


def test_ivf_index_roundtrip_equals_inline_and_partitions_by_cell(spark, tmp_path):
    """The stored IVF artifact is the inline operator's equal: probing
    the written index with the same nprobe returns the identical
    (query, neighbor, rounded score) set as ivf_scores, the meta table
    round-trips the fit params, and the cells table is physically
    partitioned by cell (the 100 TB probe reads only its nprobe cells'
    directories)."""
    import os

    from pyspark.sql import functions as F

    from airline_data_pipeline_spark.functions.numeric import round_half_up
    from airline_data_pipeline_spark.io.readers import table
    from airline_data_pipeline_spark.operators import similarity

    e = table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    q = e.filter(F.col("vec_id") < 3)
    root = str(tmp_path / "ivfidx")
    similarity.write_ivf_index(e, root, n_centroids=8)

    def rounded_set(df):
        return {
            (r["query_id"], r["neighbor_id"], r["s"])
            for r in df.select(
                "query_id",
                "neighbor_id",
                round_half_up(F.col("score"), 4).alias("s"),
            ).collect()
        }

    via_index = rounded_set(similarity.ivf_index_scores(q, root, nprobe=8))
    direct = rounded_set(similarity.ivf_scores(e, q, n_centroids=8, nprobe=8))
    assert via_index == direct and via_index

    meta = spark.read.parquet(root + "/meta").first()
    assert meta["n_centroids"] == 8 and meta["dims"] > 0
    cell_dirs = [
        d for d in os.listdir(root + "/cells") if d.startswith("cell=")
    ]
    assert 1 <= len(cell_dirs) <= 8

    # nprobe above n_centroids clamps to scan-everything (well-defined)
    # rather than asking numpy for a top-k > n inside the UDF
    clamped = rounded_set(similarity.ivf_index_scores(q, root, nprobe=99))
    assert clamped == direct


def test_ivf_index_rejects_drifted_probe_and_salts_cell_files(spark, tmp_path):
    """ADVICE r9: (a) a probe whose vector dims differ from the index
    meta must fail with a clear ValueError BEFORE the Arrow UDF turns
    it into an opaque numpy shape error; (b) files_per_cell>1 must
    actually produce multiple files per cell directory — the
    unsalted repartition hash-partitioned on `cell` alone, landing
    each cell in ONE writer partition and one file regardless."""
    import glob
    import os

    import pytest
    from pyspark.sql import functions as F

    from airline_data_pipeline_spark.io.readers import table
    from airline_data_pipeline_spark.operators import similarity

    e = table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    root = str(tmp_path / "ivfidx_salted")
    similarity.write_ivf_index(e, root, n_centroids=4, files_per_cell=3)

    files_by_cell = {
        d: len(glob.glob(os.path.join(root, "cells", d, "*.parquet")))
        for d in os.listdir(root + "/cells")
        if d.startswith("cell=")
    }
    # at least one populated cell must have split into >1 file (tiny
    # cells can legitimately land all rows in fewer salt partitions)
    assert max(files_by_cell.values()) > 1, files_by_cell

    # ADVICE r10: select probe rows by explicit vec_id filter, never
    # unordered limit(n) — limit picks ARBITRARY rows, so a
    # vec_id-specific mutation (e.g. vec_id==2 below) was not
    # guaranteed to be present in the batch and the raises branches
    # could flake. The filters make every mutated row deterministically
    # part of the probe.
    drifted = e.filter(F.col("vec_id") < 2).select(
        "vec_id", F.slice("embedding", 1, 7).alias("embedding")
    )
    with pytest.raises(ValueError, match="dims"):
        similarity.ivf_index_scores(drifted, root, nprobe=2)
    # drift in a NON-first row must be caught too (the guard is a
    # batch-wide min/max, not a sample of one arbitrary row)
    mixed = e.filter(F.col("vec_id") < 3).withColumn(
        "embedding",
        F.when(F.col("vec_id") == 2, F.slice("embedding", 1, 7)).otherwise(
            F.col("embedding")
        ),
    )
    with pytest.raises(ValueError, match="dims"):
        similarity.ivf_index_scores(mixed, root, nprobe=2)
    # NULL vectors get a targeted message, not a dims mismatch (size of
    # NULL is NULL — the guard coalesces it to a -1 sentinel)
    nullq = e.filter(F.col("vec_id") < 2).withColumn(
        "embedding",
        F.when(F.col("vec_id") == 1, F.lit(None).cast("array<double>"))
        .otherwise(F.col("embedding")),
    )
    with pytest.raises(ValueError, match="NULL"):
        similarity.ivf_index_scores(nullq, root, nprobe=2)
    with pytest.raises(ValueError, match="nprobe"):
        similarity.ivf_index_scores(e.filter(F.col("vec_id") < 2), root, nprobe=0)
    # an empty probe batch is a valid no-op, not an error
    assert (
        similarity.ivf_index_scores(
            e.filter(F.lit(False)), root, nprobe=2
        ).count()
        == 0
    )


def test_ivf_index_meta_records_actual_centroid_count(spark, tmp_path):
    """A corpus smaller than the requested n_centroids yields fewer
    centroids; meta must record the ACTUAL stored count (the nprobe
    clamp and every meta consumer read it as the index shape)."""
    from pyspark.sql import functions as F

    from airline_data_pipeline_spark.io.readers import table
    from airline_data_pipeline_spark.operators import similarity

    e = table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    ).limit(10)
    root = str(tmp_path / "ivfidx_small")
    similarity.write_ivf_index(e, root, n_centroids=16)
    meta = spark.read.parquet(root + "/meta").first()
    n_stored = spark.read.parquet(root + "/centroids").count()
    assert meta["n_centroids"] == n_stored <= 10
    # probing with nprobe beyond the actual count still works (clamped)
    assert (
        similarity.ivf_index_scores(
            e.filter(F.col("vec_id") < 2), root, nprobe=16
        ).count()
        > 0
    )


def test_ivf_index_append_probe_all_equals_rebuild(spark, tmp_path):
    """VERDICT r10 #4 (index lifecycle): growing a stored IVF index
    batch-wise must be score-identical under probe-all-cells to a
    from-scratch rebuild on the union corpus (cell assignment is
    irrelevant when every cell is probed, and appended vectors are
    stored verbatim). Layout contract: appended rows land as NEW files
    inside EXISTING cell= directories, the frozen centroid table is
    untouched, and meta's n_rows ledger is re-stamped."""
    import glob
    import os

    from pyspark.sql import functions as F

    from airline_data_pipeline_spark.functions.numeric import round_half_up
    from airline_data_pipeline_spark.io.readers import table
    from airline_data_pipeline_spark.operators import similarity

    e = table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    q = e.filter(F.col("vec_id") < 3)

    grown = str(tmp_path / "ivf_grown")
    similarity.write_ivf_index(
        e.filter(F.col("vec_id") % 2 == 0), grown, n_centroids=8
    )
    cents_before = {
        (r["cell"], tuple(r["vec"]))
        for r in spark.read.parquet(grown + "/centroids").collect()
    }
    files_before = len(glob.glob(os.path.join(grown, "cells", "*", "*.parquet")))
    dirs_before = {
        d for d in os.listdir(grown + "/cells") if d.startswith("cell=")
    }
    n_half = spark.read.parquet(grown + "/cells").count()

    similarity.append_to_ivf_index(e.filter(F.col("vec_id") % 2 == 1), grown)

    # frozen model: centroid table bit-identical, no new cell ids
    cents_after = {
        (r["cell"], tuple(r["vec"]))
        for r in spark.read.parquet(grown + "/centroids").collect()
    }
    assert cents_after == cents_before
    dirs_after = {
        d for d in os.listdir(grown + "/cells") if d.startswith("cell=")
    }
    assert dirs_after == dirs_before
    # append-only: strictly more files, rows = full corpus, ledger stamped
    assert (
        len(glob.glob(os.path.join(grown, "cells", "*", "*.parquet")))
        > files_before
    )
    n_full = e.count()
    assert spark.read.parquet(grown + "/cells").count() == n_full > n_half
    meta = spark.read.parquet(grown + "/meta").first()
    assert meta["n_rows"] == n_full and meta["dims"] == 64

    rebuilt = str(tmp_path / "ivf_rebuilt")
    similarity.write_ivf_index(e, rebuilt, n_centroids=8)

    def rounded_set(df):
        return {
            (r["query_id"], r["neighbor_id"], r["score"])
            for r in df.select(
                "query_id", "neighbor_id",
                round_half_up(F.col("score"), 4).alias("score"),
            ).collect()
        }

    got = rounded_set(similarity.ivf_index_scores(q, grown, nprobe=8))
    want = rounded_set(similarity.ivf_index_scores(q, rebuilt, nprobe=8))
    assert got == want and got


def test_ivf_index_append_rejects_malformed_batch(spark, tmp_path):
    """Appending a NULL or wrong-width vector must FAIL (inside the
    assignment UDF, i.e. checking exactly the rows being written) —
    the lenient zero-pad that is right for query-time assignment would
    corrupt a stored artifact silently."""
    import pytest
    from pyspark.sql import functions as F

    from airline_data_pipeline_spark.io.readers import table
    from airline_data_pipeline_spark.operators import similarity

    e = table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    root = str(tmp_path / "ivf_guard")
    similarity.write_ivf_index(
        e.filter(F.col("vec_id") % 2 == 0), root, n_centroids=4
    )
    drifted = e.filter(F.col("vec_id").isin(1, 3)).select(
        "vec_id", F.slice("embedding", 1, 7).alias("embedding")
    )
    with pytest.raises(Exception, match="index append rejected"):
        similarity.append_to_ivf_index(drifted, root)
    nullish = e.filter(F.col("vec_id").isin(1, 3)).withColumn(
        "embedding",
        F.when(F.col("vec_id") == 3, F.lit(None).cast("array<double>"))
        .otherwise(F.col("embedding")),
    )
    with pytest.raises(Exception, match="index append rejected"):
        similarity.append_to_ivf_index(nullish, root)
    # failed appends must not have committed rows (task files are
    # uncommitted on job abort)
    assert (
        spark.read.parquet(root + "/cells").count()
        == e.filter(F.col("vec_id") % 2 == 0).count()
    )


def test_ivf_compaction_is_score_invisible_and_shrinks_files(spark, tmp_path):
    """Round-11 lifecycle verb 3: after build(files_per_cell=2) + two
    appends, compact_ivf_cells must rewrite each cell back to ~1 file
    (atomic swap, stored assignments reused — no UDF, no re-fit) with
    probe scores bit-identical and the meta ledger intact."""
    import glob
    import os

    from pyspark.sql import functions as F

    from airline_data_pipeline_spark.io.readers import table
    from airline_data_pipeline_spark.operators import similarity

    e = table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    q = e.filter(F.col("vec_id") < 3)
    root = str(tmp_path / "ivf_compact")
    similarity.write_ivf_index(
        e.filter(F.col("vec_id") % 3 == 0), root, n_centroids=4,
        files_per_cell=2,
    )
    similarity.append_to_ivf_index(e.filter(F.col("vec_id") % 3 == 1), root)
    similarity.append_to_ivf_index(e.filter(F.col("vec_id") % 3 == 2), root)

    def probe_set():
        return {
            (r["query_id"], r["neighbor_id"], round(r["score"], 4))
            for r in similarity.ivf_index_scores(q, root, nprobe=4).collect()
        }

    def files_per_cell():
        return {
            d: len(glob.glob(os.path.join(root, "cells", d, "*.parquet")))
            for d in os.listdir(root + "/cells")
            if d.startswith("cell=")
        }

    before = probe_set()
    cents_before = spark.read.parquet(root + "/centroids").collect()
    n_before = spark.read.parquet(root + "/cells").count()
    assert max(files_per_cell().values()) >= 3  # build + 2 appends piled up

    similarity.compact_ivf_cells(spark, root, files_per_cell=1)

    assert max(files_per_cell().values()) == 1
    assert not os.path.exists(root + "/cells__compacting")
    assert not os.path.exists(root + "/cells__replaced")
    assert spark.read.parquet(root + "/cells").count() == n_before
    assert probe_set() == before and before
    # frozen model and ledger untouched by the layout rewrite
    assert spark.read.parquet(root + "/centroids").collect() == cents_before
    assert spark.read.parquet(root + "/meta").first()["n_rows"] == n_before


def test_ivf_append_batchwise_equals_single_append(spark, tmp_path):
    """Appending in two batches must equal appending their union in one
    (and both equal a from-scratch rebuild under probe-all): appends
    are independent per-row assignments against the frozen centroids,
    so batch boundaries cannot leak into the artifact's contents."""
    from pyspark.sql import functions as F

    from airline_data_pipeline_spark.io.readers import table
    from airline_data_pipeline_spark.operators import similarity

    e = table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    q = e.filter(F.col("vec_id") < 3)
    base = e.filter(F.col("vec_id") % 3 == 0)
    b1 = e.filter(F.col("vec_id") % 3 == 1)
    b2 = e.filter(F.col("vec_id") % 3 == 2)

    def probe_set(root):
        return {
            (r["query_id"], r["neighbor_id"], round(r["score"], 4))
            for r in similarity.ivf_index_scores(q, root, nprobe=4).collect()
        }

    two = str(tmp_path / "ivf_two")
    similarity.write_ivf_index(base, two, n_centroids=4)
    similarity.append_to_ivf_index(b1, two)
    similarity.append_to_ivf_index(b2, two)

    one = str(tmp_path / "ivf_one")
    similarity.write_ivf_index(base, one, n_centroids=4)
    similarity.append_to_ivf_index(b1.unionByName(b2), one)

    got_two, got_one = probe_set(two), probe_set(one)
    assert got_two == got_one and got_two
    assert (
        spark.read.parquet(two + "/meta").first()["n_rows"]
        == spark.read.parquet(one + "/meta").first()["n_rows"]
        == e.count()
    )


def test_ivf_append_rejects_schema_drifted_batch(spark, tmp_path):
    """Review r11: parquet append performs no schema validation, so an
    uncast float batch would silently mix FLOAT and DOUBLE physical
    types across cells files and fail confusingly at the next probe's
    scan. The append must fail loudly at call time instead."""
    import pytest
    from pyspark.sql import functions as F

    from airline_data_pipeline_spark.io.readers import table
    from airline_data_pipeline_spark.operators import similarity

    e = table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    root = str(tmp_path / "ivf_schema_guard")
    similarity.write_ivf_index(
        e.filter(F.col("vec_id") % 2 == 0), root, n_centroids=4
    )
    # raw table: embedding elements are float, vec_id is long — the
    # stored cells hold array<double>
    raw = table(spark, "/root/testdata/sf0.001", "embeddings").filter(
        F.col("vec_id") % 2 == 1
    )
    n_before = spark.read.parquet(root + "/cells").count()
    with pytest.raises(ValueError, match="schema-drifted"):
        similarity.append_to_ivf_index(raw, root)
    assert spark.read.parquet(root + "/cells").count() == n_before


def test_ivf_meta_ledger_upgrades_from_pre_ledger_artifacts(spark, tmp_path):
    """An artifact written before the n_rows ledger existed has a
    2-column meta; the first append must fall back to the one-time
    footer recount and stamp a correct ledger (after which appends are
    incremental)."""
    from pyspark.sql import functions as F

    from airline_data_pipeline_spark.io.localrel import local_df
    from airline_data_pipeline_spark.io.readers import table
    from airline_data_pipeline_spark.operators import similarity

    e = table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    root = str(tmp_path / "ivf_old_meta")
    similarity.write_ivf_index(
        e.filter(F.col("vec_id") % 2 == 0), root, n_centroids=4
    )
    meta = spark.read.parquet(root + "/meta").first()
    # simulate the pre-ledger artifact: meta without n_rows
    local_df(
        spark,
        [(meta["n_centroids"], meta["dims"])],
        "n_centroids int, dims int",
    ).coalesce(1).write.mode("overwrite").parquet(root + "/meta")

    similarity.append_to_ivf_index(e.filter(F.col("vec_id") % 2 == 1), root)
    assert spark.read.parquet(root + "/meta").first()["n_rows"] == e.count()
    # probing the upgraded artifact still works
    assert (
        similarity.ivf_index_scores(
            e.filter(F.col("vec_id") < 2), root, nprobe=4
        ).count()
        > 0
    )


def test_lenient_assignment_tolerates_null_vectors(spark):
    """Review r11: the lenient (query-time) assignment path documented
    'a bad corpus row lands in SOME cell' but crashed with a bare
    TypeError on NULL embeddings (len(None)). NULLs must assign as
    zero vectors — degraded, never fatal — on the non-persisting
    paths (ivf_scores corpus side, centroid refinement)."""
    from pyspark.sql import functions as F

    from airline_data_pipeline_spark.io.readers import table
    from airline_data_pipeline_spark.operators import similarity

    e = table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    holey = e.withColumn(
        "embedding",
        F.when(F.col("vec_id") == 7, F.lit(None).cast("array<double>"))
        .otherwise(F.col("embedding")),
    )
    q = e.filter(F.col("vec_id") < 2)
    out = similarity.ivf_scores(holey, q, n_centroids=4, nprobe=4)
    assert out.count() > 0  # the job survives the NULL corpus row


def test_refit_recovers_recall_on_shifted_corpus(spark, tmp_path):
    """VERDICT r11 #2: the refit verb's reason to exist. The index is
    built (centroids fitted) on two clusters; two NEW clusters arrive
    as appends — assigned to the frozen model, which never saw their
    region, so fixed-nprobe probes for new-cluster queries scatter.
    `refit_ivf_index` re-fits from the stored rows and re-assigns:
    recall at the same nprobe must recover to >= the drifted index's
    (and, on this deliberately-shifted construction, well past it),
    fit_gen must increment, and the ledger must survive the rewrite."""
    import numpy as np

    from airline_data_pipeline_spark.io.localrel import local_df
    from airline_data_pipeline_spark.operators import similarity
    from airline_data_pipeline_spark.operators.topk import top_k_per_group

    rng = np.random.default_rng(7)
    dims, per = 8, 50
    centers = np.eye(4, dims)
    corpus_rows = []
    for c in range(4):
        for i in range(per):
            v = centers[c] + 0.1 * rng.standard_normal(dims)
            corpus_rows.append((c * per + i, [float(x) for x in v]))
    corpus = local_df(
        spark, corpus_rows, "vec_id long, embedding array<double>"
    )
    q_rows = [
        (
            10_000 + i,
            [
                float(x)
                for x in centers[2 + (i % 2)] + 0.1 * rng.standard_normal(dims)
            ],
        )
        for i in range(10)
    ]
    queries = local_df(spark, q_rows, "vec_id long, embedding array<double>")

    def topk_sets(scored, k=5):
        ranked = top_k_per_group(
            scored, ["query_id"], "score", k,
            ascending=False, tiebreakers=["neighbor_id"],
        )
        out: dict[int, set[int]] = {}
        for r in ranked.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    def recall(got, truth):
        return sum(
            len(truth[q] & got.get(q, set())) for q in truth
        ) / sum(len(v) for v in truth.values())

    truth = topk_sets(similarity.brute_force_scores(corpus, queries))

    idx = str(tmp_path / "refit_idx")
    similarity.write_ivf_index(
        corpus.filter(F.col("vec_id") < 2 * per), idx,
        n_centroids=4, refine_iters=2,
    )
    similarity.append_to_ivf_index(
        corpus.filter(F.col("vec_id") >= 2 * per), idx
    )
    r_grown = recall(
        topk_sets(similarity.ivf_index_scores(queries, idx, nprobe=1)), truth
    )

    similarity.refit_ivf_index(spark, idx, refine_iters=2)
    meta = spark.read.parquet(idx + "/meta").first()
    assert meta["fit_gen"] == 1
    assert meta["n_rows"] == 4 * per
    r_refit = recall(
        topk_sets(similarity.ivf_index_scores(queries, idx, nprobe=1)), truth
    )
    assert r_refit >= r_grown + 0.1, (r_refit, r_grown)
    assert r_refit >= 0.85, (r_refit, r_grown)
    # the shifted construction must actually have drifted, or the
    # assertion above is vacuous (measured: grown 0.70, refit 0.94 —
    # deterministic under the fixed rng seed and xxhash sample order)
    assert r_grown <= 0.8, r_grown
    # no swap debris
    import os

    leftovers = [
        d for d in os.listdir(idx)
        if "__refitting" in d or "__replaced" in d or "__stamping" in d
    ]
    assert leftovers == [], leftovers


def test_refit_probe_all_is_score_invisible_and_resamples(spark, tmp_path):
    """Probe-all over a refitted index equals the exact brute-force
    top-k (cells partition the corpus regardless of the fitted model),
    and a sub-1.0 sample_frac fit still assigns EVERY stored row."""
    from airline_data_pipeline_spark.io.readers import table
    from airline_data_pipeline_spark.operators import similarity
    from airline_data_pipeline_spark.operators.topk import top_k_per_group

    e = table(spark, SF, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    q = e.filter(F.col("vec_id") < 5)
    idx = str(tmp_path / "refit_exact")
    similarity.write_ivf_index(
        e.filter(F.col("vec_id") % 2 == 0), idx, n_centroids=16
    )
    similarity.append_to_ivf_index(e.filter(F.col("vec_id") % 2 == 1), idx)
    similarity.refit_ivf_index(spark, idx, sample_frac=0.5)

    meta = spark.read.parquet(idx + "/meta").first()
    assert meta["fit_gen"] == 1 and meta["n_rows"] == e.count()

    got = similarity.ivf_index_scores(q, idx, nprobe=16)
    exact = similarity.brute_force_scores(e, q)
    got_k = {
        (r["query_id"], r["neighbor_id"])
        for r in top_k_per_group(
            got, ["query_id"], "score", 10,
            ascending=False, tiebreakers=["neighbor_id"],
        ).collect()
    }
    exact_k = {
        (r["query_id"], r["neighbor_id"])
        for r in top_k_per_group(
            exact, ["query_id"], "score", 10,
            ascending=False, tiebreakers=["neighbor_id"],
        ).collect()
    }
    assert got_k == exact_k and got_k

    with pytest.raises(ValueError, match="sample_frac"):
        similarity.refit_ivf_index(spark, idx, sample_frac=0.0)


# ---------------------------------------------------------------------------
# IVF-PQ: product-quantized candidate scoring (VERDICT r11 #5)
# ---------------------------------------------------------------------------


def _pq_corpus(spark, sf="/root/testdata/sf0.001"):
    from airline_data_pipeline_spark.io.readers import table

    return table(spark, sf, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )


def test_pq_probe_all_rerank_equals_exact_topk(spark, tmp_path):
    """Probe-all + sufficient rerank depth makes the PQ path EXACT: the
    ADC approximation only chooses which candidates get exact re-rank
    scores, so as long as the true top-10 survive the shortlist the
    final ranking is bit-identical to brute force (same contract the
    registry row knn_via_pq_ivf_index hash-checks vs DuckDB)."""
    from airline_data_pipeline_spark.operators import similarity
    from airline_data_pipeline_spark.operators.topk import top_k_per_group

    e = _pq_corpus(spark)
    q = e.filter(F.col("vec_id") < 5)
    idx = str(tmp_path / "pq_exact")
    similarity.write_ivf_index(e, idx, n_centroids=16)
    similarity.add_pq_to_ivf_index(spark, idx, m=16, ksub=256)

    def topk(df):
        return [
            (r["query_id"], r["neighbor_id"])
            for r in top_k_per_group(
                df, ["query_id"], "score", 10,
                ascending=False, tiebreakers=["neighbor_id"],
            ).orderBy("query_id", F.desc("score"), "neighbor_id").collect()
        ]

    got = topk(similarity.ivf_pq_index_scores(q, idx, nprobe=16, rerank=150))
    want = topk(similarity.brute_force_scores(e, q))
    assert got == want and got


def test_pq_adc_candidates_contain_true_topk_with_margin(spark, tmp_path):
    """The recall-dial evidence behind the registry row's rerank=150:
    on this corpus (PQ's worst case — uniform random vectors, no
    cluster structure) every true top-10 member must sit inside the
    ADC shortlist at HALF the shipped depth, so the oracle row has 2×
    margin against sample jitter."""
    import numpy as np

    from airline_data_pipeline_spark.operators import similarity

    e = _pq_corpus(spark)
    idx = str(tmp_path / "pq_margin")
    similarity.write_ivf_index(e, idx, n_centroids=16)
    similarity.add_pq_to_ivf_index(spark, idx, m=16, ksub=256)
    pm, CB, codes_df = similarity.load_pq_artifact(spark, idx)
    rows = codes_df.select("neighbor_id", "pq_code").collect()
    ids = np.array([r["neighbor_id"] for r in rows])
    C = np.vstack([np.frombuffer(r["pq_code"], dtype=np.uint8) for r in rows])
    ev = {r["vec_id"]: np.array(r["embedding"]) for r in e.collect()}
    X = np.vstack([ev[i] for i in ids])
    m = int(pm["m"])
    recon = np.concatenate([CB[j][C[:, j]] for j in range(m)], axis=1)
    rn = np.sqrt((recon ** 2).sum(1))
    Xn = np.linalg.norm(X, axis=1)
    worst = 0
    for qi in range(5):
        qv = ev[qi]
        qn = np.linalg.norm(qv)
        adc = recon @ qv / (qn * rn)
        exact = X @ qv / (qn * Xn)
        mask = ids != qi
        order_adc = np.argsort(-adc[mask])
        order_ex = np.argsort(-exact[mask])
        true10 = set(order_ex[:10])
        ranks = np.where(np.isin(order_adc, list(true10)))[0]
        worst = max(worst, int(ranks.max()))
    assert worst < 75, f"worst true-top-10 ADC rank {worst} >= 75"


def test_pq_payload_bytes_shrink_4x(spark, tmp_path):
    """The point of PQ at 100 TB: the candidate scan reads the m-byte
    codes, not the dims×8-byte vectors. On a corpus big enough that
    parquet footers don't dominate (the per-file overhead is why this
    uses the 2000-row sf0.1 table fanned out 4×), the pqcodes table
    must be ≥4× smaller on disk than the cells table."""
    import subprocess

    from airline_data_pipeline_spark.operators import similarity

    e = _pq_corpus(spark, "/root/testdata/sf0.1")
    fanned = e.unionByName(
        e.select((F.col("vec_id") + 100_000).alias("vec_id"), "embedding")
    ).unionByName(
        e.select((F.col("vec_id") + 200_000).alias("vec_id"), "embedding")
    ).unionByName(
        e.select((F.col("vec_id") + 300_000).alias("vec_id"), "embedding")
    )
    idx = str(tmp_path / "pq_bytes")
    similarity.write_ivf_index(fanned, idx, n_centroids=16)
    similarity.add_pq_to_ivf_index(spark, idx, m=16, ksub=256)

    def du(path):
        return int(
            subprocess.run(
                ["du", "-sb", path], capture_output=True, text=True
            ).stdout.split()[0]
        )

    cells_b, codes_b = du(idx + "/cells"), du(idx + "/pqcodes")
    assert codes_b * 4 <= cells_b, f"pqcodes {codes_b}B vs cells {cells_b}B"


def test_pq_guards(spark, tmp_path):
    """Loud failure modes: m must divide dims; ksub is byte-bounded;
    probing an index with no PQ artifact names the missing verb; an
    append or refit AFTER the encode invalidates the artifact (codes
    would silently miss the new rows / disagree with the new cell
    assignment) and the probe says to re-run add_pq_to_ivf_index."""
    from airline_data_pipeline_spark.operators import similarity

    e = _pq_corpus(spark)
    q = e.filter(F.col("vec_id") < 2)
    idx = str(tmp_path / "pq_guards")
    similarity.write_ivf_index(
        e.filter(F.col("vec_id") % 2 == 0), idx, n_centroids=8
    )
    with pytest.raises(ValueError, match="divisor"):
        similarity.add_pq_to_ivf_index(spark, idx, m=7)
    with pytest.raises(ValueError, match="ksub"):
        similarity.add_pq_to_ivf_index(spark, idx, m=8, ksub=512)
    with pytest.raises(ValueError, match="add_pq_to_ivf_index"):
        similarity.ivf_pq_index_scores(q, idx, nprobe=8)

    similarity.add_pq_to_ivf_index(spark, idx, m=8, ksub=16)
    assert similarity.ivf_pq_index_scores(q, idx, nprobe=8).count() > 0

    # append after encode: ledger mismatch must fail loudly
    similarity.append_to_ivf_index(e.filter(F.col("vec_id") % 2 == 1), idx)
    with pytest.raises(ValueError, match="appended"):
        similarity.ivf_pq_index_scores(q, idx, nprobe=8)

    # re-encode clears it; refit after encode then invalidates by fit_gen
    similarity.add_pq_to_ivf_index(spark, idx, m=8, ksub=16)
    assert similarity.ivf_pq_index_scores(q, idx, nprobe=8).count() > 0
    similarity.refit_ivf_index(spark, idx)
    with pytest.raises(ValueError, match="fit_gen"):
        similarity.ivf_pq_index_scores(q, idx, nprobe=8)


def test_pq_reencode_is_idempotent_and_covers_refit(spark, tmp_path):
    """add_pq_to_ivf_index is a swap-in rewrite: running it twice, or
    after a refit, leaves exactly one live artifact (no tmp debris)
    and the probe-all + rerank result stays exact."""
    import os

    from airline_data_pipeline_spark.operators import similarity
    from airline_data_pipeline_spark.operators.topk import top_k_per_group

    e = _pq_corpus(spark)
    q = e.filter(F.col("vec_id") < 3)
    idx = str(tmp_path / "pq_again")
    similarity.write_ivf_index(e, idx, n_centroids=16)
    similarity.add_pq_to_ivf_index(spark, idx, m=16, ksub=256)
    similarity.refit_ivf_index(spark, idx)
    similarity.add_pq_to_ivf_index(spark, idx, m=16, ksub=256)
    similarity.add_pq_to_ivf_index(spark, idx, m=16, ksub=256)
    debris = [d for d in os.listdir(idx) if "__" in d]
    assert debris == [], f"leftover swap debris: {debris}"

    got = {
        (r["query_id"], r["neighbor_id"])
        for r in top_k_per_group(
            similarity.ivf_pq_index_scores(q, idx, nprobe=16, rerank=150),
            ["query_id"], "score", 10,
            ascending=False, tiebreakers=["neighbor_id"],
        ).collect()
    }
    want = {
        (r["query_id"], r["neighbor_id"])
        for r in top_k_per_group(
            similarity.brute_force_scores(e, q),
            ["query_id"], "score", 10,
            ascending=False, tiebreakers=["neighbor_id"],
        ).collect()
    }
    assert got == want and got


def test_ivf_retraction_probe_equals_rebuild_and_backfills(spark, tmp_path):
    """The deletion verb's contract (VERDICT r12 #1): after
    retract_from_ivf_index the store probes exactly like an index
    rebuilt on corpus-minus-retracted, and a retracted vector's slot
    in every affected query's top-k BACKFILLS with the next nearest
    neighbor — the observable point of a right-to-be-forgotten
    removal. Also pins the ledger decrement (meta.n_rows recounts
    from the rewrite's own Observation)."""
    from airline_data_pipeline_spark.operators import similarity
    from airline_data_pipeline_spark.operators.topk import top_k_per_group

    e = _pq_corpus(spark)
    q = e.filter(F.col("vec_id") < 5)
    idx = str(tmp_path / "retr")
    similarity.write_ivf_index(e, idx, n_centroids=16)
    n_before = spark.read.parquet(idx + "/meta").first()["n_rows"]

    def top1(scores):
        return {
            r["query_id"]: r["neighbor_id"]
            for r in top_k_per_group(
                scores, ["query_id"], "score", 1,
                ascending=False, tiebreakers=["neighbor_id"],
            ).collect()
        }

    before = top1(similarity.ivf_index_scores(q, idx, nprobe=16))
    retract = sorted(set(before.values()))
    assert retract, "corpus produced no top-1 neighbors"

    similarity.retract_from_ivf_index(spark, idx, retract)

    n_after = spark.read.parquet(idx + "/meta").first()["n_rows"]
    assert n_after == n_before - len(retract)
    # no retracted id anywhere in the probe output
    after_rows = similarity.ivf_index_scores(q, idx, nprobe=16).collect()
    assert not {r["neighbor_id"] for r in after_rows} & set(retract)
    # every query's top-1 backfilled to the survivor-corpus nearest
    survivors = e.filter(~F.col("vec_id").isin(retract))
    want = top1(similarity.brute_force_scores(survivors, q))
    assert top1(similarity.ivf_index_scores(q, idx, nprobe=16)) == want
    # idempotent: re-running the same retraction changes nothing
    similarity.retract_from_ivf_index(spark, idx, retract)
    assert top1(similarity.ivf_index_scores(q, idx, nprobe=16)) == want
    assert spark.read.parquet(idx + "/meta").first()["n_rows"] == n_after
    # no swap debris
    import os

    debris = [d for d in os.listdir(idx) if "__" in d]
    assert debris == [], f"leftover swap debris: {debris}"


def test_ivf_retraction_with_pq_keeps_guard_coherent(spark, tmp_path):
    """When a PQ artifact exists, retraction rewrites pqcodes too and
    re-stamps BOTH ledgers from their own kept counts — so the PQ
    probe's pm.n_rows == meta.n_rows consistency guard stays coherent
    (no forced re-encode) and the retracted ids vanish from the
    ADC-candidate path as well. DataFrame-form retraction set."""
    from airline_data_pipeline_spark.operators import similarity
    from airline_data_pipeline_spark.operators.topk import top_k_per_group

    e = _pq_corpus(spark)
    q = e.filter(F.col("vec_id") < 5)
    idx = str(tmp_path / "retr_pq")
    similarity.write_ivf_index(e, idx, n_centroids=16)
    similarity.add_pq_to_ivf_index(spark, idx, m=16, ksub=256)

    retract_df = e.filter(
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 160)
    ).select(F.col("vec_id").alias("neighbor_id"))
    n_retract = retract_df.count()
    similarity.retract_from_ivf_index(spark, idx, retract_df)

    meta = spark.read.parquet(idx + "/meta").first()
    pm = spark.read.parquet(idx + "/pqmeta").first()
    assert pm["n_rows"] == meta["n_rows"]
    assert pm["fit_gen"] == (meta["fit_gen"] or 0)

    got = {
        (r["query_id"], r["neighbor_id"])
        for r in top_k_per_group(
            similarity.ivf_pq_index_scores(q, idx, nprobe=16, rerank=150),
            ["query_id"], "score", 10,
            ascending=False, tiebreakers=["neighbor_id"],
        ).collect()
    }
    survivors = e.join(retract_df, e.vec_id == retract_df.neighbor_id,
                       "left_anti")
    want = {
        (r["query_id"], r["neighbor_id"])
        for r in top_k_per_group(
            similarity.brute_force_scores(survivors, q),
            ["query_id"], "score", 10,
            ascending=False, tiebreakers=["neighbor_id"],
        ).collect()
    }
    assert got == want and got
    assert n_retract > 0


def test_ivf_retraction_noop_and_stale_pq_stays_loud(spark, tmp_path):
    """Two edges: an empty retraction set returns without touching the
    artifact (no rewrite, no ledger churn); and an artifact that was
    ALREADY stale (rows appended after the PQ encode) stays detectably
    stale through a retraction — the guard keeps telling the caller to
    re-run add_pq_to_ivf_index rather than silently re-syncing."""
    import pytest as _pytest

    from airline_data_pipeline_spark.operators import similarity

    e = _pq_corpus(spark)
    q = e.filter(F.col("vec_id") < 3)
    idx = str(tmp_path / "retr_edges")
    similarity.write_ivf_index(
        e.filter(F.col("vec_id") % 2 == 0), idx, n_centroids=8
    )
    meta_before = spark.read.parquet(idx + "/meta").first().asDict()
    similarity.retract_from_ivf_index(spark, idx, [])
    assert spark.read.parquet(idx + "/meta").first().asDict() == meta_before

    similarity.add_pq_to_ivf_index(spark, idx, m=16, ksub=16)
    similarity.append_to_ivf_index(e.filter(F.col("vec_id") % 2 == 1), idx)
    similarity.retract_from_ivf_index(spark, idx, [0, 2, 4])
    with _pytest.raises(ValueError, match="re-run add_pq_to_ivf_index"):
        similarity.ivf_pq_index_scores(q, idx, nprobe=8, rerank=50).collect()


def _clustered_corpus(spark, n_rows=2000, n_clusters=8, dims=64, spread=0.25):
    """Mixture-of-Gaussians embeddings — the PRODUCTION shape of an
    embedding corpus (VERDICT r12 #6): real encoder outputs cluster,
    and clustered data is where PQ's per-subspace codebooks become
    usable at small m/ksub. Deterministic (fixed numpy seed), built
    through the Arrow path so the fixture adds no Python-RDD tax."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(0x5EED13)
    centers = rng.normal(size=(n_clusters, dims))
    assign = rng.integers(0, n_clusters, size=n_rows)
    X = centers[assign] + spread * rng.normal(size=(n_rows, dims))
    pdf = pd.DataFrame(
        {"vec_id": np.arange(n_rows), "embedding": [list(map(float, r)) for r in X]}
    )
    return spark.createDataFrame(pdf, "vec_id long, embedding array<double>")


def test_pq_recall_floor_on_clustered_corpus(spark, tmp_path):
    """Pins PQ behavior on the corpus shape production embeddings have
    (VERDICT r12 #6): the registry row exercises PQ on uniform random
    vectors; real encoder outputs cluster. The measured truth on this
    mixture-of-Gaussians fixture is the OPPOSITE of the folk claim
    that clustering lets the dials shrink: clusters make the COARSE
    problem trivial (IVF cells align with clusters) but within-cluster
    top-10 ranking is decided by the small residual around the shared
    center, which low-ksub codebooks cannot encode — the full measured
    surface (8 dial combinations x 3 depths, recorded in BASELINE.md
    'PQ on clustered corpora'): m=8/ksub=16 reaches only 0.33
    recall@10 at rerank=50; m=8/ksub=256 (codes still 8 bytes/row,
    64x smaller than the vectors — ksub is FREE in code size, it only
    grows the model-sized codebook) reaches 0.815@50 and 0.995@150.
    This pins that working dial's floor so future PQ tuning can't
    silently trade recall (the test_scaled_bits_near_dup_recall_floor
    pattern applied to PQ); fixture + codebooks are deterministic, so
    the floors sit just under the exact measured values."""
    from airline_data_pipeline_spark.operators import similarity
    from airline_data_pipeline_spark.operators.topk import top_k_per_group

    e = _clustered_corpus(spark)
    q = e.filter(F.col("vec_id") < 20)
    idx = str(tmp_path / "pq_clustered")
    similarity.write_ivf_index(e, idx, n_centroids=16)
    similarity.add_pq_to_ivf_index(spark, idx, m=8, ksub=256)

    def topk_sets(scores):
        out: dict = {}
        for r in top_k_per_group(
            scores, ["query_id"], "score", 10,
            ascending=False, tiebreakers=["neighbor_id"],
        ).collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    truth = topk_sets(similarity.brute_force_scores(e, q))

    def recall(rerank):
        got = topk_sets(
            similarity.ivf_pq_index_scores(q, idx, nprobe=16, rerank=rerank)
        )
        hits = sum(len(got.get(k, set()) & v) for k, v in truth.items())
        return hits / sum(len(v) for v in truth.values())

    assert recall(150) >= 0.97, recall(150)  # measured 0.995
    assert recall(50) >= 0.75, recall(50)    # measured 0.815


def test_srp_index_roundtrip_and_append_equal_rebuild(spark, tmp_path):
    """The stored SRP artifact's two contracts: (a) gating through the
    index equals gating against the raw reference (same seed-derived
    hyperplanes, same exact-cosine verify); (b) an APPENDED index
    (build on half the reference, append the other half with params
    inherited from meta) gates identically to an index built whole —
    the rebuild-equality contract every append verb in this repo
    carries. Plus the guards: drifted column names and drifted types
    both reject loudly."""
    import pytest as _pytest

    from airline_data_pipeline_spark.io.readers import table as t
    from airline_data_pipeline_spark.operators import similarity

    e = t(spark, SF, "embeddings").select(
        "vec_id", "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    ref = e.filter(F.col("label") == 0)
    inc = e.filter(F.col("label") != 0)

    whole = str(tmp_path / "srp_whole")
    similarity.write_srp_index(ref, whole, dims=64, n_bits=2, n_tables=24)
    via_index = {
        r["vec_id"]
        for r in similarity.embedding_gate_against_index(
            inc, whole, threshold=0.45, round_digits=4
        ).collect()
    }
    via_ref = {
        r["vec_id"]
        for r in similarity.embedding_gate_against_reference(
            inc, ref, threshold=0.45, n_bits=2, n_tables=24, round_digits=4
        ).collect()
    }
    assert via_index == via_ref and via_index

    grown = str(tmp_path / "srp_grown")
    similarity.write_srp_index(
        ref.filter(F.col("vec_id") % 2 == 0), grown,
        dims=64, n_bits=2, n_tables=24,
    )
    similarity.append_to_srp_index(ref.filter(F.col("vec_id") % 2 == 1), grown)
    via_grown = {
        r["vec_id"]
        for r in similarity.embedding_gate_against_index(
            inc, grown, threshold=0.45, round_digits=4
        ).collect()
    }
    assert via_grown == via_index

    with _pytest.raises(ValueError, match="rename to the artifact"):
        similarity.append_to_srp_index(
            ref.withColumnRenamed("vec_id", "id"), grown
        )
    with _pytest.raises(ValueError, match="schema-drifted"):
        similarity.append_to_srp_index(
            ref.select(
                "vec_id",
                F.transform(
                    "embedding", lambda x: x.cast("float")
                ).alias("embedding"),
            ),
            grown,
        )


def test_srp_hot_bucket_ledger_skips_only_hot(spark, tmp_path):
    """The stored SRP gate's skew guard (VERDICT r13 #2): a crafted
    boilerplate cluster makes its buckets hot; `refresh_srp_hot_buckets`
    lists them; `skip_hot=True` then (a) ADMITS a batch vector whose
    only matches live in hot buckets (the documented recall trade —
    its |cluster|x|batch| pair blowup never materializes), (b) leaves
    every non-hot gate decision unchanged, and (c) is loud when the
    ledger was never materialized. fsck tolerates the ledger and
    sweeps its swap residue."""
    from airline_data_pipeline_spark.io.localrel import local_df
    from airline_data_pipeline_spark.operators import similarity

    def vec(axis, val=1.0):
        v = [0.0] * 64
        v[axis] = val
        return v

    # 60 identical "boilerplate" vectors on axis 0 -> one (tbl, bucket)
    # key per table with occupancy 60; two singleton vectors elsewhere
    ref_rows = [(100 + i, vec(0)) for i in range(60)]
    ref_rows += [(200, vec(1)), (201, vec(2))]
    ref = local_df(spark, ref_rows, "vec_id bigint, embedding array<double>")
    idx = str(tmp_path / "srp_hot")
    similarity.write_srp_index(ref, idx, dims=64, n_bits=8, n_tables=4)

    batch = local_df(
        spark,
        [(1, vec(0)), (2, vec(1)), (3, vec(3))],
        "vec_id bigint, embedding array<double>",
    )

    # ledger not materialized -> loud
    with pytest.raises(ValueError, match="refresh_srp_hot_buckets"):
        similarity.embedding_gate_against_index(
            batch, idx, threshold=0.95, skip_hot=True
        )

    n_hot = similarity.refresh_srp_hot_buckets(spark, idx, hot_threshold=50)
    assert n_hot == 4  # the cluster's one bucket per table, all 4 tables

    unguarded = {
        r["vec_id"]
        for r in similarity.embedding_gate_against_index(
            batch, idx, threshold=0.95
        ).collect()
    }
    assert unguarded == {3}  # 1 dups the cluster, 2 dups vec 200

    guarded = {
        r["vec_id"]
        for r in similarity.embedding_gate_against_index(
            batch, idx, threshold=0.95, skip_hot=True
        ).collect()
    }
    # hot-cluster dup (1) is ADMITTED -- skipped, not scored; the
    # non-hot dup (2) still drops; the novel vector (3) still survives
    assert guarded == {1, 3}

    # fsck: a clean index with a ledger reports nothing; ledger swap
    # residue is swept without touching the live ledger
    assert similarity.fsck_srp_index(spark, idx, clean=True).count() == 0
    (tmp_path / "srp_hot" / "hotbuckets__refreshing").mkdir()
    findings = similarity.fsck_srp_index(spark, idx, clean=True).collect()
    assert [f["component"] for f in findings] == ["hotbuckets"]
    assert findings[0]["action"] == "deleted"
    after = {
        r["vec_id"]
        for r in similarity.embedding_gate_against_index(
            batch, idx, threshold=0.95, skip_hot=True
        ).collect()
    }
    assert after == guarded


def test_srp_compaction_is_gate_invisible_and_shrinks_files(spark, tmp_path):
    """VERDICT r13 #6 — the SRP artifact's compaction verb: after a
    build plus two appends (small-file accumulation), compact_srp_index
    must shrink both tables' file counts with gate results identical,
    the hot-bucket ledger still valid, and fsck finding nothing."""
    import glob

    from airline_data_pipeline_spark.io.readers import table as t
    from airline_data_pipeline_spark.operators import similarity

    e = t(spark, SF, "embeddings").select(
        "vec_id", "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    ref = e.filter(F.col("label") == 0)
    inc = e.filter(F.col("label") != 0)
    idx = str(tmp_path / "srp_compact")
    similarity.write_srp_index(
        ref.filter(F.col("vec_id") % 3 == 0), idx,
        dims=64, n_bits=2, n_tables=24, num_files=8,
    )
    similarity.append_to_srp_index(ref.filter(F.col("vec_id") % 3 == 1), idx)
    similarity.append_to_srp_index(ref.filter(F.col("vec_id") % 3 == 2), idx)
    similarity.refresh_srp_hot_buckets(spark, idx, hot_threshold=64)

    def gate():
        return {
            r["vec_id"]
            for r in similarity.embedding_gate_against_index(
                inc, idx, threshold=0.45, round_digits=4, skip_hot=True
            ).collect()
        }

    def nfiles(tbl):
        return len(glob.glob(f"{idx}/{tbl}/part-*.parquet"))

    before = gate()
    files_before = (nfiles("buckets"), nfiles("vectors"))
    similarity.compact_srp_index(spark, idx, num_files=4)
    assert nfiles("buckets") <= 4 < files_before[0]
    assert nfiles("vectors") <= 4 < files_before[1]
    assert gate() == before
    assert similarity.fsck_srp_index(spark, idx).count() == 0


def test_split_hot_cells_rebalances_locally_and_stays_exact(spark, tmp_path):
    """Round-14 lifecycle verb: LOCAL rebalancing of a drifted IVF
    index. A coarse 4-centroid build guarantees (pigeonhole) a cell
    over a 20% cap; split_hot_cells must (a) split only hot cells,
    re-assigning just their rows (other cells' files untouched),
    (b) keep probe-all bit-identical to the exact brute force,
    (c) grow the dense centroid range and bump fit_gen (PQ staleness
    trigger), (d) leave fsck with nothing to report, and (e) recover
    from a crash between the model commit and the row moves via the
    fsck finisher."""
    import glob
    import os

    from airline_data_pipeline_spark.functions.numeric import round_half_up
    from airline_data_pipeline_spark.io.readers import table as t
    from airline_data_pipeline_spark.operators import similarity
    from airline_data_pipeline_spark.operators.topk import top_k_per_group

    e = t(spark, SF, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    q = e.filter(F.col("vec_id") < 5)
    idx = str(tmp_path / "ivf_split")
    similarity.write_ivf_index(e, idx, n_centroids=4)
    md0 = spark.read.parquet(idx + "/meta").first().asDict()

    def probe_all_top5(root):
        scored = similarity.ivf_index_scores(q, root, nprobe=99)
        rounded = scored.select(
            "query_id", "neighbor_id",
            round_half_up(F.col("score"), 4).alias("score"),
        )
        return sorted(
            (r["query_id"], r["neighbor_id"], r["score"])
            for r in top_k_per_group(
                rounded, ["query_id"], "score", 5, tiebreakers=["neighbor_id"]
            ).collect()
        )

    def counts(root):
        return {
            int(r["cell"]): int(r["n"])
            for r in spark.read.parquet(root + "/cells")
            .groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
        }

    # rank on ROUNDED score with id tiebreak on BOTH sides (the suite's
    # determinism discipline) so a 4dp tie cannot flip the comparison
    exact_scored = similarity.brute_force_scores(e, q).select(
        "query_id", "neighbor_id",
        round_half_up(F.col("score"), 4).alias("score"),
    )
    exact = sorted(
        (r["query_id"], r["neighbor_id"], r["score"])
        for r in top_k_per_group(
            exact_scored, ["query_id"], "score", 5, tiebreakers=["neighbor_id"]
        ).collect()
    )
    before_counts = counts(idx)
    total = sum(before_counts.values())
    hot_before = {c for c, n in before_counts.items() if n > 0.2 * total}
    assert hot_before  # pigeonhole: 4 cells, one must exceed 20%
    cold_files_before = {
        c: sorted(glob.glob(f"{idx}/cells/cell={c}/part-*.parquet"))
        for c in before_counts if c not in hot_before
    }

    done = similarity.split_hot_cells(
        spark, idx, max_cell_fraction=0.2, n_splits=2
    )
    assert done and all(len(gids) >= 2 for _, gids in done)
    split_cells = {c for c, _ in done}
    assert split_cells <= hot_before

    after_counts = counts(idx)
    assert sum(after_counts.values()) == total  # no row lost or duplicated
    for c, gids in done:
        assert after_counts.get(c, 0) < before_counts[c]  # actually split
        assert all(g in after_counts or after_counts.get(g, 0) >= 0 for g in gids)
    # untouched cells: identical files (LOCALITY — the point of the verb)
    for c, files in cold_files_before.items():
        assert sorted(
            glob.glob(f"{idx}/cells/cell={c}/part-*.parquet")
        ) == files

    md1 = spark.read.parquet(idx + "/meta").first().asDict()
    assert md1["n_centroids"] == md0["n_centroids"] + sum(
        len(g) - 1 for _, g in done
    )
    assert md1["fit_gen"] == md0["fit_gen"] + len(done)
    assert md1["n_rows"] == md0["n_rows"]
    # dense centroid range (load_ivf_index's matrix-row == cell-id law)
    cent_ids = sorted(
        r["cell"] for r in spark.read.parquet(idx + "/centroids").collect()
    )
    assert cent_ids == list(range(md1["n_centroids"]))

    assert probe_all_top5(idx) == exact
    assert similarity.fsck_ivf_index(spark, idx).count() == 0
    # idempotent: nothing hot at a sane cap -> no-op
    assert similarity.split_hot_cells(spark, idx, max_cell_rows=total) == []

    # ---- crash between model commit and row moves ----
    idx2 = str(tmp_path / "ivf_split_crash")
    similarity.write_ivf_index(e, idx2, n_centroids=4)
    orig = similarity._finish_cell_split

    def crash_finish(spark_, index_dir_, stage_, old_cell_):
        raise RuntimeError("injected crash before the row moves")

    similarity._finish_cell_split = crash_finish
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            similarity.split_hot_cells(
                spark, idx2, max_cell_fraction=0.2, n_splits=2
            )
    finally:
        similarity._finish_cell_split = orig
    stages = [d for d in os.listdir(idx2) if d.startswith("cellsplit__staging_")]
    assert stages  # model committed, rows not moved
    # probe-all is STILL exact in this state (rows all in the old cell;
    # new centroids probe an empty dir)
    assert probe_all_top5(idx2) == exact
    report = similarity.fsck_ivf_index(spark, idx2, clean=False).collect()
    assert any("interrupted cell split" in r["issue"] for r in report)
    cleaned = similarity.fsck_ivf_index(spark, idx2, clean=True).collect()
    assert any(
        r["action"].startswith("finished interrupted cell split")
        for r in cleaned
    )
    assert not [
        d for d in os.listdir(idx2) if d.startswith("cellsplit__staging_")
    ]
    assert probe_all_top5(idx2) == exact
    assert similarity.fsck_ivf_index(spark, idx2).count() == 0

    # ---- a stage from BEFORE the model commit is an inert copy ----
    os.makedirs(idx2 + "/cellsplit__staging_0/cell=999")
    with open(idx2 + "/cellsplit__staging_0/_SUCCESS", "w"):
        pass
    cleaned = similarity.fsck_ivf_index(spark, idx2, clean=True).collect()
    assert any("before its model commit" in r["issue"] for r in cleaned)
    assert not os.path.exists(idx2 + "/cellsplit__staging_0")
    assert probe_all_top5(idx2) == exact


def test_pq_reencode_covers_cell_split(spark, tmp_path):
    """Compose check for the r14 split verb and the PQ artifact: a
    split bumps fit_gen, so PQ probes go LOUDLY stale (never silently
    wrong), and one re-encode pass (add_pq_to_ivf_index on the live
    cells) restores PQ serving over the new cell layout with the exact
    re-rank contract intact."""
    from airline_data_pipeline_spark.functions.numeric import round_half_up
    from airline_data_pipeline_spark.io.readers import table as t
    from airline_data_pipeline_spark.operators import similarity
    from airline_data_pipeline_spark.operators.topk import top_k_per_group

    e = t(spark, SF, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    q = e.filter(F.col("vec_id") < 3)
    idx = str(tmp_path / "ivf_split_pq")
    similarity.write_ivf_index(e, idx, n_centroids=4)
    similarity.add_pq_to_ivf_index(spark, idx, m=16, ksub=256)

    done = similarity.split_hot_cells(
        spark, idx, max_cell_fraction=0.2, n_splits=2
    )
    assert done
    # stale PQ must be loud, not wrong
    with pytest.raises(ValueError, match="fit_gen"):
        similarity.ivf_pq_index_scores(q, idx, nprobe=99, rerank=150).collect()

    similarity.add_pq_to_ivf_index(spark, idx, m=16, ksub=256)
    assert similarity.fsck_ivf_index(spark, idx).count() == 0

    def top5(df):
        rounded = df.select(
            "query_id", "neighbor_id",
            round_half_up(F.col("score"), 4).alias("score"),
        )
        return sorted(
            (r["query_id"], r["neighbor_id"], r["score"])
            for r in top_k_per_group(
                rounded, ["query_id"], "score", 5, tiebreakers=["neighbor_id"]
            ).collect()
        )

    exact = top5(similarity.ivf_index_scores(q, idx, nprobe=99))
    via_pq = top5(similarity.ivf_pq_index_scores(q, idx, nprobe=99, rerank=150))
    assert via_pq == exact  # probe-all + exact re-rank over the split layout


def test_hoisted_norm_scorers_bit_identical(spark, emb, tmp_path):
    """VERDICT r14 #1 — the brute_force_scores norm-precompute pattern
    finished across every pair-scoring site (LSH, inline IVF, both
    stored-index IVF probes incl. the PQ exact re-rank, and the
    cosine near-dup verify): each site's scores must be BIT-identical
    to the naive five-HOF `cosine_similarity` expression recomputed on
    the very same pairs — exceptAll on raw doubles, no rounding, both
    directions."""
    from airline_data_pipeline_spark.functions.vectors import (
        cosine_similarity,
    )
    from airline_data_pipeline_spark.operators import similarity

    e = emb
    q = e.filter(F.col("vec_id") < 15)

    def naive_twin(scored, qcol, ncol, score_col):
        va = e.select(
            F.col("vec_id").alias(qcol), F.col("embedding").alias("__a")
        )
        vb = e.select(
            F.col("vec_id").alias(ncol), F.col("embedding").alias("__b")
        )
        return (
            scored.select(qcol, ncol)
            .join(va, qcol)
            .join(vb, ncol)
            .withColumn(
                score_col, cosine_similarity(F.col("__a"), F.col("__b"))
            )
            .select(qcol, ncol, score_col)
        )

    def check(scored, qcol="query_id", ncol="neighbor_id", score_col="score"):
        got = scored.select(qcol, ncol, score_col)
        want = naive_twin(scored, qcol, ncol, score_col)
        assert got.count() > 0
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0

    check(similarity.lsh_scores(e, q, n_bits=4, n_tables=12))
    check(similarity.ivf_scores(e, q, n_centroids=8, nprobe=8))
    idx = str(tmp_path / "ivf_bitident")
    similarity.write_ivf_index(e, idx, n_centroids=8)
    check(similarity.ivf_index_scores(q, idx, nprobe=8))
    similarity.add_pq_to_ivf_index(spark, idx, m=16, ksub=16)
    check(similarity.ivf_pq_index_scores(q, idx, nprobe=8, rerank=50))
    check(
        similarity.cosine_near_dup_pairs(e, threshold=0.3, n_bits=4, n_tables=8),
        "id_a", "id_b", "cosine",
    )


def test_hoisted_gate_verifies_match_exhaustive_naive_truth(spark, emb, tmp_path):
    """VERDICT r14 #1, the gate sites (embedding_gate_against_reference
    and the stored-index/loaded-handles SRP gate): survivor sets at
    raw-IEEE threshold semantics (round_digits=None) must equal the
    exhaustive ground truth computed with the naive five-HOF
    expression over the full cross join — a 1-ulp difference in the
    hoisted verify at the threshold boundary would flip membership."""
    from airline_data_pipeline_spark.functions.vectors import (
        cosine_similarity,
    )
    from airline_data_pipeline_spark.operators import similarity

    e = emb
    ref = e.filter(F.col("vec_id") % 2 == 0).select("vec_id", "embedding")
    new = e.filter(F.col("vec_id") % 2 == 1).select("vec_id", "embedding")
    t = 0.45
    contaminated = {
        r["vec_id"]
        for r in new.alias("n")
        .crossJoin(ref.alias("r"))
        .withColumn(
            "__c",
            cosine_similarity(F.col("n.embedding"), F.col("r.embedding")),
        )
        .filter(F.col("__c") >= t)
        .select(F.col("n.vec_id").alias("vec_id"))
        .distinct()
        .collect()
    }
    want = sorted(
        r["vec_id"] for r in new.select("vec_id").collect()
        if r["vec_id"] not in contaminated
    )
    assert contaminated and want  # both classes populated

    got_ref = sorted(
        r["vec_id"]
        for r in similarity.embedding_gate_against_reference(
            new, ref, threshold=t, n_bits=2, n_tables=24
        ).select("vec_id").collect()
    )
    assert got_ref == want

    idx = str(tmp_path / "srp_bitident")
    similarity.write_srp_index(ref, idx, dims=64, n_bits=2, n_tables=24)
    got_idx = sorted(
        r["vec_id"]
        for r in similarity.embedding_gate_against_index(
            new, idx, threshold=t
        ).select("vec_id").collect()
    )
    assert got_idx == want


def test_batched_subcentroid_fit_matches_per_cell(spark):
    """r16 (VERDICT r15 #4): `_fit_subcentroids_batched` computes every
    hot cell's sub-centroid matrix in two jobs total; per cell it must
    reproduce `_fit_centroids` run on that cell alone (same seed
    sample, same Lloyd means, same normalization — any deviation would
    mean the batched assignment or fallback arithmetic drifted)."""
    import numpy as np

    from airline_data_pipeline_spark.operators import similarity

    e = table(spark, SF, "embeddings").select(
        F.col("vec_id").alias("neighbor_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("__cv"),
        (F.col("vec_id") % 2).cast("int").alias("cell"),
    )
    batched = similarity._fit_subcentroids_batched(
        e, [0, 1], n_splits=2, refine_iters=1
    )
    assert set(batched) == {0, 1}
    for c in (0, 1):
        per = similarity._fit_centroids(
            e.filter(F.col("cell") == c).select("neighbor_id", "__cv"),
            "neighbor_id", "__cv", 2, 1,
        )
        assert batched[c].shape == per.shape
        assert np.allclose(batched[c], per, atol=1e-9), c
