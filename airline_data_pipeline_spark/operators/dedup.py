"""Deduplication family (SURVEY.md §2.10; training-data pipeline core).

Five strategies over a document table, all expression-first:

- exact:          hash-groupBy on a normalized fingerprint
- minhash_lsh:    shingle → minhash signature → banded LSH buckets →
                  candidate pairs → exact-Jaccard verify
- simhash:        64-bit sign-of-weighted-sum fingerprint; near-dup =
                  small Hamming distance; banded for candidate gen
- ngram_jaccard:  exact Jaccard on word n-gram sets for candidate pairs
- (embedding cosine near-dup lives in operators/similarity.py)

Scale design: every strategy avoids the O(n²) cross join. Candidates
come from equality joins on bucket keys (shuffle on bucket id, AQE
handles skewed buckets); only candidates pay the exact-verify cost.
All hashing is xxhash64/murmur3 with fixed seeds — deterministic
across runs and partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from airline_data_pipeline_spark.io.localrel import local_df
from airline_data_pipeline_spark.io.readers import (
    count_parquet_rows,
    read_meta_first,
)
from airline_data_pipeline_spark.functions.text import (
    fingerprint,
    portable_hash60,
    shingles,
    tokens,
)


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------
def dedup_exact(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep one row per key set — the row with the smallest id.

    `dropDuplicates` keeps an arbitrary row; min_by keeps a
    *deterministic* one (oracle-testable, idempotent across runs).

    Formulation: ``groupBy(keys).agg(min_by(struct(row), id))`` — ONE
    shuffle, one evaluation of df's lineage, WITH map-side partial
    aggregation: each mapper emits at most one candidate row per key,
    so a boilerplate document duplicated millions of times collapses on
    the mappers instead of landing on one reducer. Two alternatives
    were interleave-A/B'd at a 10x sf0.1 corpus (5 reps each, both a
    plain scan and an expensive filtered lineage upstream) and lost:
    a groupBy+left_semi join evaluates the upstream lineage TWICE
    (build + probe — med 3.19 s gated vs 1.33 here) and its broadcast
    escape hatch dies at corpus scale anyway; a row_number window ties
    on time (med 1.37 gated) but needs a per-key sort and cannot
    partially aggregate, so a hot key serializes onto one task.

    NULL ids (verified empirically): min_by skips NULL ordering values
    within a group, so a mixed group keeps its min non-NULL id; an
    all-NULL-id group yields ONE all-NULL row — key column included,
    because min_by over an all-NULL ordering is a NULL struct — where
    the old semi-join dropped the group (NULL join keys never match).
    Callers' ids (doc_id, primary keys) are non-NULL by contract.
    """
    rest = F.min_by(F.struct(*df.columns), F.col(id_col)).alias("__row")
    return df.groupBy(*key_cols).agg(rest).select("__row.*")


def dedup_exact_text(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact content dedup on the normalized 64-bit fingerprint.

    Hashing first means the group key is 8 bytes regardless of document
    size; the min_by partial aggregate then ships at most one full row
    per (mapper, fingerprint) — at 100 TB the shuffle is bounded by the
    number of distinct documents each mapper sees, never by the
    duplicate count.
    """
    with_fp = df.withColumn("__fp", fingerprint(F.col(text_col)))
    return dedup_exact(with_fp, ["__fp"], id_col).drop("__fp")


def _reuse(df: DataFrame) -> DataFrame:
    """Materialize a derived SELF-JOIN input once (lazy localCheckpoint)
    so both join sides read the same RDD blocks.

    Without this, Catalyst plans the whole derivation subtree ONCE PER
    JOIN SIDE: `dedup_minhash`'s banded table re-ran the 32-hash
    signature aggregate twice, `simhash_near_dups` the 60-bit vote
    aggregate twice, `winnow_shared_pairs` the sliding-min window pass
    twice (r15 plan audit: two identical Generate→HashAggregate→
    Exchange subtrees under the self-join). The key tables are narrow
    (8-24 bytes/row), so the materialization is cheap against halving
    the derivation. localCheckpoint, not persist, for the lifecycle
    reasons in `dedup_minhash_against_reference`'s docstring (no pinned
    CacheManager entry from a lazy-returning helper)."""
    return df.localCheckpoint(eager=False)


# ---------------------------------------------------------------------------
# MinHash + banded LSH
# ---------------------------------------------------------------------------
def shingle_sets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
) -> DataFrame:
    """(id, __sh: array<long>) — the distinct hashed shingle set per doc.

    Shingle strings are hashed to 64-bit longs immediately: every
    downstream op (minhash, Jaccard intersect/union, the candidate
    shuffle) then works on fixed-width longs instead of re-comparing /
    re-shuffling strings. Jaccard over hashed shingles equals Jaccard
    over the strings up to xxhash64 collisions (~n²/2⁶⁴, negligible).
    This is the single most important cost lever of the text-dedup
    family at corpus scale.
    """
    return df.select(
        F.col(id_col),
        F.array_distinct(
            F.transform(shingles(F.col(text_col), shingle_k), lambda s: F.xxhash64(s))
        ).alias("__sh"),
    )


def _banded_buckets(
    sh: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band, bucket) rows: the LSH shuffle keys.

    One row per (doc, band); bucket = hash of that band's signature
    slice. The join key is 16 bytes/row regardless of document size.

    Signatures are computed as explode(shingles) → groupBy(id) with one
    `min(xxhash64(seed, s))` aggregate per seed: every expression stays
    inside whole-stage codegen with map-side partial aggregation (the
    shuffle carries one 32-long partial signature per doc per map
    partition). The equivalent per-row array fold (`aggregate` +
    `zip_with` over the shingle array) runs interpreted, outside
    whole-stage codegen, and measured ~5× slower on the same data; the
    min-per-seed values are identical, so candidates don't change.
    Docs with zero shingles drop out here (no rows to explode) — they
    can only pair with other empty docs, and those pairs are removed by
    the Jaccard verify anyway (0/0 → NULL fails every threshold).
    """
    rows_per_band = num_hashes // bands
    ex = sh.select(F.col(id_col), F.explode("__sh").alias("__s"))
    sig = ex.groupBy(id_col).agg(
        *[
            F.min(F.xxhash64(F.lit(i), F.col("__s"))).alias(f"__m{i}")
            for i in range(num_hashes)
        ]
    )
    return sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.col(f"__m{b * rows_per_band + r}")
                                for r in range(rows_per_band)
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH.

    bands=8 over 32 hashes → rows-per-band r=4; collision prob is
    1-(1-j⁴)⁸ — steep around Jaccard ≈ 0.6. Pairs sharing ANY band
    bucket are candidates. Returns distinct (id_a, id_b) with a < b.

    Shuffle profile: explode to (band, bucket) keys → self-join on the
    bucket key. No cross join anywhere. Hot buckets (boilerplate docs)
    make the self-join quadratic in membership; ``max_bucket_size``
    drops them up front (see `similarity.cap_hot_buckets`) — the
    standard 100 TB guard, since exact fingerprint dedup already
    catches the identical docs that dominate such buckets.
    """
    from airline_data_pipeline_spark.operators.similarity import cap_hot_buckets

    sh = shingle_sets(df, text_col, id_col, shingle_k)
    # _reuse BEFORE the cap: the hot-bucket count aggregate and the
    # anti-join left side would otherwise each re-derive the signatures
    # too (three evaluations with a cap, two without)
    banded = cap_hot_buckets(
        _reuse(_banded_buckets(sh, id_col, num_hashes, bands)),
        ["band", "bucket"],
        max_bucket_size,
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def jaccard_verify(
    candidates: DataFrame,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.7,
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs (the verify step).

    Joins the hashed-shingle sets onto the (small) candidate set — the
    set math runs only on pairs LSH surfaced, over long arrays.
    Pass ``shingle_df`` (from `shingle_sets`, ideally persisted) to
    reuse one computation across candidates and verify.
    """
    sh = (
        shingle_df
        if shingle_df is not None
        else shingle_sets(df, text_col, id_col, shingle_k)
    )
    out = (
        candidates.join(
            sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("__sh", "__sh_a"),
            "id_a",
        )
        .join(
            sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("__sh", "__sh_b"),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("__sh_a", "__sh_b"))
            / F.size(F.array_union("__sh_a", "__sh_b")),
        )
        .drop("__sh_a", "__sh_b")
    )
    return out.filter(F.col("jaccard") >= threshold)


def dedup_minhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Full near-dup removal: LSH candidates → Jaccard verify → drop the
    higher id of each dup pair (connected-component-lite: one pass,
    keeps the minimum id of each pairwise-discovered cluster edge).

    The hashed-shingle sets are computed once and locally checkpointed
    (eager=False) — they feed both the banding pass and the verify
    join. At cluster scale this materialization is ~8 bytes × shingles,
    far cheaper than re-tokenizing the corpus twice. Round-8's
    interleaved A/B established reuse beats recompute (persist 1.48 s
    vs recompute 2.10 s median at sf0.1); round 9 re-ran the A/B
    between the two REUSE mechanisms with forced GC between reps:
    persist median 2.04 s vs localCheckpoint 2.00 s (min 1.97 vs 1.66)
    — equal-or-better, and the checkpoint variant leaves no pinned
    CacheManager entry (an unpaired .persist() in a lazy-returning
    helper accumulates one per call in long-lived sessions; checkpoint
    blocks are ContextCleaner-freed after the result lineage is GC'd —
    the same hygiene argument as the incremental gates above).
    """
    from airline_data_pipeline_spark.operators.similarity import cap_hot_buckets

    sh = shingle_sets(df, text_col, id_col, shingle_k).localCheckpoint(eager=False)
    # checkpointing sh makes the SHINGLING run once, but the banded
    # self-join still re-ran the 32-hash signature aggregate per side
    # until r15 — _reuse materializes the (id, band, bucket) keys once
    banded = cap_hot_buckets(
        _reuse(_banded_buckets(sh, id_col, num_hashes, bands)),
        ["band", "bucket"],
        max_bucket_size,
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    dups = jaccard_verify(
        pairs, df, text_col, id_col, shingle_k, threshold, shingle_df=sh
    )
    to_drop = dups.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(to_drop, on=id_col, how="left_anti")


def dedup_minhash_against_reference(
    new_df: DataFrame,
    ref_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int = 16,
    shingle_k: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Incremental near-dup gate: rows of ``new_df`` with NO near-dup
    (n-gram Jaccard ≥ threshold) in ``ref_df``.

    The incremental-ingest primitive for a frozen training corpus
    (reference semantics: the anti-join re-ingest guard of
    /root/reference/dags/flight_data_pipeline.py upload step, lifted
    from exact keys to near-duplicate text): each new batch is banded
    with the SAME minhash seeds as the reference, candidates come only
    from cross-set bucket collisions (new × ref — never new × new or
    ref × ref, so a batch with internal dups is not self-filtered), and
    every candidate is verified with exact Jaccard over hashed shingles.

    Scale shape: the reference side's (band, bucket) keys are a
    write-once artifact at 100 TB — only the (small) incoming batch is
    shingled per run, and the join shuffles 16-byte keys. Hot buckets
    are capped on the UNION of both sides (a boilerplate bucket is
    quadratic in |new ∩ bucket| × |ref ∩ bucket|, so per-side caps
    under-count); as in `minhash_candidates`, capping trades recall on
    boilerplate for bounded task time and exact dedup catches the
    identical docs such buckets contain.
    """
    from airline_data_pipeline_spark.operators.similarity import (
        cap_hot_buckets_two_sided,
    )

    # localCheckpoint(eager=False), NOT .persist(): this one-shot helper
    # returns a lazy plan, so an internal .persist() can never be paired
    # with an unpersist — repeated gate calls in a long-lived session
    # would accumulate pinned CacheManager entries forever (the SQL
    # cache is not GC-cleaned). Local checkpoints give the same
    # compute-once reuse across the banding and verify branches but
    # live as plain RDD blocks: no CacheManager entry, and the
    # ContextCleaner frees them once the result's lineage is
    # unreachable (GC-verified; spark.cleaner.periodicGC bounds the
    # worst case). Interleaved A/B at sf0.1 (4 reps each):
    # lckpt 1.93 s < persist 2.10 < recompute 2.75 median.
    # Cluster caveat: checkpoint truncates lineage, so losing an
    # executor mid-job retries the job instead of recomputing the
    # branch — fine for a gate job; callers wanting explicit lifecycle
    # control use `gate_against_loaded_index`.
    sh_new = shingle_sets(new_df, text_col, id_col, shingle_k).localCheckpoint(
        eager=False
    )
    sh_ref = shingle_sets(ref_df, text_col, id_col, shingle_k).localCheckpoint(
        eager=False
    )
    b_new = _banded_buckets(sh_new, id_col, num_hashes, bands)
    b_ref = _banded_buckets(sh_ref, id_col, num_hashes, bands)
    b_new, b_ref = cap_hot_buckets_two_sided(
        b_new, b_ref, ["band", "bucket"], max_bucket_size
    )
    pairs = (
        b_new.alias("n")
        .join(
            b_ref.alias("r"),
            (F.col("n.band") == F.col("r.band"))
            & (F.col("n.bucket") == F.col("r.bucket")),
        )
        .select(
            F.col(f"n.{id_col}").alias("new_id"),
            F.col(f"r.{id_col}").alias("ref_id"),
        )
        .distinct()
    )
    verified = (
        pairs.join(
            sh_new.select(
                F.col(id_col).alias("new_id"), F.col("__sh").alias("__sh_n")
            ),
            "new_id",
        )
        .join(
            sh_ref.select(
                F.col(id_col).alias("ref_id"), F.col("__sh").alias("__sh_r")
            ),
            "ref_id",
        )
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("__sh_n", "__sh_r"))
            / F.size(F.array_union("__sh_n", "__sh_r")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    contaminated = verified.select(F.col("new_id").alias(id_col)).distinct()
    return new_df.join(contaminated, on=id_col, how="left_anti")


def write_minhash_index(
    ref_df: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 16,
    shingle_k: int = 3,
    num_files: int = 32,
) -> None:
    """Materialize a reference corpus's MinHash LSH index as a
    write-once parquet artifact: ``index_dir/buckets`` holds the
    (id, band, bucket) LSH keys, ``index_dir/shingles`` the hashed
    shingle sets for exact verification, ``index_dir/meta`` a one-row
    parameter table (banding params are part of the artifact — a batch
    gated with different seeds/bands would silently miss everything).

    This makes `dedup_minhash_against_reference`'s "the reference side
    is a write-once artifact at 100 TB" claim literal: the frozen
    corpus is shingled and banded ONCE at index-build time; every
    subsequent ingest batch reads (never recomputes, never shuffles)
    these files. Both tables are written multi-file so the gate's scans
    parallelize (the single-file starved-scan lesson, TESTDATA layouts).
    """
    spark = ref_df.sparkSession
    sh = shingle_sets(ref_df, text_col, id_col, shingle_k).persist()
    _banded_buckets(sh, id_col, num_hashes, bands).repartition(
        num_files, "band", "bucket"
    ).write.mode("overwrite").parquet(index_dir + "/buckets")
    sh.repartition(num_files, id_col).write.mode("overwrite").parquet(
        index_dir + "/shingles"
    )
    # local_df: the plain createDataFrame(list) path evaluates 32
    # sequential Python workers inside the coalesce(1) write task —
    # a measured 4-5 s fixed tax per tiny meta write (io/localrel.py).
    # id_col/text_col are part of the artifact (ADVICE r11): appends
    # inherit them like the banding params, so a caller can't land
    # bucket/shingle files keyed by a differently-NAMED id column that
    # later gate scans (no mergeSchema) would read back as null.
    # banding_gen names the buckets directory generation (0 = the
    # unsuffixed "buckets" dir, for pre-gen artifact compatibility).
    # reband_minhash_index bumps it: the new buckets land in a NEW
    # gen-named dir and the meta stamp is the single atomic switch —
    # there is no window where gates band a batch with one parameter
    # set and join it against buckets built with another (that state
    # matches nothing and silently admits every duplicate).
    local_df(
        spark,
        [(num_hashes, bands, shingle_k, id_col, text_col, 0)],
        "num_hashes int, bands int, shingle_k int, "
        "id_col string, text_col string, banding_gen int",
    ).coalesce(1).write.mode("overwrite").parquet(index_dir + "/meta")
    sh.unpersist()


def _buckets_dir(index_dir: str, md: dict) -> str:
    """Resolve the live buckets directory from the meta row: gen 0 is
    the unsuffixed ``buckets`` (every artifact written before rebanding
    existed, and every fresh build), gen N>0 is ``buckets_g<N>``."""
    gen = md.get("banding_gen") or 0
    return (
        index_dir + "/buckets" if gen == 0 else f"{index_dir}/buckets_g{gen}"
    )


def append_to_minhash_index(
    batch_df: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_files: int = 8,
) -> None:
    """Grow a stored MinHash index with a newly-admitted corpus batch —
    the lifecycle step the write-once artifact needs once gated batches
    start JOINING the frozen corpus (gate the batch first with
    `dedup_minhash_against_index`, then append what was kept, so the
    next batch is deduplicated against it too).

    Banding parameters come from the index's OWN meta table — an append
    cannot drift seeds/bands/shingle width by construction, so the
    appended rows are bit-identical to what a from-scratch rebuild on
    the union corpus would produce (banding is per-row deterministic;
    oracle-checked end-to-end by `incremental_dedup_via_merged_index`).
    So do the COLUMN names: indexes written since r12 record
    id_col/text_col in meta and the append inherits them (the
    ``text_col``/``id_col`` arguments are the fallback for pre-r12
    artifacts only — ADVICE r11: an append called with a different
    id_col used to pass the type guard, land differently-NAMED id
    columns, and later gates silently read them back as null).
    Only the NEW batch is shingled; the stored buckets/shingles are
    never read, never rewritten, never shuffled — the append cost is
    O(batch) regardless of index size, which is the whole point at
    100 TB. Meta is unchanged (it is a param table; both sub-tables
    self-describe their row counts in parquet footers).
    """
    spark = batch_df.sparkSession
    meta = read_meta_first(spark, index_dir + "/meta")
    md = meta.asDict()
    # inherit the artifact's own column names when recorded, exactly
    # like the banding params — the caller's args can't drift them
    id_col = md.get("id_col") or id_col
    text_col = md.get("text_col") or text_col
    missing = [c for c in (id_col, text_col) if c not in batch_df.columns]
    if missing:
        raise ValueError(
            f"index append rejected a batch for {index_dir}: the index "
            f"records id_col/text_col = "
            f"({id_col!r}, {text_col!r}) but the batch has no "
            f"{missing} column(s) — rename the batch columns to the "
            f"index's (appends inherit the artifact's column names, "
            f"like its banding params)"
        )
    sh = shingle_sets(batch_df, text_col, id_col, meta["shingle_k"]).persist()
    # schema guard (review r11): parquet append validates nothing, so a
    # batch whose id column drifted in TYPE (int vs the stored long,
    # say) would land physically-mixed files that fail confusingly at
    # the next gate's scan. One driver-local footer-schema comparison
    # fails loudly instead.
    stored = {
        f.name: f.dataType
        for f in spark.read.parquet(index_dir + "/shingles").schema.fields
    }
    # the NAME SETS must match exactly (ADVICE r11): a pre-r12 artifact
    # has no recorded id_col, and an append with a drifted id name used
    # to slip past a both-sides-only comparison — the missing column
    # reads back as null in later gate scans (no mergeSchema), which
    # corrupts dedup results instead of failing
    batch_names = {f.name for f in sh.schema.fields}
    if batch_names != set(stored):
        sh.unpersist()
        raise ValueError(
            f"index append rejected a schema-drifted batch for "
            f"{index_dir}: batch columns {sorted(batch_names)} != stored "
            f"{sorted(stored)} — rename the batch columns to the stored "
            f"names (a name-drifted append would land columns later "
            f"gate scans silently read as null)"
        )
    # compare via simpleString: physical type drift (float vs double,
    # int vs bigint) must trip, but parquet round-trips every column as
    # nullable so a raw DataType equality would false-positive on
    # containsNull/nullable alone
    drift = [
        f"{f.name}: batch {f.dataType.simpleString()} != stored "
        f"{stored[f.name].simpleString()}"
        for f in sh.schema.fields
        if f.dataType.simpleString() != stored[f.name].simpleString()
    ]
    if drift:
        sh.unpersist()
        raise ValueError(
            f"index append rejected a schema-drifted batch for "
            f"{index_dir}: {'; '.join(drift)} — cast the batch to the "
            f"stored types first"
        )
    # shingles FIRST, buckets second (review r11): the two appends are
    # not atomic together, and the failure modes are asymmetric. An
    # orphan shingle row (shingles committed, buckets append failed) is
    # harmless — nothing joins it without a bucket hit. The reverse
    # (buckets committed, shingles missing) is the LYING state: later
    # gates find the bucket collision, inner-join the shingles table
    # for verification, find nothing, and silently admit a true
    # near-duplicate forever.
    sh.repartition(num_files, id_col).write.mode("append").parquet(
        index_dir + "/shingles"
    )
    _banded_buckets(sh, id_col, meta["num_hashes"], meta["bands"]).repartition(
        num_files, "band", "bucket"
    ).write.mode("append").parquet(_buckets_dir(index_dir, md))
    sh.unpersist()


def compact_minhash_index(spark, index_dir: str, num_files: int = 32) -> None:
    """Maintenance step after repeated appends — the MinHash twin of
    `similarity.compact_ivf_cells`: each `append_to_minhash_index`
    lands `num_files` new files per table, so a long-appended index
    degrades gate scans into small-file listing storms. Rewrites
    buckets (repartitioned on (band, bucket) — the gate's join keys,
    so the layout stays join-aligned) and shingles (on the id) back to
    ``num_files`` files each, swapping each table in with the
    crash-safe park-rename-delete primitive
    (`io.writers.replace_parquet_dir`). Rows are copied verbatim — no
    re-shingling, no re-banding — so gate results are bit-identical
    (unit-tested); a crash between the two table swaps leaves one
    table compacted and one not, which is still a CONSISTENT index
    (compaction changes layout, never content). Meta is a param table
    and is untouched.
    """
    from airline_data_pipeline_spark.io.writers import replace_parquet_dir

    md = read_meta_first(spark, index_dir + "/meta").asDict()
    for live, keys in (
        (_buckets_dir(index_dir, md), ["band", "bucket"]),
        (index_dir + "/shingles", None),
    ):
        tmp = f"{live}__compacting"
        df = spark.read.parquet(live)
        # the shingles id column is whatever the caller named it — pick
        # it by NOT being __sh, never positionally (review r11: a
        # column reorder would silently repartition on the array)
        part_keys = (
            keys if keys is not None
            else [c for c in df.columns if c != "__sh"][:1]
        )
        df.repartition(num_files, *part_keys).write.mode("overwrite").parquet(tmp)
        replace_parquet_dir(spark, tmp, live)


def retract_from_minhash_index(
    spark,
    index_dir: str,
    ids,
    num_files: int = 32,
) -> None:
    """Remove documents from a stored MinHash index — the RETRACTION
    half of the incremental-corpus story (VERDICT r11 #3: append
    existed; GDPR-style doc removal didn't). After retraction the index
    gates exactly as if it had been rebuilt on corpus-minus-retracted
    (the mirror of `append_to_minhash_index`'s rebuild-equality
    contract; oracle-checked: `dedup_gate_after_retraction`) — in
    particular, a retracted document's near-duplicate twin RE-ADMITS on
    the next gate, which is the observable point of the operation.

    ``ids`` is either a driver-sized Python collection (list/tuple/set
    — ships as a literal IN-list, no join) or a DataFrame holding the
    retraction set in its id column / sole column (broadcast anti-join;
    use this when the set is produced by another query). Both tables
    rewrite WITHOUT the retracted rows into sibling dirs, repartitioned
    on their join-aligned keys (buckets on (band, bucket), shingles on
    the id — same layout as build/compact), and swap in via the
    crash-safe `replace_parquet_dir`. One IO-parallel pass per table:
    O(index) IO-only, no re-shingling, no re-banding, the retraction
    set never shuffles the index.

    Crash ordering — buckets FIRST: with buckets swapped and shingles
    not yet, a retracted id can no longer produce a candidate pair, so
    gating already behaves fully-retracted; its orphan shingle rows are
    inert (nothing joins them without a bucket hit — the same asymmetry
    `append_to_minhash_index` documents) and a re-run sweeps them.
    The reverse order would have a window where the bucket hit exists
    but verification silently fails — behaviorally identical here
    (the pair must drop), but it would spend a shingle-scan join to
    decide what the bucket table alone should have settled.

    Meta is untouched: it is a param table (banding seeds, column
    names) and retraction changes membership, not parameters.
    """
    md = read_meta_first(spark, index_dir + "/meta").asDict()
    id_col = md.get("id_col") or "doc_id"
    from airline_data_pipeline_spark.io.writers import replace_parquet_dir

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
        (_buckets_dir(index_dir, md), ["band", "bucket"]),
        (index_dir + "/shingles", [id_col]),
    ):
        tmp = f"{live}__retracting"
        kept = drop_retracted(spark.read.parquet(live))
        kept.repartition(num_files, *keys).write.mode("overwrite").parquet(tmp)
        replace_parquet_dir(spark, tmp, live)


def reband_minhash_index(
    spark,
    index_dir: str,
    num_hashes: int,
    bands: int,
    num_files: int = 32,
) -> None:
    """Re-band a stored MinHash index to new LSH parameters — the
    text-side mirror of `similarity.refit_ivf_index`, and the LSH
    recall dial every production deployment eventually turns: banding
    params are chosen for a corpus SIZE (per-pair collision probability
    1−(1−j^r)^b), so as appends grow the corpus past the size the
    params were picked for, the operator either re-bands the index or
    accepts drifting recall. BASELINE.md "Scale gate" documents the
    same dial for the inline LSH ops (bits tracking n); this makes it
    a maintenance verb for the stored artifact.

    Mechanics: signatures recompute from the STORED hashed shingle
    sets in ONE O(index) IO-parallel pass — the original text is never
    re-read, which is also why ``shingle_k`` cannot change here (that
    requires the corpus; rebuild instead). The new buckets land
    complete in a NEW generation-named directory
    (``buckets_g<gen+1>``), and the meta re-stamp (new params +
    bumped ``banding_gen``, crash-safe swap) is the SINGLE atomic
    switch point: before it, gates see old params + old buckets; after
    it, new params + new buckets. There is NO transient where a batch
    is banded with one parameter set and joined against buckets built
    with another — that state matches nothing and would silently admit
    every duplicate, which is why the buckets dir is generation-named
    instead of swapped in place. A crash before the stamp leaves an
    inert orphan directory; re-running the reband (or the post-stamp
    sweep of any non-live ``buckets*`` dirs) cleans it up.

    Like compaction/refit on the ANN side, re-banding must not run
    against an index a live stream is serving without expecting the
    stream's stale-listing reload to fire (the gate sink holds the old
    bucket scan until its next reload).
    """
    if bands < 1 or num_hashes < bands:
        raise ValueError(
            f"need num_hashes >= bands >= 1, got num_hashes={num_hashes} "
            f"bands={bands}"
        )
    if num_hashes % bands != 0:
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes} evenly "
            f"(rows-per-band is num_hashes/bands)"
        )
    from airline_data_pipeline_spark.io.writers import replace_parquet_dir

    md = read_meta_first(spark, index_dir + "/meta").asDict()
    id_col = md.get("id_col") or "doc_id"
    new_gen = (md.get("banding_gen") or 0) + 1
    new_dir = f"{index_dir}/buckets_g{new_gen}"
    sh = spark.read.parquet(index_dir + "/shingles")
    _banded_buckets(sh, id_col, num_hashes, bands).repartition(
        num_files, "band", "bucket"
    ).write.mode("overwrite").parquet(new_dir)
    # the atomic switch: params and generation change together, via the
    # park-swap so a crash mid-stamp leaves either the old meta (gates
    # keep using old params + old buckets, fully consistent) or the new
    local_df(
        spark,
        [(
            num_hashes, bands, md["shingle_k"],
            id_col, md.get("text_col") or "text", new_gen,
        )],
        "num_hashes int, bands int, shingle_k int, "
        "id_col string, text_col string, banding_gen int",
    ).coalesce(1).write.mode("overwrite").parquet(
        index_dir + "/meta__rebanding"
    )
    replace_parquet_dir(spark, index_dir + "/meta__rebanding",
                        index_dir + "/meta")
    # post-stamp sweep: the old generation (and any crash orphans) are
    # inert garbage now — checked deletes (ADVICE r12: Hadoop delete()
    # returns False on failure, and a silently failed delete leaves
    # stale buckets* dirs on disk indefinitely), never the live dir.
    # The reband itself is COMMITTED at this point (the meta stamp is
    # the switch), so a failed sweep raises AFTER the fact with that
    # said — the operator learns the index is consistent but dirty,
    # and fsck_minhash_index (or a re-run) re-sweeps.
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    root_p = jvm.org.apache.hadoop.fs.Path(index_dir)
    fs = root_p.getFileSystem(hconf)
    keep = f"buckets_g{new_gen}"
    failed = []
    for st in fs.listStatus(root_p):
        name = st.getPath().getName()
        # the hot-bucket ledger indexes the OLD bucket space — keeping
        # it would make skip_hot gates skip semantically-random keys in
        # the new space; delete it (refresh_hot_buckets rebuilds)
        if (
            (name == "buckets" or name.startswith("buckets_g"))
            and name != keep
        ) or name.startswith("hotbuckets"):
            if not fs.delete(st.getPath(), True):
                failed.append(name)
    if failed:
        raise IOError(
            f"reband of {index_dir} COMMITTED (meta now banding_gen "
            f"{new_gen}; gates are consistent) but the post-stamp sweep "
            f"could not delete stale dirs {failed} — they are inert "
            f"garbage; remove them by hand or run fsck_minhash_index"
        )


def fsck_minhash_index(
    spark, index_dir: str, clean: bool = False, num_files: int = 32
) -> DataFrame:
    """Enumerate — and with ``clean=True`` repair — every crash state
    the MinHash-index lifecycle verbs document (VERDICT r12 #4: each
    verb says "a re-run sweeps this", but an on-call engineer
    shouldn't need to know WHICH verb to re-run; one fsck pass should
    detect and settle all of them). Returns a driver-sized findings
    table (component, issue, detail, action); an empty result means
    the artifact is canonical.

    States covered, mapped to the verbs that can leave them:
    - **missing live table, staged/parked layout present** (any verb
      crashed inside `replace_parquet_dir`'s double rename): finish
      the interrupted swap — the staged layout is complete by
      construction — else restore the park. Without fsck, gates crash
      on PATH_NOT_FOUND.
    - **tmp/park residue beside intact tables** (`__compacting`,
      `__retracting`, `__rebanding`, `__replaced`): inert; deleted.
    - **orphan non-live buckets generations** (a reband crashed before
      its meta stamp, or its post-stamp sweep failed): inert —
      gates resolve the live dir through meta — deleted.
    - **orphan shingle rows** (ids in shingles with no bucket row: an
      append crashed between its shingles-first and buckets-second
      writes, or a buckets-first retraction crashed before the
      shingles rewrite): harmless for correctness (nothing joins a
      shingle set without a bucket hit) but dead weight in every
      verify scan; clean rewrites shingles without them (park-swap).
    - **lying bucket rows** (ids in buckets with no shingle set — the
      state the verbs' write ORDERING exists to prevent, but which a
      foreign writer or partial restore could land): the one SILENT
      corruption — the bucket collision fires, verification finds no
      shingles, and a true near-duplicate is admitted forever; clean
      rewrites buckets without them, restoring "document not indexed"
      semantics.

    The directory-level half is O(1) driver-side FS calls; the two
    row-level checks are one id-projected anti-join each (8-byte ids
    shuffle, never shingle payloads) and the repairs are one
    IO-parallel rewrite of the affected table — an offline maintenance
    pass, same cost class as compaction. Do not run concurrently with
    lifecycle verbs or a serving stream's reload window.
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
    id_col = md.get("id_col") or "doc_id"
    live_buckets = _buckets_dir(index_dir, md)
    bname = live_buckets.rsplit("/", 1)[1]
    findings += fsck_swap_states(spark, index_dir, [bname, "shingles"], clean)
    _, fs, P = hadoop_fs(spark, index_dir)
    # the hot-bucket ledger is OPTIONAL: fsck its swap states only when
    # it (or its residue) exists, and a missing-with-no-recovery state
    # is just "not materialized", not FATAL
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
    if fs.exists(P(index_dir + "/hotbuckets")):
        # generation check (ADVICE r13): a reband that crashed after
        # its meta stamp but before its sweep leaves a ledger keyed on
        # the OLD bucket space — exactly the state the reband's raised
        # IOError directs here. Detect by the banding_gen stamp
        # (refresh_hot_buckets writes it per row); a pre-stamp ledger
        # is unverifiable and treated the same. refresh_hot_buckets
        # rebuilds either on the next maintenance pass.
        hot_df = spark.read.parquet(index_dir + "/hotbuckets")
        live_gen = md.get("banding_gen") or 0
        stale_reason = None
        if "banding_gen" not in hot_df.columns:
            stale_reason = "pre-stamp ledger (no banding_gen column)"
        else:
            gens = hot_df.select(
                F.min("banding_gen"), F.max("banding_gen")
            ).first()
            if gens[0] is not None and (
                gens[0] != live_gen or gens[1] != live_gen
            ):
                stale_reason = (
                    f"ledger banding_gen {gens[0]}..{gens[1]} != live "
                    f"{live_gen}"
                )
        if stale_reason:
            if clean:
                action = (
                    "deleted (refresh_hot_buckets rebuilds)"
                    if fs.delete(P(index_dir + "/hotbuckets"), True)
                    else "FATAL: delete failed"
                )
            else:
                action = "would delete (clean=False)"
            findings.append((
                "hotbuckets",
                "stale hot-bucket ledger from a dead banding "
                "generation (crashed reband sweep)",
                stale_reason,
                action,
            ))

    for st in fs.listStatus(P(index_dir)):
        name = st.getPath().getName()
        # any buckets* dir that is neither the live generation nor the
        # live generation's own swap residue (already handled above) is
        # orphan garbage: stale generations AND a dead generation's
        # leftover tmp/park dirs (e.g. buckets__retracting after a
        # reband moved the live dir to buckets_g1)
        if (
            name.startswith("buckets")
            and name != bname
            and not name.startswith(bname + "__")
        ):
            if clean:
                action = (
                    "deleted" if fs.delete(st.getPath(), True)
                    else "FATAL: delete failed"
                )
            else:
                action = "would delete (clean=False)"
            findings.append((
                bname, "orphan non-live buckets dir", name, action,
            ))

    fatal = {f[0] for f in findings if f[3].startswith("FATAL")}
    if not fatal and fs.exists(P(live_buckets)) and fs.exists(
        P(index_dir + "/shingles")
    ):
        # fresh reads INSIDE the loop: the first repair rewrites one
        # table, so the second check must list its files anew — a plan
        # captured before the swap would read renamed-away part files
        for label, live, keys, keep_src in (
            ("shingles", index_dir + "/shingles", [id_col], live_buckets),
            (bname, live_buckets, ["band", "bucket"], index_dir + "/shingles"),
        ):
            df_full = spark.read.parquet(live)
            # docs shorter than shingle_k words index with an EMPTY
            # shingle set and legitimately produce no bucket rows
            # (_banded_buckets drops them) — they are expected residue,
            # not crash evidence (ADVICE r13: counting them kept a
            # never-crashed index alarming forever and churned the
            # table on every clean pass)
            checkable = (
                df_full.filter(F.size("__sh") > 0)
                if label == "shingles"
                else df_full
            )
            keep_ids = spark.read.parquet(keep_src).select(id_col).distinct()
            n_orphans = checkable.select(id_col).distinct().join(
                keep_ids, id_col, "left_anti"
            ).count()
            if n_orphans == 0:
                continue
            issue = (
                "orphan shingle rows (no bucket row: interrupted "
                "append or retraction)"
                if label == "shingles"
                else "lying bucket rows (no shingle set: collisions "
                "would silently verify-fail)"
            )
            if clean:
                tmp = f"{live}__fsck"
                survivors = df_full.join(keep_ids, id_col, "left_semi")
                if label == "shingles":
                    # empty-set rows are expected residue (above), and
                    # by construction never in keep_ids — keep them
                    survivors = survivors.unionByName(
                        df_full.filter(F.size("__sh") == 0)
                    )
                survivors.repartition(
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


def load_minhash_index(spark, index_dir: str):
    """Open a `write_minhash_index` artifact: (meta row, bucket scan,
    shingle scan). Load ONCE per job/stream — the long-running
    streaming gate reuses these handles across micro-batches instead
    of paying a driver-blocking meta-read action per trigger."""
    meta = read_meta_first(spark, index_dir + "/meta")
    b_ref = spark.read.parquet(_buckets_dir(index_dir, meta.asDict()))
    sh_ref = spark.read.parquet(index_dir + "/shingles")
    return meta, b_ref, sh_ref


def refresh_hot_buckets(
    spark, index_dir: str, hot_threshold: int = 64
) -> int:
    """(Re)materialize the index's HOT-BUCKET LEDGER — the cap story at
    artifact scale. The inline gates cap hot buckets by COUNTING both
    sides per run (`cap_hot_buckets`), which against a stored index
    would mean a full bucket-table aggregate per ingest batch; the
    production shape precomputes the ledger instead: ONE groupBy-count
    pass over the live buckets table keeps every (band, bucket) whose
    stored occupancy exceeds ``hot_threshold`` (boilerplate shingle
    neighborhoods — license headers, templates — where candidate pairs
    go |batch∩bucket|×|ref∩bucket| quadratic), lands it as the tiny
    ``hotbuckets`` table via the crash-safe swap, and returns the hot
    count. Gates opt in with ``skip_hot=True``: hot buckets are
    EXCLUDED from candidate generation, trading recall on boilerplate
    for bounded task time — the exact contract `minhash_candidates`
    documents for the inline cap, now O(1) per batch instead of
    O(index) per batch.

    Refresh cadence: appends deliberately leave the ledger stale — a
    bucket that became hot since the last refresh keeps generating
    candidates (conservative: recall unaffected, cost creeps) until
    the next refresh; run this on the compaction cadence. Retraction
    can make a listed bucket cold again (skip_hot then over-skips it —
    a recall leak, not a cost leak), so refresh after retractions too.
    A reband deletes the ledger outright (its keys index the OLD
    bucket space) — re-run after rebanding. Every ledger row carries
    the ``banding_gen`` it was computed against (ADVICE r13: a reband
    that crashes after its meta stamp but before its sweep leaves an
    old-space ledger on disk; the stamp is what lets the gate and
    fsck REFUSE it instead of silently skipping semantically-random
    new-space buckets)."""
    from airline_data_pipeline_spark.io.writers import replace_parquet_dir

    md = read_meta_first(spark, index_dir + "/meta").asDict()
    hot = (
        spark.read.parquet(_buckets_dir(index_dir, md))
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > hot_threshold)
        .select(
            "band",
            "bucket",
            F.lit(md.get("banding_gen") or 0).cast("int").alias("banding_gen"),
        )
    )
    tmp = index_dir + "/hotbuckets__refreshing"
    hot.coalesce(1).write.mode("overwrite").parquet(tmp)
    replace_parquet_dir(spark, tmp, index_dir + "/hotbuckets")
    return count_parquet_rows(spark, index_dir + "/hotbuckets")


def dedup_minhash_against_index(
    new_df: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    skip_hot: bool = False,
) -> DataFrame:
    """`dedup_minhash_against_reference`, but against a stored index
    (`write_minhash_index`) instead of re-deriving the reference side —
    the production shape of the incremental-ingest gate.

    Plan shape at 100 TB: the INDEX IS NEVER SHUFFLED. The batch-sized
    band keys broadcast against the bucket scan, the resulting
    candidate pairs (verified LSH collisions only) broadcast against
    the shingle scan — two index scans, zero index exchanges, and the
    only shuffled data is batch-sized. Banding parameters come from the
    index's own meta table, so a drifted caller can't silently band
    with mismatched seeds. ``skip_hot=True`` additionally excludes the
    precomputed hot-bucket ledger (`refresh_hot_buckets`) from
    candidate generation — the skew guard for boilerplate-heavy
    corpora, loud if the ledger was never materialized.
    """
    spark = new_df.sparkSession
    meta, b_ref, sh_ref = load_minhash_index(new_df.sparkSession, index_dir)
    hot = None
    if skip_hot:
        from airline_data_pipeline_spark.io.writers import hadoop_fs

        _, fs, P = hadoop_fs(spark, index_dir)
        if not fs.exists(P(index_dir + "/hotbuckets")):
            raise ValueError(
                f"skip_hot=True but {index_dir} has no hotbuckets ledger "
                f"— run refresh_hot_buckets first (on the compaction "
                f"cadence)"
            )
        hot = spark.read.parquet(index_dir + "/hotbuckets")
        # generation guard (ADVICE r13): a ledger computed against an
        # OLD banding generation indexes a dead bucket space — skipping
        # by its keys would drop semantically-random buckets. A crashed
        # reband sweep is the one writer that can leave this state;
        # refuse it loudly rather than silently leak recall. A ledger
        # predating the stamp (no banding_gen column) is equally
        # unverifiable; an EMPTY ledger skips nothing and is harmless.
        live_gen = meta.asDict().get("banding_gen") or 0
        if "banding_gen" not in hot.columns:
            raise ValueError(
                f"skip_hot=True but the hotbuckets ledger at {index_dir} "
                f"predates the banding_gen stamp and cannot be verified "
                f"against the live bucket space — re-run "
                f"refresh_hot_buckets"
            )
        ledger_gen_row = hot.select(F.min("banding_gen"), F.max("banding_gen")).first()
        if ledger_gen_row[0] is not None and (
            ledger_gen_row[0] != live_gen or ledger_gen_row[1] != live_gen
        ):
            raise ValueError(
                f"skip_hot=True but the hotbuckets ledger at {index_dir} "
                f"was computed against banding_gen "
                f"{ledger_gen_row[0]}..{ledger_gen_row[1]} while the index "
                f"is at {live_gen} (a reband's ledger sweep crashed) — "
                f"run fsck_minhash_index(clean=True) or "
                f"refresh_hot_buckets"
            )
    # localCheckpoint(eager=False), not .persist(): one-shot helper,
    # lazy result — an internal cache could never be unpersisted and
    # would pin a CacheManager entry per call in a long-lived session.
    # The local checkpoint reuses the batch shingles across banding and
    # verify as GC-cleaned RDD blocks instead (see
    # dedup_minhash_against_reference for the measured A/B); repeat
    # callers own the lifecycle via `gate_against_loaded_index` (the
    # streaming sink's per-micro-batch persist/unpersist).
    sh_new = shingle_sets(new_df, text_col, id_col, meta["shingle_k"]).localCheckpoint(
        eager=False
    )
    return gate_against_loaded_index(
        new_df, sh_new, meta, b_ref, sh_ref, id_col=id_col,
        threshold=threshold, hot=hot,
    )


def gate_against_loaded_index(
    new_df: DataFrame,
    sh_new: DataFrame,
    meta,
    b_ref: DataFrame,
    sh_ref: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.7,
    hot: DataFrame | None = None,
) -> DataFrame:
    """The index gate over already-loaded handles (`load_minhash_index`)
    and an already-shingled batch — the per-micro-batch entry point for
    the streaming sink, which owns the batch shingles' persist/unpersist
    lifecycle so caches don't accumulate across triggers. ``hot`` is the
    optional hot-bucket ledger (`refresh_hot_buckets`): candidate
    generation skips those (band, bucket) keys on the BATCH side — an
    anti-join against a broadcast ledger, so the stored bucket scan's
    matching rows die at the join without ever producing pairs."""
    b_new = _banded_buckets(sh_new, id_col, meta["num_hashes"], meta["bands"])
    if hot is not None:
        b_new = b_new.join(
            F.broadcast(hot), on=["band", "bucket"], how="left_anti"
        )
    pairs = (
        b_ref.alias("r")
        .join(
            F.broadcast(b_new.alias("n")),
            (F.col("n.band") == F.col("r.band"))
            & (F.col("n.bucket") == F.col("r.bucket")),
        )
        .select(
            F.col(f"n.{id_col}").alias("new_id"),
            F.col(f"r.{id_col}").alias("ref_id"),
        )
        .distinct()
    )
    verified = (
        sh_ref.select(F.col(id_col).alias("ref_id"), F.col("__sh").alias("__sh_r"))
        .join(F.broadcast(pairs), "ref_id")
        .join(
            F.broadcast(
                sh_new.select(
                    F.col(id_col).alias("new_id"), F.col("__sh").alias("__sh_n")
                )
            ),
            "new_id",
        )
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("__sh_n", "__sh_r"))
            / F.size(F.array_union("__sh_n", "__sh_r")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    contaminated = verified.select(F.col("new_id").alias(id_col)).distinct()
    # batch-bounded by construction — keep the anti-join broadcast even
    # before AQE sees runtime sizes
    return new_df.join(F.broadcast(contaminated), on=id_col, how="left_anti")


def prefix_postings(
    sh: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """(id, __s) postings restricted to each doc's PREFIX — the
    |S| − ⌈t·|S|⌉ + 1 globally-RAREST shingles (AllPairs/PPJoin prefix
    filtering).

    Under a consistent global ordering of the shingle universe, two
    sets with Jaccard ≥ t (hence overlap ≥ ⌈t·max(|A|,|B|)⌉) must share
    at least one element within both prefixes — so joining prefixes is
    still EXACT candidate generation. Ordering by ascending document
    frequency makes the retained shingles the rare ones: boilerplate
    shingles (the hot keys that skew the postings self-join) rank last
    and drop out of every prefix, which removes the skew instead of
    splitting it.
    """
    postings = sh.select(F.col(id_col), F.explode("__sh").alias("__s"))
    freq = postings.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
    ranked = postings.join(freq, "__s").withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy(id_col).orderBy(F.asc("__df"), F.asc("__s"))
        ),
    )
    sizes = sh.select(F.col(id_col), F.size("__sh").alias("__sz"))
    return (
        ranked.join(sizes, id_col)
        .filter(F.col("__rn") <= F.col("__sz") - F.ceil(F.lit(threshold) * F.col("__sz")) + 1)
        .select(id_col, "__s")
    )


def exact_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
    prefix_filter: bool = False,
) -> DataFrame:
    """EXACT all-pairs n-gram Jaccard ≥ threshold via a shingle inverted
    index — no sampling, no LSH probability, no cross join.

    Any pair with Jaccard ≥ t > 0 shares at least one shingle, so
    self-joining the (shingle → doc) postings list enumerates a superset
    of qualifying pairs; a groupBy on the pair counts the intersection,
    and |A∪B| = |A| + |B| − |A∩B| closes the formula. Shuffles carry
    8-byte hashed shingles and 16-byte pairs, never document text.

    ``prefix_filter=True`` is the corpus-scale path: candidates come
    from joining only each doc's rarest-(1−t)·|S|+1 shingles (see
    `prefix_postings` — still exact), then the full shingle sets join
    back for the precise intersection. This bounds the hottest join key
    by construction instead of relying on AQE skew-split.
    """
    sh = shingle_sets(df, text_col, id_col, shingle_k)
    sizes = sh.select(F.col(id_col), F.size("__sh").alias("__sz"))

    if prefix_filter:
        # reuse across postings + verify WITHOUT a pinned CacheManager
        # entry (lazy-returning helper; see dedup_minhash's A/B note)
        sh = sh.localCheckpoint(eager=False)
        # the prefix postings add a document-frequency join + per-doc
        # rank window on top of sh — _reuse runs that once, not per side
        pp = _reuse(prefix_postings(sh, id_col, threshold))
        a, b = pp.alias("a"), pp.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.__s") == F.col("b.__s"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .distinct()
        )
        verified = (
            cand.join(
                sh.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("__sh_a")),
                "id_a",
            )
            .join(
                sh.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("__sh_b")),
                "id_b",
            )
            .withColumn(
                "jaccard",
                F.size(F.array_intersect("__sh_a", "__sh_b"))
                / F.size(F.array_union("__sh_a", "__sh_b")),
            )
            .filter(F.col("jaccard") >= threshold)
        )
        return verified.select("id_a", "id_b", "jaccard")

    postings = sh.select(F.col(id_col), F.explode("__sh").alias("__s"))
    a, b = postings.alias("a"), postings.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.__s") == F.col("b.__s"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("__shared"))
    )
    return (
        shared.join(
            sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("__sz", "__sz_a"),
            "id_a",
        )
        .join(
            sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("__sz", "__sz_b"),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.col("__shared") / (F.col("__sz_a") + F.col("__sz_b") - F.col("__shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# connected components over the near-dup pair graph
# ---------------------------------------------------------------------------
def connected_components(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 25,
) -> DataFrame:
    """(id, cluster_id) — cluster_id is the MINIMUM id reachable through
    the undirected pair graph (id_a, id_b). Iterative min-label
    propagation: every node adopts the smallest label among itself and
    its neighbors until a fixpoint.

    Pairwise dedup ("drop id_b of each pair") under-merges transitive
    chains; component-aware dedup keeps exactly one doc per cluster —
    what SlimPajama-style pipelines do. Convergence needs
    O(component diameter) rounds; near-dup components are shallow
    (stars/chains of a few hops), so the loop is short in practice.
    Each round is one shuffle (neighbor-min groupBy) + one join;
    `localCheckpoint` truncates the growing lineage so round N's plan
    does not replay rounds 1..N-1. At extreme diameters the alternating
    small-star/large-star variant (Kiveris et al.) halves round count;
    not needed at near-dup shapes.
    """
    # The edge cache stays a plain .persist() — BOTH alternatives were
    # bisect-measured on the 1x embedding-dedup bench and lost badly:
    # a post-loop unpersist() regressed 2.5 -> 9.3 s, and
    # localCheckpoint(eager=False) regressed 2.5 -> 8.8 s. The persist
    # is not only reuse: the materialized InMemoryRelation carries
    # ACCURATE size statistics, which is what lets Catalyst pick the
    # cheap join strategy for every label-propagation round (a
    # checkpoint scan reports default/huge stats and degrades the
    # per-round join). The unpaired cache is the accepted tradeoff for
    # this iterative operator: it is pair-sized (edges, not documents),
    # and a caller looping many CC jobs in one session can clearCache()
    # between them.
    # Both edge directions come from ONE pass over `pairs`: a unionAll
    # of two selects would plan the pair derivation once per branch,
    # and exchange reuse shares only the shuffles, so everything above
    # the last exchange (for SRP pairs, the cosine over every
    # candidate) would run twice.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
                    F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
                )
            ).alias("__e")
        )
        .select("__e.src", "__e.dst")
        .distinct()
        .persist()
    )
    labels = ids.select(F.col(id_col), F.col(id_col).alias("cluster_id"))
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(
                labels.select(
                    F.col(id_col).alias("dst"), F.col("cluster_id").alias("__nl")
                ),
                "dst",
            )
            .groupBy(F.col("src").alias(id_col))
            .agg(F.min("__nl").alias("__nm"))
        )
        # the changed-count rides the SAME update join as a flag column
        # (r15: labels only ever DECREASE, so "new != old" is exactly
        # "__nm is non-null and < cluster_id") — the old new-vs-old
        # re-JOIN was a third join per round whose only product was
        # this count; the flag scan reads the already-materialized
        # checkpoint blocks instead (one cheap count job, no join)
        new_labels = (
            labels.join(neighbor_min, id_col, "left")
            .select(
                F.col(id_col),
                F.least(F.col("cluster_id"), F.coalesce("__nm", "cluster_id")).alias(
                    "cluster_id"
                ),
                (F.col("__nm") < F.col("cluster_id")).alias("__chg"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter(F.col("__chg")).count()
        labels = new_labels.select(id_col, "cluster_id")
        if changed == 0:
            break
    return labels.select(id_col, "cluster_id")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def hamming64(a, b) -> F.Column:
    """Hamming distance between two 64-bit longs: popcount(a XOR b)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 64,
    token_hash=F.xxhash64,
) -> DataFrame:
    """Per-doc SimHash fingerprints as a DataFrame op: explode tokens,
    hash each ONCE, then n_bits codegen'd SUM(±1) vote aggregates per
    doc; the fingerprint assembles from the vote signs. Returns
    (id_col, __sim).

    This is the whole-stage-codegen form of SimHash — the same lesson
    as the round-5 MinHash rewrite. A per-row column fold
    (`F.aggregate` over the token array) is a CodegenFallback: every
    fold step is interpreted, and because interpreted HOFs do no
    common-subexpression elimination, the per-token hash inside the
    step tree is recomputed ONCE PER BIT — with the portable md5-based
    hash that is 60 md5 evaluations per token (~15M md5s over sf0.1's
    5k docs; measured 25-57 s). Here each token is hashed once in a
    codegen'd projection and the 60 vote columns are plain aggregates
    (map-side combined, one shuffle on id): the full near-dup query
    drops to 3.4 s warm at sf0.1 — ~10× — with value-identical votes
    (integer ±1 sums are order-independent).
    Docs with no tokens — empty or whitespace-only text — keep the
    all-zero-votes fingerprint (0) via the left join, and a NULL doc
    lands on 0 the same way (it explodes to no tokens). This matches
    the oracle's COALESCE(sim, 0) and is the intended near-dup
    semantics: null and empty docs cluster together.
    """
    hashed = df.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("__t"),
    ).select(id_col, token_hash(F.col("__t")).alias("__h"))
    votes = hashed.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(
                    F.shiftright("__h", k).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"__v{k}")
            for k in range(n_bits)
        ]
    )
    fp = None
    for k in range(n_bits):
        # two's complement: bit 63 carries the sign
        power = (1 << k) if k < 63 else -(1 << 63)
        term = F.when(F.col(f"__v{k}") > 0, F.lit(power).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fp = term if fp is None else fp + term
    with_fp = votes.select(id_col, fp.alias("__sim"))
    return (
        df.select(id_col)
        .join(with_fp, id_col, "left")
        .select(id_col, F.coalesce("__sim", F.lit(0).cast("long")).alias("__sim"))
    )


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    portable: bool = False,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the fingerprint into 4 chunks
    (pigeonhole: distance ≤3 ⇒ at least one chunk equal — EXACT recall
    for max_hamming ≤ 3; larger distances make banding heuristic),
    equi-join on chunk, verify with exact Hamming.
    Returns (id_a, id_b, hamming).

    ``portable=True`` switches to the 60-bit md5-derived token hash
    (4×15-bit chunks) that a SQL oracle can recompute exactly.
    ``max_bucket_size`` caps chunk-bucket membership before the
    self-join (see `similarity.cap_hot_buckets`); capped runs lose the
    exact-recall guarantee for the dropped buckets, which is the
    documented trade at corpus scale.
    """
    from airline_data_pipeline_spark.operators.similarity import cap_hot_buckets

    n_bits, token_hash = (60, portable_hash60) if portable else (64, F.xxhash64)
    chunk_bits = n_bits // 4
    mask = (1 << chunk_bits) - 1
    # _reuse: the fingerprint pipeline (token explode + n_bits vote
    # aggregates — with the portable hash, 60 md5s per token) otherwise
    # runs once per self-join side; the checkpoint is 16 bytes/doc
    sh = _reuse(
        simhash_fingerprints(
            df, text_col=text_col, id_col=id_col, n_bits=n_bits, token_hash=token_hash
        )
    )
    chunks = sh.select(
        id_col,
        "__sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_no"),
                        F.shiftright("__sim", c * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cc"),
    ).select(id_col, "__sim", F.col("cc.chunk_no").alias("chunk_no"), F.col("cc.chunk").alias("chunk"))
    chunks = cap_hot_buckets(chunks, ["chunk_no", "chunk"], max_bucket_size)

    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_no") == F.col("b.chunk_no"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming64(F.col("a.__sim"), F.col("b.__sim")).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# winnowing (rolling-hash document fingerprinting)
# ---------------------------------------------------------------------------
def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    window: int = 4,
) -> DataFrame:
    """(id, __wfp: array<long>) — winnowing fingerprints per document
    (Schleimer/Wilkerson/Aiken, SIGMOD 2003: the MOSS algorithm).

    Hash every word k-gram, slide a ``window``-wide frame over the hash
    sequence, and keep the minimum of each frame; the distinct minima
    are the document's fingerprints. Guarantee: any shared substring of
    at least window+k-1 words produces at least one shared fingerprint,
    while only ~2/(window+1) of the k-gram hashes are retained — a
    fixed-rate content-defined sample that is position-independent
    (unlike "every i-th gram") and deterministic (unlike MinHash, which
    needs a signature per permutation).

    Construction: posexplode the shingles, hash each ONCE in a
    codegen'd projection, take the sliding minimum with a per-doc
    window frame (`rowsBetween(0, window-1)` over shingle position,
    frames restricted to full windows), and assemble the distinct mins
    per doc. A doc shorter than one frame keeps its position-0
    truncated frame — the global minimum, the whole-doc fallback.

    This row-wise formulation replaced an array-column one (zip_with
    over shifted slices) for two measured reasons at sf0.1: (a) the
    per-shingle md5 ran inside an interpreted `transform` HOF, and
    (b) far worse, Catalyst's project-collapse re-inlined the ENTIRE
    fingerprint expression into the filters/projections pushed around
    the downstream self-join, re-evaluating the interpreted pipeline
    per row PER REFERENCE — 17 s for a 100k-posting join whose
    fingerprint stage alone costs 0.5 s. The groupBy here is a
    pipeline breaker: nothing downstream can inline through it. The
    sliding-min itself runs in WindowExec — a dedicated physical
    operator, not whole-stage codegen — but its inputs (the hash
    projection) and everything downstream of the groupBy are codegen;
    the real win is the pipeline breaker stopping project-collapse
    re-inlining (plan shape asserted in tests/test_plans —
    test_winnow_* pin the hash join AND the no-interpreted-HOF /
    Window + Aggregate stage structure).
    Values are identical to the array formulation (same hashes, same
    frame minima).

    Hashes use the md5-portable 60-bit hash so a SQL oracle can
    recompute fingerprints exactly; the shuffle unit downstream is an
    8-byte long, never text.
    """
    from pyspark.sql import Window as W

    hashed = df.select(
        F.col(id_col),
        F.posexplode(shingles(F.col(text_col), shingle_k)).alias("__pos", "__g"),
    ).select(id_col, "__pos", portable_hash60(F.col("__g")).alias("__h"))
    frame = (
        W.partitionBy(id_col).orderBy("__pos").rowsBetween(0, window - 1)
    )
    whole = W.partitionBy(id_col)
    mins = hashed.select(
        F.col(id_col),
        F.col("__pos"),
        F.min("__h").over(frame).alias("__f"),
        F.count(F.lit(1)).over(whole).alias("__n"),
    )
    # full frames only (pos ≤ n−window); a doc shorter than one frame
    # keeps position 0, whose truncated frame is the global min
    frames = mins.filter(
        (F.col("__pos") <= F.col("__n") - window) | (F.col("__pos") == 0)
    )
    return frames.groupBy(id_col).agg(
        F.array_sort(F.collect_set("__f")).alias("__wfp")
    )


def winnow_shared_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    window: int = 4,
    min_shared: int = 2,
) -> DataFrame:
    """(id_a, id_b, shared) — document pairs sharing at least
    ``min_shared`` winnowing fingerprints, via the fingerprint inverted
    index (equi-join on an 8-byte hash; no cross join — the same
    postings-list shape as `exact_jaccard_pairs`)."""
    # _reuse: the fingerprint stage (shingle hash projection + sliding-
    # min window + per-doc collect_set) otherwise runs once per
    # self-join side; the checkpoint is one fingerprint array per doc
    fp = _reuse(winnow_fingerprints(df, text_col, id_col, shingle_k, window))
    postings = fp.select(F.col(id_col), F.explode("__wfp").alias("__f"))
    a, b = postings.alias("a"), postings.alias("b")
    return (
        a.join(
            b,
            (F.col("a.__f") == F.col("b.__f"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


# ---------------------------------------------------------------------------
# exact duplicate-span detection (suffix-array-style substring dedup)
# ---------------------------------------------------------------------------
def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 15,
) -> DataFrame:
    """(id, span_start, span_end) — maximal merged token intervals
    covered by DUPLICATED ``span_tokens``-token windows, end-exclusive.

    The ExactSubstr dedup shape (Lee et al., "Deduplicating Training
    Data Makes Language Models Better", ACL 2022): any span of
    ``span_tokens`` whitespace tokens that occurs more than once in
    the corpus is a duplicate everywhere EXCEPT its first occurrence
    (global order: smallest (doc_id, position)). The paper builds a
    suffix array — inherently single-machine; the distributed
    re-expression is rolling window hashes: a duplicated span of
    length L ≥ W covers exactly its L−W+1 duplicated W-windows, so
    merging overlapping/adjacent duplicated windows per doc
    reconstructs the maximal duplicated spans without any suffix
    structure. (Windows shorter than W can't match, same as the
    paper's minimum match length; docs with < W tokens are skipped.)

    Plan, all JVM expressions: posexplode the W-shingles (built by the
    same linear zip_with construction as the Jaccard family), hash
    each ONCE with the md5-portable 60-bit hash (so a SQL oracle can
    recompute identically, collisions included), then one window pass
    partitioned by the hash: row_number ordered by (doc_id, pos) and
    count per hash — every occurrence with rn ≥ 2 is a duplicate
    (rn = 1 is the global canonical first occurrence; a hash seen
    once never reaches rn 2). This is a SINGLE evaluation of the
    scan→shingle→md5 subtree and one shuffle on the 8-byte hash —
    the earlier aggregate+self-join formulation evaluated the md5
    pipeline twice because its two Exchange branches (partial-agg vs
    probe) can't ReuseExchange. Interval merge is gaps-and-islands
    with two same-partitioning window passes (running max end, then
    cumulative island id) — one more shuffle, no Python. Hot spans (a
    boilerplate sentence repeated corpus-wide) concentrate one hash's
    occurrences in one window partition; the per-row work there is a
    row_number scan (no pairwise blowup), so the skew cost is linear
    in that span's occurrence count — the same exposure the oracle's
    ROW_NUMBER has, and far cheaper than the candidate-pair joins the
    LSH family caps.
    """
    w = span_tokens
    eligible = df.select(F.col(id_col), F.col(text_col)).filter(
        F.size(tokens(F.col(text_col))) >= w
    )
    hashed = eligible.select(
        F.col(id_col),
        F.posexplode(shingles(F.col(text_col), w)).alias("__pos", "__g"),
    ).select(id_col, "__pos", portable_hash60(F.col("__g")).alias("__h"))
    hw = Window.partitionBy("__h").orderBy(id_col, "__pos")
    dup_occ = hashed.withColumn(
        "__rn", F.row_number().over(hw)
    ).filter(F.col("__rn") >= 2)
    spans = dup_occ.select(
        F.col(id_col),
        F.col("__pos").alias("__s"),
        (F.col("__pos") + w).alias("__e"),
    )
    ordw = Window.partitionBy(id_col).orderBy("__s", "__e")
    prev_max = F.max("__e").over(
        ordw.rowsBetween(Window.unboundedPreceding, -1)
    )
    with_prev = spans.withColumn("__prev", prev_max)
    island = F.sum(
        (F.col("__s") > F.coalesce(F.col("__prev"), F.lit(-1)))
        .cast("long")
    ).over(ordw.rowsBetween(Window.unboundedPreceding, 0))
    return (
        with_prev.withColumn("__island", island)
        .groupBy(id_col, "__island")
        .agg(
            F.min("__s").alias("span_start"),
            F.max("__e").alias("span_end"),
        )
        .select(id_col, "span_start", "span_end")
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 15,
) -> DataFrame:
    """(id, clean_text, n_tokens_before, n_tokens_after) — the corpus
    with every duplicated span REMOVED (first occurrence kept), the
    actual ExactSubstr transformation whose stats `duplicate_spans`
    reports.

    Tokens are whitespace tokens of the LOWERCASED text (the same
    normalization the span detector hashes), so the reconstruction is
    exactly "the token stream minus the merged duplicated intervals",
    rejoined single-spaced. Docs with no duplicated span — including
    docs shorter than ``span_tokens`` — pass through as their
    normalized token stream unchanged. NULL-text docs are dropped (the
    chunker's NULL contract lives upstream; a corpus cleaner receives
    non-null text).

    Plan: duplicated token positions come from exploding each merged
    span's `sequence(start, end-1)` — O(duplicated tokens), typically
    a small fraction of the corpus; the token stream anti-joins them
    on (doc, pos) (8+8-byte keys, broadcast-eligible when the dup set
    is small, AQE decides), and per-doc reconstruction is
    `array_sort(collect_list(struct(pos, tok)))` + the native `.tok`
    field pull + `concat_ws` — no interpreted HOF touches a
    corpus-sized cardinality (the field extraction is one projection
    per doc over an already-collected array).
    """
    w = span_tokens
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.col(text_col)
    )
    toks = base.select(
        F.col(id_col),
        F.posexplode(tokens(F.lower(F.col(text_col)))).alias(
            "__pos", "__tok"
        ),
    )
    dup_pos = duplicate_spans(df, text_col, id_col, w).select(
        F.col(id_col),
        F.explode(
            F.sequence(F.col("span_start"), F.col("span_end") - 1)
        ).alias("__pos"),
    )
    kept = toks.join(dup_pos, [id_col, "__pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens_after"),
        F.concat_ws(
            " ",
            F.array_sort(
                F.collect_list(F.struct("__pos", "__tok"))
            ).getField("__tok"),
        ).alias("clean_text"),
    )
    # counted from the base text, NOT the exploded stream: a blank doc
    # explodes to zero rows and would vanish from a groupBy over toks
    before = base.select(
        F.col(id_col),
        F.size(tokens(F.lower(F.col(text_col)))).alias("n_tokens_before"),
    )
    # left join: a doc whose EVERY token sits in duplicated spans
    # (fully-duplicated doc) — or a blank doc — has no `rebuilt` row;
    # re-attach it as an empty clean_text so the cleaner never
    # silently loses docs
    return (
        before.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            "n_tokens_before",
            F.coalesce(F.col("n_tokens_after"), F.lit(0)).alias(
                "n_tokens_after"
            ),
        )
    )
