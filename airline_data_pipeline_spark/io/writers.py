"""Sinks (SURVEY.md §2.1 S4-S6).

The reference materializes CSV between every stage (`ingest.py:337`,
`process.py:172`) and bulk-inserts row tuples into Postgres
(`dags/flight_data_pipeline.py:100-122`). Here stages stay lazy; these
writers are for pipeline *boundaries* only — Parquet internally, CSV
only as an export-compat format, JDBC with per-partition batch writers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Parquet sink — the engine's internal checkpoint format.

    ``partition_by`` (e.g. a date-derived column) is what makes the
    P4-style range predicates partition-prunable at scale.
    """
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_parquet_clustered(
    df: DataFrame,
    path: str,
    cluster_by: list[str],
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Range-clustered parquet layout (the data-skipping write path).

    `repartitionByRange` (sampled range boundaries, one shuffle) +
    `sortWithinPartitions` lays rows out so each output file covers a
    narrow, near-disjoint range of ``cluster_by`` — parquet footer
    min/max stats then let ANY engine (Spark, DuckDB, Trino) skip whole
    files/row-groups for range predicates on those columns. This is the
    single biggest lever for 100 TB range scans after directory
    partitioning: directory partitions prune coarse keys (day), range
    clustering prunes within them (hour, user bucket, ship date),
    without the tiny-directory explosion per-key partitioning causes.
    """
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in cluster_by]
    out = df
    if num_files is not None:
        out = out.repartitionByRange(num_files, *cols)
    else:
        out = out.repartitionByRange(*cols)
    out.sortWithinPartitions(*cols).write.mode(mode).parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    path: str | None = None,
) -> None:
    """Hive-style bucketed parquet table — the CO-LOCATED JOIN layout.

    `bucketBy` hashes ``bucket_cols`` into ``n_buckets`` files per
    write task and records the bucket spec in the catalog, so any
    join or aggregation keyed on the bucket columns between tables
    with the SAME bucket count reads bucket-for-bucket with ZERO
    exchange on either side (asserted in tests/test_plans): the
    shuffle that a fact⋈fact join would otherwise pay on every query
    is paid ONCE at write time. This is the 100 TB answer for the
    repeated big-big joins `broadcast()` can't touch — at that scale
    pick n_buckets so each bucket is a few hundred MB (e.g. 8192
    buckets for a 2 TB table). ``sort_cols`` additionally sorts
    within each bucket file (footer-friendly, and lets the merge join
    skip its sort when Spark can prove per-file order). ``path``
    makes the table external — data lives under the caller's
    directory and DROP TABLE releases only metadata, which is what a
    scratch-dir lifecycle wants.

    Bucketed layout requires the catalog (`saveAsTable`): a bare
    `.parquet(path)` write has nowhere to record the bucket spec —
    this is a Spark constraint, not a choice.

    Second payoff: an EQUALITY predicate on the bucket columns prunes
    the scan to one bucket (`SelectedBucketsCount: 1 out of n`) — the
    index-free point-lookup path. Caveat: autoBucketedScan un-buckets
    scans that avoid no exchange, forfeiting the pruning too, so
    lookup-style reads should set
    `spark.sql.sources.bucketing.autoBucketedScan.enabled=false`
    (asserted in tests/test_io.py).
    """
    writer = df.write.mode("overwrite").format("parquet").bucketBy(
        n_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def replace_parquet_dir(spark, tmp: str, live: str) -> None:
    """Swap a freshly-written directory over a live one with a
    park-rename-delete sequence (the compaction swap primitive shared
    by `similarity.compact_ivf_cells` and `dedup.compact_minhash_index`).

    NOT delete-then-rename: a crash between a delete and the rename-in
    would leave NO live directory. Parking first means every failure
    point leaves a loadable or restorable state — before the first
    rename the old layout is live; between the renames the new layout
    is complete at ``tmp`` and the old one parked at ``<live>__replaced``;
    after the second the swap is done and the park is garbage. Renames
    into an existing destination would NEST under Hadoop dir-rename
    semantics, so both are checked and the first failure restores.

    A MISSING live directory is the first-write case (a fresh index's
    meta stamp): there is nothing to park, so the swap degenerates to
    one checked rename — same crash guarantee (before the rename only
    ``tmp`` exists; after it only ``live`` does; no point in between
    leaves a half-written live layout).
    """
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    live_p = jvm.org.apache.hadoop.fs.Path(live)
    park_p = jvm.org.apache.hadoop.fs.Path(live + "__replaced")
    fs = live_p.getFileSystem(hconf)
    if not fs.exists(live_p):
        if not fs.rename(jvm.org.apache.hadoop.fs.Path(tmp), live_p):
            raise IOError(
                f"replace_parquet_dir: first-write rename {tmp} -> "
                f"{live} failed; the new layout is intact at {tmp}"
            )
        return
    # every FS call is CHECKED (review r11): delete() returns False
    # both for "nothing there" and "could not delete", so it must be
    # guarded by exists() — an undead stale park would make the next
    # rename NEST live inside it (Hadoop dir-rename semantics) instead
    # of failing.
    if fs.exists(park_p) and not fs.delete(park_p, True):
        raise IOError(
            f"replace_parquet_dir: could not clear the stale park "
            f"{live}__replaced; {live} is unchanged, the new layout is "
            f"intact at {tmp}"
        )
    if not fs.rename(live_p, park_p):
        raise IOError(
            f"replace_parquet_dir: could not park {live}; it is "
            f"unchanged, the new layout is intact at {tmp}"
        )
    if not fs.rename(jvm.org.apache.hadoop.fs.Path(tmp), live_p):
        if not fs.rename(park_p, live_p):  # restore the live layout
            raise IOError(
                f"replace_parquet_dir: rename {tmp} -> {live} failed "
                f"AND the restore failed — {live} is MISSING; the old "
                f"layout is parked at {live}__replaced and the new one "
                f"at {tmp}; rename one back by hand"
            )
        raise IOError(
            f"replace_parquet_dir: rename {tmp} -> {live} failed; "
            f"original layout restored, new layout left at {tmp}"
        )
    fs.delete(park_p, True)  # best-effort: a surviving park is inert garbage


def write_csv_export(df: DataFrame, path: str, single_file: bool = False) -> None:
    """CSV sink for compatibility with the reference's outputs (op S4).

    ``single_file=True`` coalesces to one partition — only for small
    result exports (the metric tables), never for data-scale tables.
    """
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", True).csv(path)


def write_orc(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """ORC sink — columnar interchange with Hive/Trino-side warehouses
    (built into Spark; same predicate-pushdown/column-pruning story as
    parquet on the read side)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def write_xml_export(
    df: DataFrame,
    path: str,
    row_tag: str = "row",
    root_tag: str = "rows",
    mode: str = "overwrite",
    sanitize_control_chars: bool = False,
) -> None:
    """XML sink (S4 sibling) — the interchange format for the
    B2B/regulatory feeds the reference's CSV exports
    (`/root/reference/data_ingestion/ingest.py:337`) stand in for.
    Built into Spark since 4.0 (the former spark-xml package merged
    upstream, SPARK-44265), so it needs no extra jars and writes one
    XML part-file per partition like every other file sink — at scale
    the layout/parallelism story is identical to the CSV sink above.
    Values with markup-significant characters (``< >&"``) are escaped
    by the writer and un-escaped by the scan, which is exactly the
    round-trip property the driver-checked query exercises.

    XML 1.0 cannot represent most control characters (valid below
    U+0020: only tab/LF/CR), and the writer THROWS on them — measured:
    one stray 0x01 byte fails its task and, after retries, the whole
    export job. Default keeps that loud failure (an export that
    silently alters bytes is worse); ``sanitize_control_chars=True``
    opts into replacing the unrepresentable range with U+FFFD
    JVM-side (one regexp_replace per string column) for corpora known
    to carry binary junk."""
    out = df
    if sanitize_control_chars:
        for f in df.schema.fields:
            if f.dataType.simpleString() == "string":
                out = out.withColumn(
                    f.name,
                    F.regexp_replace(
                        F.col(f.name),
                        "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]",
                        "�",
                    ),
                )
    out.write.mode(mode).format("xml").option("rowTag", row_tag).option(
        "rootTag", root_tag
    ).save(path)


def write_jdbc(
    df: DataFrame,
    url: str,
    dbtable: str,
    mode: str = "append",
    properties: dict[str, str] | None = None,
    batchsize: int = 10_000,
) -> None:
    """JDBC sink (op S6) — replaces the reference's row-tuple loop
    (`dags/flight_data_pipeline.py:112-122`) with parallel per-partition
    batched inserts."""
    props = {"batchsize": str(batchsize)}
    props.update(properties or {})
    df.write.mode(mode).format("jdbc").option("url", url).option(
        "dbtable", dbtable
    ).options(**props).save()


def write_json_summary(records: list[dict], path: str) -> None:
    """Small-result JSON sink (op S5): metric summaries are driver-side
    documents (`dags/flight_data_pipeline.py:176-177,221-222`), not
    distributed data — compose and dump locally."""
    import json

    with open(path, "w") as f:
        json.dump(records, f, indent=2, default=str)


def hadoop_fs(spark, path: str):
    """(jvm, hadoop FileSystem, Path-constructor) for a path — the
    shared plumbing every stored-index verb uses for checked
    renames/deletes."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, p.getFileSystem(hconf), jvm.org.apache.hadoop.fs.Path


def fsck_swap_states(spark, root: str, live_names: list[str], clean: bool):
    """The directory-level half of the stored-index fsck verbs
    (VERDICT r12 #4): every lifecycle verb (append/compact/retract/
    refit/reband/PQ-encode) stages its new layout at ``<live>__<verb>``
    and swaps via `replace_parquet_dir`, whose documented crash states
    are (a) leftover tmp/park dirs next to an intact live dir — inert
    garbage — and (b) the double-rename disaster: live MISSING with
    the old layout parked at ``<live>__replaced`` and/or the complete
    new layout still at its tmp name.

    For each name in ``live_names`` this detects which state holds and
    (with ``clean=True``) repairs it: a missing live dir is restored by
    FINISHING the interrupted swap (renaming in the staged layout) or,
    with no usable tmp, by restoring the park; leftover tmp/park dirs
    beside an intact live dir are deleted. Everything is a checked
    driver-side FS call — no data is read, so this half is O(1)
    regardless of index size. Returns a list of (component, issue,
    detail, action) findings; repairs that cannot proceed report
    ``action='FATAL: ...'`` instead of raising, so one broken table
    doesn't hide the report for the rest.

    A staged layout is only installed if it is a COMMITTED write — its
    ``_SUCCESS`` marker exists (every staging write here is a Spark
    parquet job under the default committer). "replace_parquet_dir
    only runs after the staging write commits" is true of the SWAP,
    but the staging DIRECTORY can still be a crash-mid-write residue
    from an earlier, different verb (ADVICE r13: a stale incomplete
    ``__compacting`` sorted ahead of a complete ``__retracting``, got
    renamed in, and the repair deleted the parked good copy — data
    loss from the repair tool). Incomplete tmps are deleted as
    residue; if MULTIPLE committed tmps exist for one missing table,
    the recovery is ambiguous and reported FATAL with the park and
    every committed tmp left untouched — never auto-pick.
    """
    _, fs, P = hadoop_fs(spark, root)
    findings: list[tuple[str, str, str, str]] = []
    children = {
        st.getPath().getName() for st in fs.listStatus(P(root))
    } if fs.exists(P(root)) else set()

    def checked_delete(name: str, issue: str, comp: str):
        if clean:
            if fs.delete(P(f"{root}/{name}"), True):
                findings.append((comp, issue, name, "deleted"))
            else:
                findings.append((comp, issue, name, "FATAL: delete failed"))
        else:
            findings.append((comp, issue, name, "would delete (clean=False)"))

    for live in live_names:
        park = f"{live}__replaced"
        tmps = sorted(
            c for c in children
            if c.startswith(live + "__") and c != park
            # a tmp for THIS table, not for a longer-named sibling
            # (e.g. 'cells__x' must not claim 'cells_extra__x')
        )
        if live in children:
            # live intact: any same-named tmp/park is inert crash residue
            for c in [*tmps, *(([park] if park in children else []))]:
                checked_delete(c, "stale swap residue beside intact table", live)
            continue
        # live MISSING: recover by finishing or unwinding the swap.
        # Only a COMMITTED staged layout (_SUCCESS marker) may be
        # installed; incomplete tmps are crash-mid-write residue and
        # are deleted so the park-restore below can run.
        committed = [
            c for c in tmps if fs.exists(P(f"{root}/{c}/_SUCCESS"))
        ]
        for c in tmps:
            if c not in committed:
                checked_delete(
                    c,
                    "incomplete staged layout (no _SUCCESS) beside "
                    "missing live",
                    live,
                )
        if len(committed) > 1:
            findings.append((
                live,
                "live dir missing; MULTIPLE committed staged layouts",
                ", ".join(committed),
                "FATAL: ambiguous recovery — rename the correct layout "
                "in by hand (park and staged layouts left untouched)",
            ))
            continue
        if committed:
            src = committed[0]
            if clean:
                if fs.rename(P(f"{root}/{src}"), P(f"{root}/{live}")):
                    findings.append((
                        live, "live dir missing; complete staged layout found",
                        src, "finished interrupted swap (renamed in)",
                    ))
                    children.discard(src)
                    children.add(live)
                    if park in children:
                        checked_delete(park, "park obsolete after finished swap", live)
                else:
                    findings.append((
                        live, "live dir missing; complete staged layout found",
                        src, "FATAL: rename failed",
                    ))
            else:
                findings.append((
                    live, "live dir missing; complete staged layout found",
                    src, "would finish swap (clean=False)",
                ))
        elif park in children:
            if clean:
                if fs.rename(P(f"{root}/{park}"), P(f"{root}/{live}")):
                    findings.append((
                        live, "live dir missing; parked old layout found",
                        park, "restored park",
                    ))
                    children.discard(park)
                    children.add(live)
                else:
                    findings.append((
                        live, "live dir missing; parked old layout found",
                        park, "FATAL: rename failed",
                    ))
            else:
                findings.append((
                    live, "live dir missing; parked old layout found",
                    park, "would restore park (clean=False)",
                ))
        else:
            findings.append((
                live, "live dir missing with no recoverable state",
                f"no {live}__* staging or park under {root}",
                "FATAL: rebuild required",
            ))
    return findings
