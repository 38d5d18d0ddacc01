"""Keyed upsert (MERGE) sink without assuming Delta Lake.

The reference's idempotent ``INSERT ... ON CONFLICT (site, ts_utc) DO
UPDATE`` (``nasa.py:126-149``, ``silver_clean.py:47-54``; re-run safety
promised at ``README.md:36``) is the one semantic Spark's built-in
Parquet writer lacks. Strategy here is the standard pure-Parquet
fallback (SURVEY.md §7 "what's hard" #1):

    read target ∪ updates → keep newest per key → dynamic partition
    overwrite of ONLY the partitions the updates touch.

With the table partitioned by ``site``, an incremental ingest rewrites
just the affected site partitions, not the table — the same blast
radius as Postgres's per-row upsert, amortized at Parquet granularity.
On Delta/Iceberg deployments ``MERGE INTO`` replaces this wholesale;
the call signature is the contract.

Idempotency: keys are unique after ``latest_per_group``, so re-running
the same batch rewrites identical bytes — observable no-op, matching
the reference.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .. import fsutil
from .relational import latest_per_group


#: Directory label Spark/Hive writes for a NULL (or empty-string)
#: partition value.
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

#: Characters Spark's ExternalCatalogUtils escapes in partition
#: directory names (Hive's FileUtils.charToEscape): C0 controls plus
#: the listed specials. '+' and space are NOT escaped.
_HIVE_ESCAPE_CHARS = frozenset('"#%\'*/:=?\\{[]^') | frozenset(
    chr(i) for i in range(0x20)
) | frozenset({chr(0x7F)})  # DEL is in Hive's charToEscape too


def _escape_part_val(val: object) -> str:
    """Partition value → the directory-name form Spark writes for it
    (``site=<this>``). Manifest keys use THIS form everywhere (ADVICE
    r4): comparing raw ``str(value)`` against ``os.listdir`` names
    silently dropped NULLs and any value containing ':','/','%','='
    from the manifest."""
    if val is None:
        return _HIVE_NULL
    s = str(val)
    if s == "":
        return _HIVE_NULL
    return "".join(
        f"%{ord(c):02X}" if c in _HIVE_ESCAPE_CHARS else c for c in s
    )


def merge_frames(
    target: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    order_col: str,
    allow_schema_evolution: bool = False,
) -> DataFrame:
    """The MERGE resolution core, path-free: union target and updates,
    keep the newest row per key (``order_col`` recency; ties resolved
    update-over-existing — the reference's ON CONFLICT DO UPDATE).
    ``merge_upsert`` wraps this with partition-pruned IO; use this form
    directly for in-pipeline (non-sink) merge semantics.

    ``allow_schema_evolution=True`` is Delta's ``mergeSchema`` analog:
    columns present on only one side union as NULL on the other, so an
    ingest batch may ADD columns (old rows read NULL there). Because
    resolution is whole-row newest-wins, an update row *missing* an
    existing column replaces it with NULL — additive evolution is the
    intended use. Off by default: a silently widened schema is usually
    an upstream bug, and the loud AnalysisException is the guardrail."""
    t = target.withColumn("_src", F.lit(0))
    u = updates.withColumn("_src", F.lit(1))
    return (
        latest_per_group(
            t.unionByName(u, allowMissingColumns=allow_schema_evolution),
            keys=list(keys), order_col=order_col, tiebreak=["_src"]
        )
        .drop("_src")
    )


def _leaf_dirs(spark: SparkSession, root: str) -> set[str]:
    """Relative paths of the directories under ``root`` that directly
    hold a data file (``fsutil.data_files``: one recursive listing)."""
    return {rel.rpartition("/")[0] for rel in fsutil.data_files(root, spark)}


def _rename_or_die(fs, src, dst) -> None:
    """Hadoop FileSystem.rename reports failure by returning FALSE, not
    raising; an unchecked false followed by the work-dir delete would
    destroy the only copy of staged data (review r5). Raise instead —
    recovery must stop BEFORE anything is deleted."""
    if not fs.rename(src, dst):
        raise RuntimeError(
            f"recovery rename failed: {src} -> {dst}; refusing to clear "
            "work dirs (staged/trash bytes may be the only copy)"
        )


def _swap(fs, HPath, path: str, leaves: set[str], replaced: Sequence[str] = ()) -> None:
    """Per leaf partition dir, rename live→``_trash`` then staged→live:
    two metadata ops, no data movement on rename-capable filesystems.
    A ``replaced`` leaf with no staged twin lost every row: its live dir
    goes to ``_trash`` and nothing replaces it."""
    for rel in sorted(leaves | set(replaced)):
        live = HPath(f"{path}/{rel}")
        if fs.exists(live):
            trash = HPath(f"{path}/_trash/{rel}")
            fs.mkdirs(trash.getParent())
            _rename_or_die(fs, live, trash)
        if rel in leaves:
            fs.mkdirs(live.getParent())
            _rename_or_die(fs, HPath(f"{path}/_staging/data/{rel}"), live)


def _drop_work_dirs(fs, HPath, path: str) -> None:
    # _trash first: recovery rolls _trash back only while _staging
    # exists, so a crash between the two deletes must not leave a
    # _trash that still holds partitions the publish removed
    for d in ("_trash", "_staging"):
        fs.delete(HPath(f"{path}/{d}"), True)


def _clear_work_dirs(spark: SparkSession, path: str) -> None:
    """Clear ``_staging``/``_trash`` left by a crashed writer — but
    RECOVER first (ADVICE r4): a crash inside ``_publish_staged``'s
    rename loop can leave the batch half-applied, and staged/trash
    bytes may be the ONLY copy of data.

    If the staged fileset is COMPLETE (``_SUCCESS`` present), the
    interrupted publish is resumed in full: every staged partition
    leaf still unpublished — whether its live dir was already moved to
    ``_trash``, still holds the old data, or never existed (brand-new
    partition) — is renamed into place, so recovery finishes the
    commit instead of applying it partially (a crash after site=a's
    rename but before site=b's must not yield a table with new-a /
    old-b and site=b's durable staged update deleted). If staging is
    INCOMPLETE, trash-stranded leaves roll back (trash→live); a
    ``_trash`` without ``_staging`` is what a finished publish leaves
    while deleting its work dirs, so it is not rolled back. Only then
    are the work dirs deleted — staged/trash bytes are never the only
    copy at the moment of deletion. Every writer calls this before it
    plans its reads: the renames move the dirs a read plan would list."""
    jvm, fs, _ = fsutil._fs_path(spark, path)
    HPath = getattr(jvm, "org.apache.hadoop.fs.Path")
    staged_root = f"{path}/_staging/data"
    if fs.exists(HPath(f"{staged_root}/_SUCCESS")):
        # roll the whole publish forward: any staged leaf still present
        # was not yet renamed into place
        _swap(fs, HPath, path, _leaf_dirs(spark, staged_root))
    elif fs.exists(HPath(f"{path}/_staging")):
        for rel in sorted(_leaf_dirs(spark, f"{path}/_trash")):
            live = HPath(f"{path}/{rel}")
            if fs.exists(live):
                continue  # this leaf's publish completed; trash is stale
            fs.mkdirs(live.getParent())
            _rename_or_die(fs, HPath(f"{path}/_trash/{rel}"), live)  # roll back
    _drop_work_dirs(fs, HPath, path)


def _publish_staged(
    spark: SparkSession, path: str, leaves: set[str], replaced: Sequence[str] = (),
) -> None:
    """Swap the staged partition dirs ``leaves`` into the live tree and
    remove the ``replaced`` ones with no staged twin (``_swap``), then
    delete the work dirs. Split out as a seam so the crash-injection
    test can kill between write and publish."""
    jvm, fs, _ = fsutil._fs_path(spark, path)
    HPath = getattr(jvm, "org.apache.hadoop.fs.Path")
    _swap(fs, HPath, path, leaves, replaced)
    _drop_work_dirs(fs, HPath, path)


def _staged_overwrite(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    partition_by: Sequence[str],
    replaced: Sequence[str] = (),
) -> int:
    """Crash-safe partition overwrite (VERDICT r2 #3 / r3 #6): write the
    new fileset under ``<path>/_staging`` — underscore-prefixed, so
    Parquet readers of ``path`` never see it — then publish each staged
    partition with two directory renames. A crash anywhere before
    publish leaves the previous snapshot fully readable; the next
    writer's ``_clear_work_dirs``, which every caller runs before it
    plans its reads, clears the stale staging. The residual window is
    the rename loop itself — pure metadata ops; a transactional format
    (Delta/Iceberg) shrinks that to one manifest CAS, which is the
    production deployment's answer (see class docstring). Returns rows
    written, counted by an ``Observation`` on the written frame: the
    count rides the write job itself, so no job reads the staged files
    back.

    Writing to staging instead of overwriting in place also removes the
    read-own-input hazard, so callers no longer need the eager
    ``localCheckpoint`` materialization this module used to carry — one
    full pass over the merge output saved per call. ``replaced`` leaf
    dirs without rows in ``df`` are removed (``_publish_staged``)."""
    staged = f"{path}/_staging/data"
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite"
    ).partitionBy(*partition_by).parquet(staged)
    leaves = _leaf_dirs(spark, staged)
    # A zero-row df stages only _SUCCESS (ADVICE r4), and its write may
    # deliver no observed-metrics row, so the count is read only when a
    # data file was staged; the publish then only removes ``replaced``
    # dirs — a no-op for a plain empty batch, as the module contract
    # (re-run idempotency) requires.
    n = 0
    if leaves:
        row = obs._jo.getRow()
        n = row.getLong(0) if row.size() else 0
    _publish_staged(spark, path, leaves, replaced)
    return n


def _touched(
    updates: DataFrame, partition_by: Sequence[str]
) -> dict[str, tuple]:
    """{leaf partition dir: partition values} of every partition the
    updates touch — one bounded collect (one row per partition). The dir
    name comes from Spark's own string cast of each value, the form its
    writer names partition directories with."""
    cols = list(partition_by)
    rows = (
        updates.select(
            *cols, *[F.col(k).cast("string").alias(f"_dir{i}") for i, k in enumerate(cols)]
        )
        .distinct()
        .collect()
    )
    n = len(cols)
    return {
        "/".join(
            f"{k}={_escape_part_val(r[n + i])}" for i, k in enumerate(cols)
        ): tuple(r[:n])
        for r in rows
    }


def _in_partitions(partition_by: Sequence[str], values) -> Column:
    """Predicate selecting exactly the partitions ``values`` (tuples in
    ``partition_by`` order): an ``isin`` for one column, an OR of
    null-safe equalities otherwise. It reads partition columns only, so
    the scan prunes to those directories."""
    if len(partition_by) == 1:
        vals = [v[0] for v in values]
        pred = F.col(partition_by[0]).isin([v for v in vals if v is not None])
        return pred | F.col(partition_by[0]).isNull() if None in vals else pred
    return reduce(
        lambda a, b: a | b,
        [
            reduce(
                lambda a, b: a & b,
                [F.col(k).eqNullSafe(v) for k, v in zip(partition_by, vals)],
            )
            for vals in values
        ],
    )


class _Written(int):
    """``merge_upsert``'s result: the rows written — a plain int to every
    caller — carrying the partitions the merge touched as ``touched``
    (``_touched``'s mapping), so the Silver refresh, which needs the same
    values, does not collect them a second time."""

    touched: dict[str, tuple]


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: Sequence[str],
    order_col: str,
    partition_by: Sequence[str] = ("site",),
    allow_schema_evolution: bool = False,
) -> int:
    """Upsert ``updates`` into the Parquet table at ``target_path`` keyed
    by ``keys``; conflicts resolved by highest ``order_col`` (ingest
    recency), ties by update-over-existing. Returns rows written (its
    ``touched`` attribute holds the touched partitions, see ``_Written``).

    Only partitions present in ``updates`` are read and rewritten
    (partition pruning on the read; the write stages the rewritten
    partitions and publishes them by rename — crash-safe, see
    ``_staged_overwrite``). ``updates`` is read once to collect the
    touched partitions and once by the write; pin an expensive frame
    (``localCheckpoint``) before passing it. A batch with no rows
    writes nothing.

    ``allow_schema_evolution=True`` (Delta ``mergeSchema`` analog) lets
    a batch ADD columns: the touched-partition read takes the merged
    schema of those partitions' footers and the union fills the missing
    side with NULL (see ``merge_frames``). UNTOUCHED partitions keep
    their old files — the table becomes mixed-schema on disk, exactly
    like Delta before ``OPTIMIZE``; read an evolved table with
    ``spark.read.option("mergeSchema", "true")`` until every partition
    has been rewritten.
    """
    # recover any crashed writer's work dirs BEFORE planning the read:
    # roll-forward recovery renames live partition dirs, and a read plan
    # captured earlier would hold stale file references (observed as
    # FileNotFoundException at execution time)
    _clear_work_dirs(spark, target_path)
    parts = _touched(updates, partition_by)
    n = 0
    if parts:  # no rows: nothing to merge, nothing written
        # The existing read's schema is the MERGE of the touched
        # partitions' footers, read on the driver (no inference job):
        # once a table has been evolved it is mixed-schema on disk, and
        # one arbitrary footer (or a declared schema) could omit the
        # evolved column — a later default merge would then silently
        # rewrite partitions WITHOUT it. With the merged footers, a
        # default merge against an evolved partition fails loudly at
        # unionByName, which is the guardrail ``allow_schema_evolution``
        # is about. No footer (a new table, an empty directory, or only
        # new partitions) means nothing to merge with: the optimizer
        # drops the empty side.
        existing = updates.limit(0)
        schema = fsutil.parquet_schema(target_path, spark, dirs=list(parts))
        if schema is not None:
            existing = (
                spark.read.schema(schema).parquet(target_path)
                .filter(_in_partitions(partition_by, parts.values()))
            )
        out = merge_frames(existing, updates, keys, order_col, allow_schema_evolution)
        n = _staged_overwrite(spark, target_path, out, partition_by)
    written = _Written(n)
    written.touched = parts
    return written


#: Strips "scheme:" and an optional "//authority" from a URI, leaving
#: the absolute filesystem path — the form ``Path.toUri().getPath()``
#: returns, which the file-size join's keys are built from.
_URI_SCHEME_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*:(//[^/]*)?"


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_by: Sequence[str] = ("site",),
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict[str, int]:
    """Rewrite a partitioned Parquet table with right-sized files — the
    maintenance job every streaming-merge sink needs: ``foreachBatch``
    upserts spray one small file set per micro-batch, and at 100 TB
    file-count (driver listing, task scheduling, open cost) becomes the
    bottleneck before data size does.

    Partition identity is derived from the DATA, not from parsing
    directory names (ADVICE r2): each row is tagged with its source file
    (``input_file_name``), file bytes come from one recursive FS
    listing, and bytes-per-partition is a groupBy on the partition
    columns as Spark actually read them — so NULL partitions
    (``__HIVE_DEFAULT_PARTITION__``) and values whose directory form
    differs from a string cast are compacted, not silently skipped, and
    the returned plan can never claim a partition the job didn't touch.
    Partition-column type inference is disabled for the rewrite so
    values round-trip byte-identically (``site=00123`` stays ``00123``,
    not int 123); data-column types are untouched.

    Each partition's row set is hashed into ceil(bytes / target)
    buckets (content hash — deterministic, no RNG); one repartition on
    (partition cols, bucket) rewrites every partition in parallel — no
    per-partition driver loop, 100k partitions is one shuffle. The
    rewrite goes through ``_staged_overwrite`` (write staged, publish
    by rename), so a crash never leaves a half-compacted table.
    Returns {partition_value: files_planned} (a bucket-to-task hash
    collision can merge two buckets of the same partition into one
    file — fewer, larger files, never lost rows). Content is
    row-identical; only layout changes — asserted by the round-trip
    test. Transactional formats run this as OPTIMIZE; the logic is the
    same."""
    # recover first, for the same plan-staleness reason as merge_upsert
    _clear_work_dirs(spark, path)
    sizes = fsutil.data_files(path, spark)
    if not sizes:
        return {}
    _, fs, root = fsutil._fs_path(spark, path)
    root_uri = fs.makeQualified(root).toUri().getPath()
    files_df = spark.createDataFrame(
        [(f"{root_uri}/{rel}", n) for rel, n in sizes.items()], "_path string, _bytes long"
    )

    infer_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    infer_prev = spark.conf.get(infer_key, "true")
    spark.conf.set(infer_key, "false")
    try:
        # url_decode is form-decoding ('+' → space), but the Hadoop-side
        # keys from data_files keep a literal '+' (ADVICE r4): pre-encode
        # '+' as %2B so only percent-escapes decode and '+' round-trips.
        table = spark.read.parquet(path).withColumn(
            "_path",
            F.url_decode(
                F.regexp_replace(
                    F.regexp_replace(F.input_file_name(), _URI_SCHEME_RE, ""),
                    r"\+",
                    "%2B",
                )
            ),
        )
        data_cols = [
            c for c in table.columns if c not in partition_by and c != "_path"
        ]
        part_nf = (
            table.select(*partition_by, "_path")
            .dropDuplicates(["_path"])
            .join(F.broadcast(files_df), "_path")
            .groupBy(*partition_by)
            .agg(F.sum("_bytes").alias("_bytes"))
            .select(
                *partition_by,
                F.greatest(
                    F.lit(1), F.ceil(F.col("_bytes") / F.lit(target_file_bytes))
                ).cast("int").alias("_nf"),
            )
        )
        # one driver-side row per live partition: bounded metadata, used
        # for the shuffle width and the returned plan
        nf_rows = part_nf.collect()
        if not nf_rows:
            return {}
        total = sum(r["_nf"] for r in nf_rows)
        t, p = table.alias("t"), part_nf.alias("p")
        cond = reduce(
            lambda a, b: a & b,
            [
                F.col(f"t.{k}").eqNullSafe(F.col(f"p.{k}"))  # NULL partitions match
                for k in partition_by
            ],
        )
        out = (
            t.join(F.broadcast(p), cond)
            .select("t.*", "p._nf")
            .withColumn("_b", F.pmod(F.xxhash64(*data_cols), F.col("_nf")))
            .repartition(total, *partition_by, "_b")
            .drop("_b", "_nf", "_path")
        )
        _staged_overwrite(spark, path, out, partition_by)
    finally:
        spark.conf.set(infer_key, infer_prev)
    return {
        "/".join(_HIVE_NULL if r[k] is None else str(r[k]) for k in partition_by):
            r["_nf"]
        for r in sorted(
            nf_rows, key=lambda r: tuple(str(r[k]) for k in partition_by)
        )
    }
