"""Snapshot-versioned tables: copy-on-write partitions + per-version
manifests — time travel without Delta Lake.

Reproducible training runs need pinned inputs: "train on corpus
@v12" must read the same bytes next month even though ingest kept
merging. Transactional formats (Delta/Iceberg) provide this via
snapshot manifests; this module implements the same shape on plain
Parquet, scoped to the harness container:

    <root>/data/v<N>/<part>=<val>/*.parquet   -- only REWRITTEN partitions
    <root>/manifests/v<N>.json                -- partition -> version map

A new version rewrites only the partitions its updates touch; every
other partition entry is inherited from the previous manifest and its
files are never copied — commit cost is O(touched), storage is
shared across versions (copy-on-write at partition granularity; real
formats refine this to file granularity, same design). Reads resolve
one manifest and union per-partition scans, so time travel is free at
plan time: each scan is still partition-pruned Parquet.

Versions are dense integers (no wall-clock anywhere — deterministic
and replay-safe). Concurrency control is out of scope (single-writer
harness; see SCALE.md "Write concurrency"); a production port would
CAS the manifest pointer.

Commit protocol: a version's data files are written first (one
partitioned Spark job — no per-partition driver loop, so a commit is
one job whether it touches 3 partitions or 100k), then the manifest is
published with write-temp + atomic rename. The manifest IS the commit:
a crash before it leaves the previous version fully readable and the
half-written data dir is unreferenced garbage the next commit
overwrites.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .upsert import _HIVE_NULL, _escape_part_val, merge_frames


def _unescape_part_val(name: str) -> str | None:
    """Inverse of ``_escape_part_val``: directory name → column value
    (None for the default-partition label)."""
    if name == _HIVE_NULL:
        return None
    return re.sub(
        "%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), name
    )


def _manifest_dir(root: str) -> str:
    return os.path.join(root, "manifests")


def versions(root: str) -> list[int]:
    """All committed versions, ascending."""
    d = _manifest_dir(root)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(f[1:-5]) for f in os.listdir(d)
        if f.startswith("v") and f.endswith(".json")
    )


def _read_manifest(root: str, version: int) -> dict[str, str]:
    with open(os.path.join(_manifest_dir(root), f"v{version}.json")) as fh:
        return json.load(fh)["partitions"]


def _write_manifest(root: str, version: int, partitions: dict[str, str]) -> None:
    """Publish the manifest atomically: write a temp file, then
    ``os.replace`` (atomic on POSIX). Readers resolve either the old
    version list or the new one — never a torn manifest."""
    os.makedirs(_manifest_dir(root), exist_ok=True)
    path = os.path.join(_manifest_dir(root), f"v{version}.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"version": version, "partitions": partitions}, fh, sort_keys=True)
    os.replace(tmp, path)


def _written_partitions(root: str, vtag: str, partition_by: str) -> list[str]:
    """Partition values actually written under ``data/<vtag>`` — the
    ground truth for the manifest (a merge that produced zero rows for
    a partition writes no directory, so the manifest can never claim a
    partition with no files)."""
    d = os.path.join(root, "data", vtag)
    if not os.path.isdir(d):
        return []
    prefix = f"{partition_by}="
    return sorted(
        name[len(prefix):] for name in os.listdir(d) if name.startswith(prefix)
    )


def _part_path(root: str, data_version: str, part_key: str, part_val: str) -> str:
    return os.path.join(root, "data", data_version, f"{part_key}={part_val}")


def write_version(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    partition_by: str = "site",
) -> int:
    """Commit ``df`` as the next full snapshot (initial load / full
    rebuild). Every partition is written under this version — in ONE
    partitioned write job; the old per-partition filter-and-write loop
    was a serial job per partition, a day of driver round-trips at 100k
    partitions. ``partitionBy`` produces the same ``<part>=<val>``
    layout the manifest references."""
    ver = (versions(root)[-1] + 1) if versions(root) else 1
    vtag = f"v{ver}"
    df.write.mode("overwrite").partitionBy(partition_by).parquet(
        os.path.join(root, "data", vtag)
    )
    manifest = {val: vtag for val in _written_partitions(root, vtag, partition_by)}
    _write_manifest(root, ver, manifest)
    return ver


def read_version(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    partition_by: str = "site",
) -> DataFrame:
    """Read a snapshot (default: latest). Each partition scans its
    owning version's files — time travel is manifest resolution, not
    data copying."""
    vs = versions(root)
    if not vs:
        raise FileNotFoundError(f"no versions at {root}")
    ver = vs[-1] if version is None else version
    manifest = _read_manifest(root, ver)
    parts = []
    for val in sorted(manifest):
        # manifest keys are directory-name form; the column gets the
        # UNESCAPED value back (NULL for the default-partition label)
        p = spark.read.parquet(
            _part_path(root, manifest[val], partition_by, val)
        ).withColumn(
            partition_by, F.lit(_unescape_part_val(val)).cast("string")
        )
        parts.append(p)
    if not parts:
        raise ValueError(f"version {ver} is empty")
    return reduce(lambda a, b: a.unionByName(b), parts)


def merge_version(
    spark: SparkSession,
    root: str,
    updates: DataFrame,
    keys: Sequence[str],
    order_col: str,
    partition_by: str = "site",
) -> int:
    """Commit a new version by merging ``updates`` into the latest
    snapshot: touched partitions get merge-resolved (newest per key
    wins — same semantics as ``merge_upsert``) and rewritten under the
    new version; untouched partitions are INHERITED by manifest
    reference — their files are shared, not copied. A touched
    partition whose merge yields zero rows drops out of the manifest
    (partition deletion, which plain upsert cannot express).

    The commit is ONE Spark job: the touched slice of the current
    snapshot (per-partition scans unioned at plan time — partition
    pruning, no data copied) unions with the updates, one
    ``latest_per_group`` resolves every key, and one ``partitionBy``
    write lands every rewritten partition. The old shape looped
    partitions on the driver with a per-partition read-merge-
    checkpoint-write — O(touched) serial jobs and an eager
    materialization each; this is O(1) jobs for any touched count.
    Writes target the NEW version directory, so there is no
    read-own-input hazard and no checkpoint."""
    prev_manifest = _read_manifest(root, versions(root)[-1]) if versions(root) else {}
    ver = (versions(root)[-1] + 1) if versions(root) else 1
    vtag = f"v{ver}"

    # driver-bounded: one row per touched partition value; compared and
    # stored in directory-name (Hive-escaped) form so NULLs and values
    # Spark escapes match what lands on disk (ADVICE r4)
    touched = sorted(
        {
            _escape_part_val(r[0])
            for r in updates.select(partition_by).distinct().collect()
        }
    )
    cur_parts = [
        spark.read.parquet(_part_path(root, prev_manifest[val], partition_by, val))
        .withColumn(
            partition_by, F.lit(_unescape_part_val(val)).cast("string")
        )
        for val in touched
        if val in prev_manifest
    ]
    # the merge key must include the partition column — a key that
    # crossed partitions could leave a stale twin in an untouched one
    merge_keys = list(keys) if partition_by in keys else [partition_by, *keys]
    target = (
        reduce(lambda a, b: a.unionByName(b), cur_parts)
        if cur_parts
        else updates.limit(0)
    )
    merged = merge_frames(target, updates, keys=merge_keys, order_col=order_col)
    merged.write.mode("overwrite").partitionBy(partition_by).parquet(
        os.path.join(root, "data", vtag)
    )

    manifest = dict(prev_manifest)
    written = set(_written_partitions(root, vtag, partition_by))
    for val in touched:
        if val in written:
            manifest[val] = vtag
        else:
            manifest.pop(val, None)  # merge emptied the partition
    _write_manifest(root, ver, manifest)
    return ver


def snapshot_diff(
    spark: SparkSession,
    root: str,
    from_version: int,
    to_version: int,
    keys: Sequence[str],
    partition_by: str = "site",
) -> DataFrame:
    """Change-data-capture between two snapshots: one row per key that
    was inserted / deleted / updated, with both value structs. The
    audit/debug primitive versioning exists for ("what changed between
    the run that worked and the run that didn't").

    Plan: full outer join on the key columns; manifest-identical
    partitions (inherited by reference — the common case) could be
    skipped entirely at plan time, an optimization a file-level format
    gets for free; here both sides are partition-pruned scans and the
    join shuffles on the uniform natural key."""
    old = read_version(spark, root, from_version, partition_by)
    new = read_version(spark, root, to_version, partition_by)
    return diff_frames(old, new, keys)


def diff_frames(
    old: DataFrame, new: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Path-free CDC core of ``snapshot_diff`` (the ``merge_frames``
    pattern: relational semantics factored out of the storage op so
    the driver's oracle gate can certify them without filesystem
    side effects). One full-outer join on the keys; ``update`` rows
    compare the value STRUCTS, which for non-null fields is the OR of
    per-field inequalities — a NULL field on exactly one side makes
    the comparison NULL and the row classifies as no-change, so null
    out sentinel values upstream if they must register as updates."""
    val_cols = [c for c in new.columns if c not in keys]
    o = old.select(
        *keys, F.struct(*val_cols).alias("old_val"), F.lit(1).alias("_o")
    )
    n = new.select(
        *keys, F.struct(*val_cols).alias("new_val"), F.lit(1).alias("_n")
    )
    j = o.join(n, list(keys), "full_outer")
    change = (
        F.when(F.col("_o").isNull(), "insert")
        .when(F.col("_n").isNull(), "delete")
        .when(F.col("old_val") != F.col("new_val"), "update")
    )
    return (
        j.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(*keys, "change", "old_val", "new_val")
        .orderBy(*keys)
    )


def scd2_intervals(
    snapshots: Sequence[tuple[int, DataFrame]], keys: Sequence[str]
) -> DataFrame:
    """Slowly-changing-dimension Type 2 from a series of keyed
    snapshots: one row per (key, contiguous value run) with
    ``valid_from`` (the snapshot version where the value first
    appeared), ``valid_to`` (the first version where it no longer held
    — exclusive; NULL while current) and ``is_current``. The classic
    warehouse dimension builder (Kimball SCD2), here derived from full
    snapshots rather than a CDC feed so it composes with
    ``read_version`` time travel and ``diff_frames``.

    Deletions are intervals too: a key absent from a later snapshot
    closes its run at that snapshot's version (the run-break test is
    "value changed OR version not contiguous", against the GLOBAL
    version order). Value comparison is null-safe (a NULL field equals
    NULL — unlike ``diff_frames``'s struct inequality, an SCD row must
    not reopen because one side is NULL).

    Plan: one union of the snapshots (each tagged with its version),
    ONE shuffle for the per-key window (lag over the dense version
    index), a partial-agg groupBy per run, and a broadcast join against
    the tiny version dimension (built driver-side from the version
    list the caller already holds — no job). Scales as the union of
    snapshots; history depth multiplies rows, not shuffle count."""
    if not snapshots:
        raise ValueError("scd2_intervals needs at least one snapshot")
    vs = [v for v, _ in snapshots]
    if len(set(vs)) != len(vs):
        raise ValueError(f"duplicate snapshot versions: {sorted(vs)}")
    order = sorted(vs)
    vidx = {v: i for i, v in enumerate(order)}
    vnext = {order[i]: order[i + 1] for i in range(len(order) - 1)}

    frames = []
    val_cols = None
    for v, df in snapshots:
        cols = [c for c in df.columns if c not in keys]
        if val_cols is None:
            val_cols = cols
        elif cols != val_cols:
            raise ValueError(
                f"snapshot v{v} columns {cols} != first snapshot's "
                f"{val_cols} — SCD2 needs one schema across versions"
            )
        frames.append(
            df.select(
                *keys,
                F.struct(*val_cols).alias("_val"),
                # versions carry a LONG domain end to end (ADVICE r7:
                # epoch-like versions exceed int32; a mixed int/long
                # union would also break when one snapshot's literal
                # crosses 2^31)
                F.lit(v).cast("long").alias("_v"),
                F.lit(vidx[v]).alias("_vidx"),
            )
        )
    tagged = frames[0]
    for fdf in frames[1:]:
        tagged = tagged.unionByName(fdf)

    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy("_vidx")
    prev_val = F.lag("_val").over(w)
    prev_idx = F.lag("_vidx").over(w)
    brk = (
        prev_idx.isNull()
        | (F.col("_vidx") != prev_idx + 1)
        | ~F.col("_val").eqNullSafe(prev_val)
    )
    runs = tagged.withColumn(
        "_run",
        F.sum(brk.cast("int")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    grouped = runs.groupBy(*keys, "_run").agg(
        F.min("_v").alias("valid_from"),
        F.max("_vidx").alias("_last_vidx"),
        F.min_by("_val", "_vidx").alias("_val"),
    )
    spark = grouped.sparkSession
    vdim = spark.createDataFrame(
        [(vidx[v], vnext.get(v)) for v in order],
        "_last_vidx int, valid_to long",
    )
    out = grouped.join(F.broadcast(vdim), "_last_vidx", "left")
    assert val_cols is not None
    return out.select(
        *keys,
        *[F.col("_val")[c].alias(c) for c in val_cols],
        "valid_from",
        "valid_to",
        F.col("valid_to").isNull().alias("is_current"),
    ).orderBy(*keys, "valid_from")


def vacuum_versions(root: str, keep_last: int = 2) -> dict[str, int]:
    """Reclaim storage: keep the newest ``keep_last`` snapshots, drop
    older manifests, and delete every ``data/v<N>/<part>`` directory no
    surviving manifest references — Delta/Iceberg ``VACUUM`` at this
    module's partition granularity. Also sweeps unreferenced dirs from
    crashed commits (data written, manifest never published).

    Time travel to a vacuumed version then fails loudly at manifest
    resolution (``FileNotFoundError``) — the retention contract, not a
    silent wrong answer; surviving versions read byte-identically
    because copy-on-write partitions they reference are never touched.

    Driver-side FS walk, bounded by partition-dir count — the same
    class (and the same single-writer contract) as ``compact_partitions``.
    Returns {"versions_dropped", "dirs_deleted"}.
    """
    import shutil

    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    vs = versions(root)
    if not vs:
        # zero manifests means the "everything unreferenced" sweep would
        # delete every data dir — refuse loudly (same contract as
        # read_version): vacuum of a table that has no committed version
        # is always a mistake or a mispointed root.
        raise FileNotFoundError(f"no versions at {root}; refusing to vacuum")
    keep = vs[-keep_last:]
    drop = vs[: -keep_last] if len(vs) > keep_last else []
    referenced: set[tuple[str, str]] = set()
    for ver in keep:
        for part_dir, vtag in _read_manifest(root, ver).items():
            referenced.add((vtag, part_dir))

    dirs_deleted = 0
    data_root = os.path.join(root, "data")
    part_re = re.compile(r"^[^=]+=")
    if os.path.isdir(data_root):
        for vtag in sorted(os.listdir(data_root)):
            vdir = os.path.join(data_root, vtag)
            if not os.path.isdir(vdir):
                continue
            for name in sorted(os.listdir(vdir)):
                if not part_re.match(name):
                    continue
                val = name.split("=", 1)[1]
                if (vtag, val) not in referenced:
                    shutil.rmtree(os.path.join(vdir, name))
                    dirs_deleted += 1
            if not any(part_re.match(n) for n in os.listdir(vdir)):
                shutil.rmtree(vdir)

    for ver in drop:
        os.remove(os.path.join(_manifest_dir(root), f"v{ver}.json"))
    return {"versions_dropped": len(drop), "dirs_deleted": dirs_deleted}


def scd2_lookup(
    dim: DataFrame,
    probes: DataFrame,
    keys: Sequence[str],
    as_of_col: str = "as_of",
) -> DataFrame:
    """Point-in-time dimension lookup against an SCD Type-2 table (the
    consumption half of ``scd2_intervals``): each probe row joins the
    dimension version whose validity interval contains its ``as_of``
    version — ``valid_from ≤ as_of < valid_to`` (NULL valid_to =
    current = +∞). LEFT join: a key probed outside any interval (e.g.
    after its deletion closed the last run) keeps the probe row with
    NULL attributes — silently dropping it would hide deletions.

    Plan: an EQUI join on the natural key carries the shuffle; the
    interval predicate is a post-join filter, correct because SCD2
    intervals for one key are disjoint (at most one version matches —
    guaranteed by construction in ``scd2_intervals``), so no
    row-multiplication and no range-join machinery is needed. At
    scale both sides shuffle once on the key; the dimension is the
    small side and broadcasts when it fits."""
    keys = list(keys)
    d = dim.select(
        *[F.col(c).alias(f"_d_{c}") for c in keys],
        *[c for c in dim.columns if c not in keys],
    )
    cond = None
    for c in keys:
        eq = probes[c] == d[f"_d_{c}"]
        cond = eq if cond is None else cond & eq
    # NULL valid_to (= current/+∞) is an explicit NULL test, not a
    # sentinel (ADVICE r7: an int32 max sentinel silently stopped
    # matching current rows once version/as_of domains reach 2^31)
    cond = (
        cond
        & (d["valid_from"] <= probes[as_of_col])
        & (d["valid_to"].isNull() | (probes[as_of_col] < d["valid_to"]))
    )
    return probes.join(d, cond, "left").drop(*[f"_d_{c}" for c in keys])
