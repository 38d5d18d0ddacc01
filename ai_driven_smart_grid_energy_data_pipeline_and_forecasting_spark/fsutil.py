"""Replay-marker and pointer IO through the Hadoop FileSystem API.

The streaming sinks' exactly-once contracts hang off tiny text files —
committed-pointer ``_LATEST`` files, ``_CHECKPOINT`` bindings, per-table
append markers. Through round 7 these used ``os.path``/``open``, which
silently assumes the checkpoint/state location is a driver-local POSIX
path: on an HDFS or object-store deployment a URI would never match an
existing marker and every replay would re-append (ADVICE r6; VERDICT r7
Next #3). This module routes the same operations through
``org.apache.hadoop.fs.FileSystem`` resolved FROM THE PATH's scheme, so
one code path covers ``/local/dir``, ``file:///...``, ``hdfs://...``,
and ``s3a://...`` — whatever filesystems the active Hadoop conf knows.

Atomicity notes: ``write_text_atomic`` stages a sibling temp file and
renames over the destination via ``FileContext.rename(OVERWRITE)`` —
atomic on POSIX and HDFS (rename(2) / NameNode op). Object stores
without atomic rename keep the documented manifest-CAS caveat from
``operators/versioned.py``; the marker/pointer PROTOCOL is unchanged,
only the IO layer widened.

``data_files`` is the one listing of a table's files: a single
recursive walk under Spark's hidden-name rule (``_hidden``). The
partition-replace writer, its crash recovery and compaction all read it,
and ``parquet_schema`` reads the footers of the same files, so opening
or merging into a table costs no schema-inference job.

Everything here is driver-side, a handful of py4j calls per micro-batch
— never on the executor hot path.
"""

from __future__ import annotations

from collections.abc import Sequence
from itertools import islice

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType, _parse_datatype_json_string


def _require_spark(spark: SparkSession | None) -> SparkSession:
    if spark is not None:
        return spark
    active = SparkSession.getActiveSession()
    if active is None:
        raise RuntimeError(
            "marker IO needs an active SparkSession to resolve the "
            "Hadoop FileSystem for the path's scheme"
        )
    return active


def _fs_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = getattr(jvm, "org.apache.hadoop.fs.Path")(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return jvm, fs, p


def join(base: str, *parts: str) -> str:
    """URI-safe path join: '/'-separated, no ``os.sep`` assumptions —
    ``join('s3a://b/state', 'v3')`` must not become a Windows-style or
    cwd-relative path."""
    out = base.rstrip("/")
    for part in parts:
        out = f"{out}/{part.strip('/')}"
    return out


def exists(path: str, spark: SparkSession | None = None) -> bool:
    spark = _require_spark(spark)
    _, fs, p = _fs_path(spark, path)
    return bool(fs.exists(p))


def read_text(path: str, spark: SparkSession | None = None) -> str:
    spark = _require_spark(spark)
    _, fs, p = _fs_path(spark, path)
    stream = fs.open(p)
    try:
        n = int(fs.getFileStatus(p).getLen())
        data = bytes(stream.readNBytes(n))
    finally:
        stream.close()
    return data.decode("utf-8")


def _write_bytes(fs, p, data: bytes) -> None:
    out = fs.create(p, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def touch(path: str, spark: SparkSession | None = None) -> None:
    """Create an empty marker file (parents included). Marker creation
    need not be atomic — markers are presence tests whose residual
    append-commit→marker-touch window is documented at each call
    site."""
    spark = _require_spark(spark)
    _, fs, p = _fs_path(spark, path)
    parent = p.getParent()
    if parent is not None and not fs.exists(parent):
        fs.mkdirs(parent)
    _write_bytes(fs, p, b"")


def write_text_atomic(
    path: str, text: str, spark: SparkSession | None = None
) -> None:
    """Replace ``path`` with ``text`` via sibling-temp + overwrite
    rename — the pointer-flip commit primitive (the ``os.replace``
    analog). Uses ``FileContext.rename(OVERWRITE)``: atomic where the
    filesystem's rename is."""
    spark = _require_spark(spark)
    jvm, fs, p = _fs_path(spark, path)
    parent = p.getParent()
    if parent is not None and not fs.exists(parent):
        fs.mkdirs(parent)
    tmp = jvm.org.apache.hadoop.fs.Path(str(p) + ".tmp")
    _write_bytes(fs, tmp, text.encode("utf-8"))
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        p.toUri(), spark._jsc.hadoopConfiguration()
    )
    rename_cls = jvm.org.apache.hadoop.fs.Options.Rename
    opts = spark.sparkContext._gateway.new_array(rename_cls, 1)
    opts[0] = rename_cls.OVERWRITE
    fc.rename(tmp, p, opts)


def delete(
    path: str, recursive: bool = False, spark: SparkSession | None = None
) -> bool:
    spark = _require_spark(spark)
    _, fs, p = _fs_path(spark, path)
    return bool(fs.delete(p, recursive))


def list_names(path: str, spark: SparkSession | None = None) -> list[str]:
    """Child entry names of a directory (empty list if absent)."""
    spark = _require_spark(spark)
    _, fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


def _hidden(segment: str) -> bool:
    """Spark's file-index rule: ``_``/``.``-prefixed names are not data
    (``_SUCCESS``, ``_staging``, ``.crc``), but a ``_``-prefixed
    partition directory (``_x=1``) is."""
    return segment.startswith(".") or (
        segment.startswith("_") and "=" not in segment
    )


def _data_files(fs, root_uri: str, p):
    """(path relative to the table root, file status) of each data file
    under Hadoop path ``p`` (recursive), by ``_hidden`` on that relative
    path."""
    if not fs.exists(p):
        return
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        rel = st.getPath().toUri().getPath()[len(root_uri):].strip("/")
        if not any(_hidden(seg) for seg in rel.split("/")):
            yield rel, st


def data_files(path: str, spark: SparkSession | None = None) -> dict[str, int]:
    """{path relative to ``path``: bytes} of every data file under
    ``path`` — the files a Spark read of ``path`` sees, from one
    recursive listing. Empty when ``path`` is absent or holds none."""
    spark = _require_spark(spark)
    _, fs, root = _fs_path(spark, path)
    root_uri = fs.makeQualified(root).toUri().getPath()
    return {rel: st.getLen() for rel, st in _data_files(fs, root_uri, root)}


def parquet_schema(
    path: str,
    spark: SparkSession | None = None,
    dirs: Sequence[str] | None = None,
    first: bool = False,
) -> StructType | None:
    """Data schema of the Parquet files under ``path`` (or under its
    subdirectories ``dirs``), read from their footers on the driver.

    Each footer goes through Spark's own converter
    (``ParquetFileFormat.readSchemaFromFooter`` with a
    ``ParquetToSparkSchemaConverter`` built from the session conf) and
    several are merged with ``StructType.merge`` — the code Spark's
    schema-inference job runs, without the job. ``first=True`` reads one
    footer (a plain read's inference); otherwise every file's footer is
    merged (a ``mergeSchema`` read's). Partition columns are not in the
    footers: a reader given this schema infers them from the directory
    names, as an inferring read does. None when there is no data file —
    a new or empty table."""
    spark = _require_spark(spark)
    jvm, fs, root = _fs_path(spark, path)
    # classes by full name: one py4j round trip each, where a dotted
    # attribute chain pays one per package segment
    pq = "org.apache.spark.sql.execution.datasources.parquet"
    root_uri = fs.makeQualified(root).toUri().getPath()
    hconf = spark._jsc.hadoopConfiguration()
    sconf = spark._jsparkSession.sessionState().conf()
    converter = getattr(jvm, f"{pq}.ParquetToSparkSchemaConverter")(sconf)
    reader = getattr(jvm, "org.apache.parquet.hadoop.ParquetFileReader")
    footer_cls = getattr(jvm, "org.apache.parquet.hadoop.Footer")
    read_schema = getattr(jvm, f"{pq}.ParquetFileFormat").readSchemaFromFooter
    bases = (
        [root] if dirs is None
        else [getattr(jvm, "org.apache.hadoop.fs.Path")(join(path, d)) for d in dirs]
    )
    files = (st for b in bases for _, st in _data_files(fs, root_uri, b))
    merged = None
    for st in islice(files, 1) if first else files:
        fp = st.getPath()
        schema = read_schema(footer_cls(fp, reader.readFooter(hconf, fp)), converter)
        merged = (
            schema if merged is None
            else merged.merge(schema, sconf.caseSensitiveAnalysis())
        )
    return None if merged is None else _parse_datatype_json_string(merged.json())
