"""Thin wrappers over the Hadoop FileSystem API.

Spark paths are not local paths: an index layout or a stream's output
directory can live on HDFS/S3/ABFS, where ``os.path`` / ``glob.glob``
silently see nothing (round-9 ADVICE: ``collected_semantic_pairs``
probed for published batches with ``glob.glob`` and returned the empty
frame on every non-local store — silent loss of every verdict). These
helpers resolve the filesystem FROM the path's own scheme via the
session's Hadoop configuration, so they work on any Spark-supported
store, including the ``file:`` scheme tests use.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs_and_path(spark: SparkSession, path_str: str):
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, path


def delete_path(spark: SparkSession, path_str: str) -> None:
    """Recursively delete ``path_str`` (no-op when absent)."""
    fs, path = _fs_and_path(spark, path_str)
    if fs.exists(path):
        fs.delete(path, True)


def glob_exists(spark: SparkSession, pattern: str) -> bool:
    """True iff the Hadoop glob ``pattern`` matches at least one path —
    the store-agnostic twin of ``bool(glob.glob(pattern))``."""
    fs, path = _fs_and_path(spark, pattern)
    statuses = fs.globStatus(path)
    return statuses is not None and len(statuses) > 0


def rename_path(spark: SparkSession, src: str, dst: str) -> bool:
    """Rename ``src`` to ``dst`` via the store's own rename (atomic on
    HDFS/local, copy-free). Returns False when the store refuses (e.g.
    destination exists) — callers decide whether that is fatal."""
    fs, s = _fs_and_path(spark, src)
    _, d = _fs_and_path(spark, dst)
    return bool(fs.rename(s, d))


def list_files(spark: SparkSession, path_str: str,
               suffix: str | None = None) -> list[str]:
    """Recursively list the FILES under ``path_str`` (empty when the
    path is absent), optionally filtered by suffix — the store-agnostic
    twin of a recursive glob, for file-count assertions (compaction)
    and manifest checks."""
    fs, path = _fs_and_path(spark, path_str)
    if not fs.exists(path):
        return []
    out: list[str] = []
    it = fs.listFiles(path, True)
    while it.hasNext():
        p = it.next().getPath().toString()
        if suffix is None or p.endswith(suffix):
            out.append(p)
    return out


def glob_paths(spark: SparkSession, pattern: str) -> list[str]:
    """The paths a Hadoop glob matches (empty when none) — the
    store-agnostic twin of ``glob.glob`` for directory enumeration
    (doc-store batch dirs, layout cells)."""
    fs, path = _fs_and_path(spark, pattern)
    statuses = fs.globStatus(path)
    if statuses is None:
        return []
    return [st.getPath().toString() for st in statuses]


def read_sidecar(spark: SparkSession, path_str: str) -> list[dict] | None:
    """The rows of a small parquet directory (a layout's ``_spec``,
    ``_centroids`` or ``_codebook``) as column→value dicts, read on the
    driver with no Spark job: the data files are listed and read through
    the Hadoop FS API and decoded with pyarrow. Rows equal
    ``[r.asDict() for r in spark.read.parquet(path_str).collect()]``; a
    column a file lacks is absent from its dicts, not None. Returns None
    when the directory is missing or holds no data file (where that
    Spark read raises). Names starting with ``_`` or ``.`` (``_SUCCESS``,
    checksums) are skipped, as Spark skips them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fs, path = _fs_and_path(spark, path_str)
    if not fs.exists(path):
        return None
    data_files = []
    for st in fs.listStatus(path):
        p = st.getPath()
        name = p.getName()
        if not name.startswith(("_", ".")) and st.isFile():
            data_files.append((name, p))
    if not data_files:
        return None
    io_utils = spark._jvm.org.apache.commons.io.IOUtils
    rows: list[dict] = []
    for _, p in sorted(data_files, key=lambda f: f[0]):
        stream = fs.open(p)
        try:
            data = io_utils.toByteArray(stream)
        finally:
            stream.close()
        rows.extend(pq.read_table(pa.BufferReader(data)).to_pylist())
    return rows
