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


# py4j answers a byte[] as base64 text; an answer longer than its 8 KB
# write buffer stalls ~42 ms (measured at 6,144 bytes, not at 6,140), so
# sidecar bytes come back in chunks whose base64 stays under it
_PY4J_CHUNK = 6000
# the footer key Spark reads a parquet file's Spark schema from
_SPARK_ROW_METADATA = "org.apache.spark.sql.parquet.row.metadata"


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
            data_files.append((name, p, st.getLen()))
    if not data_files:
        return None
    io_utils = spark._jvm.org.apache.commons.io.IOUtils
    rows: list[dict] = []
    for _, p, size in sorted(data_files, key=lambda f: f[0]):
        stream = fs.open(p)
        try:
            data = b"".join(
                io_utils.toByteArray(stream, min(_PY4J_CHUNK, size - off))
                for off in range(0, size, _PY4J_CHUNK)
            )
        finally:
            stream.close()
        rows.extend(pq.read_table(pa.BufferReader(data)).to_pylist())
    return rows


def write_sidecar(spark: SparkSession, path_str: str, rows, schema) -> None:
    """Write ``rows`` (tuples in ``schema`` order; ``schema`` a DDL
    string or ``StructType``) as a one-file parquet directory at
    ``path_str``, replacing what is there, on the driver with no Spark
    job: the write twin of :func:`read_sidecar`. The file is encoded
    with pyarrow and carries Spark's row-metadata schema, so
    ``spark.read.parquet`` sees the schema a Spark write of the same
    rows gives. It is written through the Hadoop FS API under a
    ``_``-prefixed name that readers skip, renamed into place, and
    followed by a ``_SUCCESS`` marker."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    st = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    table = pa.Table.from_pylist(
        [dict(zip(st.names, r)) for r in rows], schema=to_arrow_schema(st)
    ).replace_schema_metadata({_SPARK_ROW_METADATA: st.json()})
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink, compression="snappy")
    fs, path = _fs_and_path(spark, path_str)
    if fs.exists(path):
        fs.delete(path, True)
    fs.mkdirs(path)
    name = f"part-00000-{uuid.uuid4()}-c000.snappy.parquet"
    Path = spark._jvm.org.apache.hadoop.fs.Path
    tmp = Path(path, f"_{name}")
    out = fs.create(tmp, False)
    try:
        out.write(sink.getvalue().to_pybytes())
    finally:
        out.close()
    if not fs.rename(tmp, Path(path, name)):
        raise IOError(f"write_sidecar: could not rename {tmp} into place")
    fs.create(Path(path, "_SUCCESS"), True).close()
