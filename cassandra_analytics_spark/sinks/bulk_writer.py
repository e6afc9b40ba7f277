"""Bulk writer — the reference's sink semantics (S4/S5, W1–W4) over parquet.

Reference pipeline (``sparksql/CassandraDataSink.java:40-101``,
``bulkwriter/CassandraBulkSourceRelation.java:116-131``):

1. **W1 normalize/validate** — DataFrame schema ⊆ CQL schema, every
   pk/ck column present, no extras (``bulkwriter/TableSchema.java:240-296``)
2. **W2 tokenize + range-partition + sort** — token per row,
   ``repartitionAndSortWithinPartitions`` on token ranges
   (``bulkwriter/Tokenizer.java:33-68``, ``TokenPartitioner.java``)
3. **W3 sorted sized file emit** — roll files at a size threshold, per-file
   digest (``bulkwriter/SortedSSTableWriter.java:132-198``,
   ``DigestAlgorithms.java:29-47``)
4. **W4 two-phase commit** — upload everything, then commit atomically;
   job fails unless every range commits (``bulkwriter/StreamSession.java:124-187``)

Spark-first translation: a *table* is a directory of immutable committed
**batch** directories (the SSTable-set analog). One ``bulk_write`` =
validate → token column → ``repartitionByRange(token)`` +
``sortWithinPartitions(token, *ck)`` → sized parquet files into a staging
dir → manifest with per-file digests → atomic rename to ``batch-*`` (the
commit point). Readers list committed batches and apply the LWW
compaction-merge — the same merge-on-read contract Cassandra gives the
reference's bulk reader.

``WriteMode.DELETE_PARTITION`` (S5, ``bulkwriter/WriteMode.java:22-25``)
writes partition-tombstone rows that the read-side merge purges.
``SaveMode.Overwrite`` is rejected exactly like the reference
(``CassandraDataSink.java:96-99``).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid
from collections.abc import Mapping, Sequence
from dataclasses import dataclass
from enum import Enum

from pyspark.sql import DataFrame, SparkSession

from cassandra_analytics_spark.functions.tokens import token_sql
from cassandra_analytics_spark.operators.merge import (
    SYSTEM_COLUMNS,
    TOMBSTONE,
    TTL,
    WRITETIME,
    compaction_merge,
    order_key_sql,
    quote_ident,
)
from cassandra_analytics_spark.schema import CqlTable


class WriteMode(Enum):
    APPEND = "append"
    DELETE_PARTITION = "delete_partition"


class BulkWriteError(ValueError):
    pass


# Sentinels bracketing a BulkWriteError message raised INSIDE an executor
# task: Py4J surfaces remote Python exceptions only as embedded traceback
# text, so distributed validation code wraps its message between these
# markers and the driver re-raises the contract type by extracting the
# bracketed text. Matching on markers WE control (not on how PySpark
# happens to format the class name) keeps the unwrap working across
# PySpark traceback-format changes; if even the message text stops being
# embedded, callers still see the raw failure — fail-safe.
TASK_ERROR_MARK = "<<cas-bulk-write-error>>"
TASK_ERROR_END = "<<end-cas-bulk-write-error>>"


def unwrap_task_error(exc: BaseException) -> BulkWriteError | None:
    """Extract a task-side BulkWriteError from a driver-side job failure,
    or None when the failure was something else."""
    text = str(exc)
    start = text.find(TASK_ERROR_MARK)
    if start < 0:
        return None
    start += len(TASK_ERROR_MARK)
    end = text.find(TASK_ERROR_END, start)
    if end >= 0:
        msg = text[start:end]
    else:
        # End marker lost (e.g. Py4J truncated the traceback text mid-
        # message). Best effort: keep the WHOLE remainder up to a length
        # cap rather than just the first line — a multi-line validation
        # message would otherwise be silently cut to its header (ADVICE
        # r6). The cap bounds pathological megabyte tracebacks.
        msg = text[start : start + 4096]
    return BulkWriteError(msg.strip())


@dataclass
class WriteResult:
    batch_dir: str
    num_files: int
    num_rows: int
    manifest_path: str


def _validate(
    df: DataFrame,
    partition_keys: Sequence[str],
    clustering_keys: Sequence[str],
    table: CqlTable | None,
    require_clustering: bool = True,
) -> None:
    """W1: every key column present; with a CQL table, DF columns must be a
    subset of table columns and cover all keys (TableSchema.java:240-296).

    ``require_clustering=False`` relaxes the TABLE's clustering-key
    requirement for DELETE_PARTITION batches only (WriteMode.java's
    delete-partition rows hold pk columns only). For APPEND writes the
    table schema's clustering keys are enforced regardless of what the
    caller passed — a caller omitting them from ``clustering_keys`` must
    not silently skip the check (distinct clustered rows would later be
    merged into one by the pk-keyed LWW read).
    """
    cols = set(df.columns)
    for k in list(partition_keys) + list(clustering_keys):
        if k not in cols:
            raise BulkWriteError(f"missing primary-key column in DataFrame: {k!r}")
    if table is not None:
        table_cols = {c.name for c in table.columns}
        extra = cols - table_cols - set(SYSTEM_COLUMNS)
        if extra:
            raise BulkWriteError(f"DataFrame columns not in table schema: {sorted(extra)}")
        required = list(table.partition_keys)
        if require_clustering:
            required += list(table.clustering_keys)
        for key_col in required:
            if key_col.name not in cols:
                raise BulkWriteError(
                    f"table key column missing from DataFrame: {key_col.name!r}"
                )


def _file_digest(path: str, algorithm: str = "md5") -> str:
    h = hashlib.new(algorithm)
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _manifest_entry(path: str, algorithm: str = "md5") -> dict:
    """One file's manifest entry, ``{"bytes": size, algorithm: digest}``:
    the shape every writer's manifest uses."""
    return {"bytes": os.path.getsize(path), algorithm: _file_digest(path, algorithm)}


def _staged_file_meta(path: str, algorithm: str) -> tuple[str, dict, int]:
    """(file name, manifest entry, footer row count) of one staged parquet
    file."""
    import pyarrow.parquet as pq

    return (
        os.path.basename(path),
        _manifest_entry(path, algorithm),
        pq.read_metadata(path).num_rows,
    )


def bulk_write(
    df: DataFrame,
    table_path: str,
    partition_keys: Sequence[str],
    clustering_keys: Sequence[str] = (),
    mode: WriteMode | str = WriteMode.APPEND,
    table: CqlTable | None = None,
    write_timestamp_micros: int | None = None,
    ttl_seconds: int | None = None,
    num_partitions: int | None = None,
    max_records_per_file: int = 1_000_000,
    digest_algorithm: str = "md5",
    save_mode: str = "append",
) -> WriteResult:
    """Write a DataFrame as one committed batch of the table.

    ``save_mode`` exists for API parity with ``df.write.mode(...)``; only
    ``append`` is allowed — the reference rejects Overwrite because it would
    need a TRUNCATE (``CassandraDataSink.java:96-99``).

    REQUIRES SHARED STORAGE: ``table_path`` must be one filesystem
    visible to the driver AND every executor (NFS/shared mount locally;
    a DFS/object-store fuse mount on a cluster) — the staged parquet
    files are written by executor tasks, then digested and row-counted
    by the driver from the same directory, where the manifest write and
    the commit rename also happen. The same holds for every consumer of
    committed batches
    (``read_bulk_table``, ``bundle_write``, ``restore_bundles``). This
    mirrors the reference's deployment assumption (SSTables staged on
    storage all Sidecars can reach); there is no non-shared-storage
    fallback.
    """
    out, _, mode = _prepare_batch_df(
        df, partition_keys, clustering_keys, mode, table,
        write_timestamp_micros, ttl_seconds, num_partitions, save_mode,
    )

    batch_id = _new_batch_id()
    staging, manifest = _stage_batch(
        out, table_path, batch_id, mode, partition_keys, clustering_keys,
        max_records_per_file, digest_algorithm,
    )

    # W4: the commit point — a single atomic rename. Before it, readers
    # never see the batch; after it, they always do.
    final_dir = os.path.join(table_path, batch_id)
    os.rename(staging, final_dir)
    return WriteResult(
        batch_dir=final_dir,
        num_files=len(manifest["files"]),
        num_rows=manifest["num_rows"],
        manifest_path=os.path.join(final_dir, "_manifest.json"),
    )


def _new_batch_id() -> str:
    return f"batch-{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}"


_DISABLE_HINTS = "spark.sql.optimizer.disableHints"


def _prepare_batch_df(
    df: DataFrame,
    partition_keys: Sequence[str],
    clustering_keys: Sequence[str],
    mode: WriteMode | str,
    table: CqlTable | None,
    write_timestamp_micros: int | None,
    ttl_seconds: int | None,
    num_partitions: int | None,
    save_mode: str,
) -> tuple[DataFrame, tuple, WriteMode]:
    """W1 + W2: validate, stamp system columns, token + range-partition +
    sort. Shared by the single-target and coordinated write paths."""
    if save_mode.lower() != "append":
        raise BulkWriteError(
            f"save mode {save_mode!r} not supported: bulk writes are append-only "
            "SSTable-style imports (use WriteMode.DELETE_PARTITION for deletes)"
        )
    mode = WriteMode(mode) if isinstance(mode, str) else mode
    # DELETE_PARTITION rows carry only partition keys (WriteMode.java:22-25)
    required_ck = () if mode is WriteMode.DELETE_PARTITION else tuple(clustering_keys)
    _validate(
        df, partition_keys, required_ck, table,
        require_clustering=mode is not WriteMode.DELETE_PARTITION,
    )

    q = quote_ident
    if write_timestamp_micros is None:
        wt = f"CAST({int(time.time() * 1_000_000)} AS BIGINT)"
    else:
        wt = f"CAST({int(write_timestamp_micros)} AS BIGINT)"
    # One projection, column name -> SQL text, in output order; a system
    # column the caller already has is rewritten in place.
    if mode is WriteMode.DELETE_PARTITION:
        # S5: rows are partition keys to delete → partition tombstones
        cols = {k: q(k) for k in partition_keys}
        cols[WRITETIME] = wt
        cols[TTL] = "CAST(NULL AS INT)"
        cols[TOMBSTONE] = "'partition'"
    else:
        cols = {c: q(c) for c in df.columns}
        if WRITETIME in cols and write_timestamp_micros is None:
            # caller supplies per-row writetime (TimestampOption.java
            # per-row mode); normalize its type — an int/short column
            # written as-is would make later mergeSchema reads fail
            # against long-typed batches
            cols[WRITETIME] = f"CAST({q(WRITETIME)} AS BIGINT)"
        else:
            cols[WRITETIME] = wt
        # TTL 0 = FOREVER (TTLOption.java FOREVER = new TTLOption(0); in
        # Cassandra a TTL of 0 on a write means "no expiry" and is not
        # stored). The stored canonical form is NULL — writing a literal
        # 0 would mean INSTANT expiry under the merge's
        # writetime+ttl<=now rule, the exact opposite. Applies to both
        # the constant option and per-row TTL column values. Precedence
        # matches the writetime rule above (and the format writer): the
        # per-row column is used only when no explicit constant is given.
        if TTL in cols and ttl_seconds is None:
            per_row = f"CAST({q(TTL)} AS INT)"
            cols[TTL] = f"CASE WHEN {per_row} = 0 THEN CAST(NULL AS INT) ELSE {per_row} END"
        elif ttl_seconds:
            cols[TTL] = f"CAST({int(ttl_seconds)} AS INT)"
        else:
            cols[TTL] = "CAST(NULL AS INT)"
        cols.setdefault(TOMBSTONE, "CAST(NULL AS STRING)")
    cols["__token"] = token_sql(*map(q, partition_keys))

    # W2: token + range partition + sort within partitions. At cluster scale
    # the range exchange samples token quantiles — the analog of the
    # reference's ring-range split; the local SORT BY gives each file the
    # reference's (token, ck...) sort order. The system columns AND the
    # orderable value columns join the sort as tiebreakers so rows
    # identical in key + system columns but differing in payload (e.g.
    # conflicting replica versions at the same writetime — normal for
    # this LWW format) still serialize in ONE deterministic order across
    # task attempts: the bundle transport's retry safety relies on
    # byte-identical re-execution, and a key-only sort leaves version
    # order to shuffle-fetch timing. Map-typed columns join the sort via
    # their canonical sorted-entries projection (merge.order_key_sql);
    # only columns with no canonical order at all are skipped — rows
    # distinguished ONLY by such a value may still swap order across
    # attempts (the remaining bounded exception).
    #
    # The whole plan is ONE SQL statement over the input as a temporary
    # view, parsed on the JVM in one call: sortWithinPartitions takes
    # Column objects, and each costs JVM round trips (~300 per build for
    # a 14-column batch, against ~11 here); every extra DataFrame step
    # re-analyzes the input plan (~10 ms each over a merge plan). The
    # range exchange is a REPARTITION_BY_RANGE hint, and the analyzer
    # drops every hint without a word when
    # spark.sql.optimizer.disableHints is set — files would then no
    # longer hold contiguous token ranges — so that setting is refused.
    key_cols = ["__token", *partition_keys, *required_ck, WRITETIME, TTL, TOMBSTONE]
    sort_keys = [q(c) for c in key_cols]
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    for c in cols:
        if c not in key_cols and not c.startswith("__"):
            key = order_key_sql(c, dtypes[c])
            if key is not None:
                sort_keys.append(key)
    stamp = ", ".join(sql if sql == q(c) else f"{sql} AS {q(c)}" for c, sql in cols.items())
    spark = df.sparkSession
    if spark.conf.get(_DISABLE_HINTS, "false").lower() == "true":
        raise BulkWriteError(
            f"bulk writes range-partition by token through a SQL hint; unset "
            f"{_DISABLE_HINTS} (it drops every hint)"
        )
    n = num_partitions or spark.sparkContext.defaultParallelism
    view = f"__bulk_write_{uuid.uuid4().hex}"
    df.createOrReplaceTempView(view)
    try:
        out = spark.sql(
            f"SELECT {', '.join(q(c) for c in cols if c != '__token')} FROM ("
            f"SELECT * FROM (SELECT /*+ REPARTITION_BY_RANGE({int(n)}, __token) */ "
            f"{stamp} FROM {q(view)}) SORT BY {', '.join(sort_keys)})"
        )
    finally:
        # The session catalog's drop (the JVM SessionCatalog, not part
        # of PySpark's API), not spark.catalog.dropTempView: that one
        # also uncaches every cached plan equal to the view's, which is
        # the caller's own input when the caller cached it.
        spark._jsparkSession.sessionState().catalog().dropTempView(view)
    return out, required_ck, mode


def _stage_batch(
    out: DataFrame,
    table_path: str,
    batch_id: str,
    mode: WriteMode,
    partition_keys: Sequence[str],
    clustering_keys: Sequence[str],
    max_records_per_file: int,
    digest_algorithm: str,
) -> tuple[str, dict]:
    """W3: sized sorted files + digest manifest into ``_staging-<batch>``
    of ``table_path``; returns (staging_dir, manifest). NOT committed —
    the caller renames the staging dir to publish. Any staging-phase
    failure (write, digest IO, manifest write) removes the staging dir
    so an aborted write leaves no garbage behind."""
    import shutil

    staging = os.path.join(table_path, f"_staging-{batch_id}")
    try:
        (
            out.write.mode("errorifexists")
            .option("maxRecordsPerFile", max_records_per_file)
            .parquet(staging)
        )

        # Spark writes no part files for an empty DataFrame; the batch
        # still commits (files={}) and the manifest carries the Spark
        # schema so a table whose every batch is file-less reads back
        # EMPTY instead of failing schema inference. (Writing a synthetic
        # 0-row parquet here instead would need the exact physical types
        # Spark uses — e.g. INT96 timestamps — which pyarrow cannot
        # reproduce, and a mismatched file breaks cross-batch schema
        # unification in the python datasource.)
        paths = [
            os.path.join(staging, f) for f in os.listdir(staging) if f.endswith(".parquet")
        ]

        # per-file digests → manifest (DigestAlgorithms.java analog; the
        # reference defaults xxhash32 and also offers MD5 — we use MD5).
        # The reference digests inside each RecordWriter task; here the
        # driver streams each staged file through the digest in 1 MiB
        # chunks and reads its footer's row count, with no Spark job
        # (PERF.md, "The Python-worker job floor and the driver digest").
        metas = sorted(_staged_file_meta(p, digest_algorithm) for p in paths)
        files = {fname: entry for fname, entry, _ in metas}
        num_rows = sum(rows for _, _, rows in metas)

        manifest = {
            "batch": batch_id,
            "mode": mode.value,
            "partition_keys": list(partition_keys),
            "clustering_keys": list(clustering_keys),
            "digest_algorithm": digest_algorithm,
            "num_rows": num_rows,
            "files": files,
            # the Spark schema travels in the manifest (TableSchema
            # analog); it is the source of truth when a batch — or the
            # whole table — holds zero data files
            "schema": out.schema.jsonValue(),
        }
        with open(os.path.join(staging, "_manifest.json"), "w") as f:
            json.dump(manifest, f, indent=2)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    return staging, manifest


def _replicate_staged_files(
    copies: Sequence[tuple[str, str, str | None]],
    algorithm: str,
) -> None:
    """Copy staged files to replica staging dirs on the driver.

    ``copies`` is (src_path, dst_path, expected_digest_or_None); each
    replica is digested after the copy and a mismatch raises. Like the
    staging digest (:func:`_stage_batch`) this runs on the driver over
    shared storage: at the batch sizes measured, a copy job's Python-
    worker floor costs far more than the copy (PERF.md). Copies are
    full overwrites, so a retry is safe.
    """
    import shutil

    for src, dst, want in copies:
        shutil.copyfile(src, dst)
        if want is not None and _file_digest(dst, algorithm) != want:
            raise BulkWriteError(f"replica digest mismatch: {dst}")


def coordinated_bulk_write(
    df: DataFrame,
    target_paths: Sequence[str],
    partition_keys: Sequence[str],
    clustering_keys: Sequence[str] = (),
    mode: WriteMode | str = WriteMode.APPEND,
    table: CqlTable | None = None,
    write_timestamp_micros: int | None = None,
    ttl_seconds: int | None = None,
    num_partitions: int | None = None,
    max_records_per_file: int = 1_000_000,
    digest_algorithm: str = "md5",
    save_mode: str = "append",
    consistency: str | None = None,
    rf: int | Mapping[str, int] | None = None,
    target_dcs: Sequence[str] | None = None,
    pending_dcs: Sequence[str] = (),
    local_dc: str | None = None,
) -> list[WriteResult]:
    """Write ONE DataFrame to several table paths in a single job with an
    all-or-nothing joint commit — the analog of the reference's
    coordinated multi-cluster bulk write
    (``bulkwriter/coordinatedwrite/CassandraCoordinatedBulkWriterContext.java``,
    ``CoordinatedWriteConf.java`` per-cluster validation,
    ``CassandraClusterInfoGroup.java:53`` fan-out).

    **Consistency gate** (``consistency=`` + ``rf=``, the analog of
    ``bulkwriter/BulkWriteValidator.java`` over
    ``bulkwriter/token/ConsistencyLevel.java:30-234``): each target
    models one replica instance (``target_dcs`` names its datacenter —
    required with a per-DC rf map, defaulted to one DC for flat rf).
    Staging then happens in a scratch dir and is placed into each
    target INDIVIDUALLY; a target whose placement fails (unwritable
    path, digest mismatch) is an INSTANCE failure, tolerated exactly
    as far as the CL allows: the commit proceeds over the succeeded
    targets iff :func:`~cassandra_analytics_spark.operators.replicas.
    write_consistency_satisfied` holds for their DCs (``pending_dcs``
    inflate the bar, Cassandra's blockForWrite), else EVERY staging is
    removed and the write fails loudly naming the failed targets —
    refusing to commit below the requested guarantee rather than
    silently publishing fewer copies. An impossible ask (CL
    unsatisfiable even with every target succeeding) is refused before
    any work, like the reference's job-start validation. The returned
    list covers the COMMITTED targets only. Without ``consistency=``
    the historical contract holds: any failure anywhere aborts all
    targets.

    Phases, mirroring the reference's upload-everything-then-import:

    1. **Validate every target up front** (CoordinatedWriteConf rejects a
       job unless every cluster's conf is coherent): duplicate targets
       are rejected, and any target that already holds committed batches
       must agree on partition/clustering keys.
    2. **Stage once, replicate on the driver** — the W1/W2/W3 pipeline
       runs ONE time (one token sort, the jobs of one ``bulk_write``);
       the resulting sorted files are then copied byte-for-byte into
       every other target's staging dir over shared storage and
       digest-verified there (:func:`_replicate_staged_files`), as one
       SSTable set is uploaded to every cluster. The driver copies: a
       distributed copy job's Python-worker floor outweighs the copy at
       the batch sizes measured (PERF.md).
    3. **Joint commit** — only after every staging replica is verified
       are the atomic renames performed. If anything fails before that
       point, every staging dir is removed and no target sees the batch;
       if a rename itself fails mid-sequence (environmental — the
       stagings were already verified), the already-published targets are
       renamed back so no partial publish survives.
    """
    targets = [os.path.abspath(t) for t in target_paths]
    if not targets:
        raise BulkWriteError("coordinated write needs at least one target")
    if len(set(targets)) != len(targets):
        raise BulkWriteError(f"duplicate coordinated-write targets: {sorted(targets)}")
    if consistency is None:
        if rf is not None or target_dcs is not None or pending_dcs:
            raise BulkWriteError(
                "rf/target_dcs/pending_dcs are only meaningful with "
                "consistency= (the write-CL gate)"
            )
    else:
        from cassandra_analytics_spark.operators.replicas import (
            write_consistency_satisfied,
        )

        if rf is None:
            raise BulkWriteError(
                "consistency= needs rf= (int for SimpleStrategy, a per-DC "
                "map for NetworkTopologyStrategy)"
            )
        if target_dcs is None:
            if isinstance(rf, Mapping):
                raise BulkWriteError(
                    "a per-DC rf map needs target_dcs naming each "
                    "target's datacenter"
                )
            target_dcs = ["datacenter1"] * len(targets)
        if len(target_dcs) != len(targets):
            raise BulkWriteError(
                f"target_dcs has {len(target_dcs)} entries for "
                f"{len(targets)} targets — they are parallel sequences"
            )
        # an ask the full target set cannot satisfy is an impossible
        # config, refused before any work (the reference validates CL
        # against the topology at job start, not after uploading)
        if not write_consistency_satisfied(
            target_dcs, pending_dcs, consistency, rf, local_dc
        ):
            raise BulkWriteError(
                f"consistency {consistency} (rf={rf}, "
                f"pending={list(pending_dcs)}) is unsatisfiable even if "
                f"every one of the {len(targets)} targets succeeds — "
                "impossible configuration"
            )
    for t in targets:
        for b in committed_batches(t):
            with open(os.path.join(b, "_manifest.json")) as f:
                existing = json.load(f)
            if existing["partition_keys"] != list(partition_keys) or existing[
                "clustering_keys"
            ] != list(clustering_keys):
                raise BulkWriteError(
                    f"target {t!r} batch {existing['batch']} was written with "
                    f"keys ({existing['partition_keys']}, "
                    f"{existing['clustering_keys']}) — coordinated write "
                    f"requires every target to agree on the primary key"
                )

    out, _, mode = _prepare_batch_df(
        df, partition_keys, clustering_keys, mode, table,
        write_timestamp_micros, ttl_seconds, num_partitions, save_mode,
    )

    import shutil

    batch_id = _new_batch_id()
    if consistency is not None:
        return _coordinated_write_with_cl(
            out, targets, list(target_dcs), list(pending_dcs),
            consistency, rf, local_dc, batch_id, mode, partition_keys,
            clustering_keys, max_records_per_file, digest_algorithm,
        )
    stagings: list[tuple[str, str]] = []  # (target, staging_dir)
    try:
        first_staging, manifest = _stage_batch(
            out, targets[0], batch_id, mode, partition_keys, clustering_keys,
            max_records_per_file, digest_algorithm,
        )
        stagings.append((targets[0], first_staging))
        algo = manifest["digest_algorithm"]
        copies: list[tuple[str, str, str | None]] = []
        for t in targets[1:]:
            s = os.path.join(t, f"_staging-{batch_id}")
            os.makedirs(s)
            stagings.append((t, s))
            for fname, meta in manifest["files"].items():
                copies.append(
                    (
                        os.path.join(first_staging, fname),
                        os.path.join(s, fname),
                        meta[algo],
                    )
                )
            # the manifest itself is tiny metadata — driver copy is fine
            shutil.copyfile(
                os.path.join(first_staging, "_manifest.json"),
                os.path.join(s, "_manifest.json"),
            )
        _replicate_staged_files(copies, algo)
    except BaseException:
        for _, s in stagings:
            shutil.rmtree(s, ignore_errors=True)
        raise

    # Joint commit: every staging verified; publish all targets.
    _joint_commit(stagings, batch_id)

    return [
        WriteResult(
            batch_dir=os.path.join(t, batch_id),
            num_files=len(manifest["files"]),
            num_rows=manifest["num_rows"],
            manifest_path=os.path.join(t, batch_id, "_manifest.json"),
        )
        for t, _ in stagings
    ]


def _coordinated_write_with_cl(
    out: DataFrame,
    targets: list[str],
    target_dcs: list[str],
    pending_dcs: list[str],
    consistency: str,
    rf,
    local_dc: str | None,
    batch_id: str,
    mode: WriteMode,
    partition_keys: Sequence[str],
    clustering_keys: Sequence[str],
    max_records_per_file: int,
    digest_algorithm: str,
) -> list[WriteResult]:
    """The CL-gated body of :func:`coordinated_bulk_write`: stage ONCE
    into a scratch dir (the reference's RecordWriter output — its
    failure fails the job, it is not an instance failure), place into
    each target individually tolerating per-target placement failures,
    then commit the succeeded set iff it satisfies the write CL
    (``BulkWriteValidator.validateClOrFail``) — else remove every
    staging and raise."""
    import shutil
    import tempfile

    from cassandra_analytics_spark.operators.replicas import (
        write_consistency_satisfied,
    )

    scratch_root = tempfile.mkdtemp(prefix=f"coordinated-{batch_id}-")
    stagings: list[tuple[str, str, str]] = []  # (target, staging, dc)
    failures: list[tuple[str, str, Exception]] = []
    try:
        src_staging, manifest = _stage_batch(
            out, scratch_root, batch_id, mode, partition_keys,
            clustering_keys, max_records_per_file, digest_algorithm,
        )
        algo = manifest["digest_algorithm"]
        for t, dc in zip(targets, target_dcs):
            s = os.path.join(t, f"_staging-{batch_id}")
            try:
                os.makedirs(s)
                _replicate_staged_files(
                    [
                        (
                            os.path.join(src_staging, fname),
                            os.path.join(s, fname),
                            meta[algo],
                        )
                        for fname, meta in manifest["files"].items()
                    ],
                    algo,
                )
                shutil.copyfile(
                    os.path.join(src_staging, "_manifest.json"),
                    os.path.join(s, "_manifest.json"),
                )
            except (OSError, BulkWriteError) as e:
                # an INSTANCE failure (unwritable target, digest
                # mismatch) — tolerated here, adjudicated by the CL
                # math below, exactly the reference's per-instance
                # upload-failure handling
                shutil.rmtree(s, ignore_errors=True)
                failures.append((t, dc, e))
            else:
                stagings.append((t, s, dc))
        succeeded = [dc for _, _, dc in stagings]
        if not write_consistency_satisfied(
            succeeded, pending_dcs, consistency, rf, local_dc
        ):
            raise BulkWriteError(
                f"coordinated write cannot satisfy {consistency} "
                f"(rf={rf}, pending={pending_dcs}): only "
                f"{len(stagings)}/{len(targets)} targets staged — "
                f"failed: "
                f"{[(t, f'{type(e).__name__}: {e}') for t, _, e in failures]}"
                " — refusing to commit below the requested guarantee "
                "(BulkWriteValidator.validateClOrFail)"
            )
    except BaseException:
        for _, s, _ in stagings:
            shutil.rmtree(s, ignore_errors=True)
        raise
    finally:
        shutil.rmtree(scratch_root, ignore_errors=True)

    _joint_commit([(t, s) for t, s, _ in stagings], batch_id)
    return [
        WriteResult(
            batch_dir=os.path.join(t, batch_id),
            num_files=len(manifest["files"]),
            num_rows=manifest["num_rows"],
            manifest_path=os.path.join(t, batch_id, "_manifest.json"),
        )
        for t, _, _ in stagings
    ]


def _joint_commit(stagings: list[tuple[str, str]], batch_id: str) -> None:
    """Publish every (target, staging) by atomic rename — all or
    nothing: a rename failure mid-sequence renames the already-published
    targets back so no partial publish survives; a rollback that itself
    fails environmentally is REPORTED (the caller must know the
    cross-target state), never assumed away."""
    import shutil

    published: list[tuple[str, str]] = []  # (staging, final)
    try:
        for t, s in stagings:
            final = os.path.join(t, batch_id)
            os.rename(s, final)
            published.append((s, final))
    except BaseException as commit_err:
        rollback_failures: list[str] = []
        for s, final in published:
            try:
                os.rename(final, s)
            except OSError as e:
                rollback_failures.append(f"{final}: {e}")
        for _, s in stagings:
            shutil.rmtree(s, ignore_errors=True)
        if rollback_failures:
            raise BulkWriteError(
                "coordinated commit failed and rollback could not unpublish "
                f"these targets (partial publish!): {rollback_failures}"
            ) from commit_err
        raise


def committed_batches(table_path: str, snapshot: str | None = None) -> list[str]:
    """Committed batch dirs, oldest first. ``snapshot`` keeps only batches
    committed at or before that batch id (batch ids are millisecond-
    ordered, so lexicographic ≤ is a point-in-time snapshot)."""
    if not os.path.isdir(table_path):
        return []
    return sorted(
        os.path.join(table_path, d)
        for d in os.listdir(table_path)
        if d.startswith("batch-")
        and (snapshot is None or d <= snapshot)
        and os.path.isdir(os.path.join(table_path, d))
    )


def _data_files(table_path: str, snapshot: str | None = None) -> list[str]:
    """Data files of every committed batch, trusting each batch's
    manifest: a retried/speculative task can leave an orphan duplicate
    parquet in a batch dir, and directory listing would read it twice.
    The manifest records exactly the files the committing attempt owns.
    Batches without a manifest (foreign writers) fall back to listing.
    ``snapshot`` as in :func:`committed_batches`. The one file-list rule
    of both readers (``read_bulk_table`` and the ``cassandra_bulk``
    source)."""
    files = []
    for batch in committed_batches(table_path, snapshot):
        manifest_path = os.path.join(batch, "_manifest.json")
        if os.path.isfile(manifest_path):
            with open(manifest_path) as f:
                listed = sorted(json.load(f).get("files", {}))
            files.extend(os.path.join(batch, fname) for fname in listed)
        else:
            for fname in sorted(os.listdir(batch)):
                if fname.endswith(".parquet"):
                    files.append(os.path.join(batch, fname))
    return files


def _scan_paths(files: list[str]) -> list[str]:
    """The paths to hand Spark for ``files`` (from :func:`_data_files`):
    a batch dir holding exactly its listed files and nothing else Spark
    would read goes whole, any other batch as its listed files. Same
    rows either way; Spark lists more than 32 explicit paths with an
    extra distributed job (~0.5 s at 48 files on a 4-CPU host)."""
    by_batch: dict[str, set[str]] = {}
    for f in files:
        by_batch.setdefault(os.path.dirname(f), set()).add(os.path.basename(f))
    paths = []
    for batch, listed in by_batch.items():
        # Spark skips names starting with "_" or "." (the manifest)
        visible = {f for f in os.listdir(batch) if not f.startswith(("_", "."))}
        if visible == listed:
            paths.append(batch)
        else:
            paths.extend(os.path.join(batch, f) for f in sorted(listed))
    return paths


def _manifest_schema(batch_dir: str):
    """Spark StructType recorded in a batch's manifest (written by every
    batch since the schema field was added; raises a clear error for
    older file-less batches, which cannot exist in practice — the
    zero-file path and the schema field shipped together)."""
    from pyspark.sql.types import StructType

    with open(os.path.join(batch_dir, "_manifest.json")) as f:
        manifest = json.load(f)
    if "schema" not in manifest:
        raise ValueError(
            f"batch {batch_dir} has no data files and its manifest "
            "predates the schema field — cannot reconstruct the table schema"
        )
    return StructType.fromJson(manifest["schema"])


def verify_digests(batch_dir: str) -> bool:
    """Re-hash a committed batch against its manifest (the reference
    re-opens and validates written SSTables — RecordWriter.java:351-353).

    False on ANY divergence from the manifest: a changed file, a
    manifest-listed file that is missing, or an extra ``.parquet`` file
    the manifest does not know. The readers skip an unmanifested file
    (:func:`_data_files`), but its presence is still the tampering or
    orphan-attempt mode an integrity check must report."""
    with open(os.path.join(batch_dir, "_manifest.json")) as f:
        manifest = json.load(f)
    algo = manifest["digest_algorithm"]
    on_disk = {f for f in os.listdir(batch_dir) if f.endswith(".parquet")}
    if on_disk != set(manifest["files"]):
        return False
    for fname, meta in manifest["files"].items():
        path = os.path.join(batch_dir, fname)
        if not os.path.isfile(path) or _file_digest(path, algo) != meta[algo]:
            return False
    return True


def read_bulk_table(
    spark: SparkSession,
    table_path: str,
    partition_keys: Sequence[str],
    clustering_keys: Sequence[str] = (),
    merge: bool = True,
    as_of_batch: str | None = None,
    cell_lww: bool = False,
    now_micros: int | None = None,
) -> DataFrame:
    """Bulk-reader entry: read every committed batch and apply the LWW
    compaction merge + tombstone purge — the read path of SURVEY §3.1 with
    batches standing in for SSTable sets.

    ``as_of_batch``: snapshot read — only batches committed up to and
    including the named batch id participate (batch ids are
    timestamp-ordered, so this is point-in-time time travel).

    ``cell_lww``: per-column reconciliation for upsert-style tables
    (partial writes leave unwritten columns NULL; Cassandra keeps the
    older cells — see ``compaction_merge``).

    ``now_micros``: the TTL-expiry clock (defaults to the current time) —
    reading with an earlier clock shows not-yet-expired TTL'd rows,
    matching Cassandra's local-expiry evaluation at read time."""
    if as_of_batch is not None:
        if not str(as_of_batch).startswith("batch-"):
            # the snapshot cut is lexicographic over "batch-<millis>-<id>"
            # names: any other shape silently reads EVERYTHING (sorts
            # above "batch-") or nothing (round-8 continuation probe;
            # same check as the cassandra_bulk source's snapshot option)
            raise ValueError(
                f"as_of_batch must be a batch id (or id prefix) starting "
                f"with 'batch-', got {as_of_batch!r}"
            )
    batches = committed_batches(table_path, as_of_batch)
    if not batches:
        raise FileNotFoundError(f"no committed batches under {table_path}")
    # only manifest-listed files are read (an unlisted parquet in a batch
    # dir is an orphan, not data); a batch can legitimately list ZERO
    # files (e.g. a compaction of a fully-deleted table), and if NO batch
    # lists any, the empty table takes the newest manifest's schema
    files = _data_files(table_path, as_of_batch)
    if files:
        # tombstone batches carry only key+system columns → merge schemas
        df = spark.read.option("mergeSchema", "true").parquet(*_scan_paths(files))
    else:
        df = spark.createDataFrame([], _manifest_schema(batches[-1]))
    if not merge:
        return df
    return compaction_merge(
        df,
        partition_keys=partition_keys,
        clustering_keys=clustering_keys,
        cell_lww=cell_lww,
        now_micros=now_micros,
    )


def compact_table(
    spark: SparkSession,
    table_path: str,
    partition_keys: Sequence[str],
    clustering_keys: Sequence[str] = (),
    num_partitions: int | None = None,
    purge_tombstones: bool = False,
    cell_lww: bool = False,
    now_micros: int | None = None,
) -> WriteResult:
    """Major compaction: merge every committed batch into one new batch
    (LWW applied) and retire the old batches.

    ``now_micros``: the TTL-expiry clock (defaults to the current time),
    used by BOTH the merge's expiry purge and the expired-row shields —
    one clock, so a row is never purged unshielded.

    Mirrors Cassandra compaction: read amplification drops from
    O(#batches) to 1; row writetimes AND live TTLs are preserved so later
    writes still reconcile correctly and TTL'd rows still expire after
    compaction. By default the newest tombstone per scope is carried into
    the compacted batch (Cassandra's gc_grace discipline: purging a
    tombstone while a write with an older timestamp can still arrive
    resurrects deleted data — and ``bulk_write`` accepts caller-supplied
    write timestamps, so that hazard is real here). Rows whose TTL has
    already expired are the same hazard in disguise — Cassandra treats
    them as tombstones — so their shields are carried too: an expired
    row must keep shadowing older-timestamped writes across the
    compaction. The shields are rows of the merge itself
    (``compaction_merge(for_compaction=True)``), so the table is scanned
    once. Pass ``purge_tombstones=True`` only when no batch with older
    writetimes can ever be ingested again (the gc_grace-elapsed analog).

    ``cell_lww`` must match how the table is READ: a table of partial
    upserts read with ``cell_lww=True`` reconciles per column, and
    compacting it with whole-row LWW would persist the newest row's
    NULLs over older cells — permanent data loss. Pass the same flag the
    readers use.

    The new batch commits (atomic rename) *before* old batches are
    removed, so concurrent readers never see a gap — at worst they read
    duplicates, which their own merge resolves.
    """
    import shutil

    old_batches = committed_batches(table_path)
    raw = read_bulk_table(
        spark, table_path, partition_keys, clustering_keys, merge=False
    )
    # ONE clock for the whole compaction: the purge and the shields both
    # come from the merge's one TTL-expiry expression, evaluated once
    compacted = compaction_merge(
        raw,
        partition_keys=partition_keys,
        clustering_keys=clustering_keys,
        now_micros=now_micros,
        for_compaction=True,
        cell_lww=cell_lww,
    )
    if purge_tombstones and TOMBSTONE in compacted.columns:
        compacted = compacted.where(f"{TOMBSTONE} IS NULL").drop(TOMBSTONE)
    result = bulk_write(
        compacted,
        table_path,
        partition_keys,
        clustering_keys,
        num_partitions=num_partitions,
    )
    for b in old_batches:
        shutil.rmtree(b)
    return result
