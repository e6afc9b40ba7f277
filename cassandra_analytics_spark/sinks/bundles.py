"""S3-compatible bundle transport for the bulk writer (W4 blob-upload path).

The reference's second write transport (vs direct Sidecar upload) ships
SSTables through an object store: the writer zips consecutive sorted
SSTables into *bundles* capped at a size threshold, uploads each bundle
plus a manifest to S3, and the destination cluster *restores slices* —
each replica downloads only the bundles overlapping its token ranges and
imports them (reference
``bulkwriter/blobupload/SSTablesBundler.java:39-49`` bundling loop,
``BundleManifest.java`` per-component checksums,
``BlobDataTransferApi.java`` upload/restore-slice calls,
``ImportCompletionCoordinator.java:139-159`` waits for every slice at CL).

Spark-first analog over parquet:

1. ``bundle_write`` runs the same W1/W2 pipeline as ``bulk_write``
   (validate → token → ``repartitionByRange`` + sort) but **keeps the
   token column in the emitted files**, so each member file's parquet
   row-group stats carry its [min,max] token — the Summary.db
   first/last-token analog that makes restore-side slice pruning free.
   Staged files are grouped in token order into zip bundles of at most
   ``max_bundle_bytes`` and published to the store under a job directory
   with a bundle manifest (per-bundle and per-member digests + token
   bounds), committed by atomic rename — nothing partial is ever visible.
2. ``restore_bundles`` is the restore-slice: pick the bundles whose token
   bounds overlap the requested range (skipping whole bundles without
   opening them), verify digests, unpack members into a staging batch dir
   of the destination table, and commit it with the same atomic-rename
   discipline as ``bulk_write`` — the restored batch is a normal
   committed batch that ``read_bulk_table`` merges like any other.

Scale posture: bundling runs INSIDE each write task (``mapInArrow`` over
the range-partitioned, sorted rows — exactly where the reference's
``SSTablesBundler`` runs, inside ``RecordWriter``): every task writes its
own sorted member files, rolls them into zip bundles, digests them, and
publishes each bundle into the staging dir with an atomic rename. The
driver never loops over data files — it only collects O(#bundles)
metadata rows and commits the manifest. Task retries republish
byte-identical bundles under the same name (the partition data is
deterministic), so the last rename wins harmlessly; bundles from failed
attempts never reach the manifest and the restore path opens only
manifest-listed bundles. The zip uses STORED entries: parquet is already
compressed, so bundling never recompresses data bytes.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
import zipfile
from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_analytics_spark.functions.tokens import token_column
from cassandra_analytics_spark.operators.merge import TOMBSTONE, TTL, WRITETIME
from cassandra_analytics_spark.schema import CqlTable
from cassandra_analytics_spark.sinks.bulk_writer import (
    TASK_ERROR_END,
    TASK_ERROR_MARK,
    BulkWriteError,
    WriteResult,
    _file_digest,
    _replicate_staged_files,
    _validate,
    unwrap_task_error,
)

TOKEN_COLUMN = "__token"


@dataclass
class BundleInfo:
    name: str
    bytes: int
    digest: str
    start_token: int
    end_token: int
    num_rows: int
    members: dict[str, dict]


@dataclass
class BundleStoreResult:
    job_dir: str
    manifest_path: str
    num_bundles: int
    num_rows: int
    bundles: list[BundleInfo]


_BUNDLE_META_SCHEMA = (
    "name string, bytes long, digest string, start_token long, "
    "end_token long, num_rows long, members string"
)


def _make_bundler(
    staging: str,
    max_records_per_file: int,
    max_bundle_bytes: int,
    digest_algorithm: str,
):
    """Per-task bundling closure for ``mapInArrow`` — the RecordWriter-side
    ``SSTablesBundler.java:39-49`` analog. Receives this range partition's
    rows sorted by token, writes member parquet files (rolled at
    ``max_records_per_file``), groups consecutive members into zip bundles
    (closed when the running size would cross ``max_bundle_bytes``),
    publishes each bundle into ``staging`` via write-temp + atomic rename,
    and yields one metadata row per bundle."""

    def bundle_partition(batches):
        import json as _json
        import os as _os
        import shutil as _shutil
        import tempfile
        import uuid as _uuid
        import zipfile as _zip

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        from cassandra_analytics_spark.sinks.bulk_writer import (
            _file_digest,
            _manifest_entry,
        )

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        tmp = tempfile.mkdtemp(prefix=f"bundler-{pid:05d}-")
        members: list[tuple[str, str, int, int, int]] = []
        bundles_meta: list[dict] = []
        writer = None
        cur_name = cur_path = None
        cur_rows = 0
        cur_lo = cur_hi = None
        seq = 0

        def close_member():
            nonlocal writer, cur_name, cur_path, cur_rows, cur_lo, cur_hi, seq
            if writer is None:
                return
            writer.close()
            members.append((cur_name, cur_path, cur_rows, cur_lo, cur_hi))
            writer, cur_name, cur_path = None, None, None
            cur_rows, cur_lo, cur_hi = 0, None, None
            seq += 1

        def close_bundle(group):
            if not group:
                return
            bname = f"bundle-{pid:05d}-{len(bundles_meta):05d}.zip"
            zpath = _os.path.join(tmp, bname)
            member_meta: dict[str, dict] = {}
            with _zip.ZipFile(zpath, "w", compression=_zip.ZIP_STORED) as zf:
                for fname, fpath, rows, lo, hi in group:
                    # Fixed entry metadata (epoch date, fixed mode) so a
                    # retried or speculative attempt produces BYTE-
                    # IDENTICAL zips: ZipFile.write would embed the
                    # member file's mtime, which differs per attempt, and
                    # a zombie attempt's late rename would then leave a
                    # bundle whose bytes mismatch the manifest digest.
                    zi = _zip.ZipInfo(fname, date_time=(1980, 1, 1, 0, 0, 0))
                    zi.compress_type = _zip.ZIP_STORED
                    zi.external_attr = 0o644 << 16
                    with zf.open(zi, "w") as dst, open(fpath, "rb") as srcf:
                        _shutil.copyfileobj(srcf, dst)
                    member_meta[fname] = {
                        **_manifest_entry(fpath, digest_algorithm),
                        "rows": rows,
                        "start_token": lo,
                        "end_token": hi,
                    }
            # publish: write-temp + rename; last-wins is safe because any
            # attempt's bytes are identical (sorted deterministic data +
            # normalized zip metadata). Digest/size come from the LOCAL
            # zip — same bytes, no re-read over the store.
            zbytes = _os.path.getsize(zpath)
            zdigest = _file_digest(zpath, digest_algorithm)
            dest = _os.path.join(staging, bname)
            part = f"{dest}.inprogress-{_uuid.uuid4().hex[:8]}"
            _shutil.copyfile(zpath, part)
            _os.rename(part, dest)
            bundles_meta.append(
                {
                    "name": bname,
                    "bytes": zbytes,
                    "digest": zdigest,
                    "start_token": min(m[3] for m in group),
                    "end_token": max(m[4] for m in group),
                    "num_rows": sum(m[2] for m in group),
                    "members": member_meta,
                }
            )

        try:
            for batch in batches:
                tok_idx = batch.schema.get_field_index(TOKEN_COLUMN)
                offset = 0
                while offset < batch.num_rows:
                    if writer is None:
                        cur_name = f"part-{pid:05d}-{seq:05d}.parquet"
                        cur_path = _os.path.join(tmp, cur_name)
                        writer = pq.ParquetWriter(cur_path, batch.schema)
                    take = min(batch.num_rows - offset, max_records_per_file - cur_rows)
                    sl = batch.slice(offset, take)
                    writer.write_batch(sl)
                    mm = pc.min_max(sl.column(tok_idx))
                    lo, hi = mm["min"].as_py(), mm["max"].as_py()
                    cur_lo = lo if cur_lo is None else min(cur_lo, lo)
                    cur_hi = hi if cur_hi is None else max(cur_hi, hi)
                    cur_rows += take
                    offset += take
                    if cur_rows >= max_records_per_file:
                        close_member()
            close_member()

            group: list[tuple[str, str, int, int, int]] = []
            group_bytes = 0
            for m in members:
                fsize = _os.path.getsize(m[1])
                if group and group_bytes + fsize > max_bundle_bytes:
                    close_bundle(group)
                    group, group_bytes = [], 0
                group.append(m)
                group_bytes += fsize
            close_bundle(group)

            if bundles_meta:
                yield pa.RecordBatch.from_pylist(
                    [
                        {**b, "members": _json.dumps(b["members"])}
                        for b in bundles_meta
                    ],
                    schema=pa.schema(
                        [
                            ("name", pa.string()),
                            ("bytes", pa.int64()),
                            ("digest", pa.string()),
                            ("start_token", pa.int64()),
                            ("end_token", pa.int64()),
                            ("num_rows", pa.int64()),
                            ("members", pa.string()),
                        ]
                    ),
                )
        finally:
            _shutil.rmtree(tmp, ignore_errors=True)

    return bundle_partition


def bundle_write(
    df: DataFrame,
    store_path: str,
    partition_keys: Sequence[str],
    clustering_keys: Sequence[str] = (),
    table: CqlTable | None = None,
    write_timestamp_micros: int | None = None,
    ttl_seconds: int | None = None,
    num_partitions: int | None = None,
    max_records_per_file: int = 1_000_000,
    max_bundle_bytes: int = 160 << 20,
    digest_algorithm: str = "md5",
) -> BundleStoreResult:
    """Write a DataFrame to an object-store directory as zip bundles.

    ``max_bundle_bytes`` defaults to the reference's 160 MiB SSTable roll
    size (``WriterOptions.java:59-61``); each bundle holds at least one
    member file even if that file alone exceeds the cap (the reference's
    bundler closes a bundle when the running size crosses the threshold).

    Bundling is executor-side: each range-partition task writes, zips,
    digests, and publishes its own bundles (see :func:`_make_bundler`);
    the driver handles only the O(#bundles) metadata and the final
    atomic-rename commit of the job directory.
    """
    import hashlib

    if digest_algorithm not in hashlib.algorithms_guaranteed:
        # an unknown algorithm used to surface as a PythonException from
        # inside the executor-side zip/digest task (round-8 probe).
        # Validate against algorithms_GUARANTEED, not _available: digests
        # are computed on EXECUTORS whose OpenSSL builds may expose a
        # different optional set than the driver's, so a driver-accepted
        # optional algorithm could still die inside the task — the
        # guaranteed set is portable by definition (round-9 ADVICE)
        raise ValueError(
            f"unsupported digest_algorithm {digest_algorithm!r}; portable "
            f"choices: {sorted(hashlib.algorithms_guaranteed)}"
        )
    job_id = f"job-{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}"
    staging, manifest, bundles = _stage_bundle_job(
        df, store_path, job_id, partition_keys, clustering_keys, table,
        write_timestamp_micros, ttl_seconds, num_partitions,
        max_records_per_file, max_bundle_bytes, digest_algorithm,
    )

    # the "upload completed" commit point: one atomic rename
    job_dir = os.path.join(store_path, job_id)
    os.rename(staging, job_dir)
    return BundleStoreResult(
        job_dir=job_dir,
        manifest_path=os.path.join(job_dir, "_bundle_manifest.json"),
        num_bundles=len(bundles),
        num_rows=manifest["num_rows"],
        bundles=bundles,
    )


def _stage_bundle_job(
    df: DataFrame,
    store_path: str,
    job_id: str,
    partition_keys: Sequence[str],
    clustering_keys: Sequence[str],
    table: CqlTable | None,
    write_timestamp_micros: int | None,
    ttl_seconds: int | None,
    num_partitions: int | None,
    max_records_per_file: int,
    max_bundle_bytes: int,
    digest_algorithm: str,
) -> tuple[str, dict, list[BundleInfo]]:
    """Run the bundle pipeline into ``_staging-<job>`` of ``store_path``
    WITHOUT committing; returns (staging_dir, manifest, bundles)."""
    _validate(df, partition_keys, clustering_keys, table)

    wt = (
        F.lit(write_timestamp_micros)
        if write_timestamp_micros is not None
        else F.lit(int(time.time() * 1_000_000))
    )
    out = df
    if WRITETIME not in df.columns or write_timestamp_micros is not None:
        out = out.withColumn(WRITETIME, wt.cast("long"))
    else:
        # per-row writetime passthrough: normalize the type so batches
        # written by different callers stay mergeSchema-compatible
        out = out.withColumn(WRITETIME, F.col(WRITETIME).cast("long"))
    if TTL not in out.columns:
        out = out.withColumn(TTL, F.lit(ttl_seconds).cast("int"))
    else:
        out = out.withColumn(TTL, F.col(TTL).cast("int"))
    if TOMBSTONE not in out.columns:
        out = out.withColumn(TOMBSTONE, F.lit(None).cast("string"))

    # W2, but the token column is materialized into the files: member
    # token bounds then come from parquet footers for free. System
    # columns join the sort as tiebreakers: bundle retry safety rests on
    # byte-identical re-execution, and a key-only sort leaves
    # multi-version rows (same full key, several writetimes) in
    # shuffle-fetch order — two task attempts could zip different bytes
    # under the same bundle name.
    out = out.withColumn(
        TOKEN_COLUMN, token_column(*[F.col(k) for k in partition_keys])
    )
    n = num_partitions or out.sparkSession.sparkContext.defaultParallelism
    out = out.repartitionByRange(n, F.col(TOKEN_COLUMN)).sortWithinPartitions(
        TOKEN_COLUMN, *partition_keys, *clustering_keys, WRITETIME, TTL, TOMBSTONE
    )

    staging = os.path.join(store_path, f"_staging-{job_id}")
    os.makedirs(staging)

    # Any failure in the staging phase — the bundling job, the metadata
    # assembly, or the manifest write — must remove the staging dir so
    # no garbage survives an aborted write.
    try:
        # One job: every task bundles and publishes its own partition;
        # the driver collects only metadata rows (O(#bundles), never
        # data).
        meta_rows = out.mapInArrow(
            _make_bundler(
                staging, max_records_per_file, max_bundle_bytes, digest_algorithm
            ),
            _BUNDLE_META_SCHEMA,
        ).collect()
        if not meta_rows:
            raise BulkWriteError("bundle_write produced no data files")

        # Range partitions are assigned in token order, so name order
        # (which embeds the partition id) == token order → contiguous
        # ring spans.
        bundles = [
            BundleInfo(
                name=r["name"],
                bytes=r["bytes"],
                digest=r["digest"],
                start_token=r["start_token"],
                end_token=r["end_token"],
                num_rows=r["num_rows"],
                members=json.loads(r["members"]),
            )
            for r in sorted(meta_rows, key=lambda r: r["name"])
        ]

        manifest = {
            "job": job_id,
            "partition_keys": list(partition_keys),
            "clustering_keys": list(clustering_keys),
            "token_column": TOKEN_COLUMN,
            "digest_algorithm": digest_algorithm,
            "num_rows": sum(b.num_rows for b in bundles),
            "bundles": {
                b.name: {
                    "bytes": b.bytes,
                    digest_algorithm: b.digest,
                    "start_token": b.start_token,
                    "end_token": b.end_token,
                    "rows": b.num_rows,
                    "members": b.members,
                }
                for b in bundles
            },
        }
        with open(os.path.join(staging, "_bundle_manifest.json"), "w") as f:
            json.dump(manifest, f, indent=2)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    return staging, manifest, bundles


def coordinated_bundle_write(
    df: DataFrame,
    store_paths: Sequence[str],
    partition_keys: Sequence[str],
    clustering_keys: Sequence[str] = (),
    table: CqlTable | None = None,
    write_timestamp_micros: int | None = None,
    ttl_seconds: int | None = None,
    num_partitions: int | None = None,
    max_records_per_file: int = 1_000_000,
    max_bundle_bytes: int = 160 << 20,
    digest_algorithm: str = "md5",
) -> list[BundleStoreResult]:
    """Coordinated multi-store bundle upload: one DataFrame shipped to
    several object stores with an all-or-nothing joint commit.

    This is the transport the reference's coordinated write actually
    rides — ``CoordinatedWriteConf.java`` configures one S3 bucket/region
    PER CLUSTER and the same SSTable bundles are uploaded to each
    (``CassandraCoordinatedBulkWriterContext.java``). Analogously: the
    bundle pipeline (token sort → per-task zip bundles) runs ONCE into
    the first store's staging dir, the finished bundles are copied
    byte-for-byte into every other store's staging on the driver
    (``_replicate_staged_files``, as the bulk writer's replicas are) and
    digest-verified there, and only then does the joint commit rename
    every staging into its ``job-…`` dir — with rollback on a mid-commit
    failure, so no store ever exposes a job the others don't have.
    """
    stores = [os.path.abspath(s) for s in store_paths]
    if not stores:
        raise BulkWriteError("coordinated bundle write needs at least one store")
    if len(set(stores)) != len(stores):
        raise BulkWriteError(f"duplicate coordinated-write stores: {sorted(stores)}")

    job_id = f"job-{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}"
    stagings: list[str] = []
    try:
        first_staging, manifest, bundles = _stage_bundle_job(
            df, stores[0], job_id, partition_keys, clustering_keys, table,
            write_timestamp_micros, ttl_seconds, num_partitions,
            max_records_per_file, max_bundle_bytes, digest_algorithm,
        )
        stagings.append(first_staging)
        algo = manifest["digest_algorithm"]
        copies: list[tuple[str, str, str | None]] = []
        for store in stores[1:]:
            s = os.path.join(store, f"_staging-{job_id}")
            os.makedirs(s)
            stagings.append(s)
            for bname, meta in manifest["bundles"].items():
                copies.append(
                    (
                        os.path.join(first_staging, bname),
                        os.path.join(s, bname),
                        meta[algo],
                    )
                )
            shutil.copyfile(
                os.path.join(first_staging, "_bundle_manifest.json"),
                os.path.join(s, "_bundle_manifest.json"),
            )
        _replicate_staged_files(copies, algo)
    except BaseException:
        for s in stagings:
            shutil.rmtree(s, ignore_errors=True)
        raise

    published: list[tuple[str, str]] = []
    try:
        for s in stagings:
            final = os.path.join(os.path.dirname(s), job_id)
            os.rename(s, final)
            published.append((s, final))
    except BaseException as commit_err:
        # same contract as coordinated_bulk_write: a failed rename-back
        # leaves that store published — report it, don't assume success
        rollback_failures: list[str] = []
        for s, final in published:
            try:
                os.rename(final, s)
            except OSError as e:
                rollback_failures.append(f"{final}: {e}")
        for s in stagings:
            shutil.rmtree(s, ignore_errors=True)
        if rollback_failures:
            raise BulkWriteError(
                "coordinated bundle commit failed and rollback could not "
                f"unpublish these stores (partial publish!): {rollback_failures}"
            ) from commit_err
        raise

    return [
        BundleStoreResult(
            job_dir=os.path.join(store, job_id),
            manifest_path=os.path.join(store, job_id, "_bundle_manifest.json"),
            num_bundles=len(bundles),
            num_rows=manifest["num_rows"],
            bundles=bundles,
        )
        for store in stores
    ]


def store_jobs(store_path: str) -> list[str]:
    if not os.path.isdir(store_path):
        return []
    return sorted(
        os.path.join(store_path, d)
        for d in os.listdir(store_path)
        if d.startswith("job-") and os.path.isdir(os.path.join(store_path, d))
    )


def _restore_one_bundle(
    job_dir: str,
    staging: str,
    algo: str,
    verify: bool,
    name: str,
    meta: dict,
):
    """Task body of the distributed restore: verify one bundle's digest,
    extract its manifest-listed members into ``staging`` (zip-slip-safe),
    re-digest each member, and yield (member, bytes, digest, rows)."""
    staging_root = os.path.realpath(staging)
    zpath = os.path.join(job_dir, name)
    if verify and _file_digest(zpath, algo) != meta[algo]:
        raise BulkWriteError(f"bundle digest mismatch: {name}")
    with zipfile.ZipFile(zpath) as zf:
        zip_names = set(zf.namelist())
        for fname, fmeta in meta["members"].items():
            # the bundler only ever emits flat 'part-*.parquet'
            # names — any separator (or absolute path) marks a
            # malformed/hostile manifest; rejecting it outright
            # also avoids an unhelpful FileNotFoundError for
            # 'sub/a.parquet' (parent dirs are never created)
            if os.path.isabs(fname) or "/" in fname or "\\" in fname:
                raise BulkWriteError(f"unsafe member path: {fname!r}")
            target = os.path.realpath(os.path.join(staging, fname))
            if not target.startswith(staging_root + os.sep):
                raise BulkWriteError(f"unsafe member path: {fname!r}")
            if fname not in zip_names:
                raise BulkWriteError(f"bundle {name} is missing member {fname!r}")
            with zf.open(fname) as src, open(target, "wb") as dst:
                shutil.copyfileobj(src, dst)
            if verify and _file_digest(target, algo) != fmeta[algo]:
                raise BulkWriteError(f"member digest mismatch: {fname}")
            yield (fname, fmeta["bytes"], fmeta[algo], fmeta["rows"])


def restore_bundles(
    spark: SparkSession,
    job_dir: str,
    table_path: str,
    token_range: tuple[int, int] | None = None,
    verify: bool = True,
) -> WriteResult:
    """Restore-slice: import a bundle job (optionally only the bundles
    overlapping ``token_range``) as one committed batch of ``table_path``.

    Whole bundles outside the range are skipped without being opened —
    the reference's per-replica slice selection. With ``verify`` each
    bundle's digest is checked before unpacking and each member's digest
    after (corrupted uploads fail the restore, nothing is committed;
    the reference re-validates written SSTables the same way,
    ``RecordWriter.java:351-353``).

    The store is remote and untrusted, so extraction is manifest-driven:
    ONLY member names listed in the manifest are extracted (zip entries
    the manifest doesn't know about are ignored — they'd otherwise land
    in the batch dir and be read back as data), and every member name is
    rejected if absolute or if its normalized path escapes the staging
    dir (zip-slip).

    REQUIRES SHARED STORAGE (same contract as ``bulk_write``): both
    ``job_dir`` and ``table_path`` must be one filesystem visible to the
    driver and every executor — bundle verification/extraction runs as a
    distributed job over executors while the manifest write and commit
    rename happen on the driver.
    """
    manifest_path = os.path.join(job_dir, "_bundle_manifest.json")
    if not os.path.isfile(manifest_path):
        raise BulkWriteError(
            f"no bundle job at {job_dir!r} (missing _bundle_manifest.json "
            "— was the job committed, and is this the right store path?)"
        )
    with open(manifest_path) as f:
        manifest = json.load(f)
    algo = manifest["digest_algorithm"]

    selected = {
        name: meta
        for name, meta in manifest["bundles"].items()
        if token_range is None
        or (
            meta["start_token"] <= token_range[1]
            and meta["end_token"] >= token_range[0]
        )
    }
    if not selected:
        raise BulkWriteError(
            f"no bundles overlap token range {token_range} in {job_dir}"
        )

    batch_id = f"batch-{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}"
    staging = os.path.join(table_path, f"_staging-{batch_id}")
    final_dir = os.path.join(table_path, batch_id)
    os.makedirs(staging)
    try:
        # Verify + unpack + re-digest as ONE distributed job, one task
        # slice per bundle set (the reference restores per replica in
        # parallel; a driver loop would re-read every data byte
        # single-threaded). Extraction over shared storage is idempotent
        # (full overwrite), so task retries are safe; any task failure
        # propagates here and the staging dir is removed whole.
        files: dict[str, dict] = {}
        num_rows = 0
        items = sorted(selected.items())
        sc = spark.sparkContext
        n_tasks = max(1, min(len(items), sc.defaultParallelism))

        def _restore(part):
            # task-side: bracket validation failures between sentinel
            # markers the driver controls, so the unwrap below does not
            # depend on how PySpark formats remote tracebacks
            try:
                for name, meta in part:
                    yield from _restore_one_bundle(
                        job_dir, staging, algo, verify, name, meta
                    )
            except BulkWriteError as te:
                raise RuntimeError(
                    f"{TASK_ERROR_MARK}{te}{TASK_ERROR_END}"
                ) from te

        try:
            member_rows = (
                sc.parallelize(items, n_tasks).mapPartitions(_restore).collect()
            )
        except Exception as e:  # unwrap task-side validation failures to
            # the contract type (a BulkWriteError raised in an executor
            # arrives here wrapped in the JVM task-failure exception).
            # The sentinel markers are ours (bulk_writer.TASK_ERROR_MARK)
            # — robust to PySpark traceback-format changes; if even the
            # message stops being embedded, the raw task exception
            # re-raises — fail-safe, just not the precise contract type
            unwrapped = unwrap_task_error(e)
            if unwrapped is not None:
                raise unwrapped from e
            raise
        for fname, nbytes, digest, nrows in sorted(member_rows):
            files[fname] = {"bytes": nbytes, algo: digest}
            num_rows += nrows

        batch_manifest = {
            "batch": batch_id,
            "mode": "append",
            "restored_from": manifest["job"],
            "partition_keys": manifest["partition_keys"],
            "clustering_keys": manifest["clustering_keys"],
            "digest_algorithm": algo,
            "num_rows": num_rows,
            "files": files,
        }
        with open(os.path.join(staging, "_manifest.json"), "w") as f:
            json.dump(batch_manifest, f, indent=2)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise

    os.rename(staging, final_dir)
    return WriteResult(
        batch_dir=final_dir,
        num_files=len(files),
        num_rows=num_rows,
        manifest_path=os.path.join(final_dir, "_manifest.json"),
    )
