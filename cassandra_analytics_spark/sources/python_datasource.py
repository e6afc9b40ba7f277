"""A real pluggable Spark source for bulk tables — the S1/S2 analog as a
registered format, like the reference's
``spark.read.format("….CassandraDataSource")`` entry point
(``spark3/sparksql/CassandraDataSource.java:31-55``).

Built on Spark 4's Python Data Source API:

* ``spark.dataSource.register(CassandraBulkDataSource)``
* ``spark.read.format("cassandra_bulk").option("path", dir)
  .option("partition_keys", "pk1,pk2").load()``

Planning mirrors the reference: one input partition per data file across
committed batch dirs (M4 token-sub-range analog — files are already
token-range-sorted by the writer), and the F1 all-or-nothing accept-list
for partition-key EqualTo/In pushdown, evaluated against parquet via
pyarrow predicate pushdown.

Reader options, mirroring the reference's ``ClientConfig.java:48-83``
surface where it has a meaning over committed parquet batches:

===========================  ==============================================
option                        behavior
===========================  ==============================================
``path``                      table directory (required)
``partition_keys``            comma-separated partition-key columns (F1)
``require_full_pk``           reject scans whose filters don't pin the pk
``snapshot``                  snapshot read: only batches committed at or
                              before this batch id are visible (the
                              ``snapshotName`` analog; accepts
                              ``as_of_batch`` as an alias)
``last_modified_column_name`` append a timestamp column aliased from each
                              row's write-timestamp
                              (``LAST_MODIFIED_COLUMN_NAME_KEY`` /
                              ``aliasLastModifiedTimestamp``; the
                              partition-level max is the separate M5
                              operator ``operators/merge.py``)
``default_parallelism``       × ``num_cores`` = target input-partition
``num_cores``                 count, the reference's
                              ``TokenPartitioner.java:76-120`` split math:
                              fewer files than target → files split at
                              parquet row-group boundaries; more → token-
                              adjacent files packed per partition
``write_timestamp_micros``    (writer) WriterOptions TIMESTAMP semantics
                              (``TimestampOption.from``): an integer is a
                              constant write timestamp in micros; any
                              other string names a per-row timestamp
                              COLUMN (consumed into ``writetime``, not
                              written as data); absent = now
``ttl_seconds``               (writer) WriterOptions TTL semantics
                              (``TTLOption.from``): an integer is constant
                              seconds with ``0`` = forever (no ttl
                              column); any other string names a per-row
                              ttl column (consumed; per-row 0 -> NULL =
                              forever, as in Cassandra)
===========================  ==============================================

The reference's own camelCase spellings are accepted as aliases
(``snapshotName``, ``lastModifiedColumnName``, ``defaultParallelism``,
``numCores``, writer ``timestamp``/``ttl``) — Spark lowercases option
keys, so the alias table resolves the lowercased forms; see
``_OPTION_ALIASES``.

Options with no analog over shared committed storage (documented n/a, as
in COVERAGE.md): sidecar contact points/port, dc, createSnapshot/
clearSnapshot (writers commit immutable batches), consistencyLevel (S2
local reads), sizing/maxPartitionSize (row groups are pre-sized by the
writer), useIncrementalRepair, quote_identifiers (schema comes from
parquet, not CQL re-parsing).

The JVM parquet path (``read_bulk_table``) remains the hot path;
this source trades throughput (Python workers, Arrow batches) for the
pluggable-format API surface.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    EqualTo,
    Filter,
    In,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

FORMAT_NAME = "cassandra_bulk"


@dataclass
class FilePartition(InputPartition):
    """One scan unit: a file, optionally narrowed to specific row groups
    (the reference's Spark-partition ⊂ token-range split,
    ``TokenPartitioner.java:76-120``)."""

    units: list  # [(path, row_group_ids | None), ...]


# Spark lowercases data source option keys before they reach Python, so
# the reference's camelCase spellings (ClientConfig.java:48-83 /
# WriterOptions.java) arrive as e.g. "snapshotname". Each canonical
# option therefore resolves through an alias list that includes the
# lowercased reference spelling — without this, a reference user's
# .option("snapshotName", ...) was SILENTLY ignored and the scan read
# the whole table instead of the snapshot (found by the round-6
# adversarial review; pinned in tests/test_python_datasource.py).
_OPTION_ALIASES: dict[str, tuple[str, ...]] = {
    "snapshot": ("snapshot", "as_of_batch", "snapshotname"),
    "last_modified_column_name": (
        "last_modified_column_name",
        "lastmodifiedcolumnname",
    ),
    "default_parallelism": ("default_parallelism", "defaultparallelism"),
    "num_cores": ("num_cores", "numcores"),
    "write_timestamp_micros": ("write_timestamp_micros", "timestamp"),
    "ttl_seconds": ("ttl_seconds", "ttl"),
}


def _opt(options: dict, canonical: str, default=None):
    for key in _OPTION_ALIASES.get(canonical, (canonical,)):
        if key in options:
            return options[key]
    return default


def _snapshot_option(options: dict) -> str | None:
    snap = _opt(options, "snapshot")
    if snap is not None and not str(snap).startswith("batch-"):
        # the snapshot filter is lexicographic over "batch-<millis>-<id>"
        # names: any other shape silently reads EVERYTHING (sorts above
        # "batch-") or NOTHING (sorts below) — round-8 continuation probe
        raise ValueError(
            f"snapshot/as_of_batch must be a batch id (or id prefix) "
            f"starting with 'batch-', got {snap!r}"
        )
    return snap


def _required_path(options: dict) -> str:
    if "path" not in options:
        raise ValueError(
            "the cassandra_bulk source needs .option('path', <table dir>) "
            "or .load(<table dir>)"
        )
    return options["path"]


def _int_option(options: dict, canonical: str, default: str) -> int:
    raw = _opt(options, canonical, default)
    try:
        return int(raw)
    except ValueError:
        raise ValueError(
            f"option {canonical!r} must be an integer, got {raw!r}"
        ) from None


class CassandraBulkReader(DataSourceReader):
    def __init__(self, options: dict, spark_schema: StructType | None = None):
        self.spark_schema = spark_schema
        self.table_path = _required_path(options)
        # strip(): ".option('partition_keys', 'pk1, pk2')" used to keep
        # the space, so ' pk2' never matched a filter column — pushdown
        # silently disabled, and require_full_pk REJECTED fully-pinned
        # scans (round-8 continuation probe)
        self.partition_keys = [
            k.strip() for k in options.get("partition_keys", "").split(",") if k.strip()
        ]
        self.require_full_pk = (
            options.get("require_full_pk", "false").lower() == "true"
        )
        if self.require_full_pk and not self.partition_keys:
            raise ValueError(
                "require_full_pk needs partition_keys: without the key "
                "list the constraint cannot be checked and would silently "
                "pass every scan"
            )
        self.snapshot = _snapshot_option(options)
        self.lmt_column = _opt(options, "last_modified_column_name")
        parallelism = _int_option(options, "default_parallelism", "0")
        cores = _int_option(options, "num_cores", "1")
        self.target_partitions = parallelism * cores if parallelism > 0 else 0
        self.pushed: list[tuple[str, list]] = []

    def pushFilters(self, filters: list[Filter]):
        """F1 accept-list (DataLayer.java:304-337): accept EqualTo/In —
        and only when every partition-key column is constrained."""
        candidates: dict[str, list] = {}
        passthrough: list[Filter] = []
        for f in filters:
            if isinstance(f, EqualTo) and len(f.attribute) == 1:
                candidates.setdefault(f.attribute[0], []).append(("eq", f))
            elif isinstance(f, In) and len(f.attribute) == 1:
                candidates.setdefault(f.attribute[0], []).append(("in", f))
            else:
                passthrough.append(f)

        constrained = set(candidates) & set(self.partition_keys)
        if self.partition_keys and constrained == set(self.partition_keys):
            for col, fs in candidates.items():
                if col in constrained:
                    for kind, f in fs:
                        values = [f.value] if kind == "eq" else list(f.value)
                        self.pushed.append((col, values))
                else:
                    passthrough.extend(f for _, f in fs)
            return passthrough
        if self.require_full_pk and self.partition_keys:
            raise ValueError(
                "filters must constrain every partition-key column "
                f"({self.partition_keys}); got {sorted(candidates)}"
            )
        # all-or-nothing: reject everything → Spark evaluates post-scan
        return filters

    def partitions(self):
        # imported here, not at module level: bulk_writer pulls in pandas,
        # which the scan workers never need
        from cassandra_analytics_spark.sinks.bulk_writer import _data_files

        files = _data_files(self.table_path, self.snapshot)
        if not files:
            # empty table (e.g. caller-supplied schema + a snapshot older
            # than every batch): one empty partition, zero rows — not a
            # ZeroDivisionError in the split math below
            return [FilePartition([])]
        target = self.target_partitions
        if target <= 0 or target == len(files):
            return [FilePartition([(p, None)]) for p in files]

        units: list[tuple[str, list | None]] = []
        if len(files) < target:
            # fewer files than requested parallelism: split each file at
            # row-group boundaries (the row group is the Summary.db-like
            # seekable unit — splitting below it would re-read pages)
            import math

            import pyarrow.parquet as pq

            per_file = math.ceil(target / len(files))
            for p in files:
                n = pq.read_metadata(p).num_row_groups
                step = max(1, math.ceil(n / per_file))
                for s in range(0, n, step):
                    units.append((p, list(range(s, min(s + step, n)))))
        else:
            units = [(p, None) for p in files]

        if not units:
            # every file had zero row groups (possible for foreign-written
            # 0-row parquet): same empty-scan shape as the no-files case
            return [FilePartition([])]
        # pack token-adjacent units into at most `target` partitions —
        # contiguous chunks keep each task inside a contiguous token span
        k = min(target, len(units))
        bounds = [round(i * len(units) / k) for i in range(k + 1)]
        return [
            FilePartition(units[bounds[i] : bounds[i + 1]])
            for i in range(k)
            if bounds[i] < bounds[i + 1]
        ]

    def read(self, partition: FilePartition):
        import pyarrow.dataset as pa_ds

        predicate = None
        for col, values in self.pushed:
            clause = pa_ds.field(col).isin(values)
            predicate = clause if predicate is None else (predicate & clause)
        # scan every file against the UNIFIED read schema (minus the
        # lmt column _decorate appends): a tombstone batch's files carry
        # fewer physical columns, and scanning them with their own
        # schema would yield record batches narrower than the declared
        # source schema — pyarrow null-fills the missing columns instead
        scan_schema = None
        if self.spark_schema is not None:
            from pyspark.sql.pandas.types import to_arrow_schema

            fields = [
                f for f in self.spark_schema.fields if f.name != self.lmt_column
            ]
            scan_schema = to_arrow_schema(StructType(fields))
        for path, row_groups in partition.units:
            dataset = pa_ds.dataset(path, format="parquet", schema=scan_schema)
            for frag in dataset.get_fragments():
                sub = (
                    frag
                    if row_groups is None
                    else frag.subset(row_group_ids=row_groups)
                )
                scanner = pa_ds.Scanner.from_fragment(
                    sub, schema=scan_schema, filter=predicate
                )
                for batch in scanner.to_reader():
                    yield self._decorate(batch)

    def _decorate(self, batch):
        """Append the lastModifiedColumnName column when requested
        (aliasLastModifiedTimestamp: write-timestamp surfaced as a
        TIMESTAMP column; rows here are whole-row writes, so the row's
        writetime IS its last-modified time)."""
        if self.lmt_column is None:
            return batch
        import pyarrow as pa
        import pyarrow.compute as pc

        wt = batch.column("writetime")
        lmt = pc.cast(wt, pa.timestamp("us"))
        return batch.append_column(
            pa.field(self.lmt_column, pa.timestamp("us")), lmt
        )


@dataclass
class FileCommitMessage(WriterCommitMessage):
    file_name: str
    num_rows: int


class CassandraBulkWriter(DataSourceWriter):
    """Sink side of the format — the reference's 2-phase commit
    (``StreamSession.java:124-187``): tasks stage files, the driver-side
    ``commit`` writes the digest manifest and atomically publishes the
    batch; ``abort`` discards the staging dir so failures leave nothing
    visible."""

    @staticmethod
    def _const_or_column(
        raw, field_names: set, label: str
    ) -> tuple[int | None, str | None]:
        """WriterOptions parse shape (TTLOption/TimestampOption.from):
        an integer literal is a constant; any other string names a
        per-row source COLUMN, validated against the schema. Returns
        (constant, column) — exactly one is non-None."""
        try:
            return int(raw), None
        except ValueError:
            column = str(raw)
            if column not in field_names:
                raise ValueError(
                    f"{label} option names column {column!r}, which is "
                    f"not in the DataFrame schema {sorted(field_names)}"
                )
            return None, column

    def __init__(self, options: dict, schema: StructType):
        import time
        import uuid

        self.table_path = _required_path(options)
        self.schema = schema
        field_names = {f.name for f in schema.fields}

        # WriterOptions TIMESTAMP parity: constant micros or a per-row
        # column (consumed — surfaced as the writetime system column,
        # not written as table data). Absent -> now, UNLESS the
        # DataFrame itself carries a writetime column (per-row mode, as
        # in the JVM path's "WRITETIME in df.columns and
        # write_timestamp_micros is None" rule; an EXPLICIT constant
        # always wins over the column).
        wt = _opt(options, "write_timestamp_micros")
        self.writetime_column: str | None = None
        self.write_timestamp: int | None = None
        if wt is None:
            if "writetime" in field_names:
                self.writetime_column = "writetime"
            else:
                self.write_timestamp = int(time.time() * 1_000_000)
        else:
            self.write_timestamp, self.writetime_column = self._const_or_column(
                wt, field_names, "timestamp"
            )

        # WriterOptions TTL parity: constant seconds with 0 = FOREVER
        # (no ttl column — a stored 0 would mean instant expiry under
        # the merge's writetime+ttl<=now rule, the opposite of
        # Cassandra's TTL-0 semantics), or a per-row ttl column
        # (consumed). Absent -> the DataFrame's own ttl column if it has
        # one. Per-row 0 values map to NULL = forever either way.
        ttl = _opt(options, "ttl_seconds")
        self.ttl_column: str | None = None
        self.ttl_seconds: int | None = None
        if ttl is None:
            if "ttl" in field_names:
                self.ttl_column = "ttl"
        else:
            const, self.ttl_column = self._const_or_column(
                ttl, field_names, "ttl"
            )
            if const is not None and const < 0:
                # Cassandra rejects negative TTLs; storing one would
                # instant-expire every row SILENTLY at read time under the
                # writetime+ttl<=now merge rule (round-8 continuation probe)
                raise ValueError(f"ttl must be >= 0 (0 = forever), got {const}")
            if const is not None and const != 0:
                self.ttl_seconds = const

        self.batch_id = (
            f"batch-{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}"
        )
        self.staging = f"{self.table_path}/_staging-{self.batch_id}"

    def _consumed_columns(self) -> set:
        """Option-named per-row source columns that become system columns
        instead of table data (unless they already ARE the system
        column's name)."""
        return {
            c
            for c in (self.writetime_column, self.ttl_column)
            if c is not None and c not in ("writetime", "ttl")
        }

    def write(self, iterator) -> FileCommitMessage:
        import os
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        rows = [r.asDict() for r in iterator]
        os.makedirs(self.staging, exist_ok=True)
        fname = f"part-{uuid.uuid4().hex}.parquet"
        # The physical schema is the single source of truth for the file
        # layout: consumed per-row option columns dropped, writetime/ttl
        # appended and normalized to long/int, mirroring the JVM path
        # (_prepare_batch_df). Without the normalization an int-typed
        # writetime batch makes the whole table unreadable — mergeSchema
        # AND unify_schemas refuse INT vs BIGINT (round-6 review, pinned
        # in tests).
        phys = self._physical_schema()
        arrow_schema = to_arrow_schema(phys)
        columns: dict = {}
        for f in phys.fields:
            if f.name == "writetime":
                # __init__ resolved the source: per-row column (explicit
                # or the DataFrame's own writetime) or the constant — an
                # EXPLICIT constant overrides a writetime column's
                # values, as on the JVM path
                if self.writetime_column is not None:
                    vals = [r.get(self.writetime_column) for r in rows]
                else:
                    vals = [self.write_timestamp] * len(rows)
            elif f.name == "ttl":
                if self.ttl_column is not None:
                    # per-row TTL 0 = no expiry for that row (Cassandra
                    # semantics) -> NULL, which the merge treats as live
                    vals = [
                        None if v == 0 else v
                        for v in (r.get(self.ttl_column) for r in rows)
                    ]
                else:
                    vals = [self.ttl_seconds] * len(rows)
            else:
                vals = [r.get(f.name) for r in rows]
            columns[f.name] = vals
        table = pa.table(
            {k: pa.array(v, type=arrow_schema.field(k).type) for k, v in columns.items()},
            schema=arrow_schema,
        )
        pq.write_table(table, os.path.join(self.staging, fname))
        return FileCommitMessage(file_name=fname, num_rows=len(rows))

    def _physical_schema(self) -> StructType:
        """The schema of the staged files: user schema minus consumed
        per-row option columns, plus the appended system columns, with
        writetime/ttl normalized to long/int exactly as write() stamps
        them."""
        from pyspark.sql.types import IntegerType, LongType, StructField

        consumed = self._consumed_columns()
        fields = []
        for f in self.schema.fields:
            if f.name in consumed:
                continue
            if f.name == "writetime":
                fields.append(StructField("writetime", LongType(), f.nullable))
            elif f.name == "ttl":
                fields.append(StructField("ttl", IntegerType(), f.nullable))
            else:
                fields.append(f)
        names = {f.name for f in fields}
        if "writetime" not in names:
            fields.append(StructField("writetime", LongType(), True))
        has_ttl_source = self.ttl_seconds is not None or self.ttl_column is not None
        if has_ttl_source and "ttl" not in names:
            fields.append(StructField("ttl", IntegerType(), True))
        return StructType(fields)

    def commit(self, messages) -> None:
        import json
        import os

        from cassandra_analytics_spark.sinks.bulk_writer import _manifest_entry

        # a plan with zero tasks (empty source RDD) never created the
        # staging dir — the batch still commits, carrying the schema
        os.makedirs(self.staging, exist_ok=True)
        files = {}
        total = 0
        for m in messages:
            if m is None:
                continue
            files[m.file_name] = _manifest_entry(
                os.path.join(self.staging, m.file_name), "md5"
            )
            total += m.num_rows
        manifest = {
            "batch": self.batch_id,
            "mode": "append",
            "digest_algorithm": "md5",
            "num_rows": total,
            "files": files,
            # parity with the JVM manifest: the schema travels so a
            # file-less batch keeps the table readable via the
            # manifest-schema fallback (read_bulk_table / this source)
            "schema": self._physical_schema().jsonValue(),
        }
        with open(os.path.join(self.staging, "_manifest.json"), "w") as f:
            json.dump(manifest, f, indent=2)
        # Task-commit protocol: only files named in a WriterCommitMessage
        # belong to this batch. A retried or speculative task may have
        # left an orphan parquet in the shared staging dir — publishing
        # it would duplicate rows (the JVM path is safe because Spark's
        # file committer owns that problem). Delete unlisted files before
        # the atomic publish.
        for fname in os.listdir(self.staging):
            if fname.endswith(".parquet") and fname not in files:
                os.remove(os.path.join(self.staging, fname))
        os.rename(self.staging, os.path.join(self.table_path, self.batch_id))

    def abort(self, messages) -> None:
        import shutil

        shutil.rmtree(self.staging, ignore_errors=True)


class CassandraBulkDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> StructType:
        import os

        import pyarrow.parquet as pq

        from cassandra_analytics_spark.sinks.bulk_writer import (
            _data_files,
            _manifest_schema,
            committed_batches,
        )

        files = _data_files(
            _required_path(dict(self.options)), _snapshot_option(dict(self.options))
        )
        if not files:
            # committed-but-file-less batches (e.g. a compaction of a
            # fully-deleted table) still carry the Spark schema in their
            # manifest — the table is EMPTY, not missing
            batches = committed_batches(
                self.options["path"], _snapshot_option(dict(self.options))
            )
            if batches:
                return _manifest_schema(batches[-1])
            raise FileNotFoundError(
                f"no committed batches under {self.options['path']}"
            )
        # unify across batches (tombstone batches have fewer columns) —
        # ONE footer per batch: the manifest-committed write guarantees a
        # uniform schema within a batch, so reading every file's footer
        # driver-side would cost O(total files) planning time per query
        # for no information
        firsts, seen = [], set()
        for f in files:
            b = os.path.dirname(f)
            if b not in seen:
                seen.add(b)
                firsts.append(f)
        schemas = [pq.read_schema(f) for f in firsts]
        import pyarrow as pa

        unified = pa.unify_schemas(schemas, promote_options="default")
        lmt = _opt(dict(self.options), "last_modified_column_name")
        if lmt:
            unified = unified.append(pa.field(lmt, pa.timestamp("us")))
        return from_arrow_schema(unified)

    def reader(self, schema: StructType) -> CassandraBulkReader:
        # the resolved schema MUST reach the reader: each file is scanned
        # against the unified cross-batch schema so tombstone batches
        # (fewer physical columns) null-fill instead of yielding batches
        # narrower than the declared read schema
        return CassandraBulkReader(dict(self.options), schema)

    def writer(self, schema: StructType, overwrite: bool) -> CassandraBulkWriter:
        if overwrite:
            # parity: Overwrite needs TRUNCATE (CassandraDataSink.java:96-99)
            raise ValueError(
                "cassandra_bulk is append-only: SaveMode.Overwrite is not "
                "supported (reference rejects it: CassandraDataSink.java:96-99)"
            )
        return CassandraBulkWriter(dict(self.options), schema)


def register(spark) -> None:
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(CassandraBulkDataSource)
