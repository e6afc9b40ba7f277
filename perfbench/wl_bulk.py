"""The ``bulk_table`` workload: one table's life through the bulk writer
and the bulk reader. Each timed round ingests overlapping upsert batches
and a partition delete into a fresh table, merges it on read (row and cell
last-write-wins), runs partition-key lookups through the ``cassandra_bulk``
source, and compacts it."""

from __future__ import annotations

import json
import os
import random
import time

import pyarrow.parquet as pq

from perfbench import gen_table as G
from perfbench.harness import RunContext
from perfbench.workload import Measurement, Workload

SETUP_REPEATS = 3


def _write_inputs(ctx: RunContext, gen: G.GeneratedTable, tag: str) -> tuple[list[str], int]:
    """Generated batches (then the partition deletes) as parquet files;
    returns (paths, total bytes)."""
    d = ctx.path("inputs", tag)
    os.makedirs(d)
    paths = []
    for i, table in enumerate([*gen.batches, gen.deleted_partitions]):
        p = os.path.join(d, f"batch{i}.parquet")
        pq.write_table(table, p)
        paths.append(p)
    return paths, sum(os.path.getsize(p) for p in paths)


def _manifest_bytes(batch_dir: str) -> int:
    with open(os.path.join(batch_dir, "_manifest.json")) as f:
        return sum(meta["bytes"] for meta in json.load(f)["files"].values())


def _digest(rows) -> G.Expected:
    return G.digest_rows(G.spark_row_tuple(r) for r in rows)


class BulkTable(Workload):
    name = "bulk_table"
    op_name = "lookup"
    extra_units = {
        "write_rows_per_s": "rows/s",
        "merge_read_rows_per_s": "rows/s",
        "compact_rows_per_s": "rows/s",
        "stored_bytes_per_input_byte": "ratio",
    }
    # partial upserts with row, partition and cell tombstones and TTLs
    shape = G.TableShape(batches=2, rows_per_batch=5000, partial=True,
                         row_tombstones=0.04, cell_tombstones=0.06)
    nominal_round_s = 18.0
    lookups = 4

    def setup(self, ctx: RunContext) -> list[float]:
        """Generate the inputs SETUP_REPEATS times (same seed, fresh
        files); the last copy is used."""
        from cassandra_analytics_spark.api import Engine

        self.engine = Engine(ctx.spark)
        times = []
        for r in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            self.gen = G.generate(ctx.seed, self.shape)
            self.paths, self.input_bytes = _write_inputs(ctx, self.gen, f"r{r}")
            times.append(time.perf_counter() - t0)
        # every lookup pins one tenant (EqualTo) and two of its buckets
        # (IN): one shape, so the latency samples are comparable
        rng = random.Random(ctx.seed * 7919 + 1)
        by_tenant: dict = {}
        for t, b in sorted(self.gen.live_by_partition_row):
            by_tenant.setdefault(t, []).append(b)
        tenants = sorted(t for t, bs in by_tenant.items() if len(bs) >= 2)
        self.keys = []
        for _ in range(self.lookups):
            tenant = rng.choice(tenants)
            self.keys.append([(tenant, b) for b in sorted(rng.sample(by_tenant[tenant], 2))])
        return times

    def ingest(self, ctx: RunContext, table: str, batches: list[int] | None = None) -> float:
        """The upsert batches (all, or the listed ones) through
        ``Engine.bulk_write``, then the partition deletes through
        ``Engine.delete_partitions``; checks each committed batch.
        Returns the upsert seconds."""
        from cassandra_analytics_spark.sinks.bulk_writer import verify_digests

        gen = self.gen
        write_s = 0.0
        picked = range(len(gen.batches)) if batches is None else batches
        for i in [*picked, len(gen.batches)]:
            path = self.paths[i]
            deletes = i == len(gen.batches)
            df = ctx.spark.read.parquet(path)
            t0 = time.perf_counter()
            with ctx.tracer.span("op.bulk_write"):
                ok, res = ctx.ops.run("bulk_write", self._write, ctx, df, table, deletes)
            if not deletes:
                write_s += time.perf_counter() - t0
            if ok:
                want = gen.deleted_partitions.num_rows if deletes else gen.batches[i].num_rows
                ctx.ops.check("bulk_write", res.num_rows == want and verify_digests(res.batch_dir),
                              f"batch {i} of {table}")
                ctx.counters["bulk_writer.files_written"] += res.num_files
                ctx.counters["bulk_writer.bytes_written"] += _manifest_bytes(res.batch_dir)
                ctx.counters["bulk_writer.writes"] += 1
        return write_s

    def _write(self, ctx: RunContext, df, table: str, deletes: bool):
        with ctx.layer("bulk_writer.bulk_write", stages="bulk_writer"):
            if deletes:
                return self.engine.delete_partitions(
                    df, table, G.PARTITION_KEYS,
                    write_timestamp_micros=self.gen.delete_writetime,
                )
            return self.engine.bulk_write(df, table, G.PARTITION_KEYS,
                                         clustering_keys=G.CLUSTERING_KEYS)

    def token_rate(self, ctx: RunContext) -> float:
        """Rows per second of ``token_column`` over the upsert input into
        the noop sink (a traced-run probe of ``functions.tokens``)."""
        from pyspark.sql import functions as F

        from cassandra_analytics_spark.functions.tokens import token_column

        df = ctx.spark.read.parquet(*self.paths[:-1])
        rows = self.gen.versions
        rates = []
        for _ in range(3):
            t0 = time.perf_counter()
            with ctx.tracer.span("functions.tokens.token_column"):
                df.select(token_column(*[F.col(k) for k in G.PARTITION_KEYS]).alias("t")) \
                    .write.mode("overwrite").format("noop").save()
            rates.append(rows / (time.perf_counter() - t0))
        return sorted(rates)[1]

    def _source(self, ctx: RunContext, table: str, parts: list[tuple]):
        from pyspark.sql import functions as F

        buckets = [b for _, b in parts]
        raw = (
            ctx.spark.read.format("cassandra_bulk")
            .option("path", table)
            .option("partition_keys", ",".join(G.PARTITION_KEYS))
            # one input partition per core: token-adjacent files packed
            .option("default_parallelism", str(ctx.spark.sparkContext.defaultParallelism))
            .option("num_cores", "1")
            .load()
        )
        return raw.filter((F.col("tenant") == parts[0][0]) & F.col("bucket").isin(buckets))

    def lookup(self, ctx: RunContext, table: str, parts: list[tuple]):
        from cassandra_analytics_spark.operators.merge import compaction_merge

        with ctx.layer("python_datasource.plan"):
            raw = self._source(ctx, table, parts)
        with ctx.layer("merge.compaction_merge"):
            merged = compaction_merge(raw, G.PARTITION_KEYS, G.CLUSTERING_KEYS,
                                      now_micros=G.NOW_MICROS)
        with ctx.layer("exec.collect", stages="lookup"):
            return merged.collect()

    @staticmethod
    def full_read(ctx: RunContext, table: str, cell_lww: bool, merge: bool = True):
        from cassandra_analytics_spark.sinks.bulk_writer import read_bulk_table

        with ctx.layer("bulk_writer.read_bulk_table"):
            return read_bulk_table(
                ctx.spark, table, G.PARTITION_KEYS, G.CLUSTERING_KEYS,
                merge=merge, cell_lww=cell_lww, now_micros=G.NOW_MICROS,
            )

    def merged_read(self, ctx: RunContext, table: str, cell: bool, stages: str) -> list:
        """The whole table merged on read, collected to the client."""
        df = self.full_read(ctx, table, cell)
        with ctx.layer("exec.collect", stages=stages):
            return df.collect()

    def warmup(self, ctx: RunContext) -> None:
        """One upsert batch and the deletes, both merged reads and one
        lookup on a throwaway table: compiles the plan shapes a timed
        round runs (compaction reuses the merge and the writer)."""
        from cassandra_analytics_spark.sources.python_datasource import register

        register(ctx.spark)
        table = ctx.path("tables", "warm")
        self.ingest(ctx, table, batches=[0])
        for cell in (False, True):
            self.merged_read(ctx, table, cell, "warm")
        self.lookup(ctx, table, self.keys[0])

    def measure(self, ctx: RunContext, seconds: int, tag: str) -> Measurement:
        from cassandra_analytics_spark.sinks.bulk_writer import (
            compact_table,
            read_bulk_table,
            verify_digests,
        )

        gen = self.gen
        c = ctx.counters
        m = Measurement()
        rows_in = gen.versions + gen.deleted_partitions.num_rows
        for r in range(self.rounds(seconds)):
            table = ctx.path("tables", f"{tag}{r}")
            t_round = time.perf_counter()
            write_s = self.ingest(ctx, table)
            m.rates.append(gen.versions / write_s)
            m.extra("write_rows_per_s", gen.versions / write_s)

            read_s = 0.0
            for cell, want in ((False, gen.row_lww), (True, gen.cell_lww)):
                mode = "cell_lww" if cell else "row_lww"
                t0 = time.perf_counter()
                with ctx.tracer.span(f"op.merge_read.{mode}"):
                    ok, rows = ctx.ops.run(mode, self.merged_read, ctx, table, cell,
                                           f"merge_{mode}")
                c[f"merge.{mode}_s"] += time.perf_counter() - t0
                read_s += time.perf_counter() - t0
                if ok:
                    got = _digest(rows)
                    ctx.ops.check(mode, got == want, f"got {got} want {want}")
            m.extra("merge_read_rows_per_s", 2 * gen.versions / read_s)

            for parts in self.keys:
                t0 = time.perf_counter()
                with ctx.tracer.span("op.lookup"):
                    ok, rows = ctx.ops.run("lookup", self.lookup, ctx, table, parts)
                m.samples.append(time.perf_counter() - t0)
                if ok:
                    want = G.digest_rows(
                        r for p in parts for r in gen.live_by_partition_row.get(p, [])
                    )
                    got = _digest(rows)
                    ctx.ops.check("lookup", got == want, f"{parts}: got {got} want {want}")
                    c["python_datasource.rows_returned"] += len(rows)

            t0 = time.perf_counter()
            with ctx.tracer.span("op.compact_table"), \
                    ctx.layer("bulk_writer.compact_table", stages="compact"):
                ok, res = ctx.ops.run(
                    "compact_table", compact_table, ctx.spark, table,
                    G.PARTITION_KEYS, G.CLUSTERING_KEYS, now_micros=G.NOW_MICROS,
                )
            compact_s = time.perf_counter() - t0
            m.round_s.append(time.perf_counter() - t_round)
            m.extra("compact_rows_per_s", rows_in / compact_s)
            c["bulk_writer.compact_s"] += compact_s
            if ok:
                m.extra("stored_bytes_per_input_byte",
                        _manifest_bytes(res.batch_dir) / self.input_bytes)
                c["bulk_writer.compact_rows_in"] += rows_in
                c["bulk_writer.compact_rows_out"] += res.num_rows
                merged = read_bulk_table(ctx.spark, table, G.PARTITION_KEYS,
                                         G.CLUSTERING_KEYS, now_micros=G.NOW_MICROS)
                got = _digest(merged.collect())
                ctx.ops.check("compact_table",
                              got == gen.row_lww and verify_digests(res.batch_dir),
                              f"got {got} want {gen.row_lww}")
        return m

    def layer_probes(self, ctx: RunContext) -> None:
        """Untimed probes of single layers, after the traced rounds: the
        token function, a merge-free scan, the merge plan's exchanges and
        the source's planning over a freshly ingested table."""
        c = ctx.counters
        c["tokens.rows_per_s"] = self.token_rate(ctx)
        table = ctx.path("tables", "probe")
        self.ingest(ctx, table)
        t0 = time.perf_counter()
        self._noop_scan(ctx, table)
        c["merge.scan_s"] = time.perf_counter() - t0
        c["merge.versions_in"] = self.gen.versions
        c["merge.rows_out"] = self.gen.row_lww.rows
        plan = self.full_read(ctx, table, False)._jdf.queryExecution().executedPlan().toString()
        c["merge.exchanges"] = plan.count("Exchange ")
        scanned = plan_s = partitions = 0
        for parts in self.keys:
            t0 = time.perf_counter()
            df = self._source(ctx, table, parts)
            partitions += df.rdd.getNumPartitions()
            plan_s += time.perf_counter() - t0
            scanned += df.count()
        c["python_datasource.plan_s"] = plan_s / len(self.keys)
        c["python_datasource.partitions"] = partitions / len(self.keys)
        c["python_datasource.rows_scanned"] = scanned

    def _noop_scan(self, ctx: RunContext, table: str) -> None:
        df = self.full_read(ctx, table, False, merge=False)
        with ctx.layer("exec.noop_write", stages="merge_scan"):
            df.write.mode("overwrite").format("noop").save()

    def detail(self) -> dict:
        gen = self.gen
        return {
            "input_bytes": (self.input_bytes, "bytes"),
            "versions": (gen.versions, "rows"),
            "live_rows_row_lww": (gen.row_lww.rows, "rows"),
            "live_rows_cell_lww": (gen.cell_lww.rows, "rows"),
            "read_amplification": (gen.versions / gen.row_lww.rows, "versions/row"),
            "generator": (gen.knobs, "knobs"),
        }
