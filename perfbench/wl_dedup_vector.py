"""The ``dedup_vector`` workload: the near-duplicate detection headline
queries (the ``dedup_*`` entries of ``bench.HEADLINE``: exact, MinHash LSH
and SimHash) in a fixed order into the noop sink, then the vector stack:
the IVF-SQ8 layout build (``operators.ann_index``), the PQ layout build
(``operators.pq``) and a series of seeded probes against both layouts.

Traced runs also run the streaming SemDeDup family of
``queries.llm.EXTENDED_SPLITS`` (bootstrap plus one incremental trigger,
``streaming.semantic_stream``) after the timed round. Its cold bootstrap
and trigger cost about as much as the whole timed round (15-20 s on a
4-CPU host), so untraced runs leave it out to keep a run near a minute."""

from __future__ import annotations

import time

import numpy as np

from perfbench import gen_data
from perfbench.harness import BOOKKEEPING, RunContext
from perfbench.workload import Measurement, Workload

SETUP_REPEATS = 3
CATALYST_PHASES = ("analysis", "optimization", "planning")
K = 10
# recall@10 floors against the exact top-10 by cosine similarity over the
# generated vectors (mean over the probe series).
# The lowest means seen over 30 seeds on the engine as it stands were 0.83
# (IVF-SQ8, 8 of 16 cells probed) and 0.97 (PQ); the floors sit well
# below so that only a broken layout, not an unlucky seed, trips them.
RECALL_FLOOR = {"ann_index": 0.6, "pq": 0.7}
STREAM_FAMILY = "streaming_semantic_dedup"
WARM_VECTORS = 200  # corpus slice the warm-up builds its layouts over
# IVF-SQ8 and PQ parameters of the EXTENDED_SPLITS families, except that
# an IVF probe reads half the cells, not all, so the probe exercises the
# layout's cell pruning
IVF_CELLS = 16
IVF_PROBED_CELLS = 8
PQ_PARAMS = {"m": 16, "ks": 32, "sample_size": 5_000, "iterations": 10}


def dedup_headline() -> list[str]:
    """The dedup headline queries, in ``bench.HEADLINE`` order."""
    from bench import HEADLINE

    return [q for q in HEADLINE if q.startswith("dedup_")]


def rows_match_oracle(rows, family: str, data_dir: str) -> bool:
    """Spark result rows equal the registered DuckDB oracle's, as sets of
    value tuples (the families' results are small integer tables)."""
    from cassandra_analytics_spark.queries import REGISTRY
    from cassandra_analytics_spark.testing import duckdb_connection

    con = duckdb_connection(data_dir)
    try:
        want = con.execute(REGISTRY[family].oracle).fetchall()
    finally:
        con.close()
    return sorted(map(tuple, rows)) == sorted(want)


class DedupVector(Workload):
    name = "dedup_vector"
    op_name = "probe"
    extra_units = {"dedup_queries_s": "s", "vector_build_s": "s"}
    nominal_round_s = 15.0
    # the oracles read the whole catalog: every table but documents and
    # embeddings is tiny
    scale = gen_data.Scale(orders=100, customers=20, parts=20, suppliers=5, events=100,
                           users=10, documents=400, embeddings=1000)
    probes = 3

    def setup(self, ctx: RunContext) -> list[float]:
        from cassandra_analytics_spark.queries import REGISTRY, _ensure_loaded

        _ensure_loaded()
        self.queries = [(q, REGISTRY[q].fn) for q in dedup_headline()]
        times = []
        for r in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            data = gen_data.tables(ctx.seed, self.scale)
            self.data_dir = ctx.path("data", f"r{r}")
            gen_data.write(self.data_dir, data)
            times.append(time.perf_counter() - t0)
        # seeded probe vectors: a corpus vector plus noise, renormalized;
        # their exact top-K (the probes' expected results) by construction
        rng = np.random.default_rng(ctx.seed + 1)
        emb = data["embeddings"]
        corpus = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)).astype("float64")
        picks = rng.integers(0, len(corpus), self.probes)
        q = corpus[picks] + rng.normal(scale=0.05, size=(self.probes, corpus.shape[1]))
        q /= np.linalg.norm(q, axis=1, keepdims=True)
        self.query_vecs = [[float(x) for x in v] for v in q]
        cosine = q @ (corpus / np.linalg.norm(corpus, axis=1, keepdims=True)).T
        ids = emb.column("vec_id").to_numpy()
        self.exact = [set(ids[np.argsort(-row)[:K]].tolist()) for row in cosine]
        self.stream_s = None
        return times

    def warmup(self, ctx: RunContext) -> None:
        """The queries' untimed output check, each against its DuckDB
        oracle, then both layouts built over a slice of the corpus and
        probed once: compiles every plan shape a timed round runs."""
        from pyspark.sql import functions as F

        from cassandra_analytics_spark.testing import compare_query

        self.bad = {}
        for q, _ in self.queries:
            res = compare_query(q, ctx.spark, self.data_dir)
            if not res.ok:
                self.bad[q] = str(res)[:500]
        ivf_path = ctx.path("layouts", "warm", "ivf")
        pq_path = ctx.path("layouts", "warm", "pq")
        corpus = self._corpus(ctx).filter(F.col("vec_id") < WARM_VECTORS)
        codebook = self._build(ctx, Measurement(), corpus, ivf_path, pq_path)
        for layer in ("ann_index", "pq"):
            self._probe(ctx, layer, self.query_vecs[0], ivf_path, pq_path, codebook)

    def _corpus(self, ctx: RunContext):
        from cassandra_analytics_spark.catalog import load_table

        return load_table(ctx.spark, self.data_dir, "embeddings").select("vec_id", "embedding")

    def measure(self, ctx: RunContext, seconds: int, tag: str) -> Measurement:
        from cassandra_analytics_spark.operators._cache import clear_operator_caches

        m = Measurement()
        probe_s = {"ann_index": [], "pq": []}
        results = {"ann_index": [], "pq": []}
        corpus = self._corpus(ctx)
        for r in range(self.rounds(seconds)):
            clear_operator_caches()
            ctx.spark.catalog.clearCache()
            t_round = time.perf_counter()
            self._queries(ctx, m)
            ivf_path = ctx.path("layouts", f"{tag}{r}", "ivf")
            pq_path = ctx.path("layouts", f"{tag}{r}", "pq")
            codebook = self._build(ctx, m, corpus, ivf_path, pq_path)
            # every query vector probes both layouts; a sample is one probe
            for i, qvec in enumerate(self.query_vecs):
                for layer in ("ann_index", "pq"):
                    t0 = time.perf_counter()
                    with ctx.tracer.span("op.probe"):
                        ok, got = ctx.ops.run(f"{layer}.probe", self._probe, ctx, layer, qvec,
                                              ivf_path, pq_path, codebook)
                    probe_s[layer].append(time.perf_counter() - t0)
                    m.samples.append(probe_s[layer][-1])
                    results[layer].append((i, got if ok else None))
            m.round_s.append(time.perf_counter() - t_round)
        self._check(ctx, results)
        c = ctx.counters
        for layer, secs in probe_s.items():
            c[f"{layer}.probe_ms"] = float(np.median(secs)) * 1000
            c[f"{layer}.recall_at_k"] = self.recall[layer]
        c["ann_index.probe_input_records"] = (
            c.get("ann_index_probe.input_records", 0) / len(probe_s["ann_index"])
        )
        return m

    def _queries(self, ctx: RunContext, m: Measurement) -> None:
        t_pass = time.perf_counter()
        for q, fn in self.queries:
            with ctx.tracer.span(f"op.query.{q}"):
                ok, _ = ctx.ops.run(q, self._run_query, ctx, q, fn)
            if ok and q in self.bad:
                ctx.ops.check(q, False, self.bad[q])
        m.extra("dedup_queries_s", time.perf_counter() - t_pass)

    def _run_query(self, ctx: RunContext, q: str, fn) -> None:
        t0 = time.perf_counter()
        with ctx.layer("queries.build", stages="queries_build"):
            df = fn(ctx.spark, self.data_dir)
        build_s = time.perf_counter() - t0
        if ctx.traced:
            with ctx.tracer.span(BOOKKEEPING):
                self._catalyst(ctx, df)
        t0 = time.perf_counter()
        with ctx.layer("exec.noop_write", stages="queries_exec"):
            df.write.mode("overwrite").format("noop").save()
        exec_s = time.perf_counter() - t0
        c = ctx.counters
        c[f"queries.build_s.{q}"] += build_s
        c["queries.build_s"] += build_s
        c[f"exec.wall_s.{q}"] += exec_s

    @staticmethod
    def _catalyst(ctx: RunContext, df) -> None:
        """Catalyst phase times of the query's own QueryExecution (planning
        is forced here; the noop write then plans its own copy)."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        for name in CATALYST_PHASES:
            opt = phases.get(name)
            if opt.isDefined():
                ctx.counters[f"catalyst.{name}_ms"] += opt.get().durationMs()

    def _stream(self, ctx: RunContext) -> None:
        """The stream's bootstrap and incremental trigger, then the check
        of its removal verdicts against the family's oracle."""
        from cassandra_analytics_spark.queries.llm import EXTENDED_SPLITS

        c = ctx.counters
        build, probe, cleanup = EXTENDED_SPLITS[STREAM_FAMILY](ctx.spark, self.data_dir)
        try:
            t0 = time.perf_counter()
            with ctx.tracer.span("op.stream_bootstrap"), \
                    ctx.layer("semantic_stream.bootstrap", stages="stream_bootstrap"):
                ok_b, _ = ctx.ops.run("stream_bootstrap", build)
            t1 = time.perf_counter()
            with ctx.tracer.span("op.stream_trigger"), \
                    ctx.layer("semantic_stream.trigger", stages="stream_trigger"):
                ok_t, rows = ctx.ops.run("stream_trigger", lambda: probe().collect())
            t2 = time.perf_counter()
        finally:
            cleanup()
        c["semantic_stream.bootstrap_s"] += t1 - t0
        c["semantic_stream.trigger_s"] += t2 - t1
        self.stream_s = t2 - t0
        if ok_b and ok_t:
            ctx.ops.check("stream_trigger", rows_match_oracle(rows, STREAM_FAMILY, self.data_dir),
                          "removal verdicts differ from the oracle")

    def _build(self, ctx: RunContext, m: Measurement, corpus, ivf_path: str, pq_path: str):
        """Both layout builds; returns the PQ codebook."""
        from cassandra_analytics_spark.operators.ann_index import build_ivf_index
        from cassandra_analytics_spark.operators.pq import save_pq_index

        c = ctx.counters
        t0 = time.perf_counter()
        with ctx.tracer.span("op.ivf_build"), ctx.layer("ann_index.build", stages="ann_build"):
            ctx.ops.run("ivf_build", build_ivf_index, corpus, ivf_path,
                        num_centroids=IVF_CELLS, quantize=True)
        t1 = time.perf_counter()
        with ctx.tracer.span("op.pq_build"), ctx.layer("pq.build", stages="pq_build"):
            _, codebook = ctx.ops.run("pq_build", save_pq_index, corpus, pq_path, **PQ_PARAMS)
        t2 = time.perf_counter()
        c["ann_index.build_s"] += t1 - t0
        c["pq.build_s"] += t2 - t1
        m.extra("vector_build_s", t2 - t0)
        m.rates.append(self.scale.embeddings / (t2 - t0))
        return codebook

    def _probe(self, ctx: RunContext, layer: str, qvec, ivf_path, pq_path, codebook):
        from cassandra_analytics_spark.operators.ann_index import query_ivf_index_quantized
        from cassandra_analytics_spark.operators.pq import query_pq_index

        with ctx.layer(f"{layer}.probe", stages=f"{layer}_probe"):
            if layer == "ann_index":
                df = query_ivf_index_quantized(ctx.spark, ivf_path, qvec, k=K, num_probes=IVF_PROBED_CELLS)
            else:
                df = query_pq_index(ctx.spark, pq_path, qvec, k=K, codebook=codebook)
            return df.collect()

    def _check(self, ctx: RunContext, results: dict) -> None:
        """Untimed output check: each layout's mean recall@10 against the
        exact top-10 (a layout below its floor fails every probe of that
        layout)."""
        self.recall = {}
        for layer, got in results.items():
            scored = [len({r["vec_id"] for r in rows} & self.exact[i]) / K
                      for i, rows in got if rows is not None]
            self.recall[layer] = float(np.mean(scored)) if scored else 0.0
            if self.recall[layer] < RECALL_FLOOR[layer]:
                for _ in scored:
                    ctx.ops.check(f"{layer}.probe", False,
                                  f"recall@{K} {self.recall[layer]:.3f} < {RECALL_FLOOR[layer]}")

    def layer_probes(self, ctx: RunContext) -> None:
        ctx.counters["queries.jobs_in_build"] = ctx.counters.get("queries_build.jobs", 0)
        self._stream(ctx)

    def detail(self) -> dict:
        out = {f"{layer}.recall_at_{K}": (r, "fraction") for layer, r in self.recall.items()}
        out["vectors"] = (self.scale.embeddings, "rows")
        if self.stream_s is not None:
            out["semdedup_stream_s"] = (self.stream_s, "s")
        out["queries"] = ([q for q, _ in self.queries], "names")
        if self.bad:
            out["oracle_mismatches"] = (sorted(self.bad), "queries")
        return out
