"""The bench weather guard must key on the REAL scale factor.

Round-8 review: the old parse (``re.search(r"sf([0-9.]+)")`` over the
full path) crashed on dotted scaled-dir names (``sf0.1.scale10`` →
``float("0.1.")``) and mis-adopted sf=0.1 for ``sf0.1_scale10`` — firing
the min-of-5 escalation against the sf0.1 record on a legitimately
slower 10x run. The parse now requires the basename to be exactly
``sf<float>``.
"""

from __future__ import annotations


def test_parse_sf_plain_dirs():
    from bench import _parse_sf

    assert _parse_sf("/root/testdata/sf0.1") == 0.1
    assert _parse_sf("/root/testdata/sf0.01/") == 0.01
    assert _parse_sf("sf1") == 1.0
    assert _parse_sf("/a/b/sf10") == 10.0


def test_parse_sf_scaled_dirs_do_not_adopt_an_sf():
    from bench import _parse_sf

    # dotted name: must not crash float()
    assert _parse_sf("/root/testdata/sf0.1.scale10") == -1.0
    # embedded sf substring: must not match the sf0.1 record
    assert _parse_sf("/root/testdata/sf0.1_scale10") == -1.0
    assert _parse_sf("/root/repo/.scale10") == -1.0
    assert _parse_sf("/root/repo/.scale100") == -1.0
    assert _parse_sf("/tmp/mydata") == -1.0


def test_prior_recorded_total_is_sf_scoped():
    """A -1.0 (non-sf dir) lookup finds no prior record, so the guard
    cannot escalate on scaled-corpus runs. Round 13: the lookup also
    returns the prior round's BYTE record (None until a bytes-carrying
    BENCH lands) so the guard can classify plan-vs-weather."""
    from bench import _prior_recorded

    total, b = _prior_recorded(-1.0)
    assert total is None and b is None
    # the repo carries sf0.1 records from prior rounds
    prior, prior_bytes = _prior_recorded(0.1)
    assert prior is None or prior > 0
    assert prior_bytes is None or isinstance(prior_bytes, dict)


def test_classify_bytes_plan_vs_weather():
    """The byte adjudicator: shuffle-write within 2% of the prior
    record = weather; bigger = plan; missing either side = None (never
    a guessed verdict)."""
    from bench import _classify_bytes

    prior = {"shuffle_write_bytes": 1_000_000}
    assert _classify_bytes({"shuffle_write_bytes": 1_010_000}, prior) == "weather"
    assert _classify_bytes({"shuffle_write_bytes": 1_050_000}, prior) == "plan"
    assert _classify_bytes({"shuffle_write_bytes": 900_000}, prior) == "plan"
    assert _classify_bytes(None, prior) is None
    assert _classify_bytes({"shuffle_write_bytes": 1}, None) is None
    # zero prior: adjudicable only when still zero (a shuffle-free
    # plan staying shuffle-free); a nonzero current has no ratio
    assert _classify_bytes({"shuffle_write_bytes": 1},
                           {"shuffle_write_bytes": 0}) is None
    assert _classify_bytes({"shuffle_write_bytes": 0},
                           {"shuffle_write_bytes": 0}) == "weather"


def test_extended_families_registered_and_disjoint():
    """The EXTENDED bench set (round 14): one query per so-far-unbenched
    operator family — ANN-IVF-SQ8, PQ, n-gram dedup, streaming — all
    registered, none double-counted into the guarded headline total
    (adding them to `value` would break comparability with BASELINE.md
    and every prior BENCH record)."""
    from bench import EXTENDED, HEADLINE
    from cassandra_analytics_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    assert set(EXTENDED) == {
        "ann_ivf_quantized_topk", "ann_pq_topk", "dedup_ngram_jaccard",
        "streaming_semantic_dedup",
    }
    assert not set(EXTENDED) & set(HEADLINE)
    for name in EXTENDED:
        assert name in REGISTRY, name


def test_measure_extended_runs_and_fingerprints(spark, sf_dir):
    """measure_extended executes every extended family end-to-end and
    returns a wall row per query (byte keys ride along whenever the UI
    REST endpoint is up — bench.py always enables it; the shared test
    session keeps it off, so byte presence is asserted conditionally)."""
    from bench import EXTENDED, measure_extended
    from cassandra_analytics_spark.stage_metrics import stage_totals

    from cassandra_analytics_spark.queries.llm import EXTENDED_SPLITS

    detail = measure_extended(spark, sf_dir)
    assert set(detail) == set(EXTENDED)
    for name, row in detail.items():
        assert "error" not in row, (name, row)
        assert row["sec"] >= 0
        # byte fields must NEVER go negative (the BENCH_r14 cumulative
        # -diff artifact; the per-stage delta makes this structural)
        for k, v in row.items():
            assert isinstance(v, (int, float)) and v >= 0, (name, k, v)
        if name in EXTENDED_SPLITS:
            # build/query wall split: one-time layout build vs the
            # probe the family exists to keep fast (VERDICT r14)
            assert "build_sec" in row and "query_sec" in row, (name, row)
            assert row["sec"] >= row["query_sec"] >= 0
        if stage_totals(spark) is not None:  # UI on -> fingerprints too
            assert "shuffle_write_bytes" in row, (name, row)


def test_extended_splits_back_the_registered_queries():
    """Every EXTENDED_SPLITS name is a registered query, and the split
    names stay inside the bench EXTENDED set — a split for a query the
    bench never measures is dead code, a bench split the registry does
    not gate is unverified."""
    from bench import EXTENDED
    from cassandra_analytics_spark.queries import REGISTRY, _ensure_loaded
    from cassandra_analytics_spark.queries.llm import EXTENDED_SPLITS

    _ensure_loaded()
    assert set(EXTENDED_SPLITS) <= set(EXTENDED)
    for name in EXTENDED_SPLITS:
        assert name in REGISTRY


def test_prior_extended_and_classify_extended():
    """The extended guard reads the newest prior extended_query_detail
    from the BENCH tails at the same SF and adjudicates per family."""
    from bench import _classify_extended, _prior_extended

    # the repo carries r14's extended record at sf0.1
    prior = _prior_extended(0.1)
    assert prior is None or (
        isinstance(prior, dict) and "ann_pq_topk" in prior
    )
    assert _prior_extended(-1.0) is None

    now = {"a": {"shuffle_write_bytes": 101}, "b": {"shuffle_write_bytes": 200}}
    old = {"a": {"shuffle_write_bytes": 100}, "b": {"shuffle_write_bytes": 100}}
    got = _classify_extended(now, old)
    assert got == {"a": "weather", "b": "plan"}
    # missing either side: None per query / None overall, never guessed
    assert _classify_extended(now, None) is None
    assert _classify_extended({"a": {"shuffle_write_bytes": 1}}, {"x": {}})[
        "a"
    ] is None


def test_final_record_echoes_run_conditions(spark):
    """The final line keeps its keys and adds the run conditions: the N
    of ``local[N]`` as ``cpus``, Spark's ``defaultParallelism`` and the
    Python worker daemon module as ``python_daemon``."""
    from bench import _final_record

    rec = _final_record(spark, {"q1": 1.25, "q2": 0.5}, 3, 0.1, 0)
    assert {"metric", "value", "unit", "queries", "runs", "sf"} <= rec.keys()
    assert rec["value"] == 1.75 and rec["runs"] == 3 and "bytes" not in rec
    master = spark.sparkContext.master
    assert rec["cpus"] == int(master[master.index("[") + 1:-1])
    assert rec["defaultParallelism"] == spark.sparkContext.defaultParallelism
    assert rec["python_daemon"] == "cassandra_analytics_spark.pyworker_daemon"
