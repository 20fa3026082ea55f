"""Tests of the benchmark's own code.

    python -m pytest perfbench/test_perfbench.py -q

The last two tests start Spark and run two traced ops of each workload
on sf0.001 tables generated into a temporary directory.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import oracle  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


# -- tail percentile ------------------------------------------------------
def test_tail_has_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    assert stats.tail(xs) == (90.0, 90.0, 10)
    value, pct, beyond = stats.tail(list(reversed(xs[:24])))
    assert (value, beyond) == (14.0, 10)
    assert pct == pytest.approx(100 * 14 / 24)


def test_tail_is_max_when_no_rank_above_median_has_ten_beyond():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)
    assert stats.tail([float(i) for i in range(21)]) == (20.0, 100.0, 0)
    assert stats.tail([float(i) for i in range(22)])[2] == 10


# -- seed to inputs -------------------------------------------------------
def test_producer_id_inverts_producer_count():
    for c in range(workloads.MIN_COUNT, workloads.MAX_COUNT + 1):
        assert workloads.producer_count(workloads.producer_id_for(c)) == c


def test_seed_picks_one_count_per_band_the_same_every_time():
    for seed in range(50):
        counts = workloads.event_counts(seed)
        assert counts == workloads.event_counts(seed)
        assert len(counts) == workloads.EVENT_STRATA
        assert counts == sorted(counts)
        assert workloads.MIN_COUNT <= counts[0]
        assert counts[-1] <= workloads.MAX_COUNT
    assert len({tuple(workloads.event_counts(s)) for s in range(50)}) > 40


def test_event_passes_repeat_counts_under_distinct_producer_ids():
    (warm,), passes = workloads.event_passes(7, 3)
    assert workloads.event_passes(7, 3) == ([warm], passes)
    ids = [e.producer_id for e in warm] + [
        e.producer_id for p in passes for e in p]
    assert len(set(ids)) == len(ids)
    for e in warm + [e for p in passes for e in p]:
        assert workloads.producer_count(e.producer_id) == e.count
    by_stratum = [{e.stratum: e.count for e in p} for p in passes]
    assert all(b == by_stratum[0] for b in by_stratum)
    assert sorted(by_stratum[0]) == list(range(workloads.EVENT_STRATA))


def test_query_passes_permute_the_fixed_set():
    warm, passes = workloads.query_passes(3, 4)
    assert workloads.query_passes(3, 4) == (warm, passes)
    assert (len(warm), len(passes)) == (workloads.WARMUP_PASSES, 4)
    for order in [*warm, *passes]:
        assert sorted(order) == sorted(workloads.RELATIONAL_QUERIES)
    assert len({tuple(o) for o in [*warm, *passes]}) > 1


def test_relational_median_and_tail_fall_among_the_middle_queries():
    """At the benchmark's run length, the median and the tail are both
    samples of the four middle queries (third to sixth slowest), away
    from the gaps to the two slowest and the three fastest."""
    import json
    import statistics

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    passes = workloads.pass_count("relational_short", seconds)
    n_query = len(workloads.RELATIONAL_QUERIES)
    assert (passes, n_query) == (3, 9)
    # query k (0 = slowest) takes 10 - k seconds, +-0.1 s between passes
    lat = [10.0 - k + d for k in range(n_query) for d in (-0.1, 0.0, 0.1)]
    middle = [x for x in lat if 10.0 - 5 - 0.5 < x < 10.0 - 2 + 0.5]
    assert len(middle) == 12
    value, pct, beyond = stats.tail(lat)
    assert beyond == 10 and pct == pytest.approx(100 * 17 / 27)
    assert min(middle) < statistics.median(lat) < value < max(middle)


# -- tolerant comparison --------------------------------------------------
def _answer(columns, rows):
    return {"columns": sorted(columns),
            "cells": oracle.canonical_cells(columns, rows)}


def test_canonical_cells_are_canonical_rows_split():
    from tests.oracle_check import canonical_rows

    cols = ["z", "a", "m"]
    rows = [(1, "x|y", 2.5), (None, "b", -0.0), (True, "a", float("nan"))]
    assert ["|".join(c) for c in oracle.canonical_cells(cols, rows)] == (
        canonical_rows(cols, rows))


def test_match_tolerates_last_digit_float_differences_only():
    want = _answer(["b", "a"], [(1.0, 2_800_000_000.125), (3.0, 1.5)])
    assert oracle.match(want, ["a", "b"],
                        [(1.5, 3.0), (2_800_000_000.1252, 1.0)]) is None
    assert oracle.match(want, ["a", "b"],
                        [(1.5, 3.0), (2_800_000_100.0, 1.0)]) is not None
    assert oracle.match(want, ["a", "b"], [(1.5, 3.0)]) is not None
    assert oracle.match(want, ["a", "c"],
                        [(1.5, 3.0), (2_800_000_000.125, 1.0)]) is not None


def test_match_keeps_types_strict():
    want = _answer(["n"], [(1,), (None,)])
    assert oracle.match(want, ["n"], [(None,), (1,)]) is None
    assert oracle.match(want, ["n"], [(1.0,), (None,)]) is not None


def test_match_survives_rows_reordered_by_a_float_digit():
    want = _answer(["a", "b"], [(1.9999999999999998, 1), (2.0, 2)])
    got = [(2.0000000000000004, 1), (1.9999999999999996, 2)]
    assert oracle.canonical_cells(["a", "b"], got)[0][1] == "i:2"
    assert oracle.match(want, ["a", "b"], got) is None


def test_flagship_oracle_agrees_with_duckdb_float_answer():
    import duckdb

    sums = oracle.flagship_day_sums(days=3)
    exact = oracle.FlagshipOracle(sums)
    for days in (1, 3):
        n = days * oracle.DAY
        (duck,), = duckdb.sql(f"""
            SELECT stddev_samp(m) FROM (
              SELECT avg(((i * {oracle.MULT_Y} + {oracle.INC_Y})
                          % {oracle.M32}) / {oracle.M32}.0 * 2 - 1) AS m
              FROM range(0, {n}) t(i) GROUP BY i % {oracle.NAMES})
        """).fetchall()
        assert exact.std(days) == pytest.approx(duck, rel=1e-12)


# -- two traced ops per workload ------------------------------------------
@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = tmp_path_factory.mktemp("spark")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", str(work / "local"))
    from dask_lambda_example_spark.session import get_spark

    return get_spark("perfbench-tests")


def _check_layers(run, children: set[str]):
    """Each op's child spans lie inside it and their sums fit its wall."""
    spans = run.tracer.spans
    assert len(run.samples) == 2
    for sample in run.samples:
        assert sample["ok"], sample
        layers = sample["layers"]
        wall = layers["op.wall_s"]
        assert wall <= sample["latency_s"]
        assert sum(layers[f"span.{c}_s"] for c in children) <= wall
        assert layers.get("span.load_table_s", 0.0) <= layers.get(
            "span.build_s", wall)
        assert sum(layers.get(f"catalyst.{p}_s", 0.0) for p in (
            "analysis", "optimization", "planning")) <= wall
        assert layers["sched.nonexec_s"] <= wall
        assert layers["sched.jobs"] >= 1
    for root in (s for s in spans if s["name"] == "op"):
        kids = [s for s in spans if s["op"] == root["id"] and s is not root]
        assert {s["name"] for s in kids} >= children
        for s in kids:
            assert root["start"] <= s["start"] <= s["end"] <= root["end"]


def test_two_traced_query_ops_fit_their_walls(spark, tmp_path):
    import datagen
    import worker
    from tracing import Tracer

    from dask_lambda_example_spark.registry import QUERIES, _ensure_loaded

    _ensure_loaded()
    sf_dir = str(tmp_path / "sf")
    datagen.write_tables(sf_dir, 0.001)
    names = ("q1_pricing_summary", "q3_shipping_priority")
    answers = oracle.duckdb_answers(
        sf_dir, {n: QUERIES[n].oracle for n in names})
    tracer = Tracer(spark, 0.0)
    tracer.install()
    try:
        run = worker.QueryRun(spark, tracer, answers, sf_dir)
        for n in names:
            run.op(n, traced=True, timed=True)
    finally:
        tracer.uninstall()
    _check_layers(run, {"build", "action"})
    assert all(s["layers"]["io.load_table_calls"] >= 1 for s in run.samples)


def test_two_traced_events_fit_their_walls(spark, tmp_path):
    import worker
    from tracing import Tracer

    from dask_lambda_example_spark.sources.producer import producer_payloads

    ids = [workloads.producer_id_for(c) for c in (10, 12)]
    payloads = producer_payloads(spark, max(ids) + 1).collect()
    assert [payloads[i]["count"] for i in ids] == [10, 12]

    flagship = oracle.FlagshipOracle(oracle.flagship_day_sums(days=12))
    tracer = Tracer(spark, 0.0)
    run = worker.EventRun(spark, tracer, str(tmp_path), flagship)
    for k, i in enumerate(ids):
        run.op(workloads.Event(i, workloads.producer_count(i), k),
               traced=True, timed=True)
    _check_layers(run, {"write", "trigger", "compute"})
