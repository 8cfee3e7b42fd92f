"""Tests for the benchmark's own helpers.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
import pytest

from perfbench import checks, measure


# -- percentiles -----------------------------------------------------------

def test_percentile_matches_numpy_linear():
    rng = random.Random(3)
    for n in (1, 2, 7, 100, 1001):
        xs = [rng.random() for _ in range(n)]
        for q in (0, 10, 50, 90, 99, 100):
            assert measure.percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)))


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        measure.percentile([], 50)
    with pytest.raises(ValueError):
        measure.percentile([1.0], 101)


def test_p90_needs_ten_samples_beyond():
    value, beyond, ok = measure.tail_percentile(list(range(1, 101)), 90)
    assert value == pytest.approx(90.1)
    assert beyond == 10 and ok
    _, beyond, ok = measure.tail_percentile(list(range(1, 51)), 90)
    assert beyond == 5 and not ok


def test_samples_beyond_counts_ties_as_not_beyond():
    assert measure.samples_beyond([5.0] * 200, 90) == 0
    assert measure.samples_beyond([1.0] * 95 + [9.0] * 5, 90) == 5


# -- failure accounting ----------------------------------------------------

def test_tally_counts_raises_and_wrong_results_once_per_op():
    t = measure.Tally()
    a = t.new_op("lookup")
    with t.guard(a):
        raise RuntimeError("engine error")
    b = t.new_op("lookup")
    with t.guard(b):
        pass
    t.check(b, False, "wrong rows")
    t.check(b, False, "wrong values too")
    c = t.new_op("build")
    assert t.check(c, True, "unused")
    assert t.attempted == 3
    assert t.failed == 2
    assert t.failed_frac() == pytest.approx(2 / 3)
    assert "engine error" in t.failures[a]
    assert t.failures[b] == "wrong rows"


def test_tally_guard_does_not_swallow_interrupts():
    t = measure.Tally()
    op = t.new_op("build")
    with pytest.raises(KeyboardInterrupt):
        with t.guard(op):
            raise KeyboardInterrupt
    assert t.failed == 0


# -- tracing ---------------------------------------------------------------

def test_tracer_self_time_subtracts_children():
    tr = measure.Tracer(True)
    tr.op_id = "op-1"
    with tr.span("refresh"):
        with tr.span("sources.write_versioned"):
            pass
        with tr.span("plans.roll_state"):
            pass
    spans = {s["name"]: s for s in tr.spans}
    assert spans["plans.roll_state"]["parent"] == spans["refresh"]["id"]
    assert all(s["op"] == "op-1" for s in tr.spans)
    own = tr.self_times()["refresh"][0]
    total = spans["refresh"]["end"] - spans["refresh"]["start"]
    kids = sum(spans[n]["end"] - spans[n]["start"] for n in ("sources.write_versioned", "plans.roll_state"))
    assert own == pytest.approx(total - kids)


def test_disabled_tracer_records_nothing():
    tr = measure.Tracer(False)
    with tr.span("lookup"):
        pass
    assert tr.spans == []


# -- lookup checks -----------------------------------------------------------

def _table():
    ts = pd.to_datetime(["2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04", "2024-01-05"])
    return checks.prepare_table(pd.DataFrame({
        "entity_id": ["a", "a", "b", "b", "c"],
        "query_ts": ts,
        "mean": [1.0, 3.0, 2.0, None, 5.0],
        "skewness": [0.5, -0.1, 0.2, None, -2.0],
    }))


def _lk(kind, k):
    lo = int(pd.Timestamp("2024-01-01").value // 1000)
    hi = int(pd.Timestamp("2024-01-06").value // 1000)
    return checks.Lookup(kind, lo, hi, k, mean_min=1.5)


def test_check_lookup_accepts_right_and_rejects_wrong_answers():
    t = _table()
    right = t.iloc[[4, 1]][["entity_id", "query_ts", "mean"]]
    assert checks.check_lookup(_lk("query", 2), right, t) is None
    wrong = t.iloc[[4, 2]][["entity_id", "query_ts", "mean"]]
    assert checks.check_lookup(_lk("query", 2), wrong, t) is not None

    top = t.iloc[[1, 2, 4]][["entity_id", "query_ts", "mean"]].assign(rank=[1, 1, 1])
    assert checks.check_lookup(_lk("top_k_per_group", 1), top, t) is None
    assert checks.check_lookup(_lk("top_k_per_group", 1), top.iloc[:2], t) is not None

    amb = t.iloc[[1, 2]][["entity_id", "query_ts", "skewness"]]
    assert checks.check_lookup(_lk("most_ambiguous", 2), amb, t) is None
    assert checks.check_lookup(_lk("most_ambiguous", 2), t.iloc[[1, 4]][["entity_id", "query_ts", "skewness"]], t) is not None

    assert checks.check_lookup(_lk("sample", 3), t.iloc[[0, 2, 4]], t) is None
    assert checks.check_lookup(_lk("sample", 3), t.iloc[[0, 2]], t) is not None


# -- Spark status-store reader ----------------------------------------------

@pytest.fixture(scope="module")
def spark():
    pyspark = pytest.importorskip("pyspark")
    s = (pyspark.sql.SparkSession.builder.master("local[2]").appName("perfbench-tests")
         .config("spark.ui.enabled", "false").config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.shuffle.partitions", "4").getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_op_counters_reads_stages_of_one_job_group(spark):
    sc = spark.sparkContext
    sc.setJobGroup("perfbench-test-a", "shuffle")
    spark.range(0, 20000, 1, 4).selectExpr("id % 13 AS k").groupBy("k").count().collect()
    sc.setJobGroup("perfbench-test-b", "other")
    spark.range(10).collect()

    sids = measure.stages_of_group(sc, "perfbench-test-a")
    stages = measure.read_stages(sc, sids)
    assert set(stages) == set(sids)
    c = measure.op_counters(sc, "perfbench-test-a")
    assert c["jobs"] >= 1
    assert c["tasks"] >= 4
    assert c["tasks_failed"] == 0
    assert c["shuffle_write_bytes"] > 0
    assert c["task_skew"] >= 1.0
    other = measure.op_counters(sc, "perfbench-test-b")
    assert other["shuffle_write_bytes"] == 0


def test_op_counters_sees_a_straggler_task(spark):
    import time

    def slow_first(i, it):
        time.sleep(2.0 if i == 0 else 0.0)
        return it

    sc = spark.sparkContext
    sc.parallelize(range(8), 8).count()  # start the Python workers first
    sc.setJobGroup("perfbench-test-skew", "skew")
    sc.parallelize(range(80), 8).mapPartitionsWithIndex(slow_first).count()
    c = measure.op_counters(sc, "perfbench-test-skew")
    assert c["task_skew"] > 4
