"""Hot-entity parity: one entity with more observations than Spark's
in-memory window buffer (``spark.sql.windowExec.buffer.in.memory.threshold``
= 4096), so the forward ``lead IGNORE NULLS`` fills of the fused, slim and
incremental plans read the entity from Spark's spillable row buffer.

The fixture packs the edge cases of the forward fills into that entity:
duplicate observation timestamps (tied rows carry identical tokens, so the
output does not depend on how the sort orders a tie), probes landing
exactly on an observation's ts, and a session break on the entity's last
observation.  A single-observation entity and a probe-only entity ride
along.  The fused and slim plans are compared row for row with the pandas
oracle; the incremental run is compared with the full recompute at the
same horizon."""

from __future__ import annotations

import datetime as dt
import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from esa_pfa_spark.oracle.pandas_oracle import oracle_feature_table
from esa_pfa_spark.plans.incremental import (
    feature_table_incremental,
    flagship_entity_state,
)
from esa_pfa_spark.plans.pipeline import (
    FEATURE_PAYLOAD,
    feature_table_fused,
    feature_table_slim,
)
from tests.test_incremental import _canon
from tests.test_pipeline import assert_matches_oracle

TOL = dt.timedelta(days=7)
BASE = dt.datetime(2024, 1, 1)
N_HOT = 5000
OBS_SCHEMA = (
    "entity_id string, bucket_x int, bucket_y int, ts timestamp, "
    "doc_id string, tokens array<int>, n_tok int, source string"
)


def _hot_fixture():
    rng = random.Random(4096)
    obs, probes = [], set()

    def add(ent, ts, toks):
        obs.append((ent, 0, 0, ts, f"{ent}-{len(obs)}", toks, len(toks), "synth"))

    ts = BASE
    hot_ts = []
    for i in range(N_HOT):
        if i == N_HOT - 1:
            ts += dt.timedelta(days=10)  # session break on the LAST observation
        elif i and i % 1000 == 0:
            ts += dt.timedelta(days=8)  # interior session breaks
        else:
            ts += dt.timedelta(hours=1)
        toks = [rng.randrange(50) for _ in range(rng.randrange(1, 6))]
        add("hot", ts, toks)
        hot_ts.append(ts)
        if i % 97 == 0:
            add("hot", ts, list(toks))  # duplicate timestamp, identical row
    assert len(obs) > 4096
    for ts in rng.sample(hot_ts, 150):
        probes.add(("hot", ts))  # ties an observation's ts exactly
    for _ in range(150):
        probes.add(("hot", BASE + dt.timedelta(minutes=rng.randrange(0, 400_000))))
    probes.add(("hot", hot_ts[-1]))  # matches the break-on-last observation
    probes.add(("hot", hot_ts[-2] + dt.timedelta(days=1)))  # session before it
    probes.add(("hot", hot_ts[-1] + TOL + dt.timedelta(seconds=1)))  # out of tol

    single_ts = BASE + dt.timedelta(days=30)
    add("single", single_ts, [3, 1, 4])
    probes.add(("single", single_ts))
    probes.add(("single", single_ts + dt.timedelta(days=2)))
    probes.add(("single", single_ts - dt.timedelta(days=1)))  # before any obs

    probes.add(("probe_only", BASE + dt.timedelta(days=3)))
    probes.add(("probe_only", BASE + dt.timedelta(days=200)))

    obs_pdf = pd.DataFrame(
        obs,
        columns=["entity_id", "bucket_x", "bucket_y", "ts", "doc_id", "tokens",
                 "n_tok", "source"],
    )
    probes = sorted(probes)
    return obs, obs_pdf, probes, pd.DataFrame(probes, columns=["entity_id", "query_ts"])


@pytest.fixture(scope="module")
def hot(spark):
    obs_rows, obs_pdf, probe_rows, probes_pdf = _hot_fixture()
    obs = spark.createDataFrame(obs_rows, OBS_SCHEMA)
    probes = spark.createDataFrame(probe_rows, "entity_id string, query_ts timestamp")
    want = oracle_feature_table(obs_pdf, probes_pdf, TOL, FEATURE_PAYLOAD)
    return obs, probes, want


def test_fixture_exercises_every_edge(hot):
    _, _, want = hot
    by = want.set_index(["entity_id", "query_ts"])
    hot_rows = want[want["entity_id"] == "hot"]
    last = hot_rows.dropna(subset=["matched_ts"]).iloc[-1]
    # the final observation opens its own one-row session and has no lead
    assert last["session_len"] == 1 and pd.isna(last["lead_1_mean"])
    assert hot_rows["session_id"].max() == 5
    assert (hot_rows["matched_ts"] == hot_rows["query_ts"]).sum() >= 150
    assert by.loc[("single", BASE + dt.timedelta(days=30)), "session_len"] == 1
    assert want[want["entity_id"] == "probe_only"]["matched_ts"].isna().all()


def test_fused_hot_entity_matches_oracle(hot):
    obs, probes, want = hot
    assert_matches_oracle(feature_table_fused(obs, probes, TOL).toPandas(), want)


def test_slim_hot_entity_matches_oracle(hot):
    obs, probes, want = hot
    assert_matches_oracle(feature_table_slim(obs, probes, TOL).toPandas(), want)


def test_incremental_hot_entity_equals_full(hot):
    obs, probes, _ = hot
    # the cut leaves > 4096 hot observations in the delta
    cut = BASE + dt.timedelta(hours=300, minutes=30)
    state = flagship_entity_state(obs, cut)
    delta = obs.filter(F.col("ts") >= F.lit(cut))
    assert delta.filter(F.col("entity_id") == "hot").count() > 4096
    horizon = F.col("query_ts") >= F.lit(cut + TOL)
    incr = feature_table_incremental(delta, probes.filter(horizon), state, tolerance=TOL)
    full = feature_table_fused(obs, probes, TOL).filter(horizon)
    got, want = _canon(incr), _canon(full)
    assert len(want) > 250
    assert got == want
