"""Flagship pipeline vs the single-process pandas oracle: token-array
equality + numpy.allclose per feature at each entity×query_ts — the
BASELINE.json correctness gate."""

import datetime as dt

import numpy as np
import pandas as pd

from esa_pfa_spark import synth
from esa_pfa_spark.oracle.pandas_oracle import oracle_feature_table
from esa_pfa_spark.plans.pipeline import FEATURE_PAYLOAD, feature_table_sorted

TOL = dt.timedelta(days=7)
FLOAT_COLS = [
    "mean", "stdev", "cvar", "min", "max", "p10", "p50", "p90", "skewness",
    "lag_1_mean", "lead_1_mean",
]
INT_COLS = ["n_tok", "count", "session_id", "session_len"]


def assert_matches_oracle(got: pd.DataFrame, want: pd.DataFrame) -> None:
    """Row-for-row parity of a feature table with ``oracle_feature_table``:
    keys, matched_ts, token arrays, numpy.allclose on every feature."""
    assert len(got) == len(want)
    got = got.sort_values(["entity_id", "query_ts"], kind="mergesort").reset_index(drop=True)
    want = want.reset_index(drop=True)

    assert (got["entity_id"] == want["entity_id"]).all()
    assert got["query_ts"].equals(want["query_ts"])
    # matched_ts equality (both NaT or both equal)
    assert got["matched_ts"].isna().equals(want["matched_ts"].isna())
    m = ~got["matched_ts"].isna()
    assert (got.loc[m, "matched_ts"].to_numpy() == want.loc[m, "matched_ts"].to_numpy()).all()

    # token-array equality (per-row invariant from input_hint)
    for g, w in zip(got["tokens"], want["tokens"]):
        if w is None or (isinstance(w, float) and pd.isna(w)):
            assert g is None
        else:
            assert np.array_equal(np.asarray(g), np.asarray(w))

    # numpy.allclose on every derived feature
    for c in FLOAT_COLS:
        gv = got[c].to_numpy(dtype=np.float64)
        wv = pd.to_numeric(want[c]).to_numpy(dtype=np.float64)
        assert np.allclose(gv, wv, rtol=1e-7, atol=1e-12, equal_nan=True), c
    for c in INT_COLS:
        gv = got[c].astype("float64").to_numpy()
        wv = pd.to_numeric(want[c]).astype("float64").to_numpy()
        assert np.allclose(gv, wv, equal_nan=True), c


def test_flagship_parity(spark):
    obs_pdf = synth.gen_observations_pdf(seed=42, n_entities=12, mean_obs=25, mean_tok=24)
    probes_pdf = synth.gen_queries_pdf(seed=42, n_entities=12, mean_obs=25)

    got = feature_table_sorted(
        synth.observations_df(spark, seed=42, n_entities=12, mean_obs=25, mean_tok=24),
        synth.queries_df(spark, seed=42, n_entities=12, mean_obs=25),
        tolerance=TOL,
    ).toPandas()
    want = oracle_feature_table(obs_pdf, probes_pdf, TOL, FEATURE_PAYLOAD)

    assert len(got) == len(want) == len(probes_pdf)
    assert_matches_oracle(got, want)
    # a meaningful fraction actually matches
    assert got["matched_ts"].notna().sum() > len(got) * 0.3


def test_flagship_no_leakage_at_scale(spark):
    obs = synth.observations_df(spark, seed=9, n_entities=15, mean_obs=20, mean_tok=8)
    probes = synth.queries_df(spark, seed=9, n_entities=15, mean_obs=20)
    out = feature_table_sorted(obs, probes, TOL).toPandas()
    m = out.dropna(subset=["matched_ts"])
    assert (m["matched_ts"] <= m["query_ts"]).all()
    assert ((m["query_ts"] - m["matched_ts"]).dt.total_seconds() <= TOL.total_seconds()).all()


def test_fused_equals_modular(spark):
    """Single-shuffle fused plan == modular feature_table, value for value."""
    from esa_pfa_spark.plans.pipeline import feature_table_fused

    obs = synth.observations_df(spark, seed=13, n_entities=10, mean_obs=20, mean_tok=12)
    probes = synth.queries_df(spark, seed=13, n_entities=10, mean_obs=20)
    a = (
        feature_table_sorted(obs, probes, TOL)
        .drop("tokens")
        .toPandas()
    )
    b = (
        feature_table_fused(obs, probes, TOL)
        .orderBy("entity_id", "query_ts")
        .drop("tokens")
        .toPandas()
    )
    a = a[sorted(a.columns)].reset_index(drop=True)
    b = b[sorted(b.columns)].reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_slim_equals_fused(spark):
    """Narrow-shuffle slim plan == fused plan, value for value INCLUDING
    the post-join token arrays (tokens never ride the slim shuffle; the
    fetch must return exactly the row the as-of picked, and
    out-of-tolerance probes must keep null tokens)."""
    from esa_pfa_spark.plans.pipeline import feature_table_fused, feature_table_slim

    obs = synth.observations_df(spark, seed=21, n_entities=12, mean_obs=22, mean_tok=10)
    probes = synth.queries_df(spark, seed=21, n_entities=12, mean_obs=22)
    short_tol = dt.timedelta(hours=18)  # force a real unmatched fraction
    a = (
        feature_table_fused(obs, probes, short_tol)
        .orderBy("entity_id", "query_ts")
        .toPandas()
    )
    b = (
        feature_table_slim(obs, probes, short_tol)
        .orderBy("entity_id", "query_ts")
        .toPandas()
    )
    assert list(a.columns) == list(b.columns)
    assert a["matched_ts"].isna().any()  # the unmatched path is exercised
    for ga, gb in zip(a["tokens"], b["tokens"]):
        if ga is None or (isinstance(ga, float) and pd.isna(ga)):
            assert gb is None or (isinstance(gb, float) and pd.isna(gb))
        else:
            assert np.array_equal(np.asarray(ga), np.asarray(gb))
    cols = [c for c in a.columns if c != "tokens"]
    pd.testing.assert_frame_equal(
        a[cols].reset_index(drop=True),
        b[cols].reset_index(drop=True),
        check_dtype=False,
    )
