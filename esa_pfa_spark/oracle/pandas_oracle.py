"""Pandas/numpy oracle for the flagship pipeline — the generalization of the
reference's own numpy-parity fixture (ReadNumpyOutputTest.java:27-44):
an independent single-process implementation of the same semantics, used by
pytest to assert token-array equality + numpy.allclose on every feature.

Deliberately written in plain pandas idioms (sort/merge_asof-free explicit
loops where clarity beats speed) so a bug in the Spark path and a bug here
are unlikely to coincide.
"""

from __future__ import annotations

import datetime as _dt

import numpy as np
import pandas as pd

from esa_pfa_spark.operators.features import stats_kernel

SESSION_GAP = _dt.timedelta(days=7)


def oracle_enrich(obs: pd.DataFrame) -> pd.DataFrame:
    """Per-row STX stats + lag/lead mean + sessionization, per entity."""
    obs = obs.sort_values(["entity_id", "ts"], kind="mergesort").reset_index(drop=True)
    stats = pd.DataFrame(
        [stats_kernel(np.asarray(t, dtype=np.float64)) for t in obs["tokens"]],
        columns=["mean", "stdev", "cvar", "min", "max", "p10", "p50", "p90", "skewness", "count"],
    )
    out = pd.concat([obs.reset_index(drop=True), stats], axis=1)
    out["lag_1_mean"] = out.groupby("entity_id")["mean"].shift(1)
    out["lead_1_mean"] = out.groupby("entity_id")["mean"].shift(-1)
    gap_s = SESSION_GAP.total_seconds()
    deltas = out.groupby("entity_id")["ts"].diff().dt.total_seconds()
    breaks = ((deltas > gap_s)).astype("int64")
    out["session_id"] = breaks.groupby(out["entity_id"]).cumsum()
    out["session_len"] = out.groupby(["entity_id", "session_id"])["ts"].transform("size").astype("int32")
    return out


def oracle_asof_backward(
    probes: pd.DataFrame,
    enriched: pd.DataFrame,
    tolerance: _dt.timedelta,
    payload: list[str],
) -> pd.DataFrame:
    """Backward as-of with tolerance, explicit per-probe scan (O(n*m) per
    entity — oracle clarity over speed)."""
    tol_s = tolerance.total_seconds()
    # stable sort: among tied observation timestamps the LAST row in the
    # enriched (timeline) order is the match, as in the union+window plan
    by_entity = {
        k: g.sort_values("ts", kind="mergesort").reset_index(drop=True)
        for k, g in enriched.groupby("entity_id")
    }
    rows = []
    for _, pr in probes.iterrows():
        ent, qts = pr["entity_id"], pr["query_ts"]
        g = by_entity.get(ent)
        match = None
        if g is not None:
            elig = g[g["ts"] <= qts]
            if len(elig):
                cand = elig.iloc[-1]
                if (qts - cand["ts"]).total_seconds() <= tol_s:
                    match = cand
        row = {"entity_id": ent, "query_ts": qts}
        row["matched_ts"] = match["ts"] if match is not None else pd.NaT
        for c in payload:
            row[c] = match[c] if match is not None else None
        rows.append(row)
    return pd.DataFrame(rows)


def oracle_feature_table(
    obs: pd.DataFrame, probes: pd.DataFrame, tolerance: _dt.timedelta, payload: list[str]
) -> pd.DataFrame:
    enriched = oracle_enrich(obs)
    out = oracle_asof_backward(probes, enriched, tolerance, payload)
    return out.sort_values(["entity_id", "query_ts"], kind="mergesort").reset_index(drop=True)
