"""Output checks: every op's result is compared with an independent
computation, and a mismatch counts the op as failed.

* feature builds (CLI backfill, incremental refresh): on a seeded sample
  of entities, row-for-row against ``esa_pfa_spark.oracle.pandas_oracle``
  (token-array equality, ``numpy.allclose`` on every numeric feature),
  plus a zero-leakage scan of the whole output;
* lookups: against the same query done in pandas over a copy of the
  table read with pyarrow (a reader that is not the engine's).
"""

from __future__ import annotations

import dataclasses
import datetime as dt

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

TOLERANCE = dt.timedelta(days=7)
TOL_US = int(TOLERANCE.total_seconds() * 1e6)

FLOAT_COLS = ["mean", "stdev", "cvar", "min", "max", "p10", "p50", "p90",
              "skewness", "lag_1_mean", "lead_1_mean"]
INT_COLS = ["n_tok", "count", "session_id", "session_len"]
LOOKUP_KINDS = ("query", "top_k_per_group", "sample", "most_ambiguous")


def naive_utc(values) -> pd.Series:
    """Timestamps (tz-aware or naive UTC, any unit, NaT allowed) as naive
    UTC ``datetime64[ns]``."""
    s = pd.Series(values)
    if isinstance(s.dtype, pd.DatetimeTZDtype):
        s = s.dt.tz_convert("UTC").dt.tz_localize(None)
    return pd.to_datetime(s).astype("datetime64[ns]")


def to_us(values) -> np.ndarray:
    """Timestamps as int64 microseconds since the epoch (NaT becomes the
    int64 minimum, so two NaTs compare equal)."""
    return naive_utc(values).to_numpy(dtype="datetime64[us]").astype(np.int64)


def leakage_violations(table: pa.Table) -> int:
    """Rows whose matched observation is after the probe, or older than
    the as-of tolerance."""
    q = table.column("query_ts").cast(pa.timestamp("us")).cast(pa.int64())
    m = table.column("matched_ts").cast(pa.timestamp("us")).cast(pa.int64())
    lag = pc.subtract(q, m)
    bad = pc.or_(pc.less(lag, 0), pc.greater(lag, TOL_US))
    return int(pc.sum(pc.fill_null(bad, False).cast(pa.int64())).as_py() or 0)


def oracle_features(obs: pd.DataFrame, probes: pd.DataFrame) -> pd.DataFrame:
    from esa_pfa_spark.oracle.pandas_oracle import oracle_feature_table
    from esa_pfa_spark.plans.pipeline import FEATURE_PAYLOAD

    return oracle_feature_table(obs, probes, TOLERANCE, FEATURE_PAYLOAD)


def compare_features(got: pd.DataFrame, exp: pd.DataFrame) -> str | None:
    """None when ``got`` equals the oracle's ``exp`` row for row, else
    the first difference found."""
    if len(got) != len(exp):
        return f"{len(got)} rows, oracle has {len(exp)}"
    key = ["entity_id", "query_ts"]
    got = got.assign(query_ts=to_us(got["query_ts"])).sort_values(key, kind="mergesort").reset_index(drop=True)
    exp = exp.assign(query_ts=to_us(exp["query_ts"])).sort_values(key, kind="mergesort").reset_index(drop=True)
    if not (got["entity_id"].to_numpy() == exp["entity_id"].to_numpy()).all():
        return "entity ids differ"
    if not np.array_equal(got["query_ts"].to_numpy(), exp["query_ts"].to_numpy()):
        return "probe timestamps differ"
    if not np.array_equal(to_us(got["matched_ts"]), to_us(exp["matched_ts"])):
        return "matched_ts differs"
    for i, (a, b) in enumerate(zip(got["tokens"], exp["tokens"])):
        a_null = a is None or (isinstance(a, float) and np.isnan(a))
        b_null = b is None or (isinstance(b, float) and np.isnan(b))
        if a_null or b_null:
            if a_null != b_null:
                return f"tokens null mismatch at row {i}"
        elif not np.array_equal(np.asarray(a), np.asarray(b)):
            return f"token array differs at row {i}"
    for c in FLOAT_COLS:
        a = pd.to_numeric(got[c], errors="coerce").to_numpy(dtype=np.float64)
        b = pd.to_numeric(exp[c], errors="coerce").to_numpy(dtype=np.float64)
        if not np.allclose(a, b, equal_nan=True):
            return f"{c} differs"
    for c in INT_COLS:
        a = pd.to_numeric(got[c], errors="coerce").to_numpy(dtype=np.float64)
        b = pd.to_numeric(exp[c], errors="coerce").to_numpy(dtype=np.float64)
        if not np.array_equal(a, b, equal_nan=True):
            return f"{c} differs"
    return None


# ---------------------------------------------------------------------------
# lookups
# ---------------------------------------------------------------------------

@dataclasses.dataclass(frozen=True)
class Lookup:
    kind: str
    lo_us: int  # query_ts range [lo, hi)
    hi_us: int
    k: int
    mean_min: float = 0.0
    seed: int = 0

    def range_pred(self) -> str:
        return (f"query_ts >= timestamp_micros({self.lo_us}) "
                f"AND query_ts < timestamp_micros({self.hi_us})")


def make_lookups(rng: np.random.Generator, n: int, lo_us: int, hi_us: int,
                 window_us: int) -> list[Lookup]:
    """``n`` lookups cycling through the four kinds, each over a seeded
    ``window_us`` slice of [lo_us, hi_us)."""
    out = []
    span = max(hi_us - lo_us - window_us, 1)
    for i in range(n):
        start = lo_us + int(rng.integers(0, span))
        kind = LOOKUP_KINDS[i % len(LOOKUP_KINDS)]
        # per entity, a window holds one or two probes (hundreds for a
        # hot entity), so a per-group k above 3 would rank nothing away
        k = int(rng.integers(1, 4)) if kind == "top_k_per_group" else int(rng.integers(10, 50))
        out.append(Lookup(
            kind=kind,
            lo_us=start, hi_us=start + window_us,
            k=k,
            mean_min=float(rng.uniform(20000.0, 30000.0)),
            seed=int(rng.integers(0, 2**31 - 1)),
        ))
    return out


def _keys(df: pd.DataFrame) -> set:
    return set(zip(df["entity_id"], to_us(df["query_ts"])))


def _in_range(table: pd.DataFrame, lk: Lookup) -> pd.DataFrame:
    q = table["__q_us"].to_numpy()
    return table[(q >= lk.lo_us) & (q < lk.hi_us)]


def prepare_table(table: pd.DataFrame) -> pd.DataFrame:
    """A feature table copy ready for ``check_lookup`` (adds the probe
    time as int64 microseconds once, instead of per lookup)."""
    return table.assign(__q_us=to_us(table["query_ts"]))


def check_lookup(lk: Lookup, got: pd.DataFrame, table: pd.DataFrame) -> str | None:
    """None when ``got`` is a correct answer to ``lk`` over ``table``
    (a ``prepare_table`` copy of the snapshot the lookup read)."""
    f = _in_range(table, lk)
    if lk.kind == "query":
        f = f[f["mean"] > lk.mean_min]
        want = np.sort(f["mean"].to_numpy(dtype=np.float64))[::-1][: lk.k]
        have = np.sort(got["mean"].to_numpy(dtype=np.float64))[::-1]
    elif lk.kind == "top_k_per_group":
        f = f[f["mean"].notna()].assign(__m=lambda d: d["mean"].astype(np.float64))
        f = f.sort_values(["entity_id", "__m", "__q_us"], ascending=[True, False, True], kind="mergesort")
        f = f.assign(__rank=f.groupby("entity_id").cumcount() + 1)
        f = f[f["__rank"] <= lk.k]
        want_keys = set(zip(f["entity_id"], f["__q_us"], f["__rank"]))
        have_keys = set(zip(got["entity_id"], to_us(got["query_ts"]), got["rank"]))
        if len(got) != len(f) or want_keys != have_keys:
            return "top_k_per_group rows differ"
        return None
    elif lk.kind == "sample":
        n_want = min(lk.k, len(f))
        if len(got) != n_want:
            return f"sample has {len(got)} rows, want {n_want}"
        if not _keys(got) <= _keys(f):
            return "sample rows are not in the table range"
        return None
    elif lk.kind == "most_ambiguous":
        f = f[f["skewness"].notna()]
        want = np.sort(np.abs(f["skewness"].to_numpy(dtype=np.float64)))[: lk.k]
        have = np.sort(np.abs(got["skewness"].to_numpy(dtype=np.float64)))
    else:
        raise ValueError(f"unknown lookup kind {lk.kind!r}")
    if len(have) != len(want):
        return f"{lk.kind} has {len(have)} rows, want {len(want)}"
    if not np.allclose(have, want):
        return f"{lk.kind} values differ"
    if not _keys(got) <= _keys(f):
        return f"{lk.kind} rows are not in the table range"
    return None
