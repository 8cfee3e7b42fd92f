"""The flagship end-to-end pipeline (SURVEY.md §7 step 2, extended):

  observations (tokens table with entity/ts)
    -> per-row STX token stats                 (features.token_stats)
    -> lag/lead mean over the entity timeline  (windows.lag_lead)
    -> gap-based sessionization (gap > 7d)     (windows.sessionize)
    -> backward as-of join to probe timestamps (asof.asof_join)
  => one row per (entity_id, query_ts) carrying the matched observation's
     token array (byte-equal invariant) + feature vector, zero leakage.

This chain replaces the reference's BiTempPreprocessor -> FindPatchPairs ->
BiTempSpectralFeatureWriter flow (SURVEY.md §3.4) one-for-one.

Physical shape at scale: token_stats is one Arrow-vectorized projection
(no shuffle); lag/lead + sessionize + the as-of window share ONE shuffle on
entity_id (Catalyst reuses the hash partitioning across the window specs);
the probe union adds no extra shuffle beyond its own side.  Total: 2 sorts,
1 exchange per side — the minimal plan for this computation.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from esa_pfa_spark.operators.asof import asof_join
from esa_pfa_spark.operators.features import token_stats_arrow
from esa_pfa_spark.operators.windows import lag_lead, next_non_null, sessionize

DEFAULT_TOLERANCE = _dt.timedelta(days=7)
DEFAULT_SESSION_GAP = _dt.timedelta(days=7)

FEATURE_PAYLOAD = [
    "tokens",
    "n_tok",
    "mean",
    "stdev",
    "cvar",
    "min",
    "max",
    "p10",
    "p50",
    "p90",
    "skewness",
    "count",
    "lag_1_mean",
    "lead_1_mean",
    "session_id",
    "session_len",
]


def enrich_observations(observations: DataFrame) -> DataFrame:
    """Stage 1: per-row token stats + windowed features over the timeline.

    The Arrow-UDF stat stage runs FIRST, map-side at scan parallelism —
    per-row stats need no co-location, and ``mapInArrow`` cannot promise
    Catalyst that it preserves a child partitioning (it may emit arbitrary
    rows), so stats placed *after* an explicit repartition force a SECOND
    exchange for the window sort (observed: Exchange → MapInArrow →
    Exchange).  With stats first, the window specs' ENSURE_REQUIREMENTS
    insert the single hashpartitioning(entity_id) exchange, and lag/lead,
    sessionize and session_len all reuse it — one shuffle for the whole
    enrichment chain (asserted in tests/test_plans.py).  This is the
    explicit co-partitioning requirement of SURVEY.md §4 (PatchCS
    grid-alignment analog)."""
    enriched = token_stats_arrow(observations, "tokens")
    enriched = lag_lead(enriched, "mean", key="entity_id", ts="ts")
    enriched = sessionize(enriched, key="entity_id", ts="ts", gap=DEFAULT_SESSION_GAP)
    return enriched


def feature_table(
    observations: DataFrame,
    probes: DataFrame,
    tolerance=DEFAULT_TOLERANCE,
) -> DataFrame:
    """Stage 2: point-in-time feature lookup at each probe timestamp."""
    enriched = enrich_observations(observations)
    return asof_join(
        probes,
        enriched,
        on="entity_id",
        probe_ts="query_ts",
        obs_ts="ts",
        payload=FEATURE_PAYLOAD,
        direction="backward",
        tolerance=tolerance,
    ).withColumnRenamed("matched_ts", "matched_ts")


def feature_table_sorted(observations: DataFrame, probes: DataFrame, tolerance=DEFAULT_TOLERANCE) -> DataFrame:
    """feature_table + deterministic output order (for checksums/goldens)."""
    return feature_table(observations, probes, tolerance).orderBy("entity_id", "query_ts")


def feature_table_fused(
    observations: DataFrame,
    probes: DataFrame,
    tolerance=DEFAULT_TOLERANCE,
) -> DataFrame:
    """Single-shuffle fusion of the whole pipeline (the 100 TB plan).

    The modular ``feature_table`` exchanges the observation stream twice
    (the enrichment windows' ENSURE_REQUIREMENTS, then the as-of union's —
    the union invalidates the enriched side's partitioning).  This variant
    unions probes with RAW observations first, exchanges ONCE on
    entity_id, and computes everything over the single sorted stream:

      * token stats: Arrow UDF post-exchange (full shuffle-width
        parallelism; probe rows carry null tokens and cost nothing);
      * lag/lead over observations only: ``last(val, ignorenulls)`` over
        the (unbounded, -1) frame and ``lead(val, 1) IGNORE NULLS`` (a
        linear streaming offset frame) — probe rows are null so they are
        skipped exactly like lag/lead over the obs-only stream;
      * sessionization: gap from the previous OBSERVATION row
        (ignorenulls fill of obs-ts), break-cumsum over obs rows only;
      * as-of fill: last(payload struct, ignorenulls) as in asof_join.

    Every frame is linear per entity: cumulative frames for the backward
    fills, ``lead IGNORE NULLS`` for the forward ones (``lead_1_mean`` and
    the session end behind ``session_len``), so one hot entity costs O(n)
    rather than the O(n^2) of a ``(1, unboundedFollowing)`` frame.

    Physical shape: 1 Exchange + 1 in-partition Sort (every window shares
    the ``(entity_id, __ts, __tag)`` order; ``session_len`` is bracketed
    arithmetically, not by a per-session window) + 1 ArrowEval.  Output ==
    feature_table (tested).

    The full ``tokens`` array rides the exchange + window sorts here; see
    ``feature_table_slim`` for the narrow-shuffle variant that fetches
    tokens by row key AFTER the as-of.
    """
    obs_side = observations.select(
        "entity_id",
        F.col("ts").alias("__ts"),
        F.lit(0).alias("__tag"),
        "tokens",
        "n_tok",
    )
    null_tokens = F.lit(None).cast(observations.schema["tokens"].dataType)
    probe_side = probes.select(
        "entity_id",
        F.col("query_ts").alias("__ts"),
        F.lit(1).alias("__tag"),
        null_tokens.alias("tokens"),
        F.lit(None).cast("int").alias("n_tok"),
    )
    u = obs_side.unionByName(probe_side)

    from esa_pfa_spark.operators.features import token_stats_arrow

    # stats BEFORE the exchange: per-row, needs no co-location, and keeps
    # the plan at ONE shuffle (mapInArrow after a repartition would force
    # the window sort to re-exchange — see enrich_observations docstring)
    u = token_stats_arrow(u, "tokens")  # null stats on probe rows, zero-copy
    return _fused_fill(u, tolerance, FEATURE_PAYLOAD)


def feature_table_slim(
    observations: DataFrame,
    probes: DataFrame,
    tolerance=DEFAULT_TOLERANCE,
    row_key: str = "doc_id",
) -> DataFrame:
    """``feature_table_fused`` with a NARROW shuffle: the ``tokens`` array
    (the fat column — mean 64 int32s vs ~120 bytes of scalars) never rides
    the exchange, the two window sorts, or the as-of struct fill.

      1. token stats map-side on the observation SCAN (Arrow UDF at scan
         parallelism), then DROP tokens — the union carries only scalars
         plus ``row_key`` (a unique observation id, e.g. doc_id);
      2. the identical one-Exchange window/as-of fill as the fused plan;
      3. ONE equi-join on ``row_key`` fetches the matched row's tokens —
         left join, so out-of-tolerance probes keep null tokens.

    Exactness: the fill carries the matched observation's unique row key,
    so the fetch returns precisely the row the as-of selected — output is
    row-identical to ``feature_table_fused`` (tested) PROVIDED ``row_key``
    is unique per observation (a duplicated key would fan out the join).

    Scale shape: at the bench token width (mean 64 int32s) the window
    exchange/sort rows shrink ~60-70%, and ``token_stats_arrow_drop``
    also removes the array from the Arrow Python->JVM return hop (~40%
    of the stats stage's traffic) — the stage that memory-bandwidth-
    saturates the many-core side per BENCH/BASELINE.md.  Measured
    (pinned, 10M sequences): faster than the fused plan at BOTH 4 and 16
    cores (47.6s vs 89.1s, 22.7s vs 27.8s min-of-2 draws).  The fetch
    join shuffles the token table once on the row key — bytes that in
    the fat plan rode the window exchange anyway — and AQE skew-join can
    split it, which a window sort never gets."""
    from esa_pfa_spark.operators.features import token_stats_arrow_drop

    scalar_payload = [c for c in FEATURE_PAYLOAD if c != "tokens"]
    # token_stats_arrow_DROP: the UDF's output schema omits tokens, so the
    # array is never serialized back from the Python worker (a caller-side
    # .drop() would prune it only AFTER the Arrow return hop)
    obs_side = token_stats_arrow_drop(
        observations.select(
            "entity_id",
            F.col("ts").alias("__ts"),
            F.lit(0).alias("__tag"),
            F.col(row_key).alias("__rk"),
            "tokens",
            "n_tok",
        ),
        "tokens",
    )
    probe_side = probes.select(
        "entity_id",
        F.col("query_ts").alias("__ts"),
        F.lit(1).alias("__tag"),
        F.lit(None).cast(observations.schema[row_key].dataType).alias("__rk"),
        F.lit(None).cast("int").alias("n_tok"),
        *[F.lit(None).cast("double").alias(c) for c in STAT_SCALARS],
        F.lit(None).cast("int").alias("count"),
    )
    u = obs_side.unionByName(probe_side)
    slim = _fused_fill(u, tolerance, ["__rk"] + scalar_payload)

    toks = observations.select(
        F.col(row_key).alias("__rk"), F.col("tokens").alias("__fetched_tokens")
    )
    out = slim.join(toks, on="__rk", how="left")
    return out.select(
        "entity_id",
        "query_ts",
        "matched_ts",
        F.col("__fetched_tokens").alias("tokens"),
        *scalar_payload,
    )


from esa_pfa_spark.operators.features import STAT_NAMES as _STAT_NAMES

STAT_SCALARS = _STAT_NAMES[:-1]  # the double-typed stats; "count" is int


def _fused_fill(u: DataFrame, tolerance, payload: list[str]) -> DataFrame:
    """The shared one-Exchange window/as-of core over a tagged union ``u``
    (obs rows ``__tag=0`` carrying ``mean`` + the payload columns, probe
    rows ``__tag=1`` with nulls): computes lag/lead/session features and
    the backward tolerance-bounded as-of fill, returns one row per probe
    with ``matched_ts`` + ``payload``.

    All windows share the ``(entity_id, __ts, __tag)`` order spec, hence
    one Sort.  The forward lookups (``lead_1_mean`` and ``next_brk``, the
    next session's first observation index) are ``lead(x, 1) IGNORE
    NULLS`` over helper columns: a streaming offset frame, linear per
    entity.  The whole-partition ``w_all`` frame is a single aggregate."""
    gap_us = int(DEFAULT_SESSION_GAP.total_seconds() * 1e6)
    tol_us = int(
        (tolerance.total_seconds() if hasattr(tolerance, "total_seconds") else float(tolerance))
        * 1e6
    )

    from pyspark.sql import Window
    from esa_pfa_spark.functions.time import ts_diff_us

    order = [F.col("__ts").asc(), F.col("__tag").asc()]
    w_prev = Window.partitionBy("entity_id").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_ord = Window.partitionBy("entity_id").orderBy(*order)
    w_cum = Window.partitionBy("entity_id").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )

    is_obs = F.col("__tag") == 0
    obs_ts = F.when(is_obs, F.col("__ts"))
    u = u.withColumn("__obs_mean", F.when(is_obs, F.col("mean")))
    u = u.withColumn("__prev_obs_ts", F.last(obs_ts, ignorenulls=True).over(w_prev))
    u = u.withColumn(
        "lag_1_mean",
        F.when(is_obs, F.last("__obs_mean", ignorenulls=True).over(w_prev)),
    )
    u = u.withColumn(
        "lead_1_mean", F.when(is_obs, next_non_null("__obs_mean").over(w_ord))
    )
    gap = ts_diff_us("__ts", "__prev_obs_ts")
    brk = F.when(is_obs & gap.isNotNull() & (gap > gap_us), 1).otherwise(0)
    u = u.withColumn("__brk", brk)
    u = u.withColumn(
        "session_id", F.when(is_obs, F.sum("__brk").over(w_cum).cast("long"))
    )
    # session_len WITHOUT a second sort: the natural form is a window
    # partitioned by (entity_id, session_id), but that plans a fresh full-
    # width Sort (Spark can't know session_id is monotone in ts).  Instead
    # number the observations (cumulative obs index over the SAME
    # (ts, tag) sort) and bracket each session arithmetically:
    #   start = obs index at my session's first obs (carried forward),
    #   end   = index before the NEXT session's first obs (looked up
    #           forward), or the entity's total obs count for the last
    #           session.  All frames reuse the one existing sort.
    w_all = Window.partitionBy("entity_id").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum_obs = F.sum(is_obs.cast("int")).over(w_cum)
    u = u.withColumn("__oidx", F.when(is_obs, cum_obs))
    sess_start = F.last(
        F.when(is_obs & ((F.col("__brk") == 1) | (F.col("__oidx") == 1)), F.col("__oidx")),
        ignorenulls=True,
    ).over(w_cum)
    u = u.withColumn("__brk_oidx", F.when(F.col("__brk") == 1, F.col("__oidx")))
    next_brk = next_non_null("__brk_oidx").over(w_ord)
    total_obs = F.max("__oidx").over(w_all)
    u = u.withColumn(
        "session_len",
        F.when(
            is_obs,
            (F.coalesce(next_brk - 1, total_obs) - sess_start + 1).cast("int"),
        ),
    )

    payload_fields = [F.col("__ts").alias("matched_ts")] + [
        F.col(c) for c in payload
    ]
    u = u.withColumn("__pay", F.when(is_obs, F.struct(*payload_fields)))
    filled = u.withColumn("__pay", F.last("__pay", ignorenulls=True).over(w_cum))

    out = filled.filter(F.col("__tag") == 1)
    in_tol = F.col("__pay").isNotNull() & (
        F.abs(F.expr("timestampdiff(MICROSECOND, __pay.matched_ts, __ts)")) <= tol_us
    )
    return out.select(
        "entity_id",
        F.col("__ts").alias("query_ts"),
        F.when(in_tol, F.col("__pay.matched_ts")).alias("matched_ts"),
        *[F.when(in_tol, F.col(f"__pay.{c}")).alias(c) for c in payload],
    )
