"""The workloads and the run that drives them.

Every workload is a closed loop with one client.  A cycle is one write
op (a full CLI backfill, or an incremental refresh committed to the
versioned store) followed by a seeded batch of lookups against what it
wrote.  The loop runs cycles until the ops' own wall time reaches
``--seconds``; checks run between ops and are not timed.
"""

from __future__ import annotations

import contextlib
import dataclasses
import datetime as dt
import sys
import time
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import checks, inputs, measure

SETUPS = 3  # session start-ups per run; setup_s adds the workload's own set-up to their median
ORACLE_ENTITIES = 24
RUN_DEADLINE_S = 150  # stop measuring early rather than overrun the run limit
WEEK = dt.timedelta(days=7)
STORE_CUT0_US = inputs.BASE_US + 8 * inputs.WEEK_US

SCALES = {
    "backfill": inputs.Scale(entities=2500, mean_obs=40, mean_tok=64, probes="spread"),
    "backfill_hot": inputs.Scale(entities=2500, mean_obs=40, mean_tok=64, probes="spread",
                                 hot_rows=5000, hot_probes=200),
    "store": inputs.Scale(entities=2000, mean_obs=40, mean_tok=64, probes="weekly"),
}
LOOKUPS_PER_CYCLE = {"backfill": 4, "backfill_hot": 4, "store": 16}
LOOKUP_WINDOW_US = {"backfill": 30 * inputs.DAY_US, "backfill_hot": 30 * inputs.DAY_US,
                    "store": 14 * inputs.DAY_US}


def _us_to_dt(us: int) -> dt.datetime:
    return dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(us))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclasses.dataclass
class Phase:
    """Samples of one measured loop (untraced or traced)."""
    walls: dict[str, list[float]] = dataclasses.field(default_factory=dict)
    rates: list[float] = dataclasses.field(default_factory=list)
    counters: dict[str, dict] = dataclasses.field(default_factory=dict)
    op_kind: dict[str, str] = dataclasses.field(default_factory=dict)
    measured_s: float = 0.0

    def add(self, kind: str, wall: float, ok: bool) -> None:
        """Time spent counts toward the run length whether or not the op
        raised; only completed ops are latency samples."""
        self.measured_s += wall
        if ok:
            self.walls.setdefault(kind, []).append(wall)


class Bench:
    """One benchmark run: inputs, sessions, the measured loop(s) and,
    when tracing, the layer sweep."""

    def __init__(self, workload: str, seed: int, seconds: int, work: Path, run_dir: Path):
        self.workload = workload
        self.seed = seed % 2**32  # numpy seeds must be non-negative
        self.seconds = seconds
        self.work = work
        self.run_dir = run_dir
        self.scale = SCALES[workload]
        self.tally = measure.Tally()
        self.tracer = measure.Tracer(False)
        self.phase: Phase | None = None
        self.phases: list[Phase] = []
        self.t_start = time.perf_counter()
        self.info: dict[str, object] = {}
        self.spark = None
        self.ncpu = 1
        self.cycles = 0
        self.loop_cycles = 0
        self.min_cycles = 1

    def mark(self, what: str) -> None:
        print(f"perfbench: {time.perf_counter() - self.t_start:7.2f}s {what}", file=sys.stderr)

    # -- inputs ------------------------------------------------------------

    def load_inputs(self) -> None:
        t0 = time.perf_counter()
        self.inp, generated = inputs.ensure_inputs(self.work / "cache", self.workload, self.seed,
                                                   self.scale)
        self.info["gen_s"] = time.perf_counter() - t0
        self.info["inputs_generated"] = generated
        self.obs_path = str(self.inp / "obs")
        self.probes_path = str(self.inp / "probes")
        self.obs_tbl = pq.read_table(self.obs_path)
        self.probes_tbl = pq.read_table(self.probes_path)
        rng = np.random.default_rng([self.seed, 7])
        uniform = [f"e{i:06d}" for i in rng.choice(self.scale.entities, ORACLE_ENTITIES, replace=False)]
        extra = [f"e{self.scale.entities:06d}"] if self.scale.hot_rows else []
        extra += ["p000000", "p000001"] if self.scale.probe_only_frac else []
        self.sample_ids = uniform + extra
        ids = pa.array(self.sample_ids)
        obs = self.obs_tbl.filter(pc.is_in(self.obs_tbl.column("entity_id"), ids)).to_pandas()
        obs["ts"] = checks.naive_utc(obs["ts"])
        self.sample_obs = obs
        pr = self.probes_tbl.filter(pc.is_in(self.probes_tbl.column("entity_id"), ids)).to_pandas()
        pr["query_ts"] = checks.naive_utc(pr["query_ts"])
        self.sample_probes = pr
        self.obs_ts_us = self.obs_tbl.column("ts").cast(pa.int64()).to_numpy()
        self.probe_ts_us = self.probes_tbl.column("query_ts").cast(pa.int64()).to_numpy()

    # -- session -----------------------------------------------------------

    def start_session(self) -> tuple[float, float]:
        """Session start with the engine's shipped defaults, then a first
        job that spawns one Python worker per core (the Arrow UDF path)."""
        from esa_pfa_spark.operators.features import token_stats_arrow
        from esa_pfa_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(
            app_name="perfbench",
            extra_confs={
                "spark.ui.showConsoleProgress": "false",
                # keep the JVM's scratch files in the run directory
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.run_dir / 'tmp'} -XX:-UsePerfData",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        n = spark.sparkContext.defaultParallelism
        warm = spark.range(0, 64 * n, 1, n).selectExpr("array(cast(id as int), 1, 2) AS tokens")
        _noop(token_stats_arrow(warm, "tokens"))
        t2 = time.perf_counter()
        self.spark = spark
        self.ncpu = n
        return t1 - t0, t2 - t1

    # -- op wrapper --------------------------------------------------------

    def op(self, kind: str, fn):
        """Run one op under its own Spark job group; returns (op_id,
        result, wall).  A raising op counts failed and returns None."""
        op_id = self.tally.new_op(kind)
        sc = self.spark.sparkContext
        sc.setJobGroup(op_id, kind)
        self.tracer.op_id = op_id
        result, ok = None, False
        t0 = time.perf_counter()
        with self.tally.guard(op_id):
            with self.tracer.span(kind):
                result = fn()
            ok = True
        wall = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        if self.phase is not None:
            self.phase.add(kind, wall, ok)
            if ok and self.tracer.enabled:
                self.phase.op_kind[op_id] = kind
                self.phase.counters[op_id] = measure.op_counters(sc, op_id)
        return op_id, (result if ok else None), wall

    # -- lookups -----------------------------------------------------------

    def lookup(self, lk: checks.Lookup, read) -> tuple[str, pd.DataFrame | None]:
        from esa_pfa_spark.plans import query as Q

        span = self.tracer.span

        def body():
            with span("sources.read"):
                df = read(lk)
            rng = lk.range_pred()
            if lk.kind == "query":
                with span("plans.query"):
                    out = Q.query(df, f"{rng} AND mean > {lk.mean_min!r}", limit=lk.k,
                                  order_by="mean", descending=True)
                    return out.select("entity_id", "query_ts", "mean").toPandas()
            if lk.kind == "top_k_per_group":
                with span("plans.top_k_per_group"):
                    out = Q.top_k_per_group(df.filter(f"{rng} AND mean IS NOT NULL"), "entity_id",
                                            "mean", lk.k, tiebreak="query_ts")
                    return out.select("entity_id", "query_ts", "mean", "rank").toPandas()
            if lk.kind == "sample":
                with span("plans.sample"):
                    out = Q.deterministic_sample(df.filter(rng), lk.k, ["entity_id", "query_ts"],
                                                 seed=lk.seed)
                    return out.select("entity_id", "query_ts", "mean").toPandas()
            with span("plans.most_ambiguous"):
                out = Q.most_ambiguous(df.filter(f"{rng} AND skewness IS NOT NULL"), "skewness",
                                       lk.k, tiebreak="query_ts")
                return out.select("entity_id", "query_ts", "skewness").toPandas()

        op_id, got, _ = self.op("lookup", body)
        return op_id, got

    def lookup_batch(self, cycle: int, loop, table: pd.DataFrame, lo_us: int, hi_us: int,
                     n: int) -> None:
        rng = np.random.default_rng([self.seed, 11, cycle])
        for lk in checks.make_lookups(rng, n, lo_us, hi_us, LOOKUP_WINDOW_US[self.workload]):
            if not self.time_left():
                return
            op_id, got = self.lookup(lk, loop.read)
            if got is None:
                continue
            err = checks.check_lookup(lk, got, table)
            self.tally.check(op_id, err is None, f"{lk}: {err}")
            if self.tracer.enabled:
                loop.note_read()

    # -- feature-table checks ---------------------------------------------

    def check_features(self, op_id: str, out: pa.Table, n_probes: int, exp: pd.DataFrame) -> None:
        t = self.tally
        if not t.check(op_id, out.num_rows == n_probes, f"{out.num_rows} rows for {n_probes} probes"):
            return
        bad = checks.leakage_violations(out)
        if not t.check(op_id, bad == 0, f"{bad} rows leak or exceed the tolerance"):
            return
        got = out.filter(pc.is_in(out.column("entity_id"), pa.array(self.sample_ids))).to_pandas()
        err = checks.compare_features(got, exp)
        t.check(op_id, err is None, f"oracle mismatch: {err}")

    # -- measured loops ----------------------------------------------------

    def next_cycle(self) -> int:
        """Cycle numbers seed each cycle's lookups."""
        self.cycles += 1
        return self.cycles

    def warm_up(self, workload_loop) -> None:
        """One write op and one lookup of each kind, checked, not timed:
        they compile the plans the loop runs.  The JIT keeps warming over
        the next few write ops (the loop's first is 10-30 % slower than
        its last); a second warm-up cycle did not remove that and cost a
        tenth of the run."""
        workload_loop.cycle(self.next_cycle(), n_lookups=len(checks.LOOKUP_KINDS))

    def time_left(self) -> bool:
        """Whether the measured loop may start another op: the run is not
        near its limit, and either the loop has not yet finished its first
        cycles (one each traced and untraced when tracing, so every metric
        has a sample) or its ops' wall time is below ``--seconds``.
        Outside a measured loop (the warm-up) every op runs."""
        if self.phase is None:
            return True
        if time.perf_counter() - self.t_start > RUN_DEADLINE_S:
            self.info["deadline_hit"] = True
            return False
        if self.loop_cycles < self.min_cycles:
            return True
        return sum(p.measured_s for p in self.phases) < self.seconds

    def loop(self, workload_loop, trace: bool) -> tuple[Phase, Phase]:
        """Run cycles for ``--seconds`` of op time; returns the untraced
        and the traced samples.  With ``trace`` the cycles go traced,
        untraced, untraced, traced, ... so both halves run in the same JIT
        and cache state, a steady drift favours neither, and their
        difference is the tracing overhead."""
        untraced, traced = Phase(), Phase()
        self.phases = [untraced, traced]
        self.tracer = measure.Tracer(False)
        self.loop_cycles, self.min_cycles = 0, 2 if trace else 1
        probe0 = measure.cpu_probe_ms()
        steal0, total0 = measure.cpu_jiffies()
        while True:
            self.tracer.enabled = trace and self.loop_cycles % 4 in (0, 3)
            self.phase = traced if self.tracer.enabled else untraced
            if not self.time_left():
                break
            if not workload_loop.cycle(self.next_cycle()):
                self.info["timeline_exhausted"] = True
                break
            self.loop_cycles += 1
        self.phase, self.phases = None, []
        self.tracer.enabled = trace
        steal1, total1 = measure.cpu_jiffies()
        self.info["steal_frac"] = (steal1 - steal0) / max(total1 - total0, 1)
        self.info["cpu_probe_ms"] = (probe0 + measure.cpu_probe_ms()) / 2
        self.mark(f"host during the loop: CPU steal {self.info['steal_frac']:.3f}, "
                  f"single-thread probe {self.info['cpu_probe_ms']:.1f} ms")
        for name, p in (("untraced", untraced), ("traced", traced)):
            if p.walls:
                self.mark(f"{name} cycles: " + "; ".join(
                    f"{len(v)} {k} [{' '.join(f'{w:.2f}' for w in v)}]s"
                    for k, v in p.walls.items()))
        return untraced, traced


class BackfillLoop:
    """``backfill`` / ``backfill_hot``: the CLI ``run`` rebuilds the whole
    feature table, then lookups read it back through the sources layer."""

    write_kind = "build"

    def __init__(self, b: Bench):
        self.b = b
        self.out = b.run_dir / "features"
        self.n_probes = b.probes_tbl.num_rows
        self.n_obs = b.obs_tbl.num_rows
        self.expected = checks.oracle_features(b.sample_obs, b.sample_probes)
        self.lo_us = int(b.probe_ts_us.min())
        self.hi_us = int(b.probe_ts_us.max()) + 1
        self.bytes_per_row: list[float] = []
        self.files: list[int] = []
        self.written: list[int] = []
        self.kept_frac: list[float] = []

    def setup(self) -> None:
        """Nothing beyond the session: the CLI reads its inputs itself."""

    def check_setup(self) -> None:
        """No set-up output to check."""

    def read(self, lk):
        from esa_pfa_spark.sources.tables import load_table

        return load_table(self.b.spark, str(self.out))

    def note_read(self) -> None:
        """A plain parquet table has nothing to prune."""

    def cycle(self, k: int, n_lookups: int | None = None) -> bool:
        from esa_pfa_spark import cli

        b = self.b
        argv = ["run", "--tokens", b.obs_path, "--probes", b.probes_path, "--out", str(self.out)]
        with contextlib.redirect_stdout(sys.stderr):
            op_id, _, wall = b.op(self.write_kind, lambda: cli.main(argv))
        if op_id in b.tally.failures:
            return True
        if b.phase is not None:
            b.phase.rates.append(self.n_obs / wall)
        out = pq.read_table(self.out)
        b.check_features(op_id, out, self.n_probes, self.expected)
        written = measure.dir_bytes(self.out)
        self.written.append(written)
        self.bytes_per_row.append(written / max(out.num_rows, 1))
        self.files.append(measure.dir_files(self.out))
        table = checks.prepare_table(out.drop(["tokens"]).to_pandas())
        b.lookup_batch(k, self, table, self.lo_us, self.hi_us,
                       LOOKUPS_PER_CYCLE[b.workload] if n_lookups is None else n_lookups)
        return True


class StoreLoop:
    """``store``: weekly incremental refreshes committed to a versioned
    feature store, each followed by lookups against the latest snapshot.

    Refresh k (state valid at cut_k): the delta is the observations in
    [cut_k, cut_k + 2 weeks), the probes are those in the second week
    (the incremental contract needs probe_ts >= cut + tolerance), the
    output is appended as a new snapshot, and the state is rolled over
    the first week only and persisted, so cut_{k+1} = cut_k + 1 week."""

    write_kind = "refresh"

    def __init__(self, b: Bench):
        self.b = b
        self.step = 0
        self.max_obs_us = int(b.obs_ts_us.max())
        self.bytes_per_row: list[float] = []
        self.files: list[int] = []
        self.written: list[int] = []
        self.kept_frac: list[float] = []
        self.last_read = None

    # snapshot v1 holds every probe before cut0 + 1 week, built by the
    # full plan over the observations before that horizon
    def setup(self) -> None:
        from pyspark.sql import functions as F

        from esa_pfa_spark.plans.incremental import flagship_entity_state
        from esa_pfa_spark.plans.pipeline import feature_table_fused
        from esa_pfa_spark.sources.versioned import write_versioned

        b, spark = self.b, self.b.spark
        self.root = b.run_dir / "store"
        self.state_dir = b.run_dir / "state"
        cut0 = _us_to_dt(STORE_CUT0_US)
        h0 = cut0 + WEEK
        obs = spark.read.parquet(b.obs_path)
        probes = spark.read.parquet(b.probes_path)
        state = flagship_entity_state(obs, cut0)
        state.write.parquet(str(self.state_dir / "0"))
        self.state = spark.read.parquet(str(self.state_dir / "0"))
        b.mark("bootstrap state written")
        v1 = feature_table_fused(obs.filter(F.col("ts") < F.lit(h0)),
                                 probes.filter(F.col("query_ts") < F.lit(h0)))
        write_versioned(v1, self.root, mode="append", prune_cols=["query_ts"])

    def check_setup(self) -> None:
        """The bootstrap snapshot is an op too: check it like a refresh."""
        b = self.b
        h0 = STORE_CUT0_US + inputs.WEEK_US
        op_id = b.tally.new_op("bootstrap")
        out, _ = self._commit_table(1)
        n = int((b.probe_ts_us < h0).sum())
        b.check_features(op_id, out, n, self._expected(None, h0))
        self.snapshot = out.drop(["tokens"]).to_pandas()

    def _commit_table(self, version: int) -> tuple[pa.Table, Path]:
        """The rows a commit added, read with pyarrow, and its data dir."""
        from esa_pfa_spark.sources.versioned import read_manifest

        d = self.root / read_manifest(self.root, version)["data"][-1]["dir"]
        return pq.read_table(d), d

    def _expected(self, lo_us: int | None, hi_us: int) -> pd.DataFrame:
        b = self.b
        obs = b.sample_obs[checks.to_us(b.sample_obs["ts"]) < hi_us]
        q = checks.to_us(b.sample_probes["query_ts"])
        keep = (q < hi_us) & (q >= lo_us if lo_us is not None else True)
        return checks.oracle_features(obs, b.sample_probes[keep])

    def read(self, lk):
        from esa_pfa_spark.sources.versioned import read_versioned

        self.last_read = read_versioned(
            self.b.spark, self.root,
            prune={"query_ts": (_us_to_dt(lk.lo_us), _us_to_dt(lk.hi_us))})
        return self.last_read

    def note_read(self) -> None:
        """Data dirs the last pruned read kept, over the dirs its
        snapshot lists (read after the op, outside its timing)."""
        from esa_pfa_spark.sources.versioned import read_manifest

        listed = len(read_manifest(self.root)["data"])
        kept = {f.rsplit("/", 1)[0] for f in self.last_read.inputFiles()}
        self.kept_frac.append(len(kept) / listed)

    def refresh(self, cut: dt.datetime):
        from pyspark.sql import functions as F

        from esa_pfa_spark.operators.features import token_stats_arrow
        from esa_pfa_spark.plans.incremental import feature_table_incremental, roll_state
        from esa_pfa_spark.sources.versioned import write_versioned

        b, spark, span = self.b, self.b.spark, self.b.tracer.span
        horizon = cut + 2 * WEEK
        obs = spark.read.parquet(b.obs_path)
        delta = obs.filter((F.col("ts") >= F.lit(cut)) & (F.col("ts") < F.lit(horizon)))
        probes = spark.read.parquet(b.probes_path).filter(
            (F.col("query_ts") >= F.lit(cut + WEEK)) & (F.col("query_ts") < F.lit(horizon)))
        with span("plans.incremental"):
            out = feature_table_incremental(delta, probes, self.state)
        with span("sources.write_versioned"):
            version = write_versioned(out, self.root, mode="append", prune_cols=["query_ts"])
        with span("plans.roll_state"):
            week = token_stats_arrow(delta.filter(F.col("ts") < F.lit(cut + WEEK)), "tokens")
            nxt = roll_state(self.state, week.select("entity_id", "ts", "mean"))
            path = str(self.state_dir / str(self.step + 1))
            nxt.write.parquet(path)
            self.state = spark.read.parquet(path)
        return version

    def cycle(self, k: int, n_lookups: int | None = None) -> bool:
        b = self.b
        cut_us = STORE_CUT0_US + self.step * inputs.WEEK_US
        horizon_us = cut_us + 2 * inputs.WEEK_US
        if horizon_us > self.max_obs_us:
            return False
        op_id, version, wall = b.op(self.write_kind, lambda: self.refresh(_us_to_dt(cut_us)))
        if version is None:
            return True
        self.step += 1
        n_delta = int(((b.obs_ts_us >= cut_us) & (b.obs_ts_us < horizon_us)).sum())
        if b.phase is not None:
            b.phase.rates.append(n_delta / wall)
        q = b.probe_ts_us
        n_probes = int(((q >= cut_us + inputs.WEEK_US) & (q < horizon_us)).sum())
        out, data_dir = self._commit_table(version)
        self.written.append(measure.dir_bytes(data_dir))
        b.check_features(op_id, out, n_probes, self._expected(cut_us + inputs.WEEK_US, horizon_us))
        self.snapshot = pd.concat([self.snapshot, out.drop(["tokens"]).to_pandas()], ignore_index=True)
        rows = len(self.snapshot)
        self.bytes_per_row.append(measure.dir_bytes(self.root) / max(rows, 1))
        self.files.append(measure.dir_files(self.root / "data"))
        table = checks.prepare_table(self.snapshot)
        b.lookup_batch(k, self, table, int(b.probe_ts_us.min()), horizon_us,
                       LOOKUPS_PER_CYCLE["store"] if n_lookups is None else n_lookups)
        return True


def make_loop(b: Bench):
    return StoreLoop(b) if b.workload == "store" else BackfillLoop(b)


def layer_sweep(b: Bench) -> dict[str, float]:
    """Time each layer's public functions on this workload's inputs,
    forced through a noop sink (traced runs only)."""
    from pyspark.sql import functions as F

    from esa_pfa_spark.operators.asof import asof_join, asof_join_auto
    from esa_pfa_spark.operators.features import token_stats_arrow, token_stats_arrow_drop
    from esa_pfa_spark.operators.windows import lag_lead, sessionize
    from esa_pfa_spark.plans.incremental import (
        feature_table_incremental, flagship_entity_state, roll_state,
    )
    from esa_pfa_spark.plans.pipeline import (
        DEFAULT_SESSION_GAP, feature_table_fused, feature_table_slim,
    )
    from esa_pfa_spark.sources.versioned import write_versioned

    spark, span = b.spark, b.tracer.span
    obs = spark.read.parquet(b.obs_path)
    probes = spark.read.parquet(b.probes_path)
    out: dict[str, float] = {}

    def timed(name, fn):
        """The second of two calls: the first compiles the plan, as the
        loop's warm-up does for the ops it times."""
        fn()
        b.tracer.op_id = f"sweep-{name}"
        t0 = time.perf_counter()
        with span(name):
            fn()
        out[name] = out.get(name, 0.0) + time.perf_counter() - t0

    timed("operators.scan_s", lambda: _noop(obs))
    timed("operators.token_stats_s", lambda: _noop(token_stats_arrow_drop(obs, "tokens")))
    timed("operators.windows_s", lambda: _noop(sessionize(
        lag_lead(obs.drop("tokens"), "n_tok", key="entity_id", ts="ts"),
        key="entity_id", ts="ts", gap=DEFAULT_SESSION_GAP)))
    slim_obs = obs.select("entity_id", "ts", "n_tok")
    timed("operators.asof_join_s", lambda: _noop(asof_join(
        probes, slim_obs, payload=["n_tok"], tolerance=checks.TOLERANCE)))
    timed("operators.asof_join_s", lambda: _noop(asof_join_auto(
        probes, slim_obs, payload=["n_tok"], tolerance=checks.TOLERANCE)))
    timed("plans.feature_table_fused_s", lambda: _noop(feature_table_fused(obs, probes)))
    timed("plans.feature_table_slim_s", lambda: _noop(feature_table_slim(obs, probes)))

    cut = _us_to_dt(STORE_CUT0_US)
    state_path = str(b.run_dir / "sweep_state")
    flagship_entity_state(obs, cut).write.parquet(state_path)
    state = spark.read.parquet(state_path)
    delta = obs.filter((F.col("ts") >= F.lit(cut)) & (F.col("ts") < F.lit(cut + 2 * WEEK)))
    pw = probes.filter((F.col("query_ts") >= F.lit(cut + WEEK)) & (F.col("query_ts") < F.lit(cut + 2 * WEEK)))
    timed("plans.incremental_s", lambda: _noop(feature_table_incremental(delta, pw, state)))
    week = token_stats_arrow(delta.filter(F.col("ts") < F.lit(cut + WEEK)), "tokens")
    timed("plans.roll_state_s", lambda: _noop(roll_state(state, week.select("entity_id", "ts", "mean"))))
    root = b.run_dir / "sweep_store"
    timed("sources.write_versioned_s", lambda: write_versioned(
        feature_table_incremental(delta, pw, state), root, prune_cols=["query_ts"]))
    if b.workload == "store":
        from esa_pfa_spark import cli

        argv = ["run", "--tokens", b.obs_path, "--probes", b.probes_path,
                "--out", str(b.run_dir / "sweep_cli")]
        with contextlib.redirect_stdout(sys.stderr):
            timed("cli.run_s", lambda: cli.main(argv))
    return out
