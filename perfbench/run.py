"""Benchmark entry point.

    python3 perfbench/run.py --workload backfill_hot --seed 1 --seconds 14 --trace 0

Runs one workload from the root of a source checkout on
``local[<cores this process may use>]`` in this single driver process,
prints each metric by name and unit, and ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` alternates traced and untraced
cycles (spans and Spark counters on in the traced ones), adds a sweep
that times each layer's public functions, and reports the per-layer
metrics and the tracing overhead instead.

Everything the run writes stays under ``.perfbench/`` in the checkout:
the input cache (keyed by workload, seed and scale), the run's own
directory (outputs, Spark and JVM scratch; deleted at exit) and the span
traces.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("backfill", "backfill_hot", "store")

END_TO_END_UNITS = {
    "setup_s": "s",
    "build_seq_per_s": "1/s",
    "refresh_s_p50": "s",
    "lookup_ms_p50": "ms",
    "lookup_ms_p90": "ms",
    "store_bytes_per_row": "B",
    "ok_ops_frac": "frac",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(run_dir: Path) -> None:
    """Pin the engine to this machine's cores and keep every file the
    run writes inside the checkout.  Executors are Python processes the
    JVM forks, so they find the engine through PYTHONPATH, whatever the
    working directory."""
    for d in ("tmp", "spark-local"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    path = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(path)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    # spark-submit first runs a launcher JVM that does not see the
    # driver's Java options; keep its performance-data file out of /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}"
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


class MissingSamples(RuntimeError):
    """No op of a kind a metric needs completed (every one raised)."""


def samples(phase, kind: str) -> list[float]:
    values = phase.walls.get(kind, [])
    if not values:
        raise MissingSamples(f"no {kind} op completed in the measured loop")
    return values


def end_to_end(b, loop, phase, setup_s) -> dict[str, float]:
    from perfbench.measure import median, percentile

    lookups_ms = [w * 1000 for w in samples(phase, "lookup")]
    return {
        "setup_s": setup_s,
        "build_seq_per_s": median(phase.rates),
        "refresh_s_p50": median(samples(phase, loop.write_kind)),
        "lookup_ms_p50": median(lookups_ms),
        "lookup_ms_p90": percentile(lookups_ms, 90),
        "store_bytes_per_row": loop.bytes_per_row[-1],
        "ok_ops_frac": 1.0 - b.tally.failed_frac(),
    }


def per_layer(b, loop, untraced, traced, session_times, sweep) -> dict[str, tuple[float, str]]:
    from perfbench.measure import median

    primary = loop.write_kind
    own = b.tracer.self_times()
    m: dict[str, tuple[float, str]] = {
        "session.get_spark_s": (median([g for g, _ in session_times]), "s"),
        "session.first_job_s": (median([f for _, f in session_times]), "s"),
    }
    for name in ("operators.scan_s", "operators.token_stats_s", "operators.windows_s",
                 "operators.asof_join_s", "plans.feature_table_fused_s",
                 "plans.feature_table_slim_s", "plans.incremental_s", "plans.roll_state_s",
                 "sources.write_versioned_s"):
        m[name] = (sweep[name], "s")
    cli_run = sweep["cli.run_s"] if "cli.run_s" in sweep else median(samples(traced, primary))
    m["cli.run_s"] = (cli_run, "s")
    m["sources.sink_s"] = (cli_run - sweep["plans.feature_table_fused_s"], "s")
    samples(traced, "lookup")
    m["sources.read_s"] = (median(own["sources.read"]), "s")
    for kind in ("query", "top_k_per_group", "sample", "most_ambiguous"):
        m[f"plans.{kind}_ms"] = (median(own[f"plans.{kind}"]) * 1000, "ms")
    m["sources.bytes_written_mb"] = (median(loop.written) / 2**20, "MB")
    m["sources.prune_kept_frac"] = (median(loop.kept_frac) if loop.kept_frac else 1.0, "frac")
    m["sources.files_per_snapshot"] = (float(loop.files[-1]), "count")

    c = traced.counters
    prim = [v for k, v in c.items() if traced.op_kind[k] == primary]
    prim_wall = sum(samples(traced, primary))
    m["spark.shuffle_write_mb"] = (median([v["shuffle_write_bytes"] for v in prim]) / 2**20, "MB")
    m["spark.busy_frac"] = (sum(v["run_ms"] for v in prim) / 1000 / (prim_wall * b.ncpu), "frac")
    m["spark.spill_mb"] = (median([v["spill_bytes"] for v in prim]) / 2**20, "MB")
    m["spark.task_skew"] = (median([v["task_skew"] for v in prim]), "x")
    m["spark.jobs_per_op"] = (sum(v["jobs"] for v in c.values()) / len(c), "count")
    m["spark.tasks"] = (sum(v["tasks"] for v in c.values()) / len(c), "count")
    m["spark.tasks_failed"] = (float(sum(v["tasks_failed"] for v in c.values())), "count")

    m["mem.peak_rss_mb"] = (b.info["peak_rss_mb"], "MB")
    m["host.steal_frac"] = (b.info["steal_frac"], "frac")
    m["host.cpu_probe_ms"] = (b.info["cpu_probe_ms"], "ms")
    # the traced cycles' op time over what the same ops took untraced,
    # from each op kind's median
    kinds = [k for k in traced.walls if k in untraced.walls]
    t_cost = sum(median(traced.walls[k]) * len(traced.walls[k]) for k in kinds)
    u_cost = sum(median(untraced.walls[k]) * len(traced.walls[k]) for k in kinds)
    m["trace.overhead_frac"] = (t_cost / u_cost - 1.0, "frac")
    return m


def stop_jvm(timeout_s: float = 60) -> None:
    """End the JVM this process launched and wait for it: the gateway
    server exits when its stdin closes (it forks the Python workers, and
    stopping the context has already stopped them)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def measure_run(b, trace: bool) -> tuple[dict, object]:
    """Set-up, warm-up, the measured loop and, when tracing, the layer
    sweep; returns the metrics (name -> (value, unit)) and the untraced
    samples."""
    from perfbench import measure, workloads

    with measure.RssSampler() as rss:
        # the session is started SETUPS times (the first start also
        # launches the JVM); the workload's own set-up runs once after
        # the last start, and setup_s = median session start + it
        starts, session_times = [], []
        for i in range(workloads.SETUPS):
            if i:
                b.spark.stop()
            t0 = time.perf_counter()
            session_times.append(b.start_session())
            starts.append(time.perf_counter() - t0)
        loop = workloads.make_loop(b)
        t0 = time.perf_counter()
        loop.setup()
        setup_s = measure.median(starts) + time.perf_counter() - t0
        b.mark(f"set-up: session starts [{' '.join(f'{x:.2f}' for x in starts)}]s, "
               f"setup_s {setup_s:.2f}s")
        loop.check_setup()
        b.warm_up(loop)
        b.mark("warm-up")
        untraced, traced = b.loop(loop, trace=trace)
        b.info["peak_rss_mb"] = rss.peak / 2**20
    if not trace:
        metrics = end_to_end(b, loop, untraced, setup_s)
        return {k: (v, END_TO_END_UNITS[k]) for k, v in metrics.items()}, untraced
    sweep = workloads.layer_sweep(b)
    b.mark("layer sweep")
    metrics = per_layer(b, loop, untraced, traced, session_times, sweep)
    trace_path = b.work / "traces" / f"{b.workload}-s{b.seed}.jsonl"
    b.tracer.write(trace_path)
    b.mark(f"{len(b.tracer.spans)} spans written to {trace_path}")
    return metrics, untraced


def report(b, metrics: dict, untraced) -> None:
    from perfbench.measure import MIN_BEYOND, tail_percentile

    w = b.workload
    print(f"{w}: inputs {'generated' if b.info['inputs_generated'] else 'cached'} "
          f"in {b.info['gen_s']:.2f}s (not in setup_s); ops attempted {b.tally.attempted}, "
          f"failed {b.tally.failed}, failed_ops_frac {b.tally.failed_frac():.4f}")
    for k in ("deadline_hit", "timeline_exhausted"):
        if b.info.get(k):
            print(f"{w}: {k}")
    lookups = untraced.walls.get("lookup", [])
    _, beyond, enough = tail_percentile(lookups, 90)
    print(f"{w}: {len(untraced.rates)} write ops and {len(lookups)} lookups measured; "
          f"{beyond} lookups lie beyond p90 ({'at least' if enough else 'fewer than'} "
          f"{MIN_BEYOND})")
    print(f"{w}: peak_rss_mb = {b.info['peak_rss_mb']:.6g} MB "
          "(JVM + Python workers, set-up to end of the measured loop)")
    print(f"{w}: host during the loop: CPU steal {b.info['steal_frac']:.4f}, "
          f"single-thread probe {b.info['cpu_probe_ms']:.1f} ms (not a metric: a noise gauge)")
    for name, (value, unit) in metrics.items():
        print(f"{w}: {name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": b.tally.failed == 0,
        "attempted": b.tally.attempted,
        "failed": b.tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "esa_pfa_spark" / "__init__.py").is_file():
        print(f"perfbench: no esa_pfa_spark package under {ROOT}; run from a source checkout",
              file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("perfbench: --seconds must be at least 1", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench"
    run_dir = work / "runs" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    configure_env(run_dir)

    from perfbench import workloads

    b = workloads.Bench(args.workload, args.seed, args.seconds, work, run_dir)
    b.load_inputs()
    b.mark("inputs loaded")
    try:
        metrics, untraced = measure_run(b, bool(args.trace))
    except MissingSamples as e:
        metrics = None
        print(f"perfbench: {e}; no result", file=sys.stderr)
    finally:
        if b.spark is not None:
            b.spark.stop()
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    for name, reason in b.tally.failures.items():
        print(f"perfbench: FAILED {name}: {reason}", file=sys.stderr)
    if metrics is None:
        return 3
    report(b, metrics, untraced)
    return 0


if __name__ == "__main__":
    sys.exit(main())
