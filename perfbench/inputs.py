"""Seeded input generator for the benchmark workloads.

Inputs are a pure function of ``(seed, Scale)`` and are written as plain
parquet with pyarrow, so the engine under test only ever sees the
generated files.  The generator is the benchmark's own (not
``esa_pfa_spark.synth``) so a change to the engine's synth module cannot
change what the benchmark measures.

The timeline shape follows the engine's fixtures: a 3-way gap mix of
short runs (< 1 day), in-tolerance gaps (1-7 days) and session-breaking
gaps (> 7 days), so as-of tolerance misses, session breaks and exact
ts ties all occur.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257
SOURCES = ["web", "book", "code", "news"]
SOURCE_P = [0.55, 0.25, 0.15, 0.05]
BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds
DAY_US = 86_400_000_000
WEEK_US = 7 * DAY_US

OBS_FILES = 8
CACHE_ENTRIES = 40  # input sets kept; the least recently used go first
TS_TYPE = pa.timestamp("us", tz="UTC")  # read back by Spark as TimestampType


@dataclasses.dataclass(frozen=True)
class Scale:
    entities: int
    mean_obs: int
    mean_tok: int
    probes: str  # "spread": a few per entity over its timeline; "weekly": one per entity-week
    probes_per_entity: int = 4
    probe_only_frac: float = 0.05
    hot_rows: int = 0  # one extra entity with this many 1-minute-spaced observations
    hot_probes: int = 0

    def key(self) -> str:
        blob = json.dumps(dataclasses.asdict(self), sort_keys=True)
        return hashlib.sha256(blob.encode()).hexdigest()[:12]


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed % 2**64, stream])


def _segment_cumsum(values: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Cumulative sum restarted at every segment boundary."""
    c = np.cumsum(values)
    starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
    before = np.concatenate([[0], c])[starts]
    return c - np.repeat(before, counts)


def gen_observations(seed: int, sc: Scale) -> pa.Table:
    """Observation rows in the engine's OBSERVATIONS_SCHEMA column order."""
    r = _rng(seed, 1)
    counts = r.integers(4, 2 * sc.mean_obs - 3, sc.entities)
    n = int(counts.sum())
    cat = r.random(n)
    u = r.random(n)
    short = 1800 + u * (21600 - 1800)
    mid = 86400 + u * (6 * 86400)
    long_ = 8 * 86400 + u * (12 * 86400)
    gaps_s = np.where(cat < 0.6, short, np.where(cat < 0.85, mid, long_)).astype(np.int64)
    start_s = r.integers(0, 30 * 86400, sc.entities)
    ts = BASE_US + (np.repeat(start_s, counts) + _segment_cumsum(gaps_s, counts)) * 1_000_000
    ent = np.repeat(np.arange(sc.entities), counts)
    seq = np.concatenate([np.arange(c) for c in counts]) if n else np.zeros(0, np.int64)

    if sc.hot_rows:
        h = sc.entities
        hot_ts = BASE_US + 10 * DAY_US + np.arange(sc.hot_rows, dtype=np.int64) * 60_000_000
        ts = np.concatenate([ts, hot_ts])
        ent = np.concatenate([ent, np.full(sc.hot_rows, h)])
        seq = np.concatenate([seq, np.arange(sc.hot_rows)])
        n += sc.hot_rows

    lengths = r.integers(8, 2 * sc.mean_tok - 7, n)
    offsets = np.concatenate([[0], np.cumsum(lengths)]).astype(np.int32)
    flat = r.integers(0, VOCAB, int(offsets[-1]), dtype=np.int32)
    src = np.asarray(SOURCES)[r.choice(len(SOURCES), n, p=SOURCE_P)]
    ids = np.char.add("e", np.char.zfill(ent.astype(str), 6))
    doc = np.char.add(np.char.add(ids, "-"), np.char.zfill(seq.astype(str), 6))
    return pa.table(
        {
            "entity_id": pa.array(ids, pa.string()),
            "bucket_x": pa.array((ent % 360).astype(np.int32)),
            "bucket_y": pa.array(((ent // 360) % 180).astype(np.int32)),
            "ts": pa.array(ts, TS_TYPE),
            "doc_id": pa.array(doc, pa.string()),
            "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat)),
            "n_tok": pa.array(lengths.astype(np.int32)),
            "source": pa.array(src, pa.string()),
        }
    )


def gen_probes(seed: int, sc: Scale, obs: pa.Table) -> pa.Table:
    """Probe rows (entity_id, query_ts).

    ``spread``: ``probes_per_entity - 1`` uniform probes over
    [first - 3d, last + 3d] plus one exact tie with an observation.
    ``weekly``: one probe per entity per week over the same span.
    Both add ``probe_only_frac`` extra entities that have probes but no
    observations (null-match rows), and ``hot_probes`` uniform probes over
    the hot entity's timeline."""
    r = _rng(seed, 2)
    ent_ids = obs.column("entity_id").to_numpy(zero_copy_only=False)
    ts = obs.column("ts").cast(pa.int64()).to_numpy()
    uniq, first_idx, counts = np.unique(ent_ids, return_index=True, return_counts=True)
    order = np.argsort(first_idx)
    uniq, first_idx, counts = uniq[order], first_idx[order], counts[order]
    last_idx = first_idx + counts - 1
    lo = ts[first_idx] - 3 * DAY_US
    hi = ts[last_idx] + 3 * DAY_US
    n_uniform = sc.entities
    ids_out, ts_out = [], []

    base_ids, base_lo, base_hi = uniq[:n_uniform], lo[:n_uniform], hi[:n_uniform]
    if sc.probes == "spread":
        k = sc.probes_per_entity - 1
        u = r.random((n_uniform, k))
        q = base_lo[:, None] + (u * (base_hi - base_lo)[:, None]).astype(np.int64)
        pick = first_idx[:n_uniform] + (r.random(n_uniform) * counts[:n_uniform]).astype(np.int64)
        q = np.concatenate([q, ts[pick][:, None]], axis=1)
        ids_out.append(np.repeat(base_ids, k + 1))
        ts_out.append(q.ravel())
    elif sc.probes == "weekly":
        weeks = ((base_hi - base_lo) // WEEK_US + 1).astype(np.int64)
        total = int(weeks.sum())
        wk = _segment_cumsum(np.ones(total, np.int64), weeks) - 1
        q = np.repeat(base_lo, weeks) + wk * WEEK_US + (r.random(total) * WEEK_US).astype(np.int64)
        ids_out.append(np.repeat(base_ids, weeks))
        ts_out.append(q)
    else:
        raise ValueError(f"unknown probe layout {sc.probes!r}")

    if sc.hot_rows:
        u = r.random(sc.hot_probes)
        q = lo[n_uniform] + (u * (hi[n_uniform] - lo[n_uniform])).astype(np.int64)
        ids_out.append(np.full(sc.hot_probes, uniq[n_uniform]))
        ts_out.append(q)

    n_only = int(round(sc.entities * sc.probe_only_frac))
    if n_only:
        only = np.char.add("p", np.char.zfill(np.arange(n_only).astype(str), 6))
        q = BASE_US + (r.random((n_only, sc.probes_per_entity)) * 120 * DAY_US).astype(np.int64)
        ids_out.append(np.repeat(only, sc.probes_per_entity))
        ts_out.append(q.ravel())

    return pa.table(
        {
            "entity_id": pa.array(np.concatenate(ids_out), pa.string()),
            "query_ts": pa.array(np.concatenate(ts_out), TS_TYPE),
        }
    )


def _write_parts(table: pa.Table, out: Path, n_files: int) -> None:
    out.mkdir(parents=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, out / f"part-{i:05d}.parquet")


def ensure_inputs(cache_root: Path, workload: str, seed: int, sc: Scale) -> tuple[Path, bool]:
    """Generate (or reuse) the inputs of ``workload`` at ``seed``; returns
    the input directory (holding ``obs/`` and ``probes/``) and whether it
    was generated by this call.  The directory is published by an atomic
    rename, so an interrupted generation is never reused."""
    d = cache_root / f"{workload}-s{seed}-{sc.key()}"
    if (d / "obs").is_dir() and (d / "probes").is_dir():
        os.utime(d)
        return d, False
    tmp = cache_root / f".tmp-{d.name}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    obs = gen_observations(seed, sc)
    probes = gen_probes(seed, sc, obs)
    _write_parts(obs, tmp / "obs", OBS_FILES)
    _write_parts(probes, tmp / "probes", 2)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    entries = sorted((p for p in cache_root.iterdir() if not p.name.startswith(".")),
                     key=lambda p: p.stat().st_mtime)
    for old in entries[:-CACHE_ENTRIES]:
        shutil.rmtree(old, ignore_errors=True)
    return d, True
