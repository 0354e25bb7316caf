"""Benchmark inputs: seeded clips tables, their oracle labels, and the label check.

Every table is generated with `engine.fixtures` from the run's seed, in
chunks on a small process pool, and cached on disk under the work
directory keyed by (profile, codec mix, size, seed, fixtures version).
The oracle labels (`tests/oracle.py::label_clips`) are cached beside it.
Nothing here runs inside a timed span.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass
from multiprocessing import get_context

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

CHUNK = 250          # clips per generation chunk
LABEL_COLUMNS = ["clip_id", "keep", "drop_reason", "scrubbed_transcript"]


@dataclass(frozen=True)
class TableSpec:
    profile: str          # engine.fixtures.PROFILES key
    codec_mix: str        # "default" or "telephony"
    n_clips: int          # generated; those outside `parts` are dropped
    bytes_per_clip: int   # measured in-memory payload size, for the disk check
    parts: int = 64       # part_id values kept, of the engine's N_PARTS

    def key(self, seed: int) -> str:
        from engine import fixtures
        return (f"{self.profile}-{self.codec_mix}-{self.n_clips}-p{self.parts}"
                f"-s{seed}-v{fixtures.FIXTURES_VERSION}")


class ResourceError(RuntimeError):
    """The host cannot hold what the run needs; the message says what to do."""


def check_resources(need_disk: int, free_disk: int,
                    driver_mem: int, ram_total: int) -> None:
    if need_disk > free_disk:
        raise ResourceError(
            f"the input needs ~{need_disk / 2**30:.1f} GiB of disk but only "
            f"{free_disk / 2**30:.1f} GiB is free: free disk space or run "
            "a smaller workload")
    if driver_mem > ram_total:
        raise ResourceError(
            f"driver memory {driver_mem / 2**30:.1f} GiB exceeds the host's "
            f"{ram_total / 2**30:.1f} GiB of RAM: lower the driver memory")


def _chunk_seed(seed: int, index: int) -> int:
    return int(np.random.SeedSequence([seed, index]).generate_state(1)[0])


def _gen_chunk(spec: TableSpec, seed: int, index: int) -> pd.DataFrame:
    from engine import fixtures
    weights = (fixtures.TELEPHONY_CODEC_WEIGHTS
               if spec.codec_mix == "telephony" else None)
    n = min(CHUNK, spec.n_clips - index * CHUNK)
    # ids of chunk i start at i * 2 * CHUNK, leaving room for the planted
    # duplicate rows generate_clips appends after a chunk's own ids
    clips, _ = fixtures.generate_clips(
        n, seed=_chunk_seed(seed, index), profile=spec.profile,
        start_index=index * 2 * CHUNK, codec_weights=weights)
    return clips


def generate(spec: TableSpec, seed: int, workers: int) -> pd.DataFrame:
    """The clips frame for (spec, seed); identical for identical arguments."""
    n_chunks = -(-spec.n_clips // CHUNK)
    with ProcessPoolExecutor(max_workers=workers,
                             mp_context=get_context("spawn")) as pool:
        chunks = list(pool.map(_gen_chunk, [spec] * n_chunks,
                               [seed] * n_chunks, range(n_chunks)))
    return pd.concat(chunks, ignore_index=True)


def digest(clips: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for row in clips.itertuples(index=False):
        h.update(repr((row.clip_id, row.sr_hz, row.dur_ms, row.codec,
                       row.transcript)).encode())
        h.update(row.bytes if row.bytes is not None else b"\0")
    return h.hexdigest()


def _load_oracle():
    """tests/oracle.py, loaded by path: the repo's tests directory is not a
    package, and this benchmark's own tests directory must not shadow it."""
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "clip_oracle", os.path.join(ROOT, "tests", "oracle.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def oracle_labels(clips_path: str, out_path: str) -> None:
    """Run the pure-pandas oracle on the cached clips frame (subprocess)."""
    clips = pd.read_parquet(clips_path)
    labels = _load_oracle().label_clips(clips)[LABEL_COLUMNS]
    labels.to_parquet(out_path + ".tmp", index=False)
    os.replace(out_path + ".tmp", out_path)


@dataclass
class Table:
    path: str             # Spark-written partitioned clips table
    frame: str            # the generated pandas frame, as one parquet file
    n_rows: int
    digest: str
    oracle: pd.DataFrame  # LABEL_COLUMNS, sorted by clip_id
    generated: bool       # False when served from the cache


def stop_spark() -> None:
    """Stop the active session and the JVM pyspark launched for this
    process, and wait until the JVM has exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()     # the JVM exits when its stdin closes
        proc.wait(timeout=60)


_P1, _P2, _P3 = 11400714785074694791, 14029467366897019727, 1609587929392839161
_P4, _P5 = 9650029242287828579, 2870177450012600261
_M64 = 2**64 - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 of `data` as an unsigned 64-bit int: Spark's `xxhash64` of a
    string column (seed 42), reinterpreted as unsigned."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed,
             (seed - _P1) & _M64]
        while i + 32 <= n:
            for k in range(4):
                v[k] = _round(v[k], int.from_bytes(data[i:i + 8], "little"))
                i += 8
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= int.from_bytes(data[i:i + 4], "little") * _P1 & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    for b in data[i:]:
        h ^= b * _P5 & _M64
        h = _rotl(h, 11) * _P1 & _M64
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    return h ^ (h >> 32)


def part_ids(clip_ids) -> np.ndarray:
    """pmod(xxhash64(clip_id), N_PARTS), the engine's partitioner."""
    from engine import config
    return np.array([xxhash64(c.encode()) % config.N_PARTS for c in clip_ids],
                    dtype=np.int32)


def write_table(frame_path: str, table_path: str) -> None:
    """Write the partitioned clips table from the cached frame in the
    layout `fixtures.write_clips_parquet` gives (one snappy parquet file
    per `part_id=<n>` directory), without Spark: the benchmark's JVM then
    starts alike whether or not the table came from the cache, and no
    second JVM is started to write it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from engine import schema

    fields = [f.name for f in schema.CLIPS_SCHEMA.fields if f.name != "part_id"]
    frame = pq.read_table(frame_path, columns=fields)
    parts = part_ids(frame.column("clip_id").to_pylist())
    for part in np.unique(parts):
        d = os.path.join(table_path, f"part_id={part}")
        os.makedirs(d)
        pq.write_table(frame.filter(pa.array(parts == part)),
                       os.path.join(d, "part-00000.snappy.parquet"),
                       compression="snappy")
    open(os.path.join(table_path, "_SUCCESS"), "w").close()


def prepare(spec: TableSpec, seed: int, work: str, workers: int) -> Table:
    """Generate (or reuse) the table for `seed`, with its oracle labels."""
    base = os.path.join(work, "inputs", spec.key(seed))
    done = os.path.join(base, "_DONE")
    frame = os.path.join(base, "clips.parquet")
    table = os.path.join(base, "table")
    oracle_path = os.path.join(base, "oracle.parquet")
    generated = not os.path.exists(done)
    if generated:
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base)
        clips = generate(spec, seed, workers)
        clips = clips[part_ids(clips["clip_id"]) < spec.parts] \
            .reset_index(drop=True)
        clips.to_parquet(frame, index=False, row_group_size=CHUNK)
        # the oracle and the table write run side by side, each in a
        # process of its own; both finish before anything is timed
        with ProcessPoolExecutor(max_workers=2,
                                 mp_context=get_context("spawn")) as pool:
            futures = [pool.submit(oracle_labels, frame, oracle_path),
                       pool.submit(write_table, frame, table)]
            for fut in futures:
                fut.result()
        with open(os.path.join(base, "digest"), "w") as f:
            f.write(digest(clips))
        with open(done, "w") as f:
            f.write(str(len(clips)))
    with open(os.path.join(base, "digest")) as f:
        dig = f.read()
    oracle = pd.read_parquet(oracle_path).sort_values("clip_id") \
        .reset_index(drop=True)
    return Table(table, frame, len(oracle), dig, oracle, generated)


def read_labels(path: str) -> pd.DataFrame:
    """Engine labels written under `path` (any partition nesting)."""
    import pyarrow.dataset as ds
    dataset = ds.dataset(path, format="parquet", partitioning="hive",
                         exclude_invalid_files=True)
    return dataset.to_table(columns=LABEL_COLUMNS).to_pandas()


def mismatches(engine: pd.DataFrame, oracle: pd.DataFrame,
               allowed_reasons: tuple[str, ...] = ()) -> list[str]:
    """Clip ids whose (keep, drop_reason, scrubbed_transcript) differ from
    the oracle, or that are missing or extra.  A keep/drop_reason
    difference is allowed when either side's reason is in
    `allowed_reasons` (the stream's within-batch dedup)."""
    m = oracle.merge(engine, on="clip_id", how="outer",
                     suffixes=("_o", "_e"), indicator=True)
    bad = m["_merge"] != "both"
    reason_o = m["drop_reason_o"].fillna("<keep>")
    reason_e = m["drop_reason_e"].fillna("<keep>")
    verdict = (m["keep_o"] != m["keep_e"]) | (reason_o != reason_e)
    if allowed_reasons:
        verdict &= ~(reason_o.isin(allowed_reasons)
                     | reason_e.isin(allowed_reasons))
    scrub = (m["scrubbed_transcript_o"].fillna("<null>")
             != m["scrubbed_transcript_e"].fillna("<null>"))
    bad |= verdict | scrub
    return sorted(m.loc[bad, "clip_id"].tolist())
