#!/usr/bin/env python
"""Driver bench: `python bench.py` prints ONE JSON line timing the fused
clips pass (best of 3, on a cached synthetic table of
$SPARK_GRAFT_BENCH_CLIPS clips, default 24000) plus every `queries()`
entry of `__spark_entry__.py` against $SPARK_GRAFT_SF_DIR.

The session runs at local[$SPARK_GRAFT_CPUS] (default: the CPUs this
process may use) with $SPARK_GRAFT_DRIVER_MEM of driver memory (default: a
quarter of MemAvailable).  It refuses to start a JVM whose driver memory
exceeds the RAM, or when an uncached table would not fit the temp dir.
First-touch probes before and after the run stamp `valid`.  The repo
benchmark is perfbench/, which imports this module's probe.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_SEED = 20260816
CHUNK = 4000  # fixture-generation chunk (keeps numpy arrays small)


BYTES_PER_CLIP = 45_000  # measured parquet footprint of the bench profile


def host_first_touch_gbps(mb: int = 256) -> float:
    """First-touch (page-fault) throughput probe, GB/s.  This VM's fault
    path intermittently collapses at the hypervisor level (round 5
    measured 0.02 GB/s single-process — 256 MB of fresh pages took 16 s —
    while warm-memory bandwidth stayed at 170 GB/s aggregate); when it
    does, every fresh allocation (JVM Arrow buffers, Python worker
    arrays) crawls and bench numbers are meaningless.  Healthy guests
    measure ~1-10+ GB/s.  Recorded in the bench JSON so a collapsed-host
    round is adjudicable from the artifact alone."""
    import numpy as np

    n = mb << 20
    t0 = time.time()
    a = np.empty(n, dtype=np.uint8)
    a[::4096] = 1  # touch every page
    return round(n / (time.time() - t0) / 1e9, 3)


def _split_bytes(cpus: int, n_clips: int) -> int:
    """Scan-split size targeting ~4 tasks per core: enough parallel slack
    for stragglers, large enough that per-task Arrow/Python-worker setup
    amortizes (4m fixed splits produced ~90-row scoring tasks whose fixed
    cost tripled the stage time)."""
    total = n_clips * BYTES_PER_CLIP
    return max(8 << 20, min(128 << 20, total // (4 * cpus)))


def _build_spark(cpus: int, n_clips: int, driver_mem: str):
    # importing engine pins one BLAS/OpenMP thread per Python UDF worker
    # (engine/__init__.py) before the JVM starts: with K concurrent
    # workers, default numpy thread pools (ncpus each) oversubscribe the
    # box K*ncpus-fold and *invert* scaling (local[32] measured 4x slower
    # than local[8] before the pin)
    from engine import session

    return session.get_or_create(f"spark-graft-bench-{cpus}", **{
        "spark.master": f"local[{cpus}]",
        "spark.sql.shuffle.partitions": cpus,
        "spark.default.parallelism": cpus,
        # the bench table is small (GBs); default 128m file-packing can
        # coalesce the scan into fewer tasks than cores, which a real
        # multi-TB table never hits — target ~4 scan splits per core
        "spark.sql.files.maxPartitionBytes": _split_bytes(cpus, n_clips),
        "spark.sql.files.openCostInBytes": "1m",
        "spark.driver.memory": driver_mem,
        "spark.ui.enabled": "false",
    })


GROUP = 12_000  # clips per append-write group (~0.5 GB of payload)


def _table_path(n_clips: int) -> str:
    """Where the bench clips table is cached, keyed by (n, seed, fixture
    version); it is complete once `_GEN_DONE` exists in it."""
    from engine import fixtures

    return os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_bench_clips_{n_clips}_{BENCH_SEED}"
        f"_v{fixtures.FIXTURES_VERSION}")


def _clips_table(spark, n_clips: int) -> str:
    """Deterministic bench clips table, cached on disk at `_table_path`.
    Written in append groups so driver memory stays bounded and each
    partition directory holds several files (the multi-file layout a real
    multi-TB table has)."""
    from engine import fixtures

    path = _table_path(n_clips)
    done = os.path.join(path, "_GEN_DONE")
    if not os.path.exists(done):
        import pandas as pd
        shutil.rmtree(path, ignore_errors=True)
        for gstart in range(0, n_clips, GROUP):
            chunks = []
            for start in range(gstart, min(gstart + GROUP, n_clips), CHUNK):
                n = min(CHUNK, n_clips - start)
                pd_chunk, _ = fixtures.generate_clips(
                    n, seed=BENCH_SEED + start, profile="bench",
                    start_index=start)
                chunks.append(pd_chunk)
            fixtures.write_clips_parquet(
                spark, pd.concat(chunks, ignore_index=True), path,
                mode="append")
        open(done, "w").write("ok")
    return path


def _time_clips_pipeline(spark, n_clips: int) -> dict:
    from engine.operators import pipeline

    path = _clips_table(spark, n_clips)
    clips = pipeline.read_clips(spark, path)
    n_rows = clips.count()  # warm file listing/footers outside the timed span
    t0 = time.time()
    with pipeline.labeled(clips) as labels:
        labels.write.format("noop").mode("overwrite").save()
    dt = time.time() - t0
    return {"sec": round(dt, 3), "rows": n_rows,
            "clips_per_sec": round(n_rows / dt, 1)}


FAULT_GBPS_HEALTHY = 0.5  # below this, wall-clock numbers are host noise


class HostError(RuntimeError):
    """The host cannot hold the run; the message says what to change."""


def meminfo() -> dict[str, int]:
    """/proc/meminfo in bytes."""
    with open("/proc/meminfo") as f:
        return {k: int(v.split()[0]) * 1024
                for k, v in (line.split(":", 1) for line in f)}


def default_driver_memory(ram_available: int) -> str:
    """A quarter of the free RAM, whole GiB, at least 1: perfbench's rule
    without its 4 GiB cap, since this table is larger."""
    return f"{max(1, ram_available // 4 // 2**30)}g"


def jvm_bytes(size: str) -> int:
    """A JVM size ("24g", "512m", "1024k"; a bare number is MiB, as Spark
    reads spark.driver.memory) in bytes."""
    s = size.strip().lower().removesuffix("b")
    units = {"k": 1, "m": 2, "g": 3, "t": 4}
    if s[-1:] in units:
        return int(s[:-1]) * 1024 ** units[s[-1]]
    return int(s) * 2**20


def check_host(driver_mem: str, ram_total: int,
               table_bytes: int, free_disk: int) -> None:
    """Raise HostError before the JVM starts when the driver memory exceeds
    the RAM or the bench table still to be written (`table_bytes`, 0 when
    cached) exceeds the temp dir's free space."""
    if jvm_bytes(driver_mem) > ram_total:
        raise HostError(
            f"driver memory {driver_mem} exceeds the host's "
            f"{ram_total / 2**30:.1f} GiB of RAM: lower SPARK_GRAFT_DRIVER_MEM"
            " or unset it to take a quarter of the free RAM")
    if table_bytes > free_disk:
        raise HostError(
            f"the bench table needs ~{table_bytes / 2**30:.1f} GiB but "
            f"{tempfile.gettempdir()} has {free_disk / 2**30:.1f} GiB free: "
            "lower SPARK_GRAFT_BENCH_CLIPS, free disk space, or point TMPDIR "
            "at a larger disk")


def run_default(cpus: int, sf_dir: str, n_clips: int, driver_mem: str) -> dict:
    fault_gbps = host_first_touch_gbps()
    spark = _build_spark(cpus, n_clips, driver_mem)
    import __spark_entry__ as entry_mod

    per_query: dict[str, float] = {}
    total = 0.0
    # best of 3, median and all runs recorded: the first pass pays JVM JIT
    # and Python-worker spin-up, and single runs swing >2x on a shared host
    fused_runs = [_time_clips_pipeline(spark, n_clips) for _ in range(3)]
    clips = min(fused_runs, key=lambda r: r["sec"])
    fused_secs = sorted(r["sec"] for r in fused_runs)
    per_query["clips_pipeline_fused"] = clips["sec"]
    total += clips["sec"]

    # the DuckDB twins' side parquets are shared fixture state, written once
    # (a no-op when fresh): timed apart, not charged to the first query
    t0 = time.time()
    entry_mod.warm_side_tables(spark, sf_dir)
    oracle_prep = round(time.time() - t0, 3)

    for name, fn in sorted(entry_mod.queries().items()):
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        per_query[name] = round(dt, 3)
        total += dt

    spark.stop()
    fault_end = host_first_touch_gbps()
    # the collapse hits mid-run, so one pre-run probe could pass poisoned
    # timings
    fault_min = min(fault_gbps, fault_end)
    valid = fault_min >= FAULT_GBPS_HEALTHY
    return {
        "metric": "fused clips quality-filter pass + full operator-inventory suite, wall sec",
        "value": round(total, 3),
        "unit": "sec",
        "queries": per_query,
        "oracle_prep_sec": oracle_prep,
        "sf": sf_dir,
        "cpus": cpus,
        "clips_bench": clips,
        "clips_fused_runs_sec": fused_secs,
        "clips_fused_median_sec": fused_secs[len(fused_secs) // 2],
        "clips_per_sec": clips["clips_per_sec"],
        "host_first_touch_gbps": fault_min,
        "host_first_touch_gbps_probes": [fault_gbps, fault_end],
        "valid": valid,
        "invalid_reason": None if valid else (
            f"host first-touch probe read {fault_min} GB/s, below "
            f"{FAULT_GBPS_HEALTHY}"),
    }


def main() -> int:
    if sys.argv[1:]:
        print("bench: takes no arguments; size the run with the "
              "SPARK_GRAFT_* variables in the module docstring",
              file=sys.stderr)
        return 2
    n_clips = int(os.environ.get("SPARK_GRAFT_BENCH_CLIPS", "24000"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS",
                              len(os.sched_getaffinity(0))))
    mem = meminfo()
    driver_mem = (os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                  or default_driver_memory(mem["MemAvailable"]))
    cached = os.path.exists(os.path.join(_table_path(n_clips), "_GEN_DONE"))
    try:
        check_host(driver_mem, mem["MemTotal"],
                   0 if cached else n_clips * BYTES_PER_CLIP,
                   shutil.disk_usage(tempfile.gettempdir()).free)
    except HostError as e:
        print(f"bench: {e}", file=sys.stderr)
        return 2
    print(json.dumps(run_default(cpus, sf_dir, n_clips, driver_mem)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
