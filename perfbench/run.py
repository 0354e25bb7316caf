#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload batch_mixed --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run generates its input from the seed
with `engine.fixtures` (cached under `.perfbench_work/`), sets the session
up several times (`setup_s`), then drives the engine through its public
entry points in a closed loop for `--seconds`, checking every unit's labels
against `tests/oracle.py`.  With `--trace 0` the last stdout line carries
the end-to-end metrics; with `--trace 1` it carries the per-layer metrics
(see README.md).  The line before it is the full report, which is also
written to `.perfbench_work/reports/`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
REQUIRED = ("engine/operators/pipeline.py", "engine/lineage.py",
            "engine/streaming/stream_pipeline.py", "bench.py",
            "tests/oracle.py")

PR_SET_CHILD_SUBREAPER = 36    # linux/prctl.h
SETUP_ROUNDS = 3
RESUMES = 3               # resumes per job unit; the median is reported
QUIESCE_S = 1.0


def _fail(msg: str, code: int = 2) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return code


# ---- host --------------------------------------------------------------


def host_facts() -> dict:
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0]) * 1024
    return {"nproc": len(os.sched_getaffinity(0)),
            "ram_total_bytes": mem["MemTotal"],
            "ram_available_bytes": mem["MemAvailable"],
            "disk_free_bytes": shutil.disk_usage(ROOT).free}


def driver_memory_gib(ram_available: int) -> int:
    """A quarter of the free RAM, whole GiB, between 1 and 4."""
    return max(1, min(4, ram_available // 4 // 2**30))


def _descendants() -> dict[int, list[str]]:
    """pid -> the /proc/<pid>/stat fields after the command name, for every
    process below this one (the driver JVM and its Python workers)."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        stats[int(name)] = fields
        children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = {}, list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        out[pid] = stats[pid]
    return out


def adopt_orphans() -> None:
    """Make this process the reaper of every process below it: one whose
    parent exits first (the JVM's Python workers, the shell spark-class
    leaves behind, multiprocessing's resource tracker) is re-parented here,
    so that `reap_children` can wait for it."""
    import ctypes
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap_children(grace_s: float = 20.0) -> None:
    """Stop multiprocessing's resource tracker, give every other process
    below this one `grace_s` to exit, kill what is left, and reap them all:
    nothing this run started outlives it."""
    from multiprocessing import resource_tracker
    resource_tracker._resource_tracker._stop()
    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return            # no child left, live or exited
        if time.monotonic() > deadline:
            for pid in _descendants():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def tree_cpu_s() -> float:
    """User plus system CPU seconds of every process below this one,
    including the children they have reaped."""
    # utime, stime, cutime and cstime are stat fields 14-17
    ticks = sum(sum(int(v) for v in f[11:15])
                for f in _descendants().values())
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak resident memory of every process below this one, sampled every
    200 ms while running.  Each process counts its proportional share (Pss)
    of the pages it shares, so forked Python workers are not counted once
    per fork."""

    def __init__(self):
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_rss(self) -> int:
        total = 0
        for pid in _descendants():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _loop(self):
        while not self._stop.wait(0.2):
            rss = self._tree_rss()
            with self._lock:
                self._peak = max(self._peak, rss)

    def take_peak(self) -> int:
        """The peak since the last call (or since the start)."""
        rss = self._tree_rss()
        with self._lock:
            peak, self._peak = max(self._peak, rss), rss
        return peak

    def __enter__(self):
        self._peak = self._tree_rss()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# ---- session -----------------------------------------------------------


def build_session(nproc: int, driver_gib: int):
    from pyspark.sql import SparkSession

    from engine import config

    tmp = os.path.join(WORK, "tmp")
    return (SparkSession.builder.master(f"local[{nproc}]")
            .appName("perfbench")
            # the session settings jobs/run_pipeline.py ships
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                    str(config.ARROW_MAX_RECORDS_PER_BATCH))
            # host sizing, and every temporary file inside the work directory
            .config("spark.driver.memory", f"{driver_gib}g")
            .config("spark.local.dir", os.path.join(tmp, "spark-local"))
            .config("spark.driver.extraJavaOptions",
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate())


# ---- statistics --------------------------------------------------------


def summary(values: list[float]) -> dict:
    vals = sorted(values)
    if len(vals) >= 2:
        q1, med, q3 = statistics.quantiles(vals, n=4)
    else:
        q1 = med = q3 = vals[0]
    return {"n": len(vals), "median": statistics.median(vals), "q1": q1,
            "q3": q3, "min": vals[0], "max": vals[-1], "values": values}


# ---- units -------------------------------------------------------------


def quiesce(spark) -> None:
    """A full GC in the driver JVM, then a pause, before a timed step: the
    garbage of the steps before it and the JIT compiles they queued are
    not charged to it."""
    spark.sparkContext._jvm.System.gc()
    time.sleep(QUIESCE_S)


class Unit:
    """What one closed-loop unit of work produced: wall and CPU seconds of
    the pass (or the fresh job) and of bringing its output up to date
    again (the resume)."""

    def __init__(self):
        self.seconds = self.cpu_s = 0.0
        self.resume_s = self.resume_cpu_s = 0.0
        self.labels_path = ""


def batch_unit(ctx, out: str) -> Unit:
    """One in-memory fused pass, `run_pipeline` -> labels parquet."""
    from engine.operators import pipeline

    u = Unit()
    t = ctx.tracer
    c0, t0 = tree_cpu_s(), time.perf_counter()
    with t.span("unit"):
        with t.span("sources.read_clips"):
            clips = pipeline.read_clips(ctx.spark, ctx.table.path)
        with t.span("pipeline.run_pipeline"):
            labels = pipeline.run_pipeline(clips)
        with t.span("sink.write"):
            labels.write.mode("overwrite").parquet(out)
    u.seconds, u.cpu_s = time.perf_counter() - t0, tree_cpu_s() - c0
    # no checkpoint: bringing the output up to date again is a full pass
    u.resume_s, u.resume_cpu_s = u.seconds, u.cpu_s
    u.labels_path = out
    return u


def job_unit(ctx, out: str) -> Unit:
    """`run_checkpointed` into a fresh directory, then `RESUMES` times
    again on the committed output (the resume path: Stage B only), whose
    median is the resume's figure."""
    from engine import lineage
    from engine.operators import pipeline

    u = Unit()
    t = ctx.tracer
    c0, t0 = tree_cpu_s(), time.perf_counter()
    with t.span("unit"):
        with t.span("sources.read_clips"):
            clips = pipeline.read_clips(ctx.spark, ctx.table.path)
        with t.span("lineage.run_checkpointed"):
            lineage.run_checkpointed(ctx.spark, clips, out,
                                     log=lambda msg: None)
    u.seconds, u.cpu_s = time.perf_counter() - t0, tree_cpu_s() - c0
    resumes = []
    for _ in range(RESUMES):
        quiesce(ctx.spark)
        c1, t1 = tree_cpu_s(), time.perf_counter()
        with t.span("lineage.resume"):
            lineage.run_checkpointed(ctx.spark, clips, out,
                                     log=lambda msg: None)
        resumes.append((time.perf_counter() - t1, tree_cpu_s() - c1))
    u.resume_s = statistics.median(r[0] for r in resumes)
    u.resume_cpu_s = statistics.median(r[1] for r in resumes)
    u.labels_path = os.path.join(out, "labels")
    return u


def batch_warmup(ctx, clips, out: str) -> None:
    """The in-memory fused pass on `clips`, labels written."""
    from engine.operators import pipeline

    pipeline.run_pipeline(clips).write.mode("overwrite").parquet(out)


def job_warmup(ctx, clips, out: str) -> None:
    """The checkpointed path on `clips`: waves, Stage B and the lineage
    write."""
    from engine import lineage

    lineage.run_checkpointed(ctx.spark, clips, out, log=lambda msg: None)


# ---- workloads ---------------------------------------------------------


def workloads():
    """name -> (input table, timed unit, warm-up of a traced run)."""
    from inputs import TableSpec

    return {
        "batch_mixed": (TableSpec("bench", "default", 3000, 50_000),
                        batch_unit, batch_warmup),
        # half the part_ids: the checkpointed job runs two waves of 16
        "job_telephony": (TableSpec("fixtures", "telephony", 800, 125_000,
                                    parts=32), job_unit, job_warmup),
    }


class Context:
    def __init__(self, spark, table, tracer):
        self.spark, self.table, self.tracer = spark, table, tracer


def setup(nproc: int, driver_gib: int, table_path: str) -> float:
    """One set-up: a new session on the running JVM, the input opened, and
    the scoring UDF run over one partition per core, so that every Python
    worker has started and loaded its models."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from engine.operators import pipeline, scoring

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    t0 = time.perf_counter()
    spark = build_session(nproc, driver_gib)
    clips = pipeline.read_clips(spark, table_path)
    clips.count()
    warm = clips.where(F.col("part_id") < nproc)
    scoring.score_clips(warm).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        return _fail(f"run from a full checkout: missing {', '.join(missing)}")
    table_of = workloads()
    if args.workload not in table_of:
        return _fail(f"unknown workload {args.workload!r}; "
                     f"choose from {sorted(table_of)}")
    # temporary files of Python, Spark and its workers stay in the checkout
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import inputs
    adopt_orphans()
    try:
        return run(args)
    except inputs.ResourceError as e:
        return _fail(str(e))
    finally:
        try:
            inputs.stop_spark()
        finally:
            reap_children()


def run(args) -> int:
    import bench
    import inputs
    import layers
    from spans import Ledger, SparkStores, Tracer

    spec, unit_fn, warmup_fn = workloads()[args.workload]
    host = host_facts()
    nproc = host["nproc"]
    driver_gib = driver_memory_gib(host["ram_available_bytes"])
    inputs.check_resources(3 * spec.n_clips * spec.bytes_per_clip,
                           host["disk_free_bytes"], driver_gib * 2**30,
                           host["ram_total_bytes"])

    t_run = time.perf_counter()
    probes = [bench.host_first_touch_gbps()]

    def prepare():
        t0 = time.perf_counter()
        return (inputs.prepare(spec, args.seed, WORK, nproc),
                time.perf_counter() - t0)

    # the JVM starts while the input is generated: both are up before the
    # first timed set-up
    with ThreadPoolExecutor(1) as pool:
        prepared = pool.submit(prepare)
        build_session(nproc, driver_gib)
        table, input_s = prepared.result()
    out_root = os.path.join(WORK, "out", args.workload)
    shutil.rmtree(out_root, ignore_errors=True)
    setup_s = [setup(nproc, driver_gib, table.path)
               for _ in range(SETUP_ROUNDS)]

    from pyspark.sql import SparkSession

    from engine import audio_core, config

    spark = SparkSession.getActiveSession()
    tracer = Tracer(f"{args.workload}-s{args.seed}", enabled=False)
    stores = SparkStores(spark) if args.trace else None
    # everything this session ran so far is the last set-up
    setup_figs = stores.since(Ledger()) if args.trace else None
    ctx = Context(spark, table, tracer)

    # the first pass in a JVM pays JIT for the dedup, decision and sink code
    # that the set-ups do not run, as the shipped one-pass job does.  A
    # traced run compares a plain and a traced unit, so neither may pay it:
    # there the unit's path runs once, untimed, over one part_id per core
    t0 = time.perf_counter()
    if args.trace:
        from pyspark.sql import functions as F

        from engine.operators import pipeline
        clips = pipeline.read_clips(spark, table.path)
        warmup_fn(ctx, clips.where(F.col("part_id") < nproc),
                  os.path.join(out_root, "warmup"))
        spark.catalog.clearCache()
    warmup_s = time.perf_counter() - t0

    units, failed_units, traced_s, untraced_s, unit_figs = [], [], [], [], []
    mismatch_ids: list[str] = []
    unit_peaks: list[int] = []
    t_start = time.perf_counter()
    with RssSampler() as rss:
        i = 0
        # a traced run needs one plain and one traced unit at least
        while i < 1 + args.trace or \
                time.perf_counter() - t_start < args.seconds:
            out = os.path.join(out_root, f"u{i}")
            # traced runs alternate plain and traced units: the plain ones
            # give the tracing overhead
            traced = bool(args.trace) and i % 2 == 1
            tracer.enabled = traced
            mark = stores.mark() if traced else None
            quiesce(spark)
            try:
                u = unit_fn(ctx, out)
            except Exception:
                traceback.print_exc()
                failed_units.append(i)
                i += 1
                continue
            finally:
                spark.catalog.clearCache()
            if traced:
                unit_figs.append(stores.since(mark))
                if unit_figs[-1]["failed_tasks"]:
                    failed_units.append(i)
            bad = inputs.mismatches(inputs.read_labels(u.labels_path),
                                    table.oracle)
            if bad:
                failed_units.append(i)
                mismatch_ids = mismatch_ids or bad[:10]
                print(f"perfbench: unit {i} label mismatch, first clip ids "
                      f"{bad[:10]}", file=sys.stderr)
            units.append(u)
            unit_peaks.append(rss.take_peak())
            (traced_s if traced else untraced_s).append(u.seconds)
            shutil.rmtree(out, ignore_errors=True)
            i += 1
    # a traced run's layer cuts count as one more attempted operation
    attempted = i + args.trace
    probes.append(bench.host_first_touch_gbps())

    if not units:
        return _fail(f"all {attempted} units failed", code=1)
    layer_figs = {}
    if args.trace and traced_s and untraced_s:
        tracer.enabled = True
        layer_figs, layer_mismatch = layers.measure(
            ctx, stores, setup_figs, unit_figs, traced_s, untraced_s,
            args.seed, WORK)
        if layer_mismatch:
            failed_units.append("layer cuts")
            mismatch_ids = mismatch_ids or layer_mismatch[:10]

    seconds = [u.seconds for u in units]
    resume_s = [u.resume_s for u in units]
    cpu_s = [u.cpu_s for u in units]
    resume_cpu_s = [u.resume_cpu_s for u in units]
    e2e = {
        "setup_s": (statistics.median(setup_s), "s"),
        "cpu_ms_per_clip": (statistics.median(cpu_s) / table.n_rows * 1e3,
                            "ms"),
        "resume_cpu_s": (statistics.median(resume_cpu_s), "s"),
    }
    # reported but not bounded: on a shared host wall time drifts with the
    # neighbours' load, and one peak per run varies with GC timing (see
    # README.md)
    unbounded = {"clips_per_s": table.n_rows / statistics.median(seconds),
                 "resume_s": statistics.median(resume_s),
                 "peak_rss_mb": statistics.median(unit_peaks) / 2**20}
    failed = len(set(failed_units))
    valid = min(probes) >= bench.FAULT_GBPS_HEALTHY
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "valid": valid,
        "invalid_reason": None if valid else (
            f"host first-touch probe read {min(probes)} GB/s, below "
            f"{bench.FAULT_GBPS_HEALTHY}"),
        "host_first_touch_gbps": probes,
        "host": host, "driver_memory_gib": driver_gib,
        "spark_conf": dict(spark.sparkContext.getConf().getAll()),
        "audio_backends": dict(audio_core.AVAILABLE_BACKENDS),
        "rule_version": config.rule_version(),
        "input": {"rows": table.n_rows, "digest": table.digest,
                  "generated_this_run": table.generated,
                  "spec": spec.__dict__},
        "attempted": attempted, "failed": failed,
        "failed_frac": failed / attempted,
        "first_mismatch_clip_ids": mismatch_ids,
        "input_s": input_s, "warmup_s": warmup_s,
        "wall_s": time.perf_counter() - t_run,
        "runs": {"setup_s": summary(setup_s),
                 "unit_s": summary(seconds),
                 "resume_s": summary(resume_s),
                 "unit_cpu_s": summary(cpu_s),
                 "resume_cpu_s": summary(resume_cpu_s),
                 "peak_rss_mb": summary([p / 2**20 for p in unit_peaks])},
        "metrics": {k: v for k, (v, _) in e2e.items()},
        "unbounded": unbounded,
        "layers": {k: v for k, (v, _) in layer_figs.items()},
        "spans": tracer.to_list(),
    }

    if args.trace and not layer_figs:
        return _fail("the traced run needs one plain and one traced unit "
                     "that succeeded", code=1)
    shown = layer_figs if args.trace else e2e
    os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
    with open(os.path.join(WORK, "reports", f"{args.workload}-s{args.seed}"
                           f"-t{args.trace}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    print(json.dumps(report, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed,
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (v, u) in shown.items()}}))
    return 0


if __name__ == "__main__":
    sys.path.insert(1, ROOT)
    sys.exit(main())
