"""Per-layer figures for a traced run.

Two sources, both from outside the engine:

* layer cuts: the fused pipeline's public functions composed one layer at
  a time on the workload's table, each forced by one Spark action inside
  its own span.  Scoring's self time is its cut minus the scan's; from the
  persist on, each layer reads the one below it from the cache, so its cut
  is its own time.  The Spark status stores give the bytes, rows and
  Python-worker times of each cut's SQL execution, and the lineage and
  stream cuts run those entry points once on the same table.
* the in-process core timings: each core batch function on one
  512-row batch drawn from the workload's table.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

from spans import sql_sum

MIB = 2**20
CORE_REPEATS = 3
CORE_ROWS = 512
STREAM_BATCHES = 4              # micro-batches the stream cut drains
LINEAGE_CUT_PARTS = 16          # one wave of run_checkpointed


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _sink(df, path: str) -> None:
    (df.repartition("part_id").write.mode("overwrite")
     .partitionBy("part_id").parquet(path))


def core_us_per_clip(frame_path: str, seed: int, rows: int) -> dict:
    """Median-of-3 microseconds per clip of each core batch function, on
    `rows` rows from randomly chosen row groups of the cached input."""
    from engine import (audio_core, config, lid_core, ppl_core, scrub_core,
                        simhash_core)
    from engine.operators import repair

    f = pq.ParquetFile(frame_path)
    order = np.random.default_rng(seed).permutation(f.num_row_groups)
    parts, n = [], 0
    for g in order:
        parts.append(f.read_row_group(int(g)).to_pandas())
        n += len(parts[-1])
        if n >= rows:
            break
    import pandas as pd
    pdf = pd.concat(parts, ignore_index=True).head(rows)
    payloads = pdf["bytes"].tolist()
    srs = [int(s) if pd.notna(s) else None for s in pdf["sr_hz"]]
    codecs = [config.canon_codec(c) for c in pdf["codec"]]
    durs = [int(d) if pd.notna(d) else None for d in pdf["dur_ms"]]

    def analyze():
        for p, sr, c in zip(payloads, srs, codecs):
            audio_core.analyze(p, sr, c)

    texts, _ = repair.repair_batch(pdf["transcript"].tolist(), durs)
    scrubbed, _, _ = scrub_core.scrub_batch(texts)
    langs, _ = lid_core.score_batch(scrubbed)
    calls = {
        "audio_core.analyze_us_per_clip": analyze,
        "repair.repair_batch_us_per_clip":
            lambda: repair.repair_batch(pdf["transcript"].tolist(), durs),
        "scrub_core.scrub_batch_us_per_clip":
            lambda: scrub_core.scrub_batch(texts),
        "lid_core.score_batch_us_per_clip":
            lambda: lid_core.score_batch(scrubbed),
        "ppl_core.perplexity_batch_us_per_clip":
            lambda: ppl_core.perplexity_batch(scrubbed, langs),
        "simhash_core.dedup_batch_us_per_clip":
            lambda: simhash_core.dedup_batch(scrubbed),
    }
    out = {}
    for name, fn in calls.items():
        times = []
        for _ in range(CORE_REPEATS):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        out[name] = statistics.median(times) / len(pdf) * 1e6
    return out


def _near_dups(path: str) -> int:
    from engine import config
    col = pq.read_table(path, columns=["rule_flags"]).column("rule_flags")
    return sum(1 for m in col.to_pylist()
               if dict(m).get(config.RULE_NEAR_DUP))


def _lineage_cut(spark, clips, out: str) -> dict:
    """One fresh lineage.run_checkpointed over `clips`, timed by its log
    callbacks."""
    from engine import lineage

    waves: list[float] = []
    t0 = time.perf_counter()
    lineage.run_checkpointed(spark, clips, out,
                             log=lambda msg: waves.append(time.perf_counter()))
    end = time.perf_counter()
    edges = [t0] + waves
    return {
        "lineage.stage_a_s": (edges[-1] - t0, "s"),
        "lineage.wave_s_p50": (statistics.median(
            b - a for a, b in zip(edges, edges[1:])), "s"),
        "lineage.stage_b_s": (end - edges[-1], "s"),
        "lineage.scored_mib_written": (_dir_bytes(os.path.join(out, "scored"))
                                       / MIB, "MiB"),
    }


def _stream_cut(spark, table_path: str, out: str) -> tuple[dict, str]:
    """One availableNow drain of the table through
    stream_pipeline.start_stream -> (figures, labels directory)."""
    from engine.streaming import stream_pipeline

    # one file per part_id directory
    n_files = sum(1 for d in os.listdir(table_path) if d.startswith("part_id="))
    q = stream_pipeline.start_stream(
        spark, table_path, os.path.join(out, "out"),
        os.path.join(out, "checkpoint"), available_now=True,
        max_files_per_trigger=-(-n_files // STREAM_BATCHES))
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"stream failed: {q.exception()}")
    progress = [p["durationMs"] for p in q.recentProgress
                if p["numInputRows"] > 0]
    figs = {f"stream_pipeline.{name}_ms_p50": (statistics.median(
        float(p.get(key, 0)) for p in progress), "ms")
        for name, key in (("batch", "triggerExecution"),
                          ("add_batch", "addBatch"),
                          ("query_planning", "queryPlanning"),
                          ("wal_commit", "walCommit"),
                          ("latest_offset", "latestOffset"))}
    return figs, os.path.join(out, "out", "labels")


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def measure(ctx, stores, setup_figs, unit_figs, traced_s, untraced_s,
            seed: int, work: str) -> tuple[dict, list[str]]:
    """-> ({name: (value, unit)} for every per-layer metric, clip ids whose
    labels from the sink, lineage or stream cut disagree with the oracle).

    `setup_figs` are the status-store figures of the last set-up, whose
    scoring pass started this session's Python workers."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    import inputs
    from engine.operators import decision, dedup, heuristics, pipeline, scoring
    from engine.streaming import reconcile

    spark, table, tracer = ctx.spark, ctx.table, ctx.tracer

    def cut(name, action):
        mark = stores.mark()
        t0 = time.perf_counter()
        with tracer.span(name):
            action()
        return time.perf_counter() - t0, stores.since(mark)

    def pinned(df):
        return df.persist(StorageLevel.MEMORY_AND_DISK)

    # each cut after scoring reads the one before it from the cache, so its
    # time is the layer's own
    clips = pipeline.read_clips(spark, table.path)
    scan_s, scan_f = cut("cut.sources", lambda: _noop(clips))
    score_s, score_f = cut("cut.scoring",
                           lambda: _noop(scoring.score_clips(clips)))
    scored = pinned(scoring.score_clips(clips))
    persist_s, _ = cut("cut.persist", scored.count)
    with_dups = pinned(dedup.with_dup_flags(
        heuristics.with_model_flags(heuristics.with_heuristic_flags(scored))))
    dedup_s, dedup_f = cut("cut.dedup", with_dups.count)
    labels = pinned(decision.to_labels(decision.with_decision(with_dups)))
    decision_s, _ = cut("cut.decision", labels.count)
    cuts_dir = os.path.join(work, "out", "layer_cuts")
    shutil.rmtree(cuts_dir, ignore_errors=True)
    sink_dir = os.path.join(cuts_dir, "sink")
    sink_s, sink_f = cut("cut.sink", lambda: _sink(labels, sink_dir))
    join_candidates = scored.where(F.col("simhash") != 0).count()
    spark.catalog.clearCache()

    with tracer.span("cut.lineage"):
        lineage_figs = _lineage_cut(
            spark, clips.where(F.col("part_id") < LINEAGE_CUT_PARTS),
            os.path.join(cuts_dir, "lineage"))
    with tracer.span("cut.stream"):
        stream_figs, stream_labels = _stream_cut(
            spark, table.path, os.path.join(cuts_dir, "stream"))
    bad = inputs.mismatches(inputs.read_labels(sink_dir), table.oracle)
    # the lineage cut labels 16 part_ids and dedups within them
    sliced = inputs.read_labels(os.path.join(cuts_dir, "lineage", "labels"))
    bad += inputs.mismatches(
        sliced, table.oracle[table.oracle["clip_id"].isin(sliced["clip_id"])],
        reconcile.DUP_RULES)
    # micro-batches dedup within a batch only: dup verdicts may differ
    bad += inputs.mismatches(inputs.read_labels(stream_labels), table.oracle,
                             reconcile.DUP_RULES)

    py = "MapInPandas"
    py_run = sql_sum(score_f, py, "time to run Python workers")
    cores = core_us_per_clip(table.frame, seed, CORE_ROWS)
    core_s = sum(cores.values()) * 1e-6 * table.n_rows

    def med(key):
        return statistics.median(f[key] for f in unit_figs)

    coverage = []
    spans = tracer.spans
    for idx, s in enumerate(spans):
        if s.name == "unit":
            kids = sum(c.duration for c in spans if c.parent == idx)
            coverage.append(kids / s.duration)

    figs = {
        "sources.scan_s": (scan_s, "s"),
        "sources.scan_mib": (sql_sum(scan_f, "Scan parquet",
                                     "size of files read") / MIB, "MiB"),
        "scoring.self_s": (score_s - scan_s, "s"),
        "scoring.py_run_s": (py_run, "s"),
        "scoring.py_start_s": (sql_sum(setup_figs, py,
                                       "time to start Python workers"), "s"),
        "scoring.py_init_s": (sql_sum(setup_figs, py,
                                      "time to initialize Python workers"),
                              "s"),
        "scoring.to_python_mib": (sql_sum(score_f, py,
                                          "data sent to Python workers")
                                  / MIB, "MiB"),
        "scoring.from_python_mib": (sql_sum(score_f, py,
                                            "data returned from Python workers")
                                    / MIB, "MiB"),
        "scoring.overhead_frac": (1 - core_s / py_run, "ratio"),
        **{k: (v, "us") for k, v in cores.items()},
        "pipeline.persist_s": (persist_s, "s"),
        "dedup.self_s": (dedup_s, "s"),
        "dedup.shuffle_mib": (dedup_f["shuffle_write_bytes"] / MIB, "MiB"),
        "dedup.join_candidates": (join_candidates, "count"),
        "dedup.near_dups": (_near_dups(sink_dir), "count"),
        "decision.self_s": (decision_s, "s"),
        "sink.write_s": (sink_s, "s"),
        "sink.mib_written": (sink_f["output_bytes"] / MIB, "MiB"),
        "sink.files_written": (sum(1 for _, _, fs in os.walk(sink_dir)
                                   for f in fs if f.endswith(".parquet")),
                               "count"),
        **lineage_figs,
        **stream_figs,
        "spark.jobs_per_pass": (med("jobs"), "count"),
        "spark.tasks": (med("tasks"), "count"),
        "spark.failed_tasks": (med("failed_tasks"), "count"),
        "spark.shuffle_mib": (med("shuffle_write_bytes") / MIB, "MiB"),
        "trace.overhead_frac": (statistics.median(traced_s)
                                / statistics.median(untraced_s) - 1, "ratio"),
        "trace.coverage": (statistics.median(coverage), "ratio"),
    }
    shutil.rmtree(cuts_dir, ignore_errors=True)
    return figs, sorted(set(bad))
