"""Streaming ingest: availableNow micro-batches produce the same per-clip
labels as the batch pipeline (modulo cross-batch dedup, which is
documented as a batch-job concern)."""

from __future__ import annotations

import contextlib

from engine import config
from engine.operators import pipeline
from engine.streaming import stream_pipeline


@contextlib.contextmanager
def _no_empty_batches(spark):
    """Disable no-data micro-batches for a query holding processing-time
    timeout state: with them enabled, availableNow never terminates — the
    engine schedules empty batches back-to-back until a TTL timer (1 h
    out) fires, so the test would silently burn its full awaitTermination
    cap instead of stopping (see jobs/stream_dup_monitor.py)."""
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    old = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def test_stream_matches_batch_per_clip_rules(spark, clips_t1, tmp_path):
    path, _, _ = clips_t1
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")

    q = stream_pipeline.start_stream(spark, path, out, ckpt,
                                     available_now=True)
    q.awaitTermination(300)

    got = (spark.read.parquet(f"{out}/labels")
           .toPandas().sort_values("clip_id").reset_index(drop=True))
    with pipeline.labeled(pipeline.read_clips(spark, path)) as labels:
        batch = labels.toPandas().sort_values("clip_id") \
            .reset_index(drop=True)

    assert len(got) == len(batch)
    # per-clip (non-dedup) rule columns must agree exactly
    dedup_rules = {config.RULE_EXACT_DUP, config.RULE_NEAR_DUP}
    for i in range(len(got)):
        g, b = got["rule_flags"].iloc[i], batch["rule_flags"].iloc[i]
        for rule in config.RULE_ORDER:
            if rule in dedup_rules:
                continue
            assert g[rule] == b[rule], (got["clip_id"].iloc[i], rule)
    assert (got["scrubbed_transcript"].fillna("!")
            == batch["scrubbed_transcript"].fillna("!")).all()

    # streaming dedup is a subset of batch dedup (within-batch only)
    g_dup = got.set_index("clip_id")["rule_flags"].map(
        lambda m: m[config.RULE_EXACT_DUP] or m[config.RULE_NEAR_DUP])
    b_dup = batch.set_index("clip_id")["rule_flags"].map(
        lambda m: m[config.RULE_EXACT_DUP] or m[config.RULE_NEAR_DUP])
    assert (~g_dup | b_dup.loc[g_dup.index]).all()


def test_windowed_watermark_stream_matches_batch(spark, tmp_path):
    """Event-time windows + watermark over a file stream (availableNow,
    in-order files) == the batch windowed aggregation."""
    from pyspark.sql import functions as F

    from engine.streaming import windowed

    src = str(tmp_path / "events_src")
    batch = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
             .orderBy("ts"))
    batch.coalesce(4).write.parquet(src)  # a few files, roughly time-ordered

    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (windowed.windowed_event_stats(stream)
         .writeStream.format("memory").queryName("win_stats")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)

    got = (spark.table("win_stats").toPandas()
           .sort_values(["window_start", "event_type"]).reset_index(drop=True))
    exp = (windowed.windowed_event_stats(spark.read.parquet(src))
           .toPandas()
           .sort_values(["window_start", "event_type"]).reset_index(drop=True))
    # append mode only emits FINALIZED windows; every emitted window must
    # match batch exactly, and most windows must have been finalized
    merged = got.merge(exp, on=["window_start", "event_type"],
                       suffixes=("_s", "_b"))
    assert len(merged) == len(got) and len(got) >= 0.8 * len(exp)
    assert (merged["n_events_s"] == merged["n_events_b"]).all()
    assert (abs(merged["value_sum_s"] - merged["value_sum_b"]) < 1e-6).all()


def test_windowed_watermark_finalization(spark, tmp_path):
    """Watermark semantics in append mode: a window is emitted exactly once
    and only after the watermark passes its end; a window the watermark has
    not passed is never emitted.  (Dropping data later than the watermark is
    best-effort in Spark, not guaranteed — so that is deliberately NOT
    asserted here.)"""
    import datetime as dt

    from pyspark.sql import types as T

    from engine.streaming import windowed

    schema = T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    src = tmp_path / "late_src"
    src.mkdir()

    def _write(name, rows, mtime):
        tbl = pa.table({
            "ts": pa.array([r[0] for r in rows], pa.timestamp("us")),
            "event_type": [r[1] for r in rows],
            "value": [r[2] for r in rows],
        })
        p = str(src / name)
        pq.write_table(tbl, p)
        os.utime(p, (mtime, mtime))

    # file 1 (older mtime): two events in hour-0, one far ahead (hour-3)
    # that advances the watermark beyond hour-0's end + 10min
    _write("a.parquet", [
        (t0 + dt.timedelta(minutes=5), "click", 1.0),
        (t0 + dt.timedelta(minutes=10), "click", 1.0),
        (t0 + dt.timedelta(hours=3), "view", 1.0),
    ], 1_000_000)
    # file 2 (newer mtime): a LATE hour-0 event (watermark already ~2:50)
    _write("b.parquet", [
        (t0 + dt.timedelta(minutes=20), "click", 1.0),
    ], 2_000_000)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .option("latestFirst", "false").parquet(str(src)))
    q = (windowed.windowed_event_stats(stream)
         .writeStream.format("memory").queryName("late_stats")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt2"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.table("late_stats").toPandas()
    # hour-0 click window: watermark (02:50) passed its end -> emitted
    # exactly once (merged count includes the best-effort-accepted late row)
    hour0 = got[(got["event_type"] == "click")]
    assert len(hour0) == 1 and int(hour0["n_events"].iloc[0]) in (2, 3)
    # hour-3 view window: watermark never passed 04:00 -> NOT finalized,
    # NOT emitted (no early finalization — the hard guarantee)
    assert got[(got["event_type"] == "view")].empty


def test_reconcile_corrects_cross_batch_dups_only(spark, clips_t1, tmp_path):
    """Lambda-split closure: stream ingest (within-batch dedup only) then
    batch reconcile -> corrected labels equal the pure-batch answer, and
    every flip is duplicate-rule related (cross-batch dup pairs the stream
    could not see).  Reconcile as jobs/reconcile_dups.py composes it:
    write the batch labels inside `pipeline.labeled`, diff what was
    written; no cache outlives it."""
    from engine import schema
    from engine.streaming import reconcile, stream_pipeline

    path, _, _ = clips_t1
    out = str(tmp_path / "stream_out")
    q = stream_pipeline.start_stream(
        spark, path, out, str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(300)
    stream_labels = spark.read.parquet(f"{out}/labels")

    corrected = str(tmp_path / "corrected")
    with pipeline.labeled(pipeline.read_clips(spark, path)) as labels:
        labels.write.partitionBy("part_id").parquet(corrected)
    batch = spark.read.schema(schema.LABELS_SCHEMA).parquet(corrected)
    d = reconcile.diff(batch, stream_labels).toPandas()
    assert d["dup_related"].all(), d[~d["dup_related"]].head()

    # corrected == pure batch answer on keep/drop for every clip
    b = batch.select("clip_id", "keep", "drop_reason").toPandas() \
        .sort_values("clip_id").reset_index(drop=True)
    with pipeline.labeled(pipeline.read_clips(spark, path)) as labels:
        b2 = labels.select("clip_id", "keep", "drop_reason").toPandas() \
            .sort_values("clip_id").reset_index(drop=True)
    assert b.equals(b2)
    assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()


def test_stream_dup_flags_cross_batch(spark, tmp_path):
    """Stateful cross-batch dedup: a checksum seen in an earlier
    micro-batch flags later occurrences (the within-batch-only limitation
    this operator removes); within a batch the smallest clip_id is
    canonical; null checksums never appear."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from engine.streaming import stateful

    src = tmp_path / "scored_src"
    src.mkdir()

    def _write(name, rows, mtime):
        tbl = pa.table({
            "clip_id": [r[0] for r in rows],
            "pcm_checksum": [r[1] for r in rows],
        })
        p = str(src / name)
        pq.write_table(tbl, p)
        import os
        os.utime(p, (mtime, mtime))

    # batch 1: ckA twice (within-batch dup), ckB once
    _write("a.parquet", [("c01", "ckA"), ("c02", "ckA"), ("c03", "ckB"),
                         ("c04", None)], 1_000_000)
    # batch 2: ckA again (cross-batch dup), ckC new
    _write("b.parquet", [("c05", "ckA"), ("c06", "ckC")], 2_000_000)

    stream = (spark.readStream
              .schema("clip_id string, pcm_checksum string")
              .option("maxFilesPerTrigger", 1)
              .option("latestFirst", "false").parquet(str(src)))
    with _no_empty_batches(spark):
        q = (stateful.stream_dup_flags(stream)
             .writeStream.format("memory").queryName("dup_flags")
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(300)
        assert not q.isActive  # terminated, didn't just hit the wait cap

    got = (spark.table("dup_flags").toPandas()
           .set_index("clip_id")["f_stream_dup"].to_dict())
    assert got == {"c01": False, "c02": True, "c03": False,
                   "c05": True, "c06": False}


def test_stream_neardup_flags_cross_batch(spark, tmp_path):
    """Cross-batch NEAR-dup state: a clip whose simhash is within
    SIMHAMMING of one seen in an EARLIER micro-batch gets flagged (the
    gap the round-2 lambda split left open); unrelated simhashes don't;
    zero simhashes (short texts) never participate; and the per-bucket
    state respects SIMHASH_BUCKET_CAP."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from engine import config, simhash_core
    from engine.streaming import stateful

    src = tmp_path / "scored_src"
    src.mkdir()

    base = simhash_core.simhash64("the quick brown fox jumps over a lazy dog")
    near = base ^ (1 << 5)   # hamming 1 -> near-dup
    far = base ^ 0xFFFF_FFFF  # hamming 32 -> shares upper bands, not near

    def row(cid, u):
        s = simhash_core.to_signed64(u)
        return (cid, s, *[int(v) for v in simhash_core.bands(u)])

    cols = ["clip_id", "simhash"] + [f"band{i}"
                                     for i in range(config.SIMHASH_BANDS)]

    def _write(name, rows, mtime):
        import os
        tbl = pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)},
                       schema=pa.schema([("clip_id", pa.string()),
                                         ("simhash", pa.int64())]
                                        + [(f"band{i}", pa.int32())
                                           for i in range(config.SIMHASH_BANDS)]))
        p = str(src / name)
        pq.write_table(tbl, p)
        os.utime(p, (mtime, mtime))

    _write("a.parquet", [row("c01", base), ("c00", 0, 0, 0, 0, 0)], 1_000_000)
    _write("b.parquet", [row("c02", near), row("c03", far)], 2_000_000)

    schema = ("clip_id string, simhash long, " +
              ", ".join(f"band{i} int" for i in range(config.SIMHASH_BANDS)))
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .option("latestFirst", "false").parquet(str(src)))
    with _no_empty_batches(spark):
        q = (stateful.stream_neardup_flags(stream)
             .writeStream.format("memory").queryName("neardup_flags")
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ckpt_nd"))
             .trigger(availableNow=True).start())
        q.awaitTermination(300)
        assert not q.isActive  # terminated, didn't just hit the wait cap

    pdf = spark.table("neardup_flags").toPandas()
    # consumer fold: clip-level flag = OR over that clip's band rows
    got = pdf.groupby("clip_id")["f_stream_neardup"].any().to_dict()
    assert got == {"c01": False, "c02": True, "c03": False}
    # zero-simhash clip excluded entirely; every clip emits <= N_BANDS rows
    assert "c00" not in set(pdf["clip_id"])
    assert pdf.groupby("clip_id").size().max() <= config.SIMHASH_BANDS


def test_neardup_state_bounded_by_bucket_cap():
    """The state updater never stores more than SIMHASH_BUCKET_CAP
    signatures per bucket, whatever arrives (skew guard = bounded store)."""
    import pandas as pd

    from engine import config
    from engine.streaming import stateful

    class FakeState:
        exists = False
        hasTimedOut = False

        def update(self, v):
            self.stored = v
            self.exists = True

        @property
        def get(self):
            return self.stored

        def setTimeoutDuration(self, ms):
            pass

    st = FakeState()
    n = config.SIMHASH_BUCKET_CAP + 50
    pdf = pd.DataFrame({"clip_id": [f"c{i:04d}" for i in range(n)],
                        "simhash": list(range(10_000, 10_000 + n))})
    out = list(stateful._neardup_update((2, 77), iter([pdf]), st))
    assert len(out[0]) == n  # every arrival still gets a verdict row
    assert len(st.stored[0]) == config.SIMHASH_BUCKET_CAP


def test_compact_labels_canonicalizes_stream_output(spark, clips_t1, tmp_path):
    """Compaction folds the per-batch label dirs into one partitioned
    table with the same rows, fewer files, and highest-batch-id wins on
    (hypothetical) duplicate clip_ids."""
    import glob

    import jobs.compact_labels as cl
    from engine.streaming import stream_pipeline

    path, _, _ = clips_t1
    out = str(tmp_path / "stream_out")
    q = stream_pipeline.start_stream(
        spark, path, out, str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(300)

    src = f"{out}/labels"
    before = spark.read.parquet(src)
    compacted = cl.compact(spark, src, str(tmp_path / "canonical"))

    assert compacted.count() == before.count()
    a = (before.select("clip_id", "keep", "drop_reason").toPandas()
         .sort_values("clip_id").reset_index(drop=True))
    b = (compacted.select("clip_id", "keep", "drop_reason").toPandas()
         .sort_values("clip_id").reset_index(drop=True))
    assert a.equals(b)
    # source: one directory per micro-batch; canonical: flat part_id dirs
    # with at most one file each (the compaction's whole point)
    assert len(glob.glob(f"{src}/batch_id=*")) > 1
    assert not glob.glob(str(tmp_path / "canonical") + "/batch_id=*")
    part_dirs = glob.glob(str(tmp_path / "canonical") + "/part_id=*")
    assert part_dirs
    for d in part_dirs:
        assert len(glob.glob(f"{d}/*.parquet")) == 1


def test_session_boundary(spark):
    """Pins the session-window boundary semantics the DuckDB oracle of
    `session_window_stats` relies on (engine/demo_queries.py): Spark
    MERGES touching session windows, so an event at exactly the gap after
    its predecessor stays in the SAME session; only a strictly larger gap
    splits.  (A round-2 advisory claimed end-exclusive splitting; this is
    the measured behavior.)"""
    from pyspark.sql import functions as F

    rows = [("u1", "2024-01-01 00:00:00"),  # base
            ("u1", "2024-01-01 00:30:00"),  # exactly gap -> SAME session
            ("u1", "2024-01-01 01:00:01")]  # gap + 1s    -> NEW session
    df = (spark.createDataFrame(rows, "user_id string, ts string")
          .withColumn("ts", F.to_timestamp("ts")))
    out = (df.groupBy("user_id",
                      F.session_window("ts", "30 minutes").alias("w"))
           .agg(F.count("*").alias("n"))
           .select("n").orderBy("n").collect())
    assert [r["n"] for r in out] == [1, 2]


def test_stream_dup_monitor_job(spark, clips_t1, tmp_path, monkeypatch):
    """End-to-end drive of jobs/stream_dup_monitor.py (in-process: the
    job's getOrCreate picks up the test session): scored batches stream
    in, the job folds band rows to one near-dup flag per clip and writes
    idempotent batch_id dirs."""
    import sys

    import jobs.stream_dup_monitor as mon
    from engine.operators import pipeline, scoring

    from pyspark.sql import functions as F

    path, _, _ = clips_t1
    scored_dir = str(tmp_path / "scored_stream")
    scored = scoring.score_clips(pipeline.read_clips(spark, path))
    scored.write.mode("overwrite").parquet(scored_dir)
    # inject guaranteed simhash dups as a LATER batch file: re-emit three
    # long-transcript rows under new (larger) clip_ids — identical simhash,
    # so each must flag against the first batch's state
    dups = (spark.read.parquet(scored_dir)
            .where(F.col("simhash") != 0).orderBy("clip_id").limit(3)
            .withColumn("clip_id", F.concat(F.lit("zz_"), F.col("clip_id"))))
    dup_ids = [r["clip_id"] for r in dups.select("clip_id").collect()]
    dups.coalesce(1).write.mode("append").parquet(scored_dir)
    out = str(tmp_path / "flags_out")

    monkeypatch.setattr(sys, "argv", [
        "stream_dup_monitor.py", "--input", scored_dir, "--output", out,
        "--available-now", "--max-files-per-trigger", "64"])
    # main() flips noDataMicroBatches off on the shared session; restore so
    # later watermark tests keep their flush batches
    old = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled",
                         "true")
    try:
        assert mon.main() == 0
    finally:
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", old)

    flags = spark.read.parquet(f"{out}/neardup").toPandas()
    assert len(flags) > 0
    assert flags["clip_id"].is_unique  # folded: one row per clip
    got = flags.set_index("clip_id")["f_stream_neardup"]
    assert got.loc[dup_ids].all()  # every injected dup flagged
    assert not got.all()


def test_neardup_saturated_bucket_skips_verify():
    """After a bucket saturates at SIMHASH_BUCKET_CAP, new arrivals get
    False without scanning (batch-path skip semantics): even an exact
    signature match is not flagged through a saturated bucket."""
    import pandas as pd

    from engine import config
    from engine.streaming import stateful

    class FakeState:
        exists = False
        hasTimedOut = False

        def update(self, v):
            self.stored = v
            self.exists = True

        @property
        def get(self):
            return self.stored

        def setTimeoutDuration(self, ms):
            pass

    st = FakeState()
    cap = config.SIMHASH_BUCKET_CAP
    pdf1 = pd.DataFrame({"clip_id": [f"a{i:05d}" for i in range(cap)],
                         "simhash": list(range(1, cap + 1))})
    list(stateful._neardup_update((0, 9), iter([pdf1]), st))
    assert len(st.stored[0]) == cap
    # next batch: exact copy of a stored signature -> saturated, so False
    pdf2 = pd.DataFrame({"clip_id": ["zz"], "simhash": [1]})
    out = list(stateful._neardup_update((0, 9), iter([pdf2]), st))[0]
    assert out["f_stream_neardup"].tolist() == [False]
    assert len(st.stored[0]) == cap  # state did not grow


def test_stream_dup_monitor_matches_batch_reconcile(spark, clips_t1, tmp_path,
                                                    monkeypatch):
    """Consumer contract at the JOB level (round-3 verdict item 7): when
    arrival order equals clip_id order, the monitor's folded per-clip
    flags must EQUAL the batch dedup answer — f_stream_dup (audio-checksum
    state) OR the near-dup band fold == dedup.with_dup_flags' f_NEAR_DUP,
    and every batch f_EXACT_DUP clip carries the stream audio flag.  The
    first-arrival vs min-clip_id split (stateful.py docstring) is exactly
    zero under this arrival order, so strict equality is the assertion."""
    import glob
    import shutil
    import sys

    import jobs.stream_dup_monitor as mon
    from engine import config
    from engine.operators import dedup, pipeline, scoring

    path, _, _ = clips_t1
    scored = scoring.score_clips(pipeline.read_clips(spark, path))
    staging = str(tmp_path / "staging")
    scored.coalesce(1).write.mode("overwrite").parquet(staging)
    full = spark.read.parquet(staging)

    # three micro-batch files, each a contiguous clip_id range, mtimes
    # increasing with the range -> maxFilesPerTrigger=1 streams them in
    # clip_id order (first-arrival == min clip_id)
    ids = sorted(r["clip_id"] for r in full.select("clip_id").collect())
    cuts = [ids[len(ids) // 3], ids[2 * len(ids) // 3]]
    src = tmp_path / "scored_stream"
    src.mkdir()
    from pyspark.sql import functions as F
    conds = [F.col("clip_id") < cuts[0],
             (F.col("clip_id") >= cuts[0]) & (F.col("clip_id") < cuts[1]),
             F.col("clip_id") >= cuts[1]]
    import os
    for i, cond in enumerate(conds):
        d = str(tmp_path / f"chunk{i}")
        full.where(cond).coalesce(1).write.mode("overwrite").parquet(d)
        part = glob.glob(f"{d}/part-*.parquet")[0]
        dst = str(src / f"{i:02d}.parquet")
        shutil.copyfile(part, dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))

    out = str(tmp_path / "flags_out")
    monkeypatch.setattr(sys, "argv", [
        "stream_dup_monitor.py", "--input", str(src), "--output", out,
        "--available-now", "--max-files-per-trigger", "1"])
    old = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled",
                         "true")
    try:
        assert mon.main() == 0
    finally:
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", old)

    exact = (spark.read.parquet(f"{out}/exact").toPandas()
             .set_index("clip_id")["f_stream_dup"])
    near = (spark.read.parquet(f"{out}/neardup").toPandas()
            .set_index("clip_id")["f_stream_neardup"])
    assert exact.index.is_unique and near.index.is_unique

    batch = (dedup.with_dup_flags(full)
             .select("clip_id", f"f_{config.RULE_EXACT_DUP}",
                     f"f_{config.RULE_NEAR_DUP}")
             .toPandas().set_index("clip_id"))
    # null-checksum clips are filtered before the exact-dup state (they can
    # never be audio dups); they rejoin here as False, like the batch side
    exact_all = exact.reindex(batch.index, fill_value=False)
    stream_near = exact_all | near.reindex(batch.index, fill_value=False)
    bn = batch[f"f_{config.RULE_NEAR_DUP}"]
    diff = stream_near != bn
    assert not diff.any(), \
        f"stream vs batch NEAR_DUP mismatch: {list(batch.index[diff])[:10]}"
    # batch exact dups (checksum+transcript) are a subset of audio dups
    be = batch[f"f_{config.RULE_EXACT_DUP}"]
    assert exact_all[be.index[be]].all()
    # the fixture actually plants dups: the assertion above is not vacuous
    assert bn.any()


def test_stream_dup_monitor_rejects_old_checkpoint_layout(tmp_path,
                                                          monkeypatch):
    """The monitor moved from one query (offset log at <ckpt>/offsets) to
    two per-store checkpoints (<ckpt>/exact, <ckpt>/neardup).  Reusing an
    old-layout checkpoint would silently reprocess from offset zero and
    interleave fresh batch_id dirs with stale ones, so main() must refuse
    it before starting any query."""
    import sys

    import pytest

    import jobs.stream_dup_monitor as mon

    ckpt = tmp_path / "ckpt"
    (ckpt / "offsets").mkdir(parents=True)
    monkeypatch.setattr(sys, "argv", [
        "stream_dup_monitor.py", "--input", str(tmp_path / "in"),
        "--output", str(tmp_path / "out"), "--checkpoint", str(ckpt),
        "--available-now"])
    with pytest.raises(SystemExit, match="pre-two-store"):
        mon.main()
