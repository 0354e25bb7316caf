"""Streaming ingest: availableNow micro-batches produce the same per-clip
labels as the batch pipeline (modulo cross-batch dedup, which is
documented as a batch-job concern)."""

from __future__ import annotations

import pytest

from engine import config
from engine.operators import pipeline
from engine.streaming import stream_pipeline


@pytest.fixture(scope="module")
def stream_t1(spark, clips_t1, tmp_path_factory):
    """clips_t1 streamed through `start_stream` (availableNow); returns the
    stream's output dir, whose labels/ and scored/rule_version=*/ each
    hold one batch_id=* dir per micro-batch."""
    path, _, _ = clips_t1
    root = tmp_path_factory.mktemp("stream_t1")
    out = str(root / "stream_out")
    q = stream_pipeline.start_stream(
        spark, path, out, str(root / "ckpt"), available_now=True)
    q.awaitTermination(300)
    assert q.exception() is None
    return out


def test_stream_matches_batch_per_clip_rules(spark, clips_t1, stream_t1):
    path, _, _ = clips_t1
    got = (spark.read.parquet(f"{stream_t1}/labels")
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


def test_reconcile_corrects_cross_batch_dups_only(spark, clips_t1, stream_t1,
                                                  tmp_path):
    """Lambda-split closure: stream ingest (within-batch dedup only) then
    the reconcile job over the stream's scored rows -> corrected labels
    equal the pure-batch answer, every flip is duplicate-rule related
    (cross-batch dup pairs the stream could not see), and they form one
    flat table with at most one file per part_id; no cache outlives it."""
    import glob

    import jobs.reconcile_dups as rd
    from engine import schema
    from engine.streaming import reconcile

    path, _, _ = clips_t1
    out = str(tmp_path / "reconciled")
    n_flips, n_bad = rd.reconcile(spark, stream_t1, out)
    assert n_bad == 0
    # the flips were counted as the diff was written
    assert n_flips == spark.read.parquet(f"{out}/diff").count()

    # corrected == pure batch answer on keep/drop for every clip
    b = (spark.read.schema(schema.LABELS_SCHEMA).parquet(f"{out}/labels")
         .select("clip_id", "keep", "drop_reason").toPandas()
         .sort_values("clip_id").reset_index(drop=True))
    with pipeline.labeled(pipeline.read_clips(spark, path)) as labels:
        b2 = labels.select("clip_id", "keep", "drop_reason").toPandas() \
            .sort_values("clip_id").reset_index(drop=True)
    assert b.equals(b2)
    assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()
    # the labels come from the stream's scored rows: no Python crossing
    plan = (pipeline.label(reconcile.scored_batches(spark, stream_t1))
            ._jdf.queryExecution().executedPlan().toString())
    assert "MapInPandas" not in plan and "Python" not in plan

    # the stream wrote one directory per micro-batch; the corrected labels
    # are flat part_id dirs with at most one file each
    assert len(glob.glob(f"{stream_t1}/labels/batch_id=*")) > 1
    assert not glob.glob(f"{out}/labels/batch_id=*")
    part_dirs = glob.glob(f"{out}/labels/part_id=*")
    assert part_dirs
    for d in part_dirs:
        assert len(glob.glob(f"{d}/*.parquet")) == 1


def test_reconcile_refuses_non_dup_flip(spark, stream_t1, tmp_path):
    """A flip no dup rule explains is counted as unexplained, which makes
    the job exit non-zero.  Planted: one clip the stream dropped for a
    per-row rule is relabelled kept.  Per-row rules precede the dup rules
    in RULE_ORDER, so the batch answer drops it for the same reason and the
    flip cannot be dup-related."""
    import shutil

    from pyspark.sql import functions as F

    import jobs.reconcile_dups as rd
    from engine.streaming import reconcile

    stream = spark.read.parquet(f"{stream_t1}/labels")
    victim = (stream.where(~F.col("keep")
                           & ~F.col("drop_reason").isin(*reconcile.DUP_RULES))
              .agg(F.min("clip_id")).first()[0])
    assert victim is not None
    hit = F.col("clip_id") == victim
    tampered = str(tmp_path / "tampered")
    shutil.copytree(f"{stream_t1}/scored", f"{tampered}/scored")
    (stream
     .withColumn("keep", F.col("keep") | hit)
     .withColumn("drop_reason",
                 F.when(hit, F.lit(None)).otherwise(F.col("drop_reason")))
     .write.partitionBy("batch_id").parquet(f"{tampered}/labels"))

    out = str(tmp_path / "reconciled")
    _, n_bad = rd.reconcile(spark, tampered, out)
    assert n_bad == 1
    bad = (spark.read.parquet(f"{out}/diff").where(~F.col("dup_related"))
           .select("clip_id").collect())
    assert [r["clip_id"] for r in bad] == [victim]


def test_reconcile_refuses_batch_without_current_scored_rows(spark, stream_t1,
                                                           tmp_path):
    """A labels batch whose scored rows sit under another rule_version (a
    stream written by an older engine) is refused before any data is read
    or written, naming the batch: reconcile never mixes rule versions."""
    import os
    import shutil

    import jobs.reconcile_dups as rd

    stale = str(tmp_path / "stale")
    for sub in ("labels", "scored"):
        shutil.copytree(f"{stream_t1}/{sub}", f"{stale}/{sub}")
    current = stream_pipeline.scored_dir(stale)
    old = f"{stale}/scored/rule_version=0000000000000000"
    os.makedirs(old)
    os.rename(f"{current}/batch_id=1", f"{old}/batch_id=1")

    out = str(tmp_path / "reconciled")
    with pytest.raises(ValueError, match=r"labels batches \[1\] have no "
                                         r"scored batch at rule_version"):
        rd.reconcile(spark, stale, out)
    assert not os.path.exists(out)


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
