"""Physical-plan assertions (SURVEY §7.7): broadcasts actually broadcast,
filters reach the scan, the payload column never travels past the scoring
UDF, and the fused pass keeps exactly one Python crossing."""

from __future__ import annotations

from pyspark.sql import functions as F

from engine.operators import dedup, heuristics, pipeline, scoring


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_dim_join_is_broadcast(spark):
    import __spark_entry__ as entrymod

    df = entrymod.queries()["join_broadcast_dim"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_filter_pushdown_reaches_scan(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    df = li.where(F.col("l_quantity") > 30).select("l_orderkey")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]" \
        in plan or "GreaterThan(l_quantity,30.0)" in plan
    # column pruning: scan must read only the two needed columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_scoring_consumes_bytes(spark, clips_t1):
    """`bytes` must not appear downstream of the scoring UDF."""
    path, _, _ = clips_t1
    clips = pipeline.read_clips(spark, path)
    scored = scoring.score_clips(clips)
    assert "bytes" not in scored.columns
    labels = pipeline.label(scored)
    assert "bytes" not in labels.columns


def test_single_python_crossing_before_dedup(spark, clips_t1):
    """Scoring stage = exactly one MapInPandas (fused UDF)."""
    path, _, _ = clips_t1
    clips = pipeline.read_clips(spark, path)
    scored = scoring.score_clips(clips)
    flagged = heuristics.with_model_flags(heuristics.with_heuristic_flags(scored))
    assert _plan(flagged).count("MapInPandas") == 1
    # heuristic flags are JVM-side: no extra python eval operators
    assert "BatchEvalPython" not in _plan(flagged)
    assert "ArrowEvalPython" not in _plan(flagged)


def test_no_case_mapping_after_scoring(spark, clips_t1):
    """The codec is canonicalized once, in the scoring UDF: the flag pass
    runs no JVM case mapping, whose first call in a JVM initializes ICU's
    collation support (seconds of CPU per job)."""
    path, _, _ = clips_t1
    clips = pipeline.read_clips(spark, path)
    flagged = heuristics.with_heuristic_flags(scoring.score_clips(clips))
    analyzed = flagged._jdf.queryExecution().analyzed().toString()
    for fn in ("lower(", "upper(", "initcap("):
        assert fn not in analyzed, fn


def test_repair_fused_no_extra_stage(spark, clips_t1):
    """Repair-then-rescore is fused into the scoring UDF: it must add NO
    Python crossing, join, union, or pinned repartition to the fused pass
    (round 2 shipped a branch-union design with a hard-coded
    `repartition(8)` — the repo's one named scale wart; this pins its
    absence)."""
    path, _, _ = clips_t1
    clips = pipeline.read_clips(spark, path)
    scored = scoring.score_clips(clips)
    assert "repaired" in scored.columns  # lineage emitted by the fused UDF
    plan = _plan(pipeline.label(scored))
    assert "RoundRobinPartitioning(8" not in plan
    assert "Union" not in plan
    # no second Python stage shape: every MapInPandas occurrence is the one
    # fused scoring UDF subtree (re-referenced by the dedup branches), so
    # the count matches the scan count exactly
    assert plan.count("MapInPandas") == plan.count("Scan parquet")


def test_dedup_windows_share_one_exchange(spark, clips_t1):
    """Audio-key window partitioning must satisfy the exact-dup window's
    clustering: one exchange for both windows, not two."""
    path, _, _ = clips_t1
    clips = pipeline.read_clips(spark, path)
    scored = scoring.score_clips(clips).persist()
    out = dedup.with_dup_flags(scored)
    plan = _plan(out)
    # exchanges: one for the window pair, plus the band-join distribution
    n_window_exchanges = plan.count("hashpartitioning(pcm_checksum")
    assert n_window_exchanges == 1, plan[:2000]
    scored.unpersist()


def test_partition_pruning_on_part_id(spark, clips_t1):
    path, _, _ = clips_t1
    clips = pipeline.read_clips(spark, path)
    pruned = clips.where(F.col("part_id") == 3)
    plan = _plan(pruned)
    assert "PartitionFilters: [isnotnull(part_id" in plan
    assert "= 3)" in plan
    # the predicate must be a partition filter, not a post-scan data filter
    assert "DataFilters: []" in plan


def test_report_aggregates_partially_below_one_lang_exchange(spark,
                                                            tmp_path):
    """The corpus report aggregates its algebraic measures in one phase:
    Spark's partial aggregate runs map-side below the single `lang`
    Exchange (that bounds the head language's reducer), no salt key is
    added, and the only other Exchange is the orderBy's range partitioning.
    """
    import re

    from engine import schema
    from engine.operators import evaluation

    path = str(tmp_path / "labels")
    spark.createDataFrame([], schema.LABELS_SCHEMA).write.parquet(path)
    labels = spark.read.schema(schema.LABELS_SCHEMA).parquet(path)
    plan = _plan(evaluation.corpus_report(labels))
    assert "_salt" not in plan
    assert plan.count("Exchange ") == 2, plan
    assert plan.count("Exchange hashpartitioning(lang#") == 1, plan
    assert "Exchange rangepartitioning(lang#" in plan
    below = plan.split("Exchange hashpartitioning(lang#", 1)[1]
    assert re.search(r"HashAggregate\(keys=\[lang#\d+\], "
                     r"functions=\[partial_count\(1\)", below), plan


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """Bucketing demo (SURVEY §4.2 co-located joins): two tables bucketed
    by the join key merge-join WITHOUT an Exchange.  At 10^12 scale this is
    how labels re-join clips (both bucketed by clip_id) shuffle-free."""
    from pyspark.sql import functions as F

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.sql("DROP TABLE IF EXISTS bk_a")
    spark.sql("DROP TABLE IF EXISTS bk_b")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a = spark.range(1000).select(F.col("id").alias("k"),
                                     (F.col("id") * 2).alias("va"))
        b = spark.range(1000).select(F.col("id").alias("k"),
                                     (F.col("id") * 3).alias("vb"))
        a.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bk_a")
        b.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bk_b")
        j = spark.table("bk_a").join(spark.table("bk_b"), "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert j.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bk_a")
        spark.sql("DROP TABLE IF EXISTS bk_b")


def test_jaccard_self_join_keyed_by_band(spark):
    """Scale shape of the Jaccard dedup: the self-join must be keyed by the
    MinHash band bucket (hash-valued, bounded width), never by `source`
    (a hot source would make the block quadratic)."""
    from engine import demo_text_queries

    df = demo_text_queries.q_dedup_ngram_jaccard(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "band_key" in plan
    # column pruning proves `source` never participates: no scan reads it
    assert "source" not in plan.split("ReadSchema:", 1)[1]


def test_lsh_plane_count_scales_with_corpus(spark):
    """Adaptive LSH: plane count grows with row count (clamped to
    [MIN_PLANES, MAX_PLANES]) and the integer bit-length derivation is
    engine-exact (same expression string feeds the DuckDB oracle)."""
    from engine import demo_sim_queries as sq

    rows = [(100,), (4096,), (65536,), (10**9,), (10**15,)]
    got = (spark.createDataFrame(rows, "_n long")
           .select(F.expr(sq._N_PLANES_EXPR).alias("np"))
           .toPandas()["np"].tolist())
    assert got == [4, 4, 8, 16, 16]  # 65536/256=256 -> 8 planes; clamps hold


def test_engine_import_pins_blas_pools():
    """Architecture invariant: `import engine` pins the BLAS/OpenMP pools
    to one thread per process (setdefault), so an executor Python worker
    that first touches numpy through the engine never spawns an
    ncpus-wide pool under K concurrent workers.  A fresh interpreter is
    required — this test process imported engine long ago."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c",
         "import os\n"
         "for v in ('OMP_NUM_THREADS', 'OPENBLAS_NUM_THREADS',\n"
         "          'MKL_NUM_THREADS', 'NUMEXPR_NUM_THREADS'):\n"
         "    os.environ.pop(v, None)\n"
         "import engine\n"
         "print(','.join(os.environ[v] for v in\n"
         "      ('OMP_NUM_THREADS', 'OPENBLAS_NUM_THREADS',\n"
         "       'MKL_NUM_THREADS', 'NUMEXPR_NUM_THREADS')))\n"],
        capture_output=True, text=True, check=True, cwd=repo)
    assert out.stdout.strip() == "1,1,1,1"

    # setdefault, not overwrite: an explicit operator choice survives
    out2 = subprocess.run(
        [sys.executable, "-c",
         "import os; os.environ['OMP_NUM_THREADS'] = '4'\n"
         "import engine\n"
         "print(os.environ['OMP_NUM_THREADS'])"],
        capture_output=True, text=True, check=True, cwd=repo)
    assert out2.stdout.strip() == "4"


def test_engine_import_sets_jit_policy():
    """`import engine` appends the JIT policy (engine.JIT_POLICY) to
    SPARK_SUBMIT_OPTS, which pyspark's launcher puts on the command line of
    the driver JVM it starts.  Whatever else the operator put there is
    kept, and an operator's own tier flag wins: the policy is then not
    appended.  Each case needs a fresh interpreter."""
    import os
    import subprocess
    import sys

    import engine

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def opts_after_import(operator_opts):
        env = {k: v for k, v in os.environ.items() if k != "SPARK_SUBMIT_OPTS"}
        if operator_opts is not None:
            env["SPARK_SUBMIT_OPTS"] = operator_opts
        return subprocess.run(
            [sys.executable, "-c",
             "import os, engine; print(os.environ['SPARK_SUBMIT_OPTS'])"],
            capture_output=True, text=True, check=True, cwd=repo,
            env=env).stdout.strip()

    flags = engine.JIT_POLICY.split()
    assert len(flags) == 4
    assert opts_after_import(None).split() == flags
    kept = opts_after_import("-Dop.setting=1 -Xss4m")
    assert kept.split() == ["-Dop.setting=1", "-Xss4m"] + flags
    for own in ("-XX:TieredStopAtLevel=1", "-Xss4m -XX:Tier4CompileThreshold=1"):
        assert opts_after_import(own) == own


def test_spark_fixture_jvm_runs_jit_policy(spark):
    """The shared session's driver JVM started after `import engine`, so
    its input arguments carry every flag of the policy; the spark-submit
    recipes in the docs carry the constant verbatim, so they cannot drift
    from it."""
    import os
    import re

    import engine

    jvm_args = list(spark.sparkContext._jvm.java.lang.management
                    .ManagementFactory.getRuntimeMXBean().getInputArguments())
    assert set(engine.JIT_POLICY.split()) <= set(jvm_args)

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for doc in (".claude/skills/verify/SKILL.md", "CLAUDE.md",
                "jobs/run_pipeline.py"):
        text = open(os.path.join(repo, doc)).read().replace("\\\n", " ")
        submits = [line for line in text.splitlines()
                   if re.search(r"(spark-submit|\$SPARK_SUBMIT) --master", line)]
        assert submits, doc
        for line in submits:
            assert f'SPARK_SUBMIT_OPTS="{engine.JIT_POLICY}"' in line, (doc, line)
