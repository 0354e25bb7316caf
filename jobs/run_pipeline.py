"""Run the full quality-filter pipeline over a clips table.

Ship (north_rule):
    cd <repo> && zip -qr /tmp/engine.zip engine
    SPARK_SUBMIT_OPTS="-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 -XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000" \
    spark-submit --master 'local[*]' --py-files /tmp/engine.zip \
        jobs/run_pipeline.py --input /path/clips --output /path/out \
        [--wave-size 16] [--no-resume]

The SPARK_SUBMIT_OPTS prefix is the engine's JIT policy (engine.JIT_POLICY):
spark-submit starts the driver JVM before Python imports engine, so the
policy has to be on its command line.  The job warns when its JVM runs
without it.

Output layout:
    out/scored/part_id=*/    per-partition checkpoint of the heavy stage
    out/labels/part_id=*/    final keep/drop + scrub labels
    out/lineage/             per-partition metrics (FIXTURES.md Table 3)
    out/_commits/            commit log: one zero-byte marker per commit,
                             named <stage>.<rule_version>.<part_id>.<uuid>;
                             stage is `scored` (a Stage A wave landed) or
                             `labeled` (Stage B finished over it).  The
                             driver lists it, so a resume scans only the
                             uncommitted part dirs of --input, and with
                             nothing new scored since the last `labeled`
                             markers re-reads labels/ and lineage/ instead
                             of rebuilding them (engine/lineage.py).
"""

from __future__ import annotations

import argparse
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--wave-size", type=int, default=16)
    ap.add_argument("--no-resume", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    # importing engine pins the BLAS/OpenMP pools (engine/__init__.py)
    # before the JVM starts, so forked Python workers inherit the pin
    import engine
    from engine import config, lineage, session, sources

    spark = session.get_or_create("clip-quality-pipeline")
    # under spark-submit the JVM started before engine was imported, so
    # the JIT policy reaches it only from the launch command line
    jvm_args = spark.sparkContext._jvm.java.lang.management \
        .ManagementFactory.getRuntimeMXBean().getInputArguments()
    if not engine.sets_jit_tiers(" ".join(jvm_args)):
        print("warning: the driver JVM runs without the engine's JIT policy "
              "(C2 compiles lukewarm code on the cold pass); launch with "
              f'SPARK_SUBMIT_OPTS="{engine.JIT_POLICY}" spark-submit ...',
              file=sys.stderr)

    t0 = time.time()
    clips = sources.read_clips_table(spark, args.input)
    _, metrics = lineage.run_checkpointed(
        spark, clips, args.output,
        wave_size=args.wave_size, resume=not args.no_resume)

    # one aggregate over the small lineage table: no summary-only pass
    # over labels/
    summary = metrics.agg(*(F.sum(c).alias(c) for c in (
        "n_total", "n_kept", "n_dropped", "n_scrubbed"))).collect()[0]
    n_total = summary["n_total"] or 0
    dt = time.time() - t0
    print(f"pipeline done in {dt:.1f}s: {n_total} clips, "
          f"kept={summary['n_kept']} dropped={summary['n_dropped']} "
          f"scrubbed={summary['n_scrubbed']} "
          f"({n_total / dt:.0f} clips/sec) rule_version={config.rule_version()}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
