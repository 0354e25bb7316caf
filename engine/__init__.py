"""spark-clip-quality: a from-scratch PySpark-native quality-filter engine.

A language-ID + quality-filter + PII/toxicity-scrub DAG over a table of
audio clip + transcript pairs, re-expressing the cleaning semantics of
YaxuanSeanZhang/GPS-Data-Quality (reference at /root/reference, R scripts)
as a single fused Spark DataFrame pass.  See SURVEY.md for the full
operator-by-operator mapping.
"""

__version__ = "0.1.0"

# Pin BLAS/OpenMP pools to one thread per process wherever the engine is
# imported BEFORE numpy first loads its BLAS (executor python workers
# that unpickle a UDF referencing engine.*, jobs, tests).  Parallelism
# belongs to Spark's task scheduler here, not to nested numpy pools: with
# K concurrent UDF workers an unpinned pool oversubscribes the box
# K*ncpus-fold, and even one worker pays the pool wake cost on every
# small per-clip BLAS call.  setdefault — an operator who wants nested
# BLAS threading can still export the vars explicitly.  (The per-clip hot
# path is additionally BLAS-free by construction: audio_core uses einsum
# for its reductions, so this pin is belt-and-braces for the embedding /
# refit matmul paths.)
import os as _os

for _var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
             "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
    _os.environ.setdefault(_var, "1")

# The JIT policy: C2 compiles only code that is really hot.  The four
# tier-4 thresholds are ten times the JDK 17 defaults.  A shipped job makes
# its one fused pass in a fresh JVM, and with the defaults C2's compiler
# threads took ~45% of that pass's CPU; at x10, C2 still compiles what a
# long-running JVM loops on.  (C1 only, -XX:TieredStopAtLevel=1, wins more
# on one cold pass but is ~30% slower once warm; x100 leaves code in C1's
# slower profiled tier.)  pyspark's launcher puts SPARK_SUBMIT_OPTS on the
# command line of the driver JVM it starts, so every entry point that
# imports engine before its JVM starts runs under the policy;
# `spark-submit` starts its JVM first, so its command line needs the
# prefix (jobs/run_pipeline.py warns).  An operator whose
# SPARK_SUBMIT_OPTS already sets a tier flag keeps it, as with the BLAS pin.
JIT_POLICY = ("-XX:Tier4InvocationThreshold=50000 "
              "-XX:Tier4MinInvocationThreshold=6000 "
              "-XX:Tier4CompileThreshold=150000 "
              "-XX:Tier4BackEdgeThreshold=400000")


def sets_jit_tiers(jvm_options: str) -> bool:
    """Whether JVM options already set a tier-4 threshold or a
    TieredStopAtLevel: then the JIT is an explicit choice, the policy's or
    an operator's."""
    return "-XX:Tier4" in jvm_options or "-XX:TieredStopAtLevel" in jvm_options


_opts = _os.environ.get("SPARK_SUBMIT_OPTS", "")
if not sets_jit_tiers(_opts):
    _os.environ["SPARK_SUBMIT_OPTS"] = f"{_opts} {JIT_POLICY}".strip()
