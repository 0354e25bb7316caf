"""Self-tests of the benchmark: tiny runs of every workload, the seeded
inputs, the host-validity stamp and the label check.

    python3 -m pytest perfbench/tests -q

The runs share one JVM and take a few minutes together.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

import bench
import inputs
import run
from conftest import BENCH, ROOT
from inputs import TableSpec

TINY = {"batch_mixed": TableSpec("bench", "default", 300, 50_000),
        "job_telephony": TableSpec("fixtures", "telephony", 300, 125_000,
                                   parts=32)}

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


@pytest.fixture
def tiny(monkeypatch):
    """Every workload on a table of a few hundred clips; the environment
    the run sets is restored afterwards."""
    real = run.workloads()
    monkeypatch.setattr(run, "workloads", lambda: {
        name: (TINY[name],) + rest[1:] for name, rest in real.items()})
    for key in ("TMPDIR", "SPARK_LOCAL_DIRS", "PYTHONPATH", "PYSPARK_PYTHON"):
        monkeypatch.setenv(key, os.environ.get(key, ""))


def _run(capsys, workload: str, trace: int = 0, seed: int = 1):
    code = run.main(["--workload", workload, "--seed", str(seed),
                     "--seconds", "0", "--trace", str(trace)])
    lines = capsys.readouterr().out.strip().splitlines()
    assert code == 0
    return json.loads(lines[-2]), json.loads(lines[-1])


def test_workloads_match_benchmark_json():
    assert sorted(run.workloads()) == sorted(
        w["name"] for w in SPEC["workloads"])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(TINY))
def test_tiny_run_prints_every_metric(tiny, capsys, workload, trace):
    report, result = _run(capsys, workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))
    for key in ("spark_conf", "audio_backends", "rule_version", "host",
                "seed", "runs"):
        assert report[key]
    assert report["failed_frac"] == 0
    # every process the run started has ended and been reaped
    with pytest.raises(ChildProcessError):
        os.waitpid(-1, os.WNOHANG)
    if trace:
        assert report["spans"]
        assert result["metrics"]["trace.coverage"]["value"] >= 0.9


def test_same_seed_same_input_digest():
    spec = TableSpec("bench", "default", 60, 50_000)
    a = inputs.digest(inputs.generate(spec, 7, 2))
    assert a == inputs.digest(inputs.generate(spec, 7, 2))
    assert a != inputs.digest(inputs.generate(spec, 8, 2))


def test_part_ids_match_spark():
    """The table writer's partitioner agrees with Spark's
    pmod(xxhash64(clip_id), N_PARTS), on ids that cover every tail length
    of XXH64 and its 32-byte stripes."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from engine import config

    ids = [("c" * n + "é" * (n % 3))[:n] for n in range(80)] + \
        [f"clip-{i:06d}" for i in range(200)]
    spark = (SparkSession.builder.master("local[1]")
             .config("spark.ui.enabled", "false").getOrCreate())
    try:
        df = spark.createDataFrame([(i,) for i in ids], "clip_id string")
        got = df.select(F.pmod(F.xxhash64("clip_id"), F.lit(config.N_PARTS))
                        .alias("p")).toPandas()["p"].tolist()
    finally:
        inputs.stop_spark()
    assert inputs.part_ids(ids).tolist() == got


def test_low_probe_marks_run_invalid(tiny, capsys, monkeypatch):
    monkeypatch.setattr(bench, "host_first_touch_gbps", lambda: 0.01)
    report, result = _run(capsys, "batch_mixed")
    assert report["valid"] is False
    assert "below" in report["invalid_reason"]
    # the numbers are kept either way
    assert result["metrics"]["cpu_ms_per_clip"]["value"] > 0


def test_planted_label_mismatch_counts_as_failed(tiny, capsys, monkeypatch):
    real_prepare = inputs.prepare
    planted = []

    def prepare(*args, **kwargs):
        table = real_prepare(*args, **kwargs)
        table.oracle = table.oracle.copy()
        table.oracle.loc[0, "keep"] = not table.oracle.loc[0, "keep"]
        planted.append(table.oracle.loc[0, "clip_id"])
        return table

    monkeypatch.setattr(inputs, "prepare", prepare)
    report, result = _run(capsys, "batch_mixed")
    assert result["correct"] is False
    assert result["failed"] >= 1
    assert report["failed_frac"] > 0
    assert planted[0] in report["first_mismatch_clip_ids"]


def test_resource_check_fails_fast():
    with pytest.raises(inputs.ResourceError, match="disk"):
        inputs.check_resources(10 * 2**30, 2**30, 2**30, 16 * 2**30)
    with pytest.raises(inputs.ResourceError, match="RAM"):
        inputs.check_resources(2**30, 10 * 2**30, 32 * 2**30, 16 * 2**30)


def test_refuses_to_run_outside_a_checkout(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch_mixed",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout == ""
    assert "missing" in proc.stderr
