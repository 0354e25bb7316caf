"""bench.py's host check: the driver memory must fit in RAM and an
uncached bench table in the temp dir's free space, checked before any JVM
starts.  Nothing here starts a JVM."""

import pytest

import bench

GIB = 2**30


def test_check_host_rejects_driver_memory_above_ram():
    with pytest.raises(bench.HostError, match="SPARK_GRAFT_DRIVER_MEM"):
        bench.check_host("24g", 15 * GIB, 0, 100 * GIB)
    bench.check_host("15g", 15 * GIB, 0, 100 * GIB)


def test_check_host_rejects_table_above_free_disk():
    need = 480_000 * bench.BYTES_PER_CLIP  # ~20 GiB
    with pytest.raises(bench.HostError, match="SPARK_GRAFT_BENCH_CLIPS"):
        bench.check_host("3g", 15 * GIB, need, 19 * GIB)
    bench.check_host("3g", 15 * GIB, need, 21 * GIB)
    bench.check_host("3g", 15 * GIB, 0, 0)  # a cached table needs no disk


def test_default_driver_memory_is_a_quarter_of_free_ram():
    assert bench.default_driver_memory(15 * GIB) == "3g"
    assert bench.default_driver_memory(GIB) == "1g"
    mem = bench.meminfo()
    default = bench.default_driver_memory(mem["MemAvailable"])
    assert bench.jvm_bytes(default) <= mem["MemTotal"]


@pytest.mark.parametrize("size,n", [
    ("24g", 24 * GIB), ("512m", 512 * 2**20), ("2GB", 2 * GIB),
    ("1024k", 2**20), ("8192", 8 * GIB),
])
def test_jvm_bytes(size, n):
    assert bench.jvm_bytes(size) == n


def test_main_fails_before_the_jvm(monkeypatch, capsys):
    def no_jvm(*args):
        raise AssertionError("a session was built")

    monkeypatch.setattr(bench, "_build_spark", no_jvm)
    monkeypatch.setattr("sys.argv", ["bench.py", "--scaling"])
    assert bench.main() == 2  # the deleted harness's flags are refused
    assert "no arguments" in capsys.readouterr().err
    monkeypatch.setattr("sys.argv", ["bench.py"])
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1048576g")
    assert bench.main() == 2
    assert "SPARK_GRAFT_DRIVER_MEM" in capsys.readouterr().err
