"""Session sizing and package shipping (session.py)."""

import os
import zipfile

from proxyhouse_spark import session

MEMINFO = "MemTotal:       16454312 kB\nMemFree:        14663952 kB\n"


def test_session_defaults_size_from_the_machine(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert session.default_cpus({0, 1, 2, 3}) == 4
    assert session.default_driver_memory(MEMINFO) == "8034m"  # half of 15.7 GiB
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert session.default_cpus({0, 1, 2, 3}) == 5
    assert session.default_driver_memory(MEMINFO) == "2g"


def test_ship_package_ships_this_checkout_after_a_pid_is_reused(
    tmp_path, monkeypatch
):
    """A zip left by an earlier process with the same PID is not shipped:
    the zip added to the context holds this checkout's modules."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(os, "getpid", lambda: 863)
    with zipfile.ZipFile(tmp_path / "proxyhouse_spark-863.zip", "w") as zf:
        zf.writestr("proxyhouse_spark/streaming/pipeline.py", "# stale build\n")
    added = []

    class _Context:
        _jsc = object()
        addPyFile = staticmethod(added.append)

    class _Spark:
        sparkContext = _Context()

    session.ship_package(_Spark())
    pkg = os.path.dirname(os.path.abspath(session.__file__))
    with open(os.path.join(pkg, "streaming", "pipeline.py"), "rb") as f:
        expected = f.read()
    with zipfile.ZipFile(added[0]) as zf:
        assert zf.read("proxyhouse_spark/streaming/pipeline.py") == expected
