"""The Python-UDF worker daemon (``omigo_data_analytics_spark.pydaemon``):
its ``zipimporter`` hook in-process, then a session built by ``get_spark``
in a child process whose working directory and ``PYTHONPATH`` lack the
repository root."""

import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from omigo_data_analytics_spark import pydaemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_archive(path, text):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("m.py", text)


def _import_m(importer):
    """A fresh module ``m`` loaded through ``importer`` (not registered in
    ``sys.modules``)."""
    import importlib.util

    spec = importer.find_spec("m")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture
def reads(monkeypatch):
    """Install the hook for one test (the teardown restores the original)
    and count the archive directory reads made after it."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(pydaemon, "_stamps", {})
    assert pydaemon.install()
    calls = []
    original = zipimport._read_directory

    def counted(archive):
        calls.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return calls


def test_importing_the_daemon_installs_nothing():
    assert zipimport.zipimporter.invalidate_caches is pydaemon._original


def test_unchanged_archive_is_read_once_changed_one_again(tmp_path, reads):
    arc = str(tmp_path / "a.zip")
    _write_archive(arc, "V = 1\n")
    imp = zipimport.zipimporter(arc)
    twin = zipimport.zipimporter(arc)
    assert _import_m(imp).V == 1
    n = len(reads)
    imp.invalidate_caches()          # first call in this process: one read
    assert len(reads) == n + 1
    for _ in range(3):
        imp.invalidate_caches()
        twin.invalidate_caches()
    assert len(reads) == n + 1       # unchanged archive: no re-read
    assert twin._files is imp._files is zipimport._zip_directory_cache[arc]
    assert _import_m(imp).V == 1

    st = os.stat(arc)
    _write_archive(arc, "V = 2  # a new size\n")
    os.utime(arc, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    imp.invalidate_caches()
    assert len(reads) == n + 2       # new size and mtime: re-read
    assert _import_m(imp).V == 2
    twin.invalidate_caches()
    assert len(reads) == n + 2


def test_missing_archive_falls_back_to_the_original(tmp_path, reads):
    arc = str(tmp_path / "gone.zip")
    _write_archive(arc, "V = 1\n")
    imp = zipimport.zipimporter(arc)
    os.remove(arc)
    imp.invalidate_caches()
    assert imp._files == {} and arc not in zipimport._zip_directory_cache


def test_missing_internal_installs_nothing(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pydaemon._original)
    monkeypatch.delattr(zipimport, "_zip_directory_cache")
    assert not pydaemon.install()
    assert zipimport.zipimporter.invalidate_caches is pydaemon._original


def test_lazy_reread_installs_nothing(monkeypatch):
    """A CPython whose ``invalidate_caches`` only drops the cache entry (no
    ``self._files``) keeps it."""
    def lazy(self):
        zipimport._zip_directory_cache.pop(self.archive, None)

    monkeypatch.setattr(pydaemon, "_original", lazy)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", lazy)
    assert not pydaemon.install()
    assert zipimport.zipimporter.invalidate_caches is lazy


_CHILD = textwrap.dedent("""
    import json, os, sys
    sys.path.insert(0, sys.argv[1])
    from pyspark.sql import functions as F
    from omigo_data_analytics_spark import get_spark
    from omigo_data_analytics_spark.core import colutils

    def probe(_):
        import os, zipimport
        cache = zipimport._zip_directory_cache
        key = next(k for k in cache if k.endswith("pyspark.zip"))
        return json.dumps([os.getpid(), id(cache[key])])

    spark = get_spark("pydaemon_probe", cpus=1)
    one = spark.range(1, numPartitions=1)
    out = {"probes": [json.loads(one.select(F.udf(probe)("id")).first()[0])
                      for _ in range(2)]}
    try:   # a UDF whose worker must import the package
        out["quoted"] = (one.select(F.udf(lambda i: colutils.quote(f"a.{i}"))("id"))
                         .first()[0])
        out["pandas"] = one.toPandas()["id"].tolist()
    except Exception as e:
        out["error"] = str(e)[:3000]
    out["tmpdir"] = spark._jvm.java.lang.System.getProperty("java.io.tmpdir")
    d = spark.sparkContext.getConf().get("spark.python.unix.domain.socket.dir")
    out["sock_dir"] = d
    out["sock_mode"] = oct(os.stat(d).st_mode & 0o777) if d else None
    spark.stop()
    print(json.dumps(out))
""")


@pytest.fixture(scope="module")
def child(tmp_path_factory):
    """One local[1] session started from a directory outside the repository,
    with the repository root on the driver's ``sys.path`` only, and a temp
    dir (the JVM's and Python's) too long for a Unix socket path."""
    cwd = tmp_path_factory.mktemp("elsewhere")
    script = cwd / "child.py"
    script.write_text(_CHILD)
    tmp = cwd / ("t" * max(1, 120 - len(str(cwd))))
    tmp.mkdir()
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g", TMPDIR=str(tmp))
    env["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (env.get("JAVA_TOOL_OPTIONS", ""), f"-Djava.io.tmpdir={tmp}")
        if o)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != ROOT)
    r = subprocess.run([sys.executable, str(script), ROOT], cwd=cwd, env=env,
                       capture_output=True, text=True, timeout=240)
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-1]) if r.returncode == 0 and lines else \
        {"error": r.stderr[-3000:]}


def test_udf_runs_outside_the_repository(child):
    assert child.get("quoted") == "`a.0`", child.get("error")


def test_worker_keeps_the_archive_directory_across_tasks(child):
    """Two single-task UDF actions on one worker see the same
    ``pyspark.zip`` directory dict: the second task did not re-read it."""
    (pid1, dir1), (pid2, dir2) = child["probes"]
    assert pid1 == pid2
    assert dir1 == dir2


def test_worker_sockets_live_in_a_private_short_dir(child):
    """With a temp dir too long for an AF_UNIX path the session still
    starts and runs a UDF and a ``toPandas()``: the worker sockets live in
    a short directory only the owner can open, removed at exit."""
    assert len(child["tmpdir"]) >= 120
    assert child.get("pandas") == [0], child.get("error")
    assert child["sock_mode"] == "0o700"
    assert len(child["sock_dir"]) + len("/.12345678-1234-1234-1234-123456789012.sock") <= 107
    assert not os.path.exists(child["sock_dir"])
