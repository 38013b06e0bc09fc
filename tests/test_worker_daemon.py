"""The engine's Python worker daemon (`cae_polars_tools_spark.worker_daemon`).

PySpark invalidates import caches at the start of every task; the daemon
makes a zip importer skip re-reading an archive that has not changed
since it last read it, while a rewritten archive and files shipped with
``addPyFile`` still import.
"""

from __future__ import annotations

import importlib
import importlib.util
import os
import subprocess
import sys
import zipfile
import zipimport

from cae_polars_tools_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


def test_wrapper_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "shipped.zip")
    _write_zip(archive, {"wd_first_mod": "VALUE = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "wd_first_mod", raising=False)
    monkeypatch.delitem(sys.modules, "wd_second_mod", raising=False)
    assert importlib.import_module("wd_first_mod").VALUE == 1
    importer = sys.path_importer_cache[archive]
    assert isinstance(importer, zipimport.zipimporter)

    reads = []
    original_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return original_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    try:
        importer.invalidate_caches()  # first call records what was read
        reads.clear()
        importer.invalidate_caches()
        importer.invalidate_caches()
        assert reads == []

        _write_zip(archive, {"wd_first_mod": "VALUE = 1\n", "wd_second_mod": "VALUE = 2\n"})
        assert importlib.util.find_spec("wd_second_mod") is None  # stale directory
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("wd_second_mod").VALUE == 2
    finally:
        zipimport._zip_directory_cache.pop(archive, None)
        sys.path_importer_cache.pop(archive, None)


def _python(args, pythonpath: str | None, cwd: str = REPO, timeout: int = 120):
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    if pythonpath is not None:
        env["PYTHONPATH"] = pythonpath
    proc = subprocess.run(
        [sys.executable, *args], cwd=cwd, env=env, capture_output=True, text=True, timeout=timeout
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc


def _is_wrapper(f) -> bool:
    """Whether ``f`` is the daemon's wrapper, also when the daemon ran as
    ``__main__`` (``python -m``) and so defined it under another module."""
    return f.__qualname__ == "invalidate_caches" and os.path.samefile(
        f.__code__.co_filename, worker_daemon.__file__
    )


def test_daemon_import_stays_light():
    probe = (
        "import sys, cae_polars_tools_spark.worker_daemon\n"
        "heavy = ('numpy', 'pandas', 'pyarrow')\n"
        "engine = ('cae_polars_tools_spark.sources', 'cae_polars_tools_spark.operators')\n"
        "print(sorted(m for m in sys.modules\n"
        "             if m.split('.')[0] in heavy or m.startswith(engine)))\n"
    )
    assert _python(["-c", probe], REPO).stdout.strip() == "[]"


def test_daemon_passes_argv_to_pyspark_daemon(tmp_path):
    # A stand-in pyspark.daemon reports what the real one would read.
    fake = tmp_path / "pyspark"
    fake.mkdir()
    (fake / "__init__.py").write_text("")
    (fake / "daemon.py").write_text(
        "import sys, zipimport\n"
        "def manager():\n"
        "    f = zipimport.zipimporter.invalidate_caches\n"
        "    print(sys.argv[1:], f.__qualname__, f.__code__.co_filename)\n"
    )
    out = _python(
        ["-m", "cae_polars_tools_spark.worker_daemon", "pyspark.worker"],
        os.pathsep.join([str(tmp_path), REPO]),
    ).stdout.strip()
    argv, qualname, filename = out.rsplit(" ", 2)
    assert argv == "['pyspark.worker']"
    assert qualname == "invalidate_caches"
    assert os.path.samefile(filename, worker_daemon.__file__)


def test_spark_workers_use_wrapper_and_see_shipped_files(spark, tmp_path):
    def wrapped(_):
        import zipimport

        yield _is_wrapper(zipimport.zipimporter.invalidate_caches)

    sc = spark.sparkContext
    n = sc.defaultParallelism
    for _ in range(2):  # fill the worker pool; the second round runs on reused workers
        assert all(sc.parallelize(range(n), n).mapPartitions(wrapped).collect())

    (tmp_path / "wd_shipped_py.py").write_text("VALUE = 'py'\n")
    _write_zip(tmp_path / "wd_shipped.zip", {"wd_shipped_zip": "VALUE = 'zip'\n"})
    sc.addPyFile(str(tmp_path / "wd_shipped_py.py"))
    sc.addPyFile(str(tmp_path / "wd_shipped.zip"))

    def shipped(_):
        import wd_shipped_py
        import wd_shipped_zip

        yield wd_shipped_py.VALUE + wd_shipped_zip.VALUE

    assert set(sc.parallelize(range(n), n).mapPartitions(shipped).collect()) == {"pyzip"}


def test_daemon_defaults_follow_master(monkeypatch):
    from cae_polars_tools_spark import session

    seen = {}

    class Builder:
        def appName(self, _):
            return self

        def master(self, _):
            return self

        def config(self, k, v):
            seen[k] = v
            return self

        def getOrCreate(self):
            return dict(seen)

    monkeypatch.setattr(session.SparkSession, "builder", Builder())

    def conf(master, extra=None):
        seen.clear()
        return session.get_spark(master=master, extra_conf=extra)

    local = conf("local[1]")
    assert local["spark.python.daemon.module"] == "cae_polars_tools_spark.worker_daemon"
    assert local["spark.executorEnv.PYTHONPATH"] == REPO
    caller_path = conf("local[1]", {"spark.executorEnv.PYTHONPATH": "/elsewhere"})
    assert caller_path["spark.executorEnv.PYTHONPATH"] == os.pathsep.join([REPO, "/elsewhere"])

    opt_out = conf("local[1]", {"spark.python.daemon.module": "pyspark.daemon"})
    assert opt_out["spark.python.daemon.module"] == "pyspark.daemon"
    assert "spark.executorEnv.PYTHONPATH" not in opt_out

    # Executors elsewhere may get the engine only per task (--py-files).
    cluster = conf("spark://head:7077")
    assert "spark.python.daemon.module" not in cluster
    assert "spark.executorEnv.PYTHONPATH" not in cluster
    opt_in = conf(
        "spark://head:7077",
        {"spark.python.daemon.module": "cae_polars_tools_spark.worker_daemon"},
    )
    assert opt_in["spark.executorEnv.PYTHONPATH"] == REPO


def test_driver_with_engine_only_on_sys_path_runs_python_tasks(tmp_path):
    # A driver outside the repo that finds the engine through sys.path
    # alone: the workers' daemon must still start, for plain Python tasks
    # as much as for the engine's own.
    driver = tmp_path / "driver.py"
    driver.write_text(
        "import sys, zipimport\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from cae_polars_tools_spark.session import get_spark\n"
        "spark = get_spark(master='local[1]', shuffle_partitions=1,\n"
        "                  extra_conf={'spark.driver.memory': '1g'})\n"
        "sc = spark.sparkContext\n"
        "sc.setLogLevel('ERROR')\n"
        "print(sc.parallelize([1, 2], 1).map(lambda x: x * 10).collect())\n"
        "def where(_):\n"
        "    yield zipimport.zipimporter.invalidate_caches.__code__.co_filename\n"
        "print(sc.parallelize([0], 1).mapPartitions(where).collect()[0])\n"
        "spark.stop()\n"
    )
    out = _python([str(driver)], None, cwd=str(tmp_path), timeout=300).stdout.split("\n")
    assert "[10, 20]" in out
    assert os.path.samefile(out[out.index("[10, 20]") + 1], worker_daemon.__file__)
