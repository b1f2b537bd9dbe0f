"""The Python worker daemon that ``get_spark`` names: workers import
``pyspark`` and ``py4j`` from the interpreter, not from Spark's archives,
and are still reused across jobs; ``worker_daemon.prune`` drops the
archives only when that is safe."""

from __future__ import annotations

import os
import zipfile
from pathlib import Path

import pandas as pd

from cargo_chat_spark import session
from cargo_chat_spark.worker_daemon import prune

ROOT = Path(__file__).resolve().parent.parent


def _one_task(spark, fn, schema: str) -> dict:
    """``fn()``'s dict, computed inside one Python task."""
    def run(batches):
        for _ in batches:
            pass
        yield pd.DataFrame([fn()])

    return spark.range(1, numPartitions=1).mapInPandas(run, schema).collect()[0].asDict()


def test_python_tasks_import_no_archive(spark):
    def import_state() -> dict:
        import sys
        import zipimport

        import py4j
        import pyspark

        zips = [k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter)]
        return {"zips": repr(zips), "pyspark": pyspark.__file__, "py4j": py4j.__file__}

    got = _one_task(spark, import_state, "zips string, pyspark string, py4j string")
    assert got["zips"] == "[]"
    # a module loaded from an archive has a __file__ inside it, not on disk
    assert os.path.isfile(got["pyspark"]) and os.path.isfile(got["py4j"]), got


def test_python_workers_are_reused(spark):
    """Two one-task jobs in a row run in the same worker. Spark keeps one
    worker pool per environment of the Python functions, so the extra
    entry gives these jobs a pool of their own: the shared pool may hold
    idle workers of earlier tests, taken in turn."""
    env = spark.sparkContext.environment
    env["CARGO_CHAT_SPARK_WORKER_POOL"] = "reuse"
    try:
        pids = [_one_task(spark, lambda: {"pid": os.getpid()}, "pid long")["pid"]
                for _ in range(2)]
    finally:
        del env["CARGO_CHAT_SPARK_WORKER_POOL"]
    assert pids[0] == pids[1], pids


def _tree(tmp_path: Path, version: str = "9.9.9", py4j: bool = True) -> tuple[list[str], str]:
    """A worker ``sys.path`` of Spark's three archives (holding pyspark
    9.9.9), a user zip and a site directory with pyspark ``version`` (and
    py4j); and that site directory."""
    site = tmp_path / "site"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "__init__.py").write_text("")
    (site / "pyspark" / "version.py").write_text(f'__version__: str = "{version}"\n')
    if py4j:
        (site / "py4j").mkdir()
        (site / "py4j" / "__init__.py").write_text("")
    lib = tmp_path / "lib"
    lib.mkdir()
    archives = {
        "pyspark.zip": {"pyspark/__init__.py": "",
                        "pyspark/version.py": '__version__: str = "9.9.9"\n'},
        "py4j-0.10.9.9-src.zip": {"py4j/__init__.py": ""},
        "spark-core_2.13-9.9.9.jar": {"META-INF/MANIFEST.MF": ""},
        "deps.zip": {"dep.py": ""},
    }
    for name, members in archives.items():
        with zipfile.ZipFile(lib / name, "w") as zf:
            for member, text in members.items():
                zf.writestr(member, text)
    return [str(tmp_path), *(str(lib / n) for n in archives), str(site)], str(site)


def test_prune_drops_spark_archives_for_a_matching_interpreter_copy(tmp_path):
    path, site = _tree(tmp_path)
    assert prune(path) == [str(tmp_path), str(tmp_path / "lib" / "deps.zip"), site]


def test_prune_keeps_the_path_when_pyspark_is_only_in_the_archive(tmp_path):
    path, site = _tree(tmp_path)
    path.remove(site)
    assert prune(path) is path


def test_prune_keeps_the_path_without_an_interpreter_py4j(tmp_path):
    path, _ = _tree(tmp_path, py4j=False)
    assert prune(path) is path


def test_prune_keeps_the_path_on_a_version_mismatch(tmp_path):
    path, _ = _tree(tmp_path, version="9.9.8")
    assert prune(path) is path


def test_daemon_is_named_only_where_a_worker_finds_the_engine(tmp_path, monkeypatch):
    """A local worker starts in the driver's cwd and environment: from any
    other directory with no ``PYTHONPATH`` to the engine it could not
    import the daemon module, so Spark's own daemon serves instead."""
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("PYTHONPATH", "")
    assert not session._worker_finds_engine()
    monkeypatch.setenv("PYTHONPATH", str(ROOT))
    assert session._worker_finds_engine()
    monkeypatch.delenv("PYTHONPATH")
    monkeypatch.chdir(ROOT)
    assert session._worker_finds_engine()
