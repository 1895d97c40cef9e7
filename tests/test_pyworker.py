"""The Python worker daemon that re-reads a zip archive only when it changed
(kafka_topic_analyzer_spark/pyworker.py)."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

from tests.conftest import REPO_ROOT

PKG = "zipstamp_pkg"


def _write_archive(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(name, source)


def _forget(archive: str) -> None:
    for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
        del sys.modules[name]
    for entry in [p for p in sys.path_importer_cache if p.startswith(archive)]:
        del sys.path_importer_cache[entry]
    zipimport._zip_directory_cache.pop(archive, None)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    from kafka_topic_analyzer_spark import pyworker

    archive = str(tmp_path / "lib.zip")
    _write_archive(archive, {
        f"{PKG}/__init__.py": "",
        f"{PKG}/sub/__init__.py": "",
        f"{PKG}/sub/a.py": "X = 1\n",
    })
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    pyworker.install()
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(archive)
    try:
        importlib.import_module(f"{PKG}.sub.a")
        importers = [
            f for p, f in sys.path_importer_cache.items()
            if p.startswith(archive) and isinstance(f, zipimport.zipimporter)
        ]
        assert len(importers) == 3  # archive root, pkg/, pkg/sub/

        reads.clear()
        importlib.invalidate_caches()  # first call: every importer reads
        assert len(reads) == 3
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == []

        # a rewrite that adds a module next to each non-root importer
        _write_archive(archive, {
            f"{PKG}/__init__.py": "",
            f"{PKG}/b.py": "Y = 2\n",
            f"{PKG}/sub/__init__.py": "",
            f"{PKG}/sub/a.py": "X = 1\n",
            f"{PKG}/sub/c.py": "Z = 3\n",
        })
        importlib.invalidate_caches()
        assert len(reads) == 3
        assert importlib.import_module(f"{PKG}.b").Y == 2
        assert importlib.import_module(f"{PKG}.sub.c").Z == 3
    finally:
        _forget(archive)


def test_session_workers_run_the_stamp_checked_patch(spark):
    """Every Python task in a get_spark session runs in a worker forked
    from the pyworker daemon."""

    def worker_patch(it):
        import zipimport

        import pandas as pd

        fn = zipimport.zipimporter.invalidate_caches
        for _ in it:
            yield pd.DataFrame({"qualname": [fn.__qualname__],
                                "file": [fn.__code__.co_filename]})

    rows = (
        spark.range(2).repartition(2)
        .mapInPandas(worker_patch, "qualname string, file string")
        .collect()
    )
    assert len(rows) == 2
    for r in rows:
        assert r.qualname == "_invalidate_if_changed", r
        assert r.file.endswith(os.path.join("kafka_topic_analyzer_spark", "pyworker.py")), r


def test_driver_outside_repo_runs_python_tasks(tmp_path):
    """A driver that finds the package only through its own sys.path (no
    PYTHONPATH, cwd outside the repository) still runs Python tasks: the
    workers import the daemon module from spark.executorEnv.PYTHONPATH."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(REPO_ROOT)!r})
        from kafka_topic_analyzer_spark.session import get_spark

        spark = get_spark("outside-repo")
        spark.sparkContext.setLogLevel("ERROR")

        def patched(_):
            import zipimport
            return zipimport.zipimporter.invalidate_caches.__qualname__

        print(sorted(set(spark.sparkContext.parallelize(range(2), 2).map(patched).collect())))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="512m")
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "['_invalidate_if_changed']", out.stdout
