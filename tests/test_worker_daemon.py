"""The engine's Python worker daemon (engine/worker_daemon.py) and the
worker-side index cache it keeps alive for the whole session."""

import importlib
import os
import select
import subprocess
import sys
import zipfile
import zipimport

import pytest

from engine import joins, worker_daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OLD_ZIPIMPORT = sys.version_info < (3, 12)


def _write_zip(path, files: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in files.items():
            zf.writestr(name, src)


@pytest.mark.skipif(not OLD_ZIPIMPORT, reason="zipimport re-reads lazily on CPython >= 3.12")
def test_zip_invalidation_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = str(tmp_path / "wd_lib.zip")
    files = {
        "wd_mod_a.py": "X = 1\n",
        "wd_pkg_b/__init__.py": "Y = 2\n",
        "wd_pkg_b/sub.py": "Z = 3\n",
    }
    _write_zip(archive, files)
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    worker_daemon.install()
    assert zipimport.zipimporter.invalidate_caches is worker_daemon._invalidate_caches
    monkeypatch.syspath_prepend(archive)
    names = ("wd_mod_a", "wd_pkg_b", "wd_pkg_b.sub", "wd_mod_c")
    try:
        import wd_mod_a
        import wd_pkg_b.sub

        assert (wd_mod_a.X, wd_pkg_b.Y, wd_pkg_b.sub.Z) == (1, 2, 3)
        importers = [v for k, v in sys.path_importer_cache.items() if k.startswith(archive)]
        assert len(importers) == 2  # the archive root and wd_pkg_b inside it
        reads.clear()
        importlib.invalidate_caches()
        assert len(reads) == 1  # first invalidation: one read, shared by both importers
        for _ in range(3):
            importlib.invalidate_caches()
        assert len(reads) == 1  # unchanged archive: nothing re-read

        _write_zip(archive, {**files, "wd_mod_c.py": "W = 4\n"})
        importlib.invalidate_caches()
        assert len(reads) == 2
        import wd_mod_c

        assert wd_mod_c.W == 4
        assert all(imp._files is zipimport._zip_directory_cache[archive] for imp in importers)
    finally:
        for name in names:
            sys.modules.pop(name, None)
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)


@pytest.mark.skipif(OLD_ZIPIMPORT, reason="the backport applies below CPython 3.12")
def test_zipimport_untouched_on_new_python(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    before = zipimport.zipimporter.invalidate_caches
    worker_daemon.install()
    assert zipimport.zipimporter.invalidate_caches is before


def _daemon_env() -> dict:
    # only the PYTHONPATH entry engine.session.get_spark exports
    env = {k: v for k, v in os.environ.items() if not k.startswith("PYTHON")}
    env["PYTHONPATH"] = ROOT
    return env


def test_daemon_module_imports_silently(tmp_path):
    out = subprocess.run(
        [sys.executable, "-c", "import engine.worker_daemon"],
        cwd=tmp_path, env=_daemon_env(), capture_output=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr.decode()
    assert out.stdout == b""


def test_daemon_sends_only_its_port_on_stdout(tmp_path):
    proc = subprocess.Popen(
        [sys.executable, "-m", "engine.worker_daemon", "pyspark.worker"],
        cwd=tmp_path, env=_daemon_env(),
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
    )
    try:
        assert select.select([proc.stdout], [], [], 120)[0], "daemon sent no port"
        port = int.from_bytes(proc.stdout.read(4), "big", signed=True)
        assert 0 < port < 65536
        proc.stdin.close()  # Spark's shutdown signal
        proc.wait(timeout=60)
        assert proc.stdout.read() == b""
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def test_spark_workers_fork_from_engine_daemon(spark):
    def _probe(batches):
        import gc
        import os
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        code = zipimport.zipimporter.invalidate_caches.__code__
        yield pa.RecordBatch.from_pydict(
            {
                "old_python": [sys.version_info < (3, 12)],
                "patched": [code.co_filename.endswith(os.path.join("engine", "worker_daemon.py"))],
                "frozen": [gc.get_freeze_count()],
            }
        )

    rows = (
        spark.range(0, 400, numPartitions=4)
        .mapInArrow(_probe, "old_python boolean, patched boolean, frozen long")
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert r.patched == r.old_python
        assert r.frozen > 0


def test_worker_index_cache_is_bounded(spark):
    import pandas as pd

    from engine import raster
    from engine.geom import wkb_polygon

    polys = pd.DataFrame(
        {"polygon_id": [1], "geom_wkb": [wkb_polygon([[(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)]])]}
    )
    pts = spark.range(0, 4000, numPartitions=4).selectExpr(
        "cast(id % 100 as double) * 0.1 as lon", "cast(id % 37 as double) * 0.25 as lat"
    )
    for _ in range(3 * joins._INDEX_CACHE_SIZE):
        assert raster.burn_base_tiles_pip(pts, polys, 6).collect()

    def _cache_len(batches):
        import pyarrow as pa

        from engine import joins as worker_joins

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"n": [len(worker_joins._INDEX_CACHE)]})

    lens = [r.n for r in spark.range(0, 400, numPartitions=4).mapInArrow(_cache_len, "n long").collect()]
    assert len(lens) == 4
    assert 0 < max(lens) <= joins._INDEX_CACHE_SIZE
