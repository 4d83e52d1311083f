"""Cluster deployment packaging (spark-submit --py-files).

The north-rule protocol runs the engine on a real cluster as
``spark-submit --py-files engine.zip job.py`` (BASELINE.md; the local-mode
PYTHONPATH export in :mod:`engine.session` covers only same-host workers).
This module builds that artifact: a deterministic zip of the ``engine``
package that executors can import with nothing else on their filesystem.

Determinism matters operationally: resubmitting an unchanged job must ship
a byte-identical artifact so cluster-side file caches (Spark's work-dir
cache keys on name+mtime+size, YARN's localizer on checksum) are hits, and
so lineage manifests can record one artifact hash per run.  Zip entries are
therefore sorted, mtimes pinned to the epoch, and permissions normalized.
"""

from __future__ import annotations

import hashlib
import os
import zipfile

_EPOCH = (1980, 1, 1, 0, 0, 0)  # zip format's minimum timestamp


def make_pyfiles_zip(out_path: str, package_root: str | None = None) -> str:
    """Write ``engine.zip`` suitable for ``spark-submit --py-files``.

    Contains every ``engine/*.py`` at the archive root under ``engine/`` so
    ``import engine`` works when the zip itself is on ``sys.path`` (which is
    exactly what --py-files does on each executor).  Only source files ship:
    no tests, no caches, no fixtures data.  Returns ``out_path``.
    """
    pkg = package_root or os.path.dirname(os.path.abspath(__file__))
    names = sorted(f for f in os.listdir(pkg) if f.endswith(".py"))
    if "__init__.py" not in names:
        raise ValueError(f"{pkg} is not a python package (no __init__.py)")
    with zipfile.ZipFile(out_path, "w", compression=zipfile.ZIP_DEFLATED) as zf:
        for name in names:
            with open(os.path.join(pkg, name), "rb") as f:
                data = f.read()
            info = zipfile.ZipInfo(f"engine/{name}", date_time=_EPOCH)
            info.external_attr = 0o644 << 16  # normalized permissions
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, data)
    return out_path


def artifact_sha256(path: str) -> str:
    """Hash of the shipped artifact — recorded in lineage manifests so a
    resumed pipeline can assert it is running the same engine build."""
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def submit_command(
    job: str,
    zip_path: str = "engine.zip",
    master: str = "yarn",
    executors: int | None = None,
    executor_cores: int = 4,
    executor_memory: str = "8g",
    conf: dict | None = None,
) -> list[str]:
    """The spark-submit argv for the cluster protocol (documentation-grade
    helper: the argv is returned, never executed — this sandbox has no
    cluster).  Mirrors the session defaults in :func:`engine.session.get_spark`
    so local tests and cluster runs execute the same plan shapes.

    One session default stays local-mode only: the Python worker daemon
    ``engine.worker_daemon`` (``spark.python.daemon.module``).  On a cluster
    the ``--py-files`` zip reaches the worker path per task, through
    pyspark's ``setup_spark_files``, so the daemon module may not be
    importable when the daemon starts, and a daemon that fails to import
    fails every Python UDF.  The argv therefore keeps pyspark's own daemon.

    The session's JIT profile (``engine.session.LOCAL_JIT_PROFILE``) stays
    local-mode only too.  It was measured only on short local[4] runs, where
    compiling Spark itself is a large share of the run; cluster executors
    are long-lived JVMs that earn back their full C2 compilation, so the
    argv keeps HotSpot's defaults."""
    cmd = [
        "spark-submit",
        "--master", master,
        "--py-files", zip_path,
        "--executor-cores", str(executor_cores),
        "--executor-memory", executor_memory,
        "--conf", "spark.sql.adaptive.enabled=true",
        "--conf", "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold=64MB",
        "--conf", "spark.sql.execution.arrow.pyspark.enabled=true",
        "--conf", "spark.sql.execution.arrow.maxRecordsPerBatch=262144",
        "--conf", f"spark.python.factory.idleWorkerMaxPoolSize={executor_cores}",
        # glibc malloc tuning for executor python workers: without it every
        # >128 KB numpy temporary is an mmap/munmap round-trip through the
        # kernel page-fault path (measured 5.5x on the PIP kernel — see
        # engine/session.py); the trim threshold bounds worker RSS growth
        "--conf", "spark.executorEnv.MALLOC_MMAP_THRESHOLD_=1073741824",
        "--conf", "spark.executorEnv.MALLOC_TRIM_THRESHOLD_=268435456",
    ]
    if executors is not None:
        cmd += ["--num-executors", str(executors)]
    for k, v in (conf or {}).items():
        cmd += ["--conf", f"{k}={v}"]
    cmd.append(job)
    return cmd
