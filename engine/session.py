"""SparkSession builder tuned for this engine.

Local-mode defaults mirror the intended cluster profile: AQE on (runtime
re-plan + skew-join handling), Arrow on (all engine UDFs are pandas UDFs),
shuffle partitions sized to cores (overridden per-job at scale).  Local
sessions fork their Python workers from :mod:`engine.worker_daemon` and
start the JVM with :data:`LOCAL_JIT_PROFILE`.  Both apply only when
:func:`get_spark` launches the JVM itself: a JVM that is already running
(an active session, or a gateway started by ``spark-submit``) keeps the
flags it was started with.
"""

from __future__ import annotations

import os
import re
from contextlib import contextmanager

from pyspark.sql import SparkSession

# HotSpot flags for the driver JVM of a local session, which runs every
# task.  A short local run spends most of its JVM CPU compiling Spark's own
# code: in the first pages_e2e job (local[4], 4-vCPU/15.7 GB host) the C2
# and C1 compiler threads took 17-20 of 29-34 CPU-s.  Two compiler threads
# instead of the ergonomic count (3 on 4 vCPUs), and compile thresholds
# scaled 3x, leave code that runs only a few thousand times to C1: 7-10
# CPU-s of compiling, and the first job's CPU down 25%.  With those two
# flags alone, G1 spent more GC-thread CPU in warm jobs; the parallel
# collector did not.  CHANGES.md has the candidates and the runs.
# Passed as spark.driver.defaultJavaOptions, which Spark puts before
# spark.driver.extraJavaOptions: a caller's extra options still apply and
# win on a repeated flag, except that naming another collector there would
# stop the JVM from starting (HotSpot refuses two), so get_spark rejects it.
# Such a caller passes its own spark.driver.defaultJavaOptions, which
# replaces this profile.
LOCAL_JIT_PROFILE = "-XX:CICompilerCount=2 -XX:CompileThresholdScaling=3 -XX:+UseParallelGC"

# Rows per column batch of Spark's vectorized parquet reader (4,096 by
# default), sized from the 256 KB density tile (raster.TILE_SIZE² int32
# counts).  The reader decodes a batch of a column into one contiguous
# buffer and doubles it as it fills, so a batch of tiles asks for up to
# twice its bytes at once, per task.  With the default, a 2 GB driver at
# local[4] died reading a persisted tile level back in run_tiling (4,000
# spread points, zoom 6 to 4): "Cannot reserve additional contiguous bytes
# in the vectorized reader (requested 133955584 bytes)", then
# OutOfMemoryError.  256 tiles are 64 MB.
PARQUET_READER_BATCH_ROWS = (64 << 20) // (256 * 256 * 4)

_COLLECTOR = re.compile(r"-XX:\+Use(\w+)GC\b")

# Spark's local masters: local, local[N], local[*], local[N,F], local[*,F]
_LOCAL_MASTER = re.compile(r"local(?:\[(\d+|\*)(?:\s*,\s*\d+)?\])?")


def local_cores(master: str) -> int | None:
    """Task slots of a local ``master`` (``*`` is this host's CPU count), or
    None for any other master."""
    m = _LOCAL_MASTER.fullmatch(master)
    if m is None:
        return None
    n = m.group(1) or "1"
    return (os.cpu_count() or 1) if n == "*" else int(n)


def _check_collectors(extra_conf: dict) -> None:
    """Refuse a local session whose driver JVM would name two collectors:
    the profile's, and another in ``spark.driver.extraJavaOptions``.
    HotSpot would exit with "Multiple garbage collectors selected"."""
    if "spark.driver.defaultJavaOptions" in extra_conf:
        return
    ours = set(_COLLECTOR.findall(LOCAL_JIT_PROFILE))
    theirs = set(_COLLECTOR.findall(extra_conf.get("spark.driver.extraJavaOptions", ""))) - ours
    if theirs:
        raise ValueError(
            f"spark.driver.extraJavaOptions selects the {', '.join(sorted(theirs))} collector but the local "
            f"JIT profile already selects {', '.join(sorted(ours))}; pass the collector in "
            "spark.driver.defaultJavaOptions instead, which replaces the profile"
        )


def get_spark(
    app_name: str = "spark-geotile",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # Executor python workers must be able to import the `engine` package
    # (pandas UDFs are defined in it).  Local mode: export PYTHONPATH before
    # the JVM starts.  Cluster mode: ship via spark-submit --py-files of the
    # packaged zip instead (BASELINE.md protocol).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = repo_root + (os.pathsep + pp if pp else "")
    # glibc malloc tuning for the python workers (inherited from this
    # process in local mode; cluster mode ships the same pair via
    # spark.executorEnv.* — see engine/deploy.py).  Default glibc mmaps
    # every allocation >128 KB and munmaps it on free, so EVERY numpy
    # temporary in a vectorized kernel becomes an mmap/munmap pair through
    # the kernel's serialized page-fault path — measured here at 5.5x on
    # the PIP kernel inside workers (12.6 s -> 2.3 s for the same stage,
    # same results).  Raising the threshold keeps big blocks on the heap
    # for reuse; the trim threshold bounds worker RSS growth.  setdefault:
    # an operator-provided value always wins.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "268435456")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cores}]"
    slots = local_cores(master)
    if shuffle_partitions is None:
        # local mode: one shuffle partition per core keeps every stage's tasks
        # in a single wave; at cluster scale this is set per-job instead.
        shuffle_partitions = slots or 200
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE re-plan a shuffled equi-join as a shuffled hash join, built
        # on the smaller measured side, when every shuffle partition of that
        # side is at most 64 MB; larger partitions keep the sort-merge join.
        # Spark honours the threshold only when it is at least
        # advisoryPartitionSizeInBytes (64 MB by default).  On the salted
        # cell-shuffle PIP join (pip_large_skewed: 100k points against
        # 884,980 salted polygon-cover rows carrying their WKB) neither side
        # is sorted any more.  With the salted path's dedup gone too, the
        # median of 10 runs went, in CPU-s, 19.6 -> 13.6 for the first job
        # and 4.6 -> 3.5 for a warm one (local[4], 4-vCPU/15.7 GB host).
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64MB")
        .config("spark.sql.parquet.columnarReaderBatchSize", str(PARQUET_READER_BATCH_ROWS))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "262144")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Bound the reusable python-worker pool to ~one worker per core.
        # Without a cap, every multi-UDF-stage job can grow the daemon's
        # worker set and the freed workers are never reaped: measured here,
        # a 40-query run grew 67 -> 130 workers / 6.8 -> 15 GB aggregate RSS,
        # and identical sieve plans then burned 2-3.7x more executor CPU
        # (70 -> 264 core-seconds, same stage count) from allocator/page-
        # fault contention across the bloated pool.  With the cap the same
        # sequence stays at 67 workers / 7 GB and per-query CPU is flat.
        # On a cluster this bounds per-executor python memory the same way.
        .config("spark.python.factory.idleWorkerMaxPoolSize", str(slots or os.cpu_count() or 8))
        .config("spark.ui.enabled", "false")
        # cluster mode: executors don't inherit the driver env — ship the
        # malloc tuning explicitly (no-op in local mode, where the workers
        # inherit the process env set above)
        .config(
            "spark.executorEnv.MALLOC_MMAP_THRESHOLD_",
            os.environ["MALLOC_MMAP_THRESHOLD_"],
        )
        .config(
            "spark.executorEnv.MALLOC_TRIM_THRESHOLD_",
            os.environ["MALLOC_TRIM_THRESHOLD_"],
        )
    )
    if slots is not None:
        # Fork the Python workers from engine.worker_daemon (see its
        # docstring).  On CPython 3.11 each task's setup_spark_files re-read
        # the directories of pyspark.zip, the py4j zip and the spark-core jar
        # through 16 zip importers, and the daemon's gc.collect() after each
        # task walked the whole preloaded numpy/pandas/pyarrow heap.  Summed
        # over one pages_e2e job (22 Python tasks, local[4] on a 4-vCPU,
        # 15.7 GB host): setup_spark_files 3.6-3.9 -> 0.01 CPU-s, the
        # per-task gc.collect 0.9 -> 0.01 CPU-s, the whole worker main
        # 4.2-4.5 -> 0.5-0.7 CPU-s.  Local mode only: the module must be
        # importable when the daemon starts, which cluster executors cannot
        # promise (see engine/deploy.py).
        b = b.config("spark.python.daemon.module", "engine.worker_daemon")
        b = b.config("spark.driver.defaultJavaOptions", LOCAL_JIT_PROFILE)
        _check_collectors(extra_conf or {})
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


@contextmanager
def job_description(spark: SparkSession, text: str):
    """Describe the body's Spark jobs as ``text``, then restore the caller's
    description (job tags are left alone)."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)
