"""Kill during a rewrite, then resume (FIXTURES.md §8).

A committed pyramid level or stage is rewritten by a child process that is
SIGKILLed, with its JVM and Python workers, in the middle of the rewrite's
data write.  The manifest must not name the killed level or stage, and
``resume=True`` must give back output, manifest values and lineage equal to
those of the uninterrupted run.

The child runs in its own session: Spark's Python daemon moves its workers
to another process group but not to another session, so the session id
names every process the child started.
"""

import os
import signal
import subprocess
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TESTS = os.path.join(ROOT, "tests")
N_ROWS, SEED = 2000, 13

# Re-runs ``runner`` over frame() with a filter that creates ``marker`` and
# then sleeps, so the rewrite's write job stalls until the test kills it.
CHILD = r"""
import sys, time
from pyspark.sql import functions as F
from engine.session import get_spark
from test_kill_resume import frame, run

runner, base, marker = sys.argv[1:4]
spark = get_spark("kill-resume-child", master="local[2]", shuffle_partitions=4)

@F.udf("boolean")
def stall(_):
    open(marker, "a").close()
    time.sleep(3600)
    return True

run(spark, runner, base, frame(spark).where(stall("lon")))
print("CHILD FINISHED")
"""


def frame(spark):
    """N_ROWS documents with a point each, the same in every process."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(SEED)
    return spark.createDataFrame(pd.DataFrame({
        "url": [f"https://p{i}.example/" for i in range(N_ROWS)],
        "lon": rng.uniform(-170.0, 170.0, N_ROWS),
        "lat": rng.uniform(-80.0, 80.0, N_ROWS),
    }))


def run(spark, runner: str, base: str, df, resume: bool = False):
    """A zoom 5..4 pyramid of ``df``'s points, or ``df`` as stage ``docs``."""
    from engine import pipeline

    if runner == "run_tiling":
        return pipeline.run_tiling(spark, df, base, base_zoom=5, min_zoom=4, resume=resume)
    return pipeline.run_doc_stage(spark, "docs", lambda: df, base, resume=resume)


def _session_pids(sid: int) -> list:
    """Pids of the live (not zombie) processes in session ``sid``."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        state, _ppid, _pgrp, session = stat[stat.rfind(")") + 2:].split()[:4]
        if int(session) == sid and state != "Z":
            pids.append(int(name))
    return pids


def _kill_session(child: subprocess.Popen, bound_s: float = 60.0) -> None:
    """SIGKILL every process of ``child``'s session; wait until none is left."""
    deadline = time.time() + bound_s
    while True:
        pids = _session_pids(child.pid)
        if not pids:
            return
        assert time.time() < deadline, f"processes of the killed session survive: {pids}"
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        child.poll()  # reap the child itself
        time.sleep(0.1)


def _state(base: str) -> tuple:
    """Manifest records by key (``ts`` and ``wall_s`` dropped) and lineage
    rows by level or stage."""
    import pyarrow.parquet as pq

    from engine import pipeline

    records = pipeline._manifest_records(base)
    keyed = {r.get("zoom", r["stage"]): {k: v for k, v in r.items() if k not in ("ts", "wall_s")} for r in records}
    assert len(keyed) == len(records), f"more than one record for a key: {records}"
    ldir = os.path.join(base, "_lineage")
    lineage = {d: pq.read_table(os.path.join(ldir, d)).to_pylist() for d in sorted(os.listdir(ldir))}
    return keyed, lineage


def _rows(df) -> list:
    return sorted(tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r) for r in df.collect())


@pytest.mark.parametrize("runner, killed", [("run_tiling", 5), ("run_doc_stage", "docs")])
def test_kill_during_rewrite_then_resume(spark, tmp_path, runner, killed):
    from engine import pipeline

    base = str(tmp_path / "out")
    want = _rows(run(spark, runner, base, frame(spark)))
    committed = _state(base)

    marker = str(tmp_path / "stalled")
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([ROOT, TESTS]),
        SPARK_LOCAL_DIRS=str(tmp_path / "spark-local"),
        SPARK_DRIVER_MEMORY="1g",
    )
    log = tmp_path / "child.log"
    with open(log, "w") as out:
        child = subprocess.Popen(
            [sys.executable, "-c", CHILD, runner, base, marker],
            cwd=str(tmp_path), env=env, stdout=out, stderr=subprocess.STDOUT, start_new_session=True,
        )
    try:
        deadline = time.time() + 300
        while not os.path.exists(marker):
            assert child.poll() is None, f"child exited before its write stalled:\n{log.read_text()[-3000:]}"
            assert time.time() < deadline, f"child's write never started:\n{log.read_text()[-3000:]}"
            time.sleep(0.2)
    finally:
        _kill_session(child)
    assert child.wait(timeout=10) == -signal.SIGKILL

    # no record may name the level or stage whose files the kill tore
    assert killed not in (pipeline.completed_levels(spark, base) | pipeline.completed_stages(spark, base))

    got = _rows(run(spark, runner, base, frame(spark), resume=True))
    assert got == want
    assert _state(base) == committed
