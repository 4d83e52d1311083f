"""Task retry through the stage runners (engine/pipeline.py).

A level's lineage is folded inside its data write, so a write task that
fails after part of its partition has gone through must leave no trace in
the manifest or the lineage.  The probe runs in a fresh JVM at
``local[2,3]`` (two task slots, three attempts per task): the test
session's JVM runs without task retries.
"""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Commits a tile stage and a document stage twice each, clean and with
# attempt 0 of partition 0 failing after it has passed one batch on; prints
# each commit's manifest record (less its timings), its lineage rows and the
# number of injected failures.
PROBE = r"""
import json, os, sys
from pyspark import TaskContext
from pyspark.sql import functions as F
from engine import pipeline, raster
from engine.session import get_spark

work = sys.argv[1]
spark = get_spark("pipeline-retry", master="local[2,3]", extra_conf={"spark.sql.execution.arrow.maxRecordsPerBatch": "64"})


def flaky(marker):
    def run(batches):
        ctx = TaskContext.get()
        for b in batches:
            yield b
            if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
                with open(marker, "a") as f:
                    f.write("failed\n")
                raise RuntimeError("injected task failure")
    return run


def commit(kind, faulty):
    name = f"{kind}_{'faulty' if faulty else 'clean'}"
    base, marker = os.path.join(work, name), os.path.join(work, name + ".failures")
    if kind == "tiles":
        pts = spark.range(0, 4000, numPartitions=4).select(
            ((F.col("id") * 37 % 3600) / 10.0 - 180.0).alias("lon"),
            ((F.col("id") * 53 % 1700) / 10.0 - 85.0).alias("lat"),
        )
        df = raster.burn_base_tiles(pts, 5)
    else:
        df = spark.range(0, 3000, numPartitions=3).select(
            "id", (F.col("id") * 7 % 101).alias("v"), F.concat(F.lit("u"), F.col("id").cast("string")).alias("url")
        )
    produce = (lambda: df.mapInArrow(flaky(marker), df.schema)) if faulty else (lambda: df)
    run = pipeline.run_stage if kind == "tiles" else pipeline.run_doc_stage
    run(spark, kind, produce, base)
    (mfile,) = os.listdir(os.path.join(base, pipeline.MANIFEST_DIR))
    rec = json.loads(open(os.path.join(base, pipeline.MANIFEST_DIR, mfile)).read())
    lineage = spark.read.parquet(os.path.join(base, "_lineage", f"stage={kind}"))
    return {
        "manifest": {k: v for k, v in rec.items() if k not in ("ts", "wall_s")},
        "lineage": sorted(list(r) for r in lineage.collect()),
        "failures": len(open(marker).readlines()) if os.path.exists(marker) else 0,
    }


print("PROBE " + json.dumps({f"{k}_{f}": commit(k, f) for k in ("tiles", "docs") for f in (False, True)}))
spark.stop()
"""


def test_stage_commit_survives_a_failed_task_attempt(tmp_path):
    env = dict(os.environ, PYTHONPATH=ROOT, SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, "-c", PROBE, str(tmp_path)],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [x for x in proc.stdout.splitlines() if x.startswith("PROBE ")][-1]
    got = json.loads(line[len("PROBE "):])
    for kind in ("tiles", "docs"):
        clean, faulty = got[f"{kind}_False"], got[f"{kind}_True"]
        assert clean["failures"] == 0 and faulty["failures"] == 1, (kind, got)
        assert clean["lineage"] and faulty["lineage"] == clean["lineage"], (kind, got)
        assert faulty["manifest"] == clean["manifest"], (kind, got)
        assert clean["manifest"]["master"] == "local[2,3]"
        assert clean["manifest"]["shuffle_partitions"] == "2"
