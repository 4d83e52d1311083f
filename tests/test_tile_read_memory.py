"""Reading persisted tile levels back within a small driver heap.

``pipeline.run_tiling`` reduces each level from the parquet of the level
above, and every row of a tile level carries a 256 KB tile.  Spark's
vectorized parquet reader decodes a whole column batch into one contiguous
buffer, so the batch size set by :func:`engine.session.get_spark` bounds
the heap a tile read asks for.  The probe runs in a fresh JVM with a 2 GB
driver heap at ``local[4]``: the test session's JVM has a larger heap.
"""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

N_POINTS, SEED = 4000, 0

# Tiles N_POINTS uniformly spread points from zoom 6 to zoom 4 and prints
# the manifest's tile count per level.
PROBE = r"""
import json, sys
import numpy as np
import pandas as pd
from engine import pipeline
from engine.session import get_spark

n, seed, base = int(sys.argv[1]), int(sys.argv[2]), sys.argv[3]
spark = get_spark("tile-read-memory", master="local[4]")
rng = np.random.default_rng(seed)
pts = spark.createDataFrame(pd.DataFrame({"lon": rng.uniform(-180.0, 180.0, n), "lat": rng.uniform(-85.0, 85.0, n)}))
pipeline.run_tiling(spark, pts, base, base_zoom=6, min_zoom=4)
levels = pipeline.read_manifest(spark, base).select("zoom", "n_tiles").collect()
print("PROBE " + json.dumps({int(r.zoom): int(r.n_tiles) for r in levels}))
spark.stop()
"""


def test_run_tiling_reads_levels_back_in_a_2g_heap(tmp_path):
    import numpy as np

    from engine import tiles

    env = dict(os.environ, PYTHONPATH=ROOT, SPARK_DRIVER_MEMORY="2g")
    proc = subprocess.run(
        [sys.executable, "-c", PROBE, str(N_POINTS), str(SEED), str(tmp_path / "pyramid")],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [x for x in proc.stdout.splitlines() if x.startswith("PROBE ")][-1]
    got = json.loads(line[len("PROBE "):])
    rng = np.random.default_rng(SEED)
    lon, lat = rng.uniform(-180.0, 180.0, N_POINTS), rng.uniform(-85.0, 85.0, N_POINTS)
    want = {str(z): len(set(zip(*tiles.lonlat_to_tile(lon, lat, z)))) for z in (6, 5, 4)}
    assert got == want, (got, want)
