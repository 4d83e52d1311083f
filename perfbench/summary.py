"""Metrics from a run's sidecar: the numbers ``run.py`` prints are computed
here from the sidecar's raw samples, so a saved sidecar re-analyses to the
same result line without a re-run:

    python3 perfbench/summary.py .bench_build/perfbench/sidecars/<run>.json
"""

from __future__ import annotations

import json
import statistics
import sys

from sparkstats import JOIN_NODES, PYTHON_NODES

# end-to-end metrics on the result line: name → (unit, better).  Job and
# set-up costs are CPU seconds of the driver/JVM/Python-worker process tree
# (setup_s: median of the run's three set-ups).  On a shared 4-vCPU VM the
# hypervisor stole up to 32 CPU-s during a single 5-27 s job (the sidecar
# records it per job); over ten seeds that spread wall times by an
# interquartile range of up to 62% of the median, and the CPU seconds of
# the same jobs by at most 18%.
END_TO_END = {
    "job_cpu_s": ("s", "lower"),
    "rows_per_cpu_s": ("1/s", "higher"),
    "first_job_cpu_s": ("s", "lower"),
    "setup_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}
# wall-clock figures of the same jobs: in the sidecar, the line before the
# result and compare.py, but not on the result line
WALL_CLOCK = {
    "job_s": ("s", "lower"),
    "rows_per_s": ("1/s", "higher"),
    "first_job_s": ("s", "lower"),
    "setup_wall_s": ("s", "lower"),
    "job_steal_s": ("s", "lower"),
}

# layers every Spark-side traced call reports the generic columns for
SPARK_LAYERS = (
    "spark.read.parquet",
    "extract.with_extracted_text",
    "geotag.geotag_first",
    "joins.with_tile",
    "pipeline.run_doc_stage",
    "raster.burn_base_tiles_pip",
    "pipeline.run_stage",
    "raster.pyramid_reduce",
    "joins.polygon_cover_cells",
    "joins.pip_join_shuffle",
    "joins.pip_join_broadcast",
    "algebra.pair_candidates",
)
GENERIC = {
    "wall_s": ("s", "lower"),
    "executor_cpu_s": ("s", "lower"),
    "driver_s": ("s", "lower"),
    "tasks_failed": ("count", "lower"),
    "jobs": ("count", "lower"),
}
ALGEBRA_OPS = ("intersection", "erase", "sym_difference", "union", "identity", "update")
SPECIFIC = {
    "extract.with_extracted_text.python_s": ("s", "lower"),
    "extract.with_extracted_text.arrow_bytes": ("bytes", "lower"),
    "geotag.geotag_first.shuffle_bytes": ("bytes", "lower"),
    "joins.with_tile.arrow_bytes": ("bytes", "lower"),
    "raster.burn_base_tiles_pip.arrow_rows_out": ("count", "lower"),
    "raster.burn_base_tiles_pip.shuffle_bytes": ("bytes", "lower"),
    "raster.pyramid_reduce.shuffle_bytes": ("bytes", "lower"),
    "pipeline.run_stage.bytes_written": ("bytes", "lower"),
    "pipeline.run_doc_stage.bytes_written": ("bytes", "lower"),
    "geom.VectorPIPIndex.query.mpts_per_s": ("Mpts/s", "higher"),
    "geom.VectorPIPIndex.build_s": ("s", "lower"),
    "joins.polygon_cover_cells.rows_out": ("count", "lower"),
    "joins.pip_join_shuffle.shuffle_bytes": ("bytes", "lower"),
    "joins.pip_join_shuffle.candidate_pairs": ("count", "lower"),
    "joins.pip_join_shuffle.hit_ratio": ("ratio", "higher"),
    "joins.pip_join_shuffle.task_skew": ("ratio", "lower"),
    "joins.pip_join_shuffle.python_s": ("s", "lower"),
    **{f"algebra.{op}.{k}": ("count", "lower") for op in ALGEBRA_OPS for k in ("python_operators", "exchanges")},
    "algebra.pair_candidates.rows_out": ("count", "lower"),
    "session.get_spark.s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.coverage": ("ratio", "higher"),
}
PER_LAYER = {**{f"{l}.{k}": v for l in SPARK_LAYERS for k, v in GENERIC.items()}, **SPECIFIC}

# counts that repeat exactly for the same code and inputs
DETERMINISTIC_SUFFIXES = (".jobs", ".python_operators", ".exchanges", ".rows_out", ".candidate_pairs", ".arrow_rows_out")

PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
ROWS_OUT = "number of output rows"


def _interval_union(intervals: list, lo: float, hi: float) -> float:
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _python_nodes(stat: dict):
    for ex in stat["sql"]:
        for node in ex["nodes"]:
            if node["name"] in PYTHON_NODES:
                yield node


def layer_columns(spans: list, stats: dict) -> dict:
    """{layer: {column: value}} summed over every traced call of a layer."""
    cols: dict = {}
    for span in spans:
        c = cols.setdefault(span["layer"], {
            "wall_s": 0.0, "executor_cpu_s": 0.0, "driver_s": 0.0, "tasks_failed": 0, "jobs": 0,
            "python_s": 0.0, "arrow_bytes": 0.0, "arrow_rows_out": 0.0, "shuffle_bytes": 0,
            "bytes_written": 0, "rows_out": 0.0, "candidate_pairs": 0.0, "task_skew": 0.0,
        })
        wall = span["end_s"] - span["start_s"]
        c["wall_s"] += wall
        stat = stats.get(span["tag"]) if span["tag"] else None
        if stat is None:
            c["driver_s"] += wall
            continue
        jobs = [(j["submit_s"], j["complete_s"]) for j in stat["jobs"] if j["complete_s"] is not None]
        c["driver_s"] += wall - _interval_union(jobs, span["start_s"], span["end_s"])
        c["jobs"] += len(stat["jobs"])
        c["tasks_failed"] += sum(s["tasks_failed"] for s in stat["stages"])
        c["executor_cpu_s"] += sum(s["executor_cpu_s"] for s in stat["stages"])
        c["shuffle_bytes"] += sum(s["shuffle_write_bytes"] for s in stat["stages"])
        c["bytes_written"] += sum(s["output_bytes"] for s in stat["stages"])
        for node in _python_nodes(stat):
            c["python_s"] += node["metrics"].get(PY_TIME, 0.0)
            c["arrow_bytes"] += node["metrics"].get(PY_SENT, 0.0) + node["metrics"].get(PY_RECV, 0.0)
            c["arrow_rows_out"] += node["metrics"].get(ROWS_OUT, 0.0)
        for ex in stat["sql"]:
            for node in ex["nodes"]:
                if node["name"] in JOIN_NODES:
                    c["candidate_pairs"] += node["metrics"].get(ROWS_OUT, 0.0)
        busiest = max(stat["stages"], key=lambda s: s["executor_run_s"], default=None)
        if busiest and busiest["task_s"]:
            med = statistics.median(busiest["task_s"])
            c["task_skew"] = max(busiest["task_s"]) / med if med > 0 else 0.0
    for c in cols.values():
        c["rows_out"] = c["arrow_rows_out"]  # rows a layer's Python operators return
    return cols


def per_layer_metrics(side: dict) -> dict:
    trace = side["trace"]
    cols = layer_columns(trace["spans"], trace["stats"])
    out = {name: 0.0 for name in PER_LAYER}
    for layer in SPARK_LAYERS:
        for k in GENERIC:
            out[f"{layer}.{k}"] = cols.get(layer, {}).get(k, 0.0)
    for name in SPECIFIC:
        layer, _, col = name.rpartition(".")
        if layer in cols and col in cols[layer]:
            out[name] = cols[layer][col]
    kernel = trace["probes"].get("kernel")
    if kernel:
        out["geom.VectorPIPIndex.query.mpts_per_s"] = kernel["points"] / kernel["query_s"] / 1e6
        out["geom.VectorPIPIndex.build_s"] = kernel["build_s"]
    census = trace["probes"].get("census")
    if census:
        for op, counts in census["ops"].items():
            for k, v in counts.items():
                out[f"algebra.{op}.{k}"] = v
        out["algebra.pair_candidates.rows_out"] = census["pair_candidates_rows"]
    shuffle = cols.get("joins.pip_join_shuffle")
    if shuffle and shuffle["candidate_pairs"]:
        out["joins.pip_join_shuffle.hit_ratio"] = trace["result"]["rows"] / shuffle["candidate_pairs"]
    out["session.get_spark.s"] = side["setups"][0]["session_s"]
    out["trace.overhead_s"] = trace_wall(side) - job_s(side)
    out["trace.coverage"] = trace_coverage(side)
    return out


def trace_wall(side: dict) -> float:
    job = next(s for s in side["trace"]["spans"] if s["layer"] == "traced_job")
    return job["end_s"] - job["start_s"]


def trace_coverage(side: dict) -> float:
    """Σ wall of the traced job's layer spans / the traced job's wall."""
    spans = side["trace"]["spans"]
    job = next(s for s in spans if s["layer"] == "traced_job")
    inner = sum(s["end_s"] - s["start_s"] for s in spans if s["parent"] == job["id"])
    return inner / (job["end_s"] - job["start_s"])


def trace_self_checks(side: dict) -> list:
    """Failures of the traced run's own consistency checks."""
    cores = side["host"]["cores"]
    cols = layer_columns(side["trace"]["spans"], side["trace"]["stats"])
    fails = [
        f"{layer}: executor_cpu_s {c['executor_cpu_s']:.3f} > {cores} cores x wall {c['wall_s']:.3f}"
        for layer, c in cols.items()
        if c["executor_cpu_s"] > cores * c["wall_s"]
    ]
    cov = trace_coverage(side)
    if abs(1.0 - cov) > 0.10:
        fails.append(f"layer walls cover {cov:.1%} of the traced job wall (must be within 10%)")
    return fails


def sustained_peak(samples: list, k: int = 3) -> float:
    """Highest level held for ``k`` consecutive samples (the max of the
    rolling median), so a momentary spike — worker processes forked and
    reaped between two samples — does not set the high-water mark."""
    if len(samples) < k:
        return max(samples)
    return max(statistics.median(samples[i:i + k]) for i in range(len(samples) - k + 1))


def _timed_jobs(side: dict) -> list:
    return [j for j in side["jobs"] if j["ok"]] or side["jobs"]


def job_s(side: dict) -> float:
    return statistics.median(j["wall_s"] for j in _timed_jobs(side))


def end_to_end_metrics(side: dict) -> dict:
    """The result-line metrics plus the wall-clock figures."""
    jobs = _timed_jobs(side)
    js, cpu = job_s(side), statistics.median(j["cpu_s"] for j in jobs)
    return {
        "job_cpu_s": cpu,
        "rows_per_cpu_s": side["rows"] / cpu,
        "first_job_cpu_s": side["first_job"]["cpu_s"],
        "setup_s": statistics.median(s["cpu_s"] for s in side["setups"]),
        "peak_rss_mb": sustained_peak([mb for _, mb in side["rss_samples"]]),
        "job_s": js,
        "rows_per_s": side["rows"] / js,
        "first_job_s": side["first_job"]["wall_s"],
        "setup_wall_s": statistics.median(s["total_s"] for s in side["setups"]),
        "job_steal_s": statistics.median(j["host_cpu_s"]["steal"] for j in jobs),
    }


def report(side: dict) -> dict:
    """Every metric of a run: {name: {"value", "unit"}} — per-layer ones
    for a traced run, otherwise the result-line and wall-clock ones."""
    if side["trace"] is not None:
        values, units = per_layer_metrics(side), PER_LAYER
    else:
        values, units = end_to_end_metrics(side), {**END_TO_END, **WALL_CLOCK}
    return {k: {"value": values[k], "unit": units[k][0]} for k in units}


def result(side: dict) -> dict:
    """The run's result line: correctness, attempts, and either the
    end-to-end metrics or (traced run) the per-layer metrics."""
    attempted = [side["first_job"], *side["jobs"]]
    failed = sum(not j["ok"] for j in attempted)
    problems = list(side["check_failures"])
    if side["trace"] is not None:
        problems += trace_self_checks(side)
    metrics = report(side)
    return {
        "correct": failed == 0 and not problems,
        "attempted": len(attempted),
        "failed": failed,
        "metrics": {k: metrics[k] for k in (PER_LAYER if side["trace"] is not None else END_TO_END)},
    }


def main(argv: list) -> int:
    if len(argv) != 1:
        print("usage: python3 perfbench/summary.py <sidecar.json>", file=sys.stderr)
        return 2
    with open(argv[0]) as f:
        side = json.load(f)
    print(json.dumps(result(side)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
