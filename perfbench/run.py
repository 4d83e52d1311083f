"""spark-geotile benchmark: one workload per invocation, on local[4] from a
single driver process.

    python3 perfbench/run.py --workload pages_e2e --seed 1 --seconds 5 --trace 0

Phases of a run:

1. generate — pandas inputs from ``--seed`` (stored files, reference);
   reported as ``gen_s`` in the sidecar, outside ``setup_s``;
2. set up three times — start (or restart) the Spark session and load
   the inputs; ``setup_s`` is the median of their CPU seconds;
3. the first job, which also warms the JVM and starts the Python workers
   — ``first_job_cpu_s`` and ``first_job_s``;
4. timed jobs for ``--seconds`` (at least one; exactly one with
   ``--trace 1``) — ``job_cpu_s`` and ``job_s`` are their medians; every
   job's output is checked, untimed, against the reference;
5. ``--trace 1`` only: the traced job (each layer forced in turn, one Spark
   job tag per call) and the probes, read back from Spark's status stores.

All runtime files live under ``.bench_build/perfbench/`` in the checkout.
The sidecar (``.bench_build/perfbench/sidecars/``) keeps every raw sample;
``summary.py`` recomputes the printed result from it and ``compare.py``
compares two sets of sidecars.  The last stdout line is the result JSON;
the line before it names the workload, host and sidecar.  The exit code is
non-zero when an output or trace self-check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MASTER = "local[4]"
SETUPS = 3


def host_info() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    model = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "cores": int(MASTER[6:-1]),
        "mem_gb": round(mem_kb / 2**20, 1),
        "cpu_model": model,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }


def _prepare_env(build: str) -> None:
    """Keep every file Spark, the JVM and the workers write in the checkout."""
    tmp = os.path.join(build, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # a 2 GB driver heap holds both workloads and keeps peak memory small
    # on a host whose memory is shared (the engine's default is 8 GB)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)


def _start_session(build: str, conf: dict):
    from engine.session import get_spark

    tmp = os.path.join(build, "tmp")
    spark = get_spark(
        "perfbench",
        master=MASTER,
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
            "spark.ui.showConsoleProgress": "false",
            **conf,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_jvm() -> None:
    """Stop the gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _run_checked(wl, spark, k: int) -> dict:
    """One job, timed; its output checked after the timer stops."""
    import tracing

    rec = {"k": k, "wall_s": None, "ok": False, "errors": []}
    host0, tree0 = tracing.host_cpu_s(), tracing.tree_cpu_s(os.getpid())
    t0 = time.perf_counter()
    try:
        handle = wl.job(spark, k)
        rec["wall_s"] = time.perf_counter() - t0
        host1, rec["cpu_s"] = tracing.host_cpu_s(), tracing.tree_cpu_s(os.getpid()) - tree0
        rec["host_cpu_s"] = {key: host1[key] - host0[key] for key in host0}
        rec["errors"] = wl.check(spark, handle)
    except Exception:  # a failed job is counted and the run goes on
        rec["wall_s"] = rec["wall_s"] or time.perf_counter() - t0
        rec["errors"] = [traceback.format_exc(limit=3)]
    rec["ok"] = not rec["errors"]
    return rec


def run(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    build = os.path.join(ROOT, ".bench_build", "perfbench")
    _prepare_env(build)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import tracing
    import workloads
    from sparkstats import StatusReader

    work = os.path.join(build, "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    side = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": None,
        "host": host_info(), "started": time.time(), "master": MASTER,
    }
    sampler = tracing.RssSampler().start()
    spark = None
    try:
        wl = workloads.WORKLOADS[workload](seed, work)
        side["rows"] = wl.rows
        _, side["gen_s"] = _timed(wl.generate)

        side["setups"] = []
        for _ in range(SETUPS):
            cpu0, t0 = tracing.tree_cpu_s(os.getpid()), time.perf_counter()
            if spark is not None:
                spark.stop()
            spark, session_s = _timed(lambda: _start_session(build, wl.spark_conf))
            _, load_s = _timed(lambda: wl.load(spark))
            side["setups"].append({
                "session_s": session_s, "load_s": load_s, "total_s": time.perf_counter() - t0,
                "cpu_s": tracing.tree_cpu_s(os.getpid()) - cpu0,
            })

        side["first_job"] = _run_checked(wl, spark, 0)
        side["jobs"] = []
        t0 = time.perf_counter()
        while not side["jobs"] or (not trace and time.perf_counter() - t0 < seconds):
            side["jobs"].append(_run_checked(wl, spark, len(side["jobs"]) + 1))
        side["check_failures"] = wl.check_inputs(spark)

        if trace:
            reader = StatusReader(spark)
            tracer = tracing.Tracer(reader)
            with tracer.span("traced_job", spark_tagged=False):
                handle = wl.traced_job(spark, tracer)
            side["check_failures"] += [f"traced job: {e}" for e in wl.check(spark, handle)]
            probes = wl.probes(spark, tracer)
            reader.drain()
            side["trace"] = {
                "spans": tracer.spans,
                "stats": reader.snapshot(tracer.tags()),
                "probes": probes,
                "result": handle,
            }
    finally:
        if spark is not None:
            spark.stop()
        _stop_jvm()
        side["rss_samples"] = sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
    return side


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["pages_e2e", "pip_large_skewed"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    # on SIGTERM unwind through run()'s finally, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    side = run(args.workload, args.seed, args.seconds, bool(args.trace))
    import summary

    res = summary.result(side)
    side["result"] = res
    shown_metrics = summary.report(side)
    sidecars = os.path.join(ROOT, ".bench_build", "perfbench", "sidecars")
    os.makedirs(sidecars, exist_ok=True)
    path = os.path.join(
        sidecars, f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(side['started'])}-{os.getpid()}.json"
    )
    with open(path, "w") as f:
        json.dump(side, f)
    for j in [side["first_job"], *side["jobs"]]:
        for e in j["errors"]:
            print(f"job {j['k']} failed: {e}", file=sys.stderr)
    for e in side["check_failures"]:
        print(f"check failed: {e}", file=sys.stderr)
    h = side["host"]
    shown = " ".join(f"{k}={v['value']:.6g} {v['unit']}" for k, v in shown_metrics.items()
                     if not args.trace or v["value"])
    print(f"{args.workload} seed={args.seed} trace={args.trace} nproc={h['nproc']} mem_gb={h['mem_gb']} "
          f"spark={h['spark']} | {shown} | sidecar={os.path.relpath(path, ROOT)}")
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
