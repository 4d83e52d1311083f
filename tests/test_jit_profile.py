"""The JIT profile local sessions give their driver JVM (engine/session.py).

Each session check launches a fresh JVM in a subprocess: flags only reach a
JVM that ``get_spark`` starts itself, and the test session's JVM is already
running.
"""

import json
import os
import subprocess
import sys

from engine.deploy import submit_command
from engine.session import LOCAL_JIT_PROFILE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# prints the JVM's input arguments and the live value of every -XX flag of
# the profile, read back from HotSpot
PROBE = r"""
import json, sys
from engine.session import LOCAL_JIT_PROFILE, get_spark

spark = get_spark("jit-profile", master="local[1]", extra_conf=json.loads(sys.argv[1]))
jvm = spark.sparkContext._jvm
mf = jvm.java.lang.management.ManagementFactory
hs = mf.getPlatformMXBean(jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
names = [f[4:].lstrip("+-").split("=")[0] for f in LOCAL_JIT_PROFILE.split()]
print("PROBE " + json.dumps({
    "args": list(mf.getRuntimeMXBean().getInputArguments()),
    "flags": {n: hs.getVMOption(n).getValue() for n in names},
}))
spark.stop()
"""


def _launch(tmp_path, name: str, extra_conf: dict) -> subprocess.Popen:
    cwd = tmp_path / name
    cwd.mkdir()
    env = dict(os.environ, PYTHONPATH=ROOT, SPARK_DRIVER_MEMORY="1g")
    return subprocess.Popen(
        [sys.executable, "-c", PROBE, json.dumps(extra_conf)],
        cwd=str(cwd), env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )


def _result(proc: subprocess.Popen) -> dict:
    try:
        out, err = proc.communicate(timeout=300)
    except subprocess.TimeoutExpired:
        proc.kill()
        raise
    assert proc.returncode == 0, err[-3000:]
    line = [x for x in out.splitlines() if x.startswith("PROBE ")][-1]
    return json.loads(line[len("PROBE "):])


def _norm(value: str):
    """HotSpot reports a double flag set to 3 as "3.0"."""
    return value if value in ("true", "false") else float(value)


def _expected_values() -> dict:
    want = {}
    for f in LOCAL_JIT_PROFILE.split():
        assert f.startswith("-XX:"), f
        body = f[4:]
        if body[0] in "+-":
            want[body[1:]] = "true" if body[0] == "+" else "false"
        else:
            name, value = body.split("=")
            want[name] = _norm(value)
    return want


def test_local_session_jvm_carries_profile_and_caller_flags(tmp_path):
    # both JVMs start at once to halve the wall time
    mine = _launch(tmp_path, "profile", {"spark.driver.extraJavaOptions": "-Dgeotile.probe=extra"})
    theirs = _launch(tmp_path, "replaced", {"spark.driver.defaultJavaOptions": "-Dgeotile.probe=default"})
    got, replaced = _result(mine), _result(theirs)

    # the profile is on the command line, in order, and in force
    flags = LOCAL_JIT_PROFILE.split()
    start = got["args"].index(flags[0])
    assert got["args"][start : start + len(flags)] == flags
    assert {k: _norm(v) for k, v in got["flags"].items()} == _expected_values()
    # a caller's extraJavaOptions still reach the JVM, after the profile
    assert got["args"].index("-Dgeotile.probe=extra") > start

    # a caller's defaultJavaOptions replaces the profile outright
    assert "-Dgeotile.probe=default" in replaced["args"]
    assert not set(flags) & set(replaced["args"])


def test_cluster_argv_has_no_jit_profile():
    cmd = submit_command("job.py", executors=2, conf={"spark.x": "1"})
    assert cmd == [
        "spark-submit",
        "--master", "yarn",
        "--py-files", "engine.zip",
        "--executor-cores", "4",
        "--executor-memory", "8g",
        "--conf", "spark.sql.adaptive.enabled=true",
        "--conf", "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold=64MB",
        "--conf", "spark.sql.execution.arrow.pyspark.enabled=true",
        "--conf", "spark.sql.execution.arrow.maxRecordsPerBatch=262144",
        "--conf", "spark.python.factory.idleWorkerMaxPoolSize=4",
        "--conf", "spark.executorEnv.MALLOC_MMAP_THRESHOLD_=1073741824",
        "--conf", "spark.executorEnv.MALLOC_TRIM_THRESHOLD_=268435456",
        "--num-executors", "2",
        "--conf", "spark.x=1",
        "job.py",
    ]
    assert not any("XX:" in a or "JavaOptions" in a for a in cmd)


def test_extra_java_options_collector_clash_is_rejected(monkeypatch):
    """A second collector in extraJavaOptions would stop HotSpot from
    starting ("Multiple garbage collectors selected"): get_spark refuses it
    before building a session, and points to defaultJavaOptions.  The
    profile's own collector, or a caller's defaultJavaOptions, pass."""
    import pytest

    from engine import session

    built = []
    monkeypatch.setattr(os, "environ", os.environ.copy())  # get_spark exports worker variables
    monkeypatch.setattr(session.SparkSession.Builder, "getOrCreate", lambda self: built.append(self) or "session")
    with pytest.raises(ValueError, match="spark.driver.defaultJavaOptions"):
        session.get_spark(master="local[1]", extra_conf={"spark.driver.extraJavaOptions": "-Xss4m -XX:+UseG1GC"})
    assert not built
    assert session.get_spark(master="local[1]", extra_conf={"spark.driver.extraJavaOptions": "-XX:+UseParallelGC"})
    assert session.get_spark(
        master="local[1]",
        extra_conf={"spark.driver.extraJavaOptions": "-XX:+UseG1GC", "spark.driver.defaultJavaOptions": "-Xss4m"},
    )
    assert len(built) == 2
