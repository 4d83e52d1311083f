"""Read per-call numbers out of Spark's own status stores by job tag.

Every traced layer call runs under a unique Spark job tag
(``SparkContext.addJobTag``).  Afterwards the tagged jobs are looked up in
the core ``AppStatusStore`` (job intervals, stage CPU / shuffle / output
bytes, task durations, failed tasks) and the SQL executions that ran those
jobs are looked up in the ``SQLAppStatusStore`` (plan node names and the
``PythonSQLMetrics``: data sent to / returned from Python workers, Python
run time, rows returned).  Nothing is traced inside the engine.

SQL metric values are only exposed as display strings (``"1.2 MiB"``,
``"340 ms"``, ``"1,234"``); :func:`parse_metric` turns them back into
bytes, seconds or counts, so sizes and times carry the store's display
precision (one decimal in the shown unit).
"""

from __future__ import annotations

import re
from contextlib import contextmanager

# plan-graph node names of the operators that cross into Python
PYTHON_NODES = {
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "PythonMapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
    "ArrowWindowPython",
    "ArrowAggregatePython",
}
EXCHANGE_NODES = {"Exchange", "BroadcastExchange"}
JOIN_NODES = {"SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin"}

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40, "PiB": 1 << 50}
_TIME_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_VALUE_RE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """SQL metric display string → number (bytes, seconds or a count).

    Size/timing metrics render as ``"total (min, med, max ...)\\n<total> (..)"``;
    plain sums render as the bare number with thousands separators."""
    if text is None:
        return 0.0
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE_RE.match(line)
    if m is None:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE_UNITS:
        return value * _SIZE_UNITS[unit]
    if unit in _TIME_UNITS:
        return value * _TIME_UNITS[unit]
    return value


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusReader:
    """Tag → jobs → stages / SQL executions, read once per analysis."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    @contextmanager
    def tagged(self, tag: str):
        """Run the body with ``tag`` added to every Spark job it starts."""
        self.sc.addJobTag(tag)
        try:
            yield
        finally:
            self.sc.removeJobTag(tag)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        stores hold the final numbers of every finished job."""
        self._jsc.listenerBus().waitUntilEmpty(60_000)

    def snapshot(self, tags: set) -> dict:
        """{tag: {"jobs": [...], "stages": [...], "sql": [...]}} for the
        given tags.  Call after :meth:`drain`."""
        store = self._jsc.statusStore()
        jobs_by_tag: dict = {t: [] for t in tags}
        for j in _seq(store.jobsList(None)):
            jtags = set(_seq(j.jobTags()))
            hit = jtags & tags
            if not hit:
                continue
            rec = {
                "job_id": int(j.jobId()),
                "submit_s": _opt_ms(j.submissionTime()),
                "complete_s": _opt_ms(j.completionTime()),
                "status": str(j.status().toString()),
                "stage_ids": [int(s) for s in _seq(j.stageIds())],
                "tasks_failed": int(j.numFailedTasks()),
            }
            for t in hit:
                jobs_by_tag[t].append(rec)

        wanted_stages = {s for recs in jobs_by_tag.values() for r in recs for s in r["stage_ids"]}
        stages: dict = {}
        no_quantiles = getattr(store, "stageData$default$5")()
        for sd in (a for sid in sorted(wanted_stages) for a in _seq(store.stageData(sid, False, None, False, no_quantiles))):
            sid = int(sd.stageId())
            if str(sd.status().toString()) == "SKIPPED":
                continue
            rec = {
                "stage_id": sid,
                "attempt": int(sd.attemptId()),
                "submit_s": _opt_ms(sd.submissionTime()),
                "num_tasks": int(sd.numTasks()),
                "tasks_failed": int(sd.numFailedTasks()),
                "executor_run_s": sd.executorRunTime() / 1e3,
                "executor_cpu_s": sd.executorCpuTime() / 1e9,
                "jvm_gc_s": sd.jvmGcTime() / 1e3,
                "input_bytes": int(sd.inputBytes()),
                "output_bytes": int(sd.outputBytes()),
                "shuffle_write_bytes": int(sd.shuffleWriteBytes()),
                "shuffle_read_bytes": int(sd.shuffleReadBytes()),
                "shuffle_write_records": int(sd.shuffleWriteRecords()),
                "task_s": [
                    t.duration().get() / 1e3
                    for t in _seq(store.taskList(sid, sd.attemptId(), 100_000))
                    if t.duration().isDefined()
                ],
            }
            stages.setdefault(sid, []).append(rec)

        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        job_to_tags: dict = {}
        for t, recs in jobs_by_tag.items():
            for r in recs:
                job_to_tags.setdefault(r["job_id"], set()).add(t)
        sql_by_tag: dict = {t: [] for t in tags}
        for ex in _seq(sql_store.executionsList()):
            it = ex.jobs().keysIterator()
            ex_jobs = set()
            while it.hasNext():
                ex_jobs.add(int(it.next()))
            hit = set().union(*(job_to_tags.get(j, set()) for j in ex_jobs)) if ex_jobs else set()
            if not hit:
                continue
            rec = self._execution(sql_store, ex)
            rec["job_ids"] = sorted(ex_jobs)
            for t in hit:
                sql_by_tag[t].append(rec)

        out = {}
        for t in tags:
            sids = sorted({s for r in jobs_by_tag[t] for s in r["stage_ids"]})
            out[t] = {
                "jobs": sorted(jobs_by_tag[t], key=lambda r: r["job_id"]),
                "stages": [a for s in sids for a in stages.get(s, [])],
                "sql": sql_by_tag[t],
            }
        return out

    def _execution(self, sql_store, ex) -> dict:
        """Final plan graph of one SQL execution: node names with their
        parsed metric values."""
        ex_id = ex.executionId()
        values = {}
        it = sql_store.executionMetrics(ex_id).iterator()
        while it.hasNext():
            kv = it.next()
            values[int(kv._1())] = kv._2()
        nodes = []
        for node in _seq(sql_store.planGraph(ex_id).allNodes()):
            metrics = {}
            for m in _seq(node.metrics()):
                metrics[m.name()] = parse_metric(values.get(int(m.accumulatorId())))
            nodes.append({"name": node.name(), "metrics": metrics})
        return {"execution_id": int(ex_id), "nodes": nodes}
