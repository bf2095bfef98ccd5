"""Spark's own measurements of one action, read from the driver's
status stores (the data behind the web UI, present with the UI off).

``stages_of(spark, group)`` lists the stages of every job run under a
job group; ``sql_node_metrics`` reads the SQL metrics of the last
query execution. Both go through py4j into Spark's internal stores,
so each is only used by the traced run.
"""

from __future__ import annotations

import re

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9}


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def stages_of(spark, group: str) -> list[dict]:
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = []
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        info = sc.statusTracker().getJobInfo(job_id)
        for stage_id in (info.stageIds if info else ()):
            for st in _seq(store.stageData(stage_id, False, None, False,
                                           None)):
                tasks = _seq(store.taskList(stage_id, st.attemptId(),
                                            100000))
                durs = [t.duration().get() for t in tasks
                        if t.duration().isDefined()]
                out.append({
                    "stage": stage_id,
                    "tasks": st.numTasks(),
                    "run_ms": st.executorRunTime(),
                    "shuffle_write_bytes": st.shuffleWriteBytes(),
                    "shuffle_write_s": st.shuffleWriteTime() / 1e9,
                    "fetch_wait_s": st.shuffleFetchWaitTime() / 1e3,
                    "task_ms": durs,
                })
    return out


def _parse(value: str) -> float:
    """'total (min, med, max ...)\\n16.3 MiB (...)' or '5,000' -> number
    in bytes, seconds or a plain count."""
    line = value.strip().split("\n")[-1]
    m = re.match(r"([\d.,]+)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2) or "", 1.0)


def sql_node_metrics(spark, node: str) -> dict[str, float]:
    """Metric name -> value of the first plan node called ``node`` in the
    most recent SQL execution."""
    sq = spark._jsparkSession.sharedState().statusStore()
    execs = sq.executionsList()
    if execs.size() == 0:
        return {}
    eid = execs.last().executionId()
    values = sq.executionMetrics(eid)
    nodes = sq.planGraph(eid).allNodes()
    for i in range(nodes.size()):
        n = nodes.apply(i)
        if n.name() != node:
            continue
        out = {}
        ms = n.metrics()
        for j in range(ms.size()):
            m = ms.apply(j)
            v = values.get(m.accumulatorId())
            if v.isDefined():
                out[m.name()] = _parse(v.get())
        return out
    return {}
