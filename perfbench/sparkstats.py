"""Spark's own record of what ran, read from its status stores (they keep
jobs, stages and SQL executions with the UI off).  Jobs are attributed to
ops by the job group the engine sets per query id (``<query id>::<nonce>``).
"""

from __future__ import annotations

import re

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM = re.compile(r"([-\d.,]+)\s*([A-Za-z]*)")


def metric_value(text: str) -> float:
    """A formatted SQL metric ('60,000', '1.2 MiB', 'total (min, med, max)\\n
    3.4 s (...)') as a number: bytes for sizes, seconds for times."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _NUM.search(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _opt(o):
    return o.get() if o.isDefined() else None


def collect(spark) -> dict:
    """Jobs, stages and SQL executions as plain dicts (times in seconds)."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    st = jsc.statusStore()
    jobs, stage_ids = [], set()
    jl = st.jobsList(None)
    for i in range(jl.size()):
        j = jl.apply(i)
        sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
        if sub is None or done is None:
            continue
        group = _opt(j.jobGroup()) or ""
        sids = [j.stageIds().apply(k) for k in range(j.stageIds().size())]
        stage_ids.update(sids)
        jobs.append({"id": j.jobId(), "op": group.split("::", 1)[0],
                     "start": sub.getTime() / 1e3, "end": done.getTime() / 1e3,
                     "stages": sids})
    stages = {}
    for sid in stage_ids:
        try:
            s = st.lastStageAttempt(sid)
        except Exception:  # stage never ran (skipped) or evicted
            continue
        stages[sid] = {
            "tasks": s.numCompleteTasks(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "peak_exec_mem_bytes": s.peakExecutionMemory(),
        }
    sq = spark._jsparkSession.sharedState().statusStore()
    job_op = {j["id"]: j["op"] for j in jobs}
    execs = []
    el = sq.executionsList()
    for i in range(el.size()):
        e = el.apply(i)
        done = _opt(e.completionTime())
        if done is None:
            continue
        ids = [int(x) for x in re.findall(r"\d+", e.jobs().keys().toString())]
        ops = {job_op[j] for j in ids if j in job_op}
        vals = sq.executionMetrics(e.executionId())
        scan = {"files": 0.0, "rows": 0.0, "bytes": 0.0}
        python_s = 0.0
        g = sq.planGraph(e.executionId())
        nodes = g.allNodes()
        for k in range(nodes.size()):
            node = nodes.apply(k)
            is_scan = node.name().startswith("Scan ")
            ms = node.metrics()
            for q in range(ms.size()):
                m = ms.apply(q)
                v = vals.get(m.accumulatorId())
                if not v.isDefined():
                    continue
                name = m.name()
                if is_scan and name == "number of files read":
                    scan["files"] += metric_value(v.get())
                elif is_scan and name == "number of output rows":
                    scan["rows"] += metric_value(v.get())
                elif is_scan and name == "size of files read":
                    scan["bytes"] += metric_value(v.get())
                elif name == "time to run Python workers":
                    python_s += metric_value(v.get())
        execs.append({"op": ops.pop() if len(ops) == 1 else "",
                      "start": e.submissionTime() / 1e3, "end": done.getTime() / 1e3,
                      "scan": scan, "python_s": python_s})
    return {"jobs": jobs, "stages": stages, "executions": execs}
