"""Readers for the JVM side: Spark's own status stores and executed plans.

Everything here reads state Spark keeps anyway (``AppStatusStore`` for
jobs and stages, ``SQLAppStatusStore`` for SQL executions, and the SQL
metrics of an executed physical plan); nothing is added to the engine.
"""

from __future__ import annotations


def _conv(spark):
    return spark._jvm.scala.jdk.javaapi.CollectionConverters


def _opt(o):
    return o.get() if o.isDefined() else None


def jobs(spark) -> list[dict]:
    """Every retained job: id, group, submit/end (epoch s), stage ids."""
    conv = _conv(spark)
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for j in conv.asJava(store.jobsList(None)):
        sub, end = _opt(j.submissionTime()), _opt(j.completionTime())
        if sub is None or end is None:
            continue
        out.append({
            "id": j.jobId(),
            "group": _opt(j.jobGroup()),
            "start": sub.getTime() / 1000.0,
            "end": end.getTime() / 1000.0,
            "stages": list(conv.asJava(j.stageIds())),
        })
    return sorted(out, key=lambda j: j["id"])


def stage_totals(spark, stage_ids) -> dict:
    """Summed task metrics of the last attempt of each stage."""
    store = spark.sparkContext._jsc.sc().statusStore()
    t = {"tasks": 0, "exec_run_s": 0.0, "exec_cpu_s": 0.0,
         "shuffle_bytes": 0, "spill_bytes": 0}
    for sid in set(stage_ids):
        try:
            s = store.lastStageAttempt(sid)
        except Exception:  # py4j: stage evicted from the store
            continue
        if s.status().toString() == "SKIPPED":
            continue
        t["tasks"] += s.numTasks()
        t["exec_run_s"] += s.executorRunTime() / 1e3
        t["exec_cpu_s"] += s.executorCpuTime() / 1e9
        t["shuffle_bytes"] += s.shuffleWriteBytes()
        t["spill_bytes"] += s.diskBytesSpilled()
    return t


def written_files(spark, job_ids) -> list[tuple[set, int]]:
    """``(job ids, files)`` of every SQL execution that ran any of
    ``job_ids`` and has a "number of written files" metric above 0."""
    conv = _conv(spark)
    sq = spark._jsparkSession.sharedState().statusStore()
    want = set(job_ids)
    out = []
    for e in conv.asJava(sq.executionsList()):
        ran = set(conv.asJava(e.jobs()).keySet())
        if not want & ran:
            continue
        eid = e.executionId()
        ids = [m.accumulatorId()
               for nd in conv.asJava(sq.planGraph(eid).allNodes())
               for m in conv.asJava(nd.metrics())
               if m.name() == "number of written files"]
        if not ids:
            continue
        values = conv.asJava(sq.executionMetrics(eid))
        files = sum(int(str(values.get(acc)).replace(",", ""))
                    for acc in ids if values.get(acc))
        if files:
            out.append((ran, files))
    return out


def plan_metrics(df, node_name: str) -> dict:
    """Summed SQL metrics (exact accumulator values) of every ``node_name``
    node in ``df``'s executed plan. Call after an action on ``df``."""
    conv = _conv(df.sparkSession)
    totals: dict = {}

    def walk(p):
        name = p.nodeName()
        if name == node_name:
            ms = conv.asJava(p.metrics())
            for k in ms.keySet():
                m = ms[k]
                v = m.value()
                if m.metricType() == "nsTiming":
                    v = v / 1e6  # report every timing in ms
                totals[k] = totals.get(k, 0) + v
        for c in conv.asJava(p.children()):
            walk(c)
        if name == "AdaptiveSparkPlan":
            walk(p.executedPlan())
        elif name.endswith("QueryStage"):
            walk(p.plan())

    walk(df._jdf.queryExecution().executedPlan())
    return totals


def java_version(spark) -> str:
    return spark._jvm.System.getProperty("java.version")
