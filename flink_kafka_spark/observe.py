"""One query-run path: run a registered query, then read what it did
from Spark's own status stores.

:func:`run` is the one run path of the timing harnesses (bench.py,
the profile and stress tools). It tags every job the query issues with
one job group, times the DataFrame build (which includes any eager
driver-side jobs) apart from the ``noop`` action, and always leaves
the session clean: no job group, no tracked or catalog-cached persists.

:func:`read` attributes work to a run afterwards, through the job group:
``statusTracker`` maps the group to its jobs and stages, and the
context's status store holds each stage's task metrics. Both are kept
with the UI off (the session default), so nothing goes over HTTP. With
``sql=True`` it also reads per-operator metrics, each execution's
plan-graph operator counts and the final physical plan from the SQL
status store. Every value crosses py4j one call at
a time: on 4 cores a read took 45-409 ms for 4-66 jobs, and 0.1-3.3 s
with ``sql=True``, so timing loops should not call it between runs.
"""

from __future__ import annotations

import os
import re
import sys
import time
import uuid

from py4j.protocol import Py4JJavaError

from .caching import persistent_rdd_ids, release_all
from .session import DEFAULT_SF_DIR

# the smallest scale factor, beside the default data directory
WARM_DIR = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")


def run(spark, query, sf_dir: str) -> dict:
    """Build ``query`` at ``sf_dir`` and write it to the ``noop`` sink.
    ``wall_s`` is build + action; the release afterwards is untimed.
    ``leaked_rdds`` counts RDDs still persistent after the release.
    ``action_epoch_ms`` is the wall clock (whole ms, like Spark's job
    times) when the action started, which :func:`read` uses to split the
    run's jobs. ``codegen_compiles`` counts the classes Spark compiled
    in the driver JVM during the run, each a generated-code cache miss;
    in local mode the tasks run in that JVM, so theirs count too."""
    sc = spark.sparkContext
    group = f"observe:{query.name}:{uuid.uuid4().hex}"
    compilations = _compilations(sc)
    compiled = compilations.getCount()
    sc.setJobGroup(group, query.name)
    try:
        epoch0 = time.time()
        t0 = time.perf_counter()
        df = query.fn(spark, sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
    finally:
        sc._jsc.clearJobGroup()
        release_all()
        spark.catalog.clearCache()
        leaked = len(persistent_rdd_ids(sc))
    return {"name": query.name, "group": group, "build_s": t1 - t0,
            "action_s": t2 - t1, "wall_s": t2 - t0,
            "action_epoch_ms": int((epoch0 + t1 - t0) * 1e3),
            "leaked_rdds": leaked,
            "codegen_compiles": compilations.getCount() - compiled}


def _compilations(sc):
    """The JVM's histogram of Spark ``CodeGenerator`` compile times, its
    count the classes compiled so far. One fully qualified lookup: py4j
    resolves a dotted attribute chain one package segment at a time
    (~1.8 ms on 4 cores). Reading the count on the held object takes
    0.05 ms."""
    metrics = getattr(sc._jvm, "org.apache.spark.metrics.source.CodegenMetrics")
    return metrics.METRIC_COMPILATION_TIME()


def warm(spark, queries) -> None:
    """One untimed run of each query at sf0.001 (codegen, parquet reader
    and broadcast init), so timed runs measure the steady state. The
    compiled classes last while the queries' distinct classes fit the
    session's generated-code cache (8192 entries; the whole registry
    compiles 2,614 at sf0.001), and they serve a timed run whose plan
    generates the same code: a plan that AQE changes at a larger scale
    factor compiles its new classes in the first timed run."""
    for q in queries:
        try:
            run(spark, q, WARM_DIR)
        except Exception as e:  # the timed run raises it again
            print(f"warm-up of {q.name} failed: {e!r}", file=sys.stderr)


def read(spark, record: dict, sql: bool = False) -> dict:
    """Jobs, ``build_jobs`` (the eager jobs of the DataFrame build, those
    submitted before the action started), stages, tasks, executor time,
    shuffle and spill bytes and driver-gap seconds (wall time covered by
    no job) of one run, plus per-stage rows. ``sql=True`` adds
    ``operators`` (plan nodes ranked by timing-metric seconds),
    ``executions`` (per SQL execution in id order, its plan-audit
    counts, see :func:`_count_graph`) and ``plan`` (the formatted final
    plan of the run's last execution)."""
    sc = spark.sparkContext
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    job_ids = tracker.getJobIdsForGroup(record["group"])
    spans, stage_ids, build_jobs = [], set(), 0
    for jid in job_ids:
        job = store.job(jid)
        submitted = _epoch(job.submissionTime())
        build_jobs += submitted < record["action_epoch_ms"] / 1e3
        if job.completionTime().isDefined():
            spans.append((submitted, _epoch(job.completionTime())))
        stage_ids.update(tracker.getJobInfo(jid).stageIds)
    stages = []
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # never attempted
            continue
        if st.status().toString() != "COMPLETE":
            continue
        launched = st.firstTaskLaunchedTime()
        stages.append({
            "stage": sid,
            "name": st.name().split("\n")[0],
            "duration_s": _epoch(st.completionTime()) - _epoch(launched) if launched.isDefined() else 0.0,
            "tasks": st.numTasks(),
            "executor_run_s": st.executorRunTime() / 1e3,
            "executor_cpu_s": st.executorCpuTime() / 1e9,
            "shuffle_read_bytes": st.shuffleReadBytes(),
            "shuffle_write_bytes": st.shuffleWriteBytes(),
            "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
        })
    out = {"jobs": len(job_ids), "build_jobs": build_jobs, "stages": len(stages)}
    for key in ("tasks", "executor_run_s", "executor_cpu_s", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes"):
        out[key] = sum(s[key] for s in stages)
    out["driver_gap_s"] = max(0.0, record["wall_s"] - _covered(spans))
    out["stage_rows"] = stages
    if sql:
        out.update(_read_sql(spark, set(job_ids)))
    return out


def _read_sql(spark, job_ids: set[int]) -> dict:
    store = spark._jsparkSession.sharedState().statusStore()
    execs = [e for e in _seq(store.executionsList()) if job_ids & _keys(e.jobs())]
    ops, executions = [], []
    for e in sorted(execs, key=lambda e: e.executionId()):
        eid = e.executionId()
        values = store.executionMetrics(eid)
        graph = store.planGraph(eid)
        nodes = _seq(graph.allNodes())
        for node in nodes:
            sec, rows = 0.0, ""
            for m in _seq(node.metrics()):
                v = values.get(m.accumulatorId())
                if not v.isDefined():
                    continue
                if m.metricType() in ("timing", "nsTiming"):
                    sec += _seconds(v.get())
                elif m.name() == "number of output rows":
                    rows = v.get()
            ops.append({"execution": eid, "node": node.name(), "sec": sec, "rows": rows})
        executions.append({"execution": eid, **_count_graph(nodes, _seq(graph.edges()))})
    ops.sort(key=lambda o: -o["sec"])
    last = max(execs, key=lambda e: e.executionId(), default=None)
    return {"operators": ops, "executions": executions,
            "plan": last.physicalPlanDescription() if last else ""}


# plan-graph node name -> audit key (the keys of tools/gen_plans.COUNTED)
_GRAPH_COUNTED = {
    "Exchange": "exchanges",
    "BroadcastHashJoin": "broadcasts",
    "SortMergeJoin": "smj",
    "BroadcastNestedLoopJoin": "bnlj",
    "CartesianProduct": "cartesian",
}


def _count_graph(nodes, edges) -> dict:
    """Audit counts of one execution's plan graph (the AQE final plan),
    over every node and, as ``live_*``, over the nodes reached from the
    root without passing an InMemoryTableScan: the graph also lists the
    cached build plan below that scan, which ran once at
    materialization. The graph keeps one node per distinct exchange."""
    # split: a skew join is named "SortMergeJoin(skew=true)"
    names = {n.id(): n.name().split("(")[0] for n in nodes}
    inputs: dict[int, list[int]] = {}
    for e in edges:
        inputs.setdefault(e.toId(), []).append(e.fromId())
    stack = list(names.keys() - {e.fromId() for e in edges})
    live = set()
    while stack:
        nid = stack.pop()
        if nid not in live:
            live.add(nid)
            if names.get(nid) != "InMemoryTableScan":
                stack.extend(inputs.get(nid, ()))
    out = {}
    for prefix, ids in (("", names), ("live_", live)):
        kept = [names.get(i) for i in ids]
        out.update({prefix + k: kept.count(name) for name, k in _GRAPH_COUNTED.items()})
    return out


_DURATION = re.compile(r"(\d+(?:\.\d+)?) (ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _seconds(value: str) -> float:
    """Seconds of a formatted timing metric; the first duration in it
    is the total over tasks."""
    m = _DURATION.search(value)
    return float(m.group(1)) * _UNIT_S[m.group(2)] if m else 0.0


def _epoch(opt) -> float:
    return opt.get().getTime() / 1e3


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _keys(jmap) -> set[int]:
    return {int(k) for k in jmap.keys().mkString(",").split(",") if k}


def _covered(spans) -> float:
    """Length of the union of [start, end] spans."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(spans):
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total
