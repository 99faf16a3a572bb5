"""Per-layer readings taken from outside the engine.

Spark side: every benchmark operation runs its DataFrame build under
job group ``<op>:build`` and its action under ``<op>:action``. After
the operation, :func:`read_group` reads the group's jobs from
``statusTracker`` and each stage from the status store (the UI may be
off), before the store's retention can evict them.

Streaming side: :class:`Progress` keeps every ``StreamingQueryProgress``
of every query, and records termination, so a replay is read only after
its last progress event has arrived.

Host side: CPU steal share and load average, for diagnosis only.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener


def _ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def read_group(sc, group: str) -> dict:
    """Jobs, stages, tasks and executor totals of one job group, with
    the [submission, completion] interval of each job (epoch seconds)."""
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    out = defaultdict(float)
    out["spans"] = []
    for jid in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        job = store.job(jid)
        start, end = _ms(job.submissionTime()), _ms(job.completionTime())
        if start is not None:
            out["spans"].append((start, end if end is not None else time.time()))
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped stage: never attempted
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out


def uncovered(start: float, end: float, spans: list[tuple[float, float]]) -> float:
    """Length of [start, end] not covered by any of ``spans``."""
    covered, cur = 0.0, start
    for a, b in sorted(spans):
        a, b = max(a, cur), min(b, end)
        if b > a:
            covered += b - a
            cur = b
    return max(0.0, (end - start) - covered)


class Progress(StreamingQueryListener):
    """Every progress event per query id, plus terminations."""

    def __init__(self) -> None:
        self.events: dict[str, list[dict]] = defaultdict(list)
        self._done: set[str] = set()
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        prog = json.loads(event.progress.json)
        with self._lock:
            self.events[prog["id"]].append(prog)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self._done.add(str(event.id))

    def wait_terminated(self, qid: str, timeout_s: float) -> bool:
        """Progress events arrive on the listener bus after
        ``awaitTermination`` returns; the terminated event comes last."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if qid in self._done:
                    return True
            time.sleep(0.02)
        return False


def cpu_times() -> tuple[int, int] | None:
    """(steal, total) jiffies since boot, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def host_metrics(before: tuple[int, int] | None) -> dict[str, float]:
    after = cpu_times()
    steal = 0.0
    if before and after and after[1] > before[1]:
        steal = (after[0] - before[0]) / (after[1] - before[1])
    return {"host.steal_frac": steal, "host.load1": os.getloadavg()[0]}
