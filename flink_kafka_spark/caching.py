"""Lifecycle tracking for operator-internal persists.

Several operators persist a multi-consumer subtree (LSH candidate
pairs, shingle sets, the export-shard range pin): the persist is
load-bearing — without it each downstream branch recomputes the full
subtree — but the operator returns a LAZY DataFrame that still
references the cached plan, so the operator itself can never unpersist.
Left alone, cached blocks accumulate across a long-lived session (the
driver's 50-query correctness sweep, bench.py, a query service) and the
JVM degrades as the suite progresses.

Contract:
- operators register every internal persist via :func:`track` (which
  returns the DataFrame unchanged);
- each registered query releases the PREVIOUS query's tracked persists
  when it starts (see ``queries/__init__.all_queries`` — by then the
  previous result has been materialized by its consumer), so sequential
  sweeps hold at most one query's working set;
- batch harnesses additionally call :func:`release_all` after
  materializing each result, so nothing lingers between timed queries:
  bench.py, the profile tool, and every row and ``--curve`` query of
  the stress tool through ``observe.run``; tools/rehearsal.py
  directly.

RDD-level persists (``localCheckpoint`` in the connected-components
loop) need the same lifecycle but are invisible to DataFrame
``unpersist()`` and ``spark.catalog.clearCache()`` — they live in
``sc.getPersistentRDDs()`` only (untracked, every CC
invocation stranded up to max_iter checkpointed label RDDs for the
session lifetime). :func:`persistent_rdd_ids` / :func:`unpersist_rdds`
/ :func:`track_rdds` give those persists the same track/release
contract. One semantic difference, by design: unpersisting a
locally-checkpointed RDD destroys its data (the persisted blocks ARE
the checkpoint; the lineage is truncated), so a released
checkpoint-backed DataFrame cannot be re-materialized — callers get a
fresh frame by re-invoking the query, which every harness here does.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, SparkSession

_LIVE: list[DataFrame] = []
# (owning applicationId, rdd ids) — ids are only meaningful within the
# context that issued them; see track_rdds
_LIVE_RDDS: list[tuple[str | None, frozenset[int]]] = []


def track(df: DataFrame) -> DataFrame:
    """Register an operator-internal persisted DataFrame for deferred
    release. Call on the persisted frame itself; returns it unchanged."""
    _LIVE.append(df)
    return df


def persistent_rdd_ids(sc) -> set[int]:
    """Ids of every RDD currently registered persistent with the
    context (includes localCheckpoint persists, which register
    synchronously at the ``localCheckpoint()`` call)."""
    return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}


def unpersist_rdds(sc, ids) -> int:
    """Unpersist (non-blocking) the RDDs with the given ids, if still
    registered. Returns the number released."""
    n = 0
    jmap = sc._jsc.getPersistentRDDs()
    for entry in jmap.entrySet().toArray():
        if int(entry.getKey()) in ids:
            entry.getValue().unpersist(False)
            n += 1
    return n


def track_rdds(ids, sc=None) -> None:
    """Register RDD-level persist ids (e.g. the final CC label
    checkpoint) for deferred release by :func:`release_all`. The
    owning context's applicationId is recorded alongside: bare integer
    ids are only meaningful within ONE SparkContext, and releasing
    them against a restarted context could unpersist an unrelated RDD
    that happens to reuse the id — fatal for a localCheckpoint, whose
    blocks ARE the data.

    Pass the owning ``sc`` explicitly when the caller holds it (the CC
    loop does): resolving via the thread-local active session records
    ``app=None`` when no session is active on the calling thread, and
    a None-app record is dropped unreleased by :func:`release_all` —
    leak-safe, but the release mechanism never fires."""
    if ids:
        if sc is None:
            spark = SparkSession.getActiveSession()
            sc = spark.sparkContext if spark is not None else None
        app = sc.applicationId if sc is not None else None
        _LIVE_RDDS.append((app, frozenset(ids)))


@contextlib.contextmanager
def release_scope():
    """Release only the persists tracked INSIDE the scope, leaving
    earlier registrations alone — the micro-batch lifecycle: a
    ``foreachBatch`` body runs an operator pipeline whose internal
    persists are dead once the batch's sink materializes, but a
    long-running streaming query must not release the enclosing
    session's tracked frames (release_all would)."""
    mark = len(_LIVE), len(_LIVE_RDDS)
    try:
        yield
    finally:
        _release_since(*mark)


def release_all() -> int:
    """Unpersist every tracked DataFrame and RDD-level persist
    (non-blocking). Returns the number released. Safe to call at any
    query boundary — tracked frames' consumers have materialized by
    then."""
    return _release_since(0, 0)


def _release_since(mark: int, mark_r: int) -> int:
    """Unpersist, newest first, the frames tracked after index ``mark``
    and the RDD records after ``mark_r``; returns the number released."""
    n = 0
    while len(_LIVE) > mark:
        df = _LIVE.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    while len(_LIVE_RDDS) > mark_r:
        app, ids = _LIVE_RDDS.pop()
        try:
            spark = SparkSession.getActiveSession()
            if spark is not None and spark.sparkContext.applicationId == app:
                n += unpersist_rdds(spark.sparkContext, ids)
            # a different (restarted) context: the stored ids are
            # meaningless there — drop the record, touch nothing
        except Exception:
            pass  # session already stopped — nothing to release
    return n
