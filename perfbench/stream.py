"""The stream workload: three detectors replay seed-generated backlogs.

The detectors use the streaming layer three different ways:
order_timeout_stream keeps per-key Python state, hot_items_stream the
JVM state store, and heavy_hitters_stream merges a driver-side sketch
in ``foreachBatch``.

Each replay is a closed loop: an ``availableNow`` query over a file
source with ``maxFilesPerTrigger=1``, so the next micro-batch starts
only when the previous one has finished. One operation is one
micro-batch; its latency is ``durationMs.triggerExecution``.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time
from collections import defaultdict

import gen
import layers

# detector -> (backlog directory, events in its backlog); sized so that
# no detector dominates the replay time
DETECTORS = {
    "order_timeout_stream": ("orders", 1_000),
    "hot_items_stream": ("hot", 40_000),
    "heavy_hitters_stream": ("hh", 40_000),
}
FILES = 1  # micro-batches with data per replay
MIN_PASSES = 2
HH_K = 16
TIMEOUT_S = 900
REPLAY_TIMEOUT_S = 120


def make_backlogs(seed: int, root: str) -> dict[str, dict]:
    rng = gen.np.random.default_rng([seed, 3])
    (o_dir, o_n), (h_dir, h_n), (hh_dir, hh_n) = DETECTORS.values()
    return {
        "order_timeout_stream": gen.order_backlog(
            rng, os.path.join(root, o_dir), o_n, FILES, TIMEOUT_S
        ),
        "hot_items_stream": gen.hot_items_backlog(rng, os.path.join(root, h_dir), h_n, FILES),
        "heavy_hitters_stream": gen.heavy_hitters_backlog(
            rng, os.path.join(root, hh_dir), hh_n, FILES
        ),
    }


class _Replay:
    """Starts one detector replay and reads back what it emitted."""

    def __init__(self, spark, root: str, name: str, tag: str) -> None:
        self.spark, self.name = spark, name
        self.src_dir = os.path.join(root, DETECTORS[name][0])
        self.table = f"perfbench_{name}_{tag}"
        self.ckpt = os.path.join(root, "ckpt", self.table)
        self.last_sketch: list = []

    def start(self):
        from flink_kafka_spark import schemas
        from flink_kafka_spark.streaming import jobs, stateful
        from flink_kafka_spark.streaming.sources import csv_replay_source

        def src(schema):
            return csv_replay_source(self.spark, self.src_dir, schema, max_files_per_trigger=1)

        if self.name == "heavy_hitters_stream":
            events = src(schemas.LOGIN_EVENT).withWatermark("ts", "1 second")
            writer = jobs.heavy_hitters_stream(events, self._keep_sketch, col="ip", k=HH_K)
        else:
            if self.name == "order_timeout_stream":
                orders = src(schemas.ORDER_EVENT).withWatermark("ts", "1 second")
                df = stateful.order_timeout_stream(orders, timeout_s=TIMEOUT_S)
            else:  # hot_items_stream sets its own watermark
                df = jobs.hot_items_stream(src(schemas.USER_BEHAVIOR))
            writer = df.writeStream.outputMode("append").format("memory").queryName(self.table)
        return writer.option("checkpointLocation", self.ckpt).trigger(availableNow=True).start()

    def _keep_sketch(self, df, epoch_id: int) -> None:
        self.last_sketch = df.collect()

    def outputs(self) -> dict[str, int]:
        """What the detector emitted, in the generator's expect format."""
        if self.name == "heavy_hitters_stream":
            out = {r.item: r.est for r in self.last_sketch if r.item is not None}
            out["n_seen"] = self.last_sketch[0].n_seen if self.last_sketch else 0
            return out
        if self.name == "hot_items_stream":
            sql = f"SELECT 'window_counts' AS k, SUM(cnt) AS n FROM {self.table} WHERE item_id < 1000000"
        else:
            sql = f"SELECT result_type AS k, COUNT(*) AS n FROM {self.table} GROUP BY result_type"
        rows = {r.k: int(r.n or 0) for r in self.spark.sql(sql).collect()}
        self.spark.catalog.dropTempView(self.table)
        return rows


def check_outputs(name: str, got: dict, backlog: dict) -> str | None:
    """None when the detector emitted exactly what the generator planted."""
    want = backlog["expect"]
    if name != "heavy_hitters_stream":
        return None if got == want else f"emitted {got}, planted {want}"
    n = backlog["rows"]
    if got.get("n_seen") != n:
        return f"sketch saw {got.get('n_seen')} of {n} rows"
    slack = n / (HH_K + 1)
    bad = {k: got.get(k) for k, c in want.items() if not c - slack <= got.get(k, 0) <= c}
    return f"heavy items {bad} outside [true - n/(k+1), true] of {want}" if bad else None


def replay(spark, progress, root: str, name: str, tag: str) -> dict:
    r = _Replay(spark, root, name, tag)
    t0 = time.perf_counter()
    q = r.start()
    finished = q.awaitTermination(REPLAY_TIMEOUT_S)
    wall = time.perf_counter() - t0
    if not finished:
        q.stop()
    # progress events trail awaitTermination; the terminated event is last
    done = progress.wait_terminated(str(q.id), 30)
    return {"name": name, "wall": wall, "events": progress.events.pop(str(q.id), []),
            "ok": finished and done, "error": q.exception(), "outputs": r.outputs()}


def _problem(r: dict, backlog: dict) -> str | None:
    if not r["ok"] or r["error"] is not None:
        return f"replay did not finish cleanly: {r['error']}"
    rows_in = sum(e["numInputRows"] for e in r["events"])
    if rows_in != backlog["rows"]:
        return f"progress counted {rows_in} of {backlog['rows']} rows"
    return check_outputs(r["name"], r["outputs"], backlog)


def _layers(replays: list[dict]) -> dict[str, float]:
    """Per-layer readings from the replays' progress events."""
    lay: dict[str, float] = defaultdict(float)
    phases = defaultdict(list)
    add_batch = defaultdict(list)
    for r in replays:
        for e in r["events"]:
            dm, ops = e["durationMs"], e.get("stateOperators", [])
            if e["numInputRows"] > 0:
                add_batch[r["name"]].append(dm.get("addBatch", 0))
            phases["get_batch"].append(dm.get("latestOffset", 0) + dm.get("getBatch", 0))
            phases["planning"].append(dm.get("queryPlanning", 0))
            phases["wal"].append(dm.get("walCommit", 0) + dm.get("commitOffsets", 0))
            phases["state_commit"].append(sum(o.get("commitTimeMs", 0) for o in ops))
            rows = sum(o.get("numRowsTotal", 0) for o in ops)
            nbytes = sum(o.get("memoryUsedBytes", 0) for o in ops)
            lay["stream.state_rows_peak"] = max(lay["stream.state_rows_peak"], rows)
            lay["stream.state_bytes_peak"] = max(lay["stream.state_bytes_peak"], nbytes)
            lay["stream.rows_dropped_late"] += sum(
                o.get("numRowsDroppedByWatermark", 0) for o in ops
            )
    for name, ms in add_batch.items():
        lay[f"stream.add_batch_ms.{name}"] = statistics.median(ms)
    for key, ms in phases.items():
        lay[f"stream.{key}_ms"] = statistics.median(ms)
    return lay


def run(ctx, name: str) -> dict:
    backlogs = make_backlogs(ctx.seed, ctx.work)
    spark = ctx.start_session()
    progress = layers.Progress()
    spark.streams.addListener(progress)
    order_rng = random.Random(ctx.seed)

    for d in order_rng.sample(list(DETECTORS), len(DETECTORS)):  # warm-up at full scale
        replay(spark, progress, ctx.work, d, "warm")
    setup_s = time.perf_counter() - ctx.t0

    # the timed window: whole passes, each replaying every detector in a
    # seeded order; at least MIN_PASSES and at least ctx.seconds. Its per-layer readings
    # come from the progress events the latencies need anyway, so a
    # traced run adds no work here.
    host0 = layers.cpu_times()
    replays, passes, start = [], 0, time.perf_counter()
    while passes < MIN_PASSES or time.perf_counter() - start < ctx.seconds:
        pass_start, done = time.perf_counter(), len(replays)
        for d in order_rng.sample(list(DETECTORS), len(DETECTORS)):
            replays.append(replay(spark, progress, ctx.work, d, f"p{passes}"))
        passes += 1
        walls = " ".join(
            f"{r['name']}={r['wall']:.2f}/" + ",".join(str(e["durationMs"]["triggerExecution"]) for e in r["events"])
            for r in replays[done:]
        )
        print(f"perfbench: pass {passes}: {time.perf_counter() - pass_start:.2f} s: {walls}",
              file=sys.stderr)
    host = layers.host_metrics(host0)

    failed = 0
    for r in replays:  # correctness, after the timed window
        bad = _problem(r, backlogs[r["name"]])
        if bad:
            print(f"perfbench: {r['name']}: {bad}", file=sys.stderr)
            failed += max(1, len(r["events"]))
    return {
        "setup_s": setup_s,
        "latencies_s": [e["durationMs"]["triggerExecution"] / 1e3 for r in replays for e in r["events"]],
        "rows": passes * sum(b["rows"] for b in backlogs.values()),
        "wall_s": sum(r["wall"] for r in replays),
        "attempted": sum(len(r["events"]) for r in replays),
        "failed": failed,
        "correct": failed == 0,
        "layers": {**_layers(replays), **host},
    }
