"""The batch workloads: registry queries run through the ``noop`` sink.

One operation is one query: its DataFrame build (which includes any
eager jobs the engine runs while building) plus the ``noop`` action.
``caching.release_all`` runs after each operation, outside its
latency but inside the timed window, and any RDD still persisted
afterwards is a leak that fails the operation.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time
from collections import defaultdict

import gen
import layers
from check import Oracle, digest

# query -> the tables it scans; its nominal input rows are their sizes
TABLES_OF = {
    "hot_items_topn": ("events",),
    "page_views": ("events",),
    "unique_visitors": ("events",),
    "channel_stats": ("events",),
    "login_fail_detect": ("events",),
    "order_timeout": ("events",),
    "sessionize": ("events",),
    "funnel_conversions": ("events",),
    "tpch_q3": ("customer", "lineitem", "orders"),
    "tpch_q6": ("lineitem",),
    "source_pagerank": ("documents",),
    "dedup_canonicalize": ("documents",),
    "bpe_train_merges": ("documents",),
    "semantic_dedup": ("embeddings",),
    "bpe_tokenize_stats": ("documents",),
}

WORKLOADS = {
    "reference_surface": {
        "sf": 0.1,
        "min_passes": 3,
        "queries": (
            "hot_items_topn page_views unique_visitors channel_stats login_fail_detect "
            "order_timeout sessionize funnel_conversions tpch_q3 tpch_q6"
        ).split(),
    },
    "driver_loops": {
        "sf": 0.01,
        "min_passes": 1,
        "queries": (
            "source_pagerank dedup_canonicalize bpe_train_merges semantic_dedup bpe_tokenize_stats"
        ).split(),
    },
}

PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")
EXEC_KEYS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
             "shuffle_write_bytes", "spill_bytes")


def run(ctx, name: str) -> dict:
    spec = WORKLOADS[name]
    sf, names = spec["sf"], spec["queries"]
    data = os.path.join(ctx.work, "data")
    gen.write_tables(gen.batch_tables(ctx.seed, sf), data)
    rows = gen.table_rows(sf)
    nbytes = {t: os.path.getsize(os.path.join(data, f"{t}.parquet")) for t in rows}
    spark = ctx.start_session()
    sc = spark.sparkContext

    from flink_kafka_spark.caching import persistent_rdd_ids, release_all
    from flink_kafka_spark.queries import all_queries

    registry = all_queries()
    order_rng = random.Random(ctx.seed)

    # warm-up pass at full scale; its rows are checked after the timed window
    results, errors = {}, {}
    for q in order_rng.sample(names, len(names)):
        try:
            results[q] = registry[q].fn(spark, data).toPandas()
        except Exception as e:  # a failing query is reported, not fatal
            errors[q] = repr(e)
        release_all()
    setup_s = time.perf_counter() - ctx.t0

    def operation(q: str, op: str, traced: bool, w: dict) -> None:
        lay = w["layer"]
        try:
            e0, t0 = time.time(), time.perf_counter()
            if traced:
                sc.setJobGroup(f"{op}:build", q)
            df = registry[q].fn(spark, data)
            t1 = time.perf_counter()
            if traced:
                sc.setJobGroup(f"{op}:action", q)
            df.write.format("noop").mode("overwrite").save()
            t2, e2 = time.perf_counter(), time.time()
        except Exception as e:  # a failed operation is counted, not fatal
            print(f"perfbench: {op}: {e!r}", file=sys.stderr)
            w["failed"] += 1
            release_all()
            return
        finally:
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
        w["lat"].append((q, t2 - t0))
        release_all()
        t3 = time.perf_counter()
        leaked = len(persistent_rdd_ids(sc))
        w["failed"] += leaked > 0
        lay["caching.leaked_rdds"] += leaked
        for t in TABLES_OF[q]:
            lay["tables.input_rows"] += rows[t]
            lay["tables.input_bytes"] += nbytes[t]
        if not traced:
            return
        build = layers.read_group(sc, f"{op}:build")
        action = layers.read_group(sc, f"{op}:action")
        lay["queries.build_s"] += t1 - t0
        lay["queries.build_jobs"] += build["jobs"]
        lay["exec.action_s"] += t2 - t1
        lay["caching.release_s"] += t3 - t2
        for k in EXEC_KEYS:
            lay[f"exec.{k}"] += build[k] + action[k]
        lay["exec.driver_gap_s"] += layers.uncovered(e0, e2, build["spans"] + action["spans"])

    def window(traced: bool) -> dict:
        """Whole passes, each in a seeded order: at least ``min_passes``
        and at least ``ctx.seconds``."""
        w = {"lat": [], "ops": 0, "passes": 0, "failed": 0, "layer": defaultdict(float)}
        host0 = layers.cpu_times()
        start = time.perf_counter()
        while w["passes"] < spec["min_passes"] or time.perf_counter() - start < ctx.seconds:
            pass_start, done = time.perf_counter(), len(w["lat"])
            for q in order_rng.sample(names, len(names)):
                operation(q, f"{w['ops']}:{q}", traced, w)
                w["ops"] += 1
            w["passes"] += 1
            lat = " ".join(f"{q}={t:.3f}" for q, t in w["lat"][done:])
            print(f"perfbench: pass {w['passes']}: {time.perf_counter() - pass_start:.2f} s: {lat}",
                  file=sys.stderr)
        w["wall"] = time.perf_counter() - start
        w["host"] = layers.host_metrics(host0)
        return w

    timed = window(traced=ctx.trace)
    # a traced run repeats its window untraced to measure the tracing cost
    untraced = window(traced=False) if ctx.trace else None

    # correctness, outside the timed window and outside setup_s
    with open(PINS) as f:
        pins = json.load(f)
    oracle = Oracle(data)
    try:
        for q in names:
            if q in errors:
                continue
            if registry[q].oracle:
                bad = oracle.mismatch(results[q], registry[q].oracle)
            else:
                want = pins.get(f"{q}@sf{sf}", {}).get(str(ctx.seed % gen.CORPUS_VARIANTS))
                got = digest(results[q])
                bad = None if got == want else f"digest {got} != pinned {want}"
            if bad:
                errors[q] = bad
    finally:
        oracle.close()
    for q, why in errors.items():
        print(f"perfbench: {q}: {why}", file=sys.stderr)
    # every timed run of a query with a wrong result fails
    failed = timed["failed"] + timed["passes"] * len(errors)

    per_pass = {k: v / timed["passes"] for k, v in timed["layer"].items()}
    per_pass.update(timed["host"])
    if untraced:
        per_pass["trace.overhead_frac"] = (timed["wall"] / timed["passes"]) / (
            untraced["wall"] / untraced["passes"]
        ) - 1
    return {
        "setup_s": setup_s,
        "latencies_s": [t for _, t in timed["lat"]],
        "rows": timed["layer"]["tables.input_rows"],
        "wall_s": timed["wall"],
        "attempted": timed["ops"],
        "failed": min(timed["ops"], failed),
        "correct": not errors,
        "layers": per_pass,
    }
