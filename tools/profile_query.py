#!/usr/bin/env python3
"""Per-query time attribution for optimization work (guide §1/§7).

Runs the named queries through ``flink_kafka_spark.observe`` in the
default (UI-off) session: one warm pass at sf0.001, then ``--reps``
round-robin timed runs. For each query it prints where the last run's
wall time went — per-stage executor time vs DRIVER GAPS (time inside
the run covered by no running job: Catalyst analysis, AQE re-planning,
collect processing, job submission latency), read from Spark's status
stores, and how many classes each run compiled (``codegen_compiles``,
each a generated-code cache miss). The last stdout line is JSON:
median, min and all runs in seconds, and each run's compile count,
per query. This is the builder's measurement tool, not the driver
contract; bench.py stays the one bench.

Usage: python tools/profile_query.py q1 [q2 ...] --sf DIR [--reps N]
           [--sql] [--explain TAG]

--sql          also rank the last run's plan nodes by operator time and
               print each SQL execution's non-zero live plan counts
--explain TAG  write the last run's final physical plan (formatted) to
               .plans/<query>_<TAG>.txt at the repo root (gitignored)
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from flink_kafka_spark import observe  # noqa: E402
from flink_kafka_spark.queries import all_queries  # noqa: E402
from flink_kafka_spark.session import get_spark  # noqa: E402


def _report(name: str, runs: list[float], rec: dict, r: dict, show_sql: bool) -> None:
    print(
        f"\n=== {name}: wall {rec['wall_s']:.3f}s (build {rec['build_s']:.3f}s, "
        f"action {rec['action_s']:.3f}s; all reps {[round(w, 3) for w in runs]}), "
        f"codegen compiles {rec['codegen_compiles']}, "
        f"{r['jobs']} jobs, {r['stages']} stages, {r['tasks']} tasks, "
        f"executorRunTime {r['executor_run_s']:.2f}s, cpu {r['executor_cpu_s']:.2f}s, "
        f"spill {r['spill_bytes'] >> 10}K, driver gaps {r['driver_gap_s']:.2f}s"
    )
    for s in sorted(r["stage_rows"], key=lambda s: -s["duration_s"])[:12]:
        print(
            f"  stage {s['stage']:>5} {s['duration_s']:6.3f}s tasks={s['tasks']:<3} "
            f"run={s['executor_run_s']:6.2f}s shR={s['shuffle_read_bytes'] >> 10}K "
            f"shW={s['shuffle_write_bytes'] >> 10}K  {s['name'][:60]}"
        )
    if show_sql:
        print("  -- SQL plan nodes by operator time --")
        for o in [o for o in r["operators"] if o["sec"] > 0.005][:15]:
            print(f"  {o['sec']:7.2f}s  exec={o['execution']:<4} rows={o['rows']:<12} {o['node'][:70]}")
        print("  -- SQL executions: non-zero live plan counts --")
        for e in r["executions"]:
            live = " ".join(f"{k[5:]}={v}" for k, v in e.items() if k.startswith("live_") and v)
            print(f"  exec={e['execution']:<4} {live or '-'}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("names", nargs="+", metavar="query")
    ap.add_argument("--sf", required=True, metavar="DIR", help="data directory")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sql", action="store_true")
    ap.add_argument("--explain", metavar="TAG")
    args = ap.parse_intermixed_args()

    spark = get_spark(app_name="profile")
    registry = all_queries()
    unknown = [n for n in args.names if n not in registry]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    queries = [registry[n] for n in args.names]
    observe.warm(spark, queries)

    runs: dict[str, list[float]] = {n: [] for n in args.names}
    compiles: dict[str, list[int]] = {n: [] for n in args.names}
    last: dict[str, tuple[dict, dict]] = {}
    for rep in range(args.reps):
        for q in queries:
            rec = observe.run(spark, q, args.sf)
            runs[q.name].append(rec["wall_s"])
            compiles[q.name].append(rec["codegen_compiles"])
            if rep == args.reps - 1:  # read before later runs age it out
                last[q.name] = rec, observe.read(spark, rec, sql=args.sql or bool(args.explain))

    for name, (rec, r) in last.items():
        _report(name, runs[name], rec, r, args.sql)
        if args.explain:
            path = os.path.join(ROOT, ".plans", f"{name}_{args.explain}.txt")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as f:
                f.write(r["plan"])
            print(f"wrote {path}", file=sys.stderr)
    print(json.dumps({
        n: {"median": round(sorted(w)[len(w) // 2], 3), "min": round(min(w), 3),
            "runs": [round(x, 3) for x in w], "codegen_compiles": compiles[n]}
        for n, w in runs.items() if w
    }))


if __name__ == "__main__":
    main()
