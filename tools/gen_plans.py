#!/usr/bin/env python3
"""Regenerate PLANS.md: a condensed physical-plan audit of the bench
headline queries at sf0.1 — shuffle (Exchange) count, broadcast joins,
scan pushdown and column pruning per query. The raw numbers the
100 TB scale claims rest on. Run: python tools/gen_plans.py"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_kafka_spark import observe  # noqa: E402
from flink_kafka_spark.queries import all_queries  # noqa: E402
from flink_kafka_spark.session import get_spark  # noqa: E402

from bench import BENCH_QUERIES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# audit() key -> physical operator class it counts
COUNTED = {
    "exchanges": "ShuffleExchangeExec",
    "broadcasts": "BroadcastHashJoinExec",
    "smj": "SortMergeJoinExec",
    "bnlj": "BroadcastNestedLoopJoinExec",
    "cartesian": "CartesianProductExec",
}


def _operators(df) -> list[tuple[str, object, bool]]:
    """(class name, node, live) for every distinct operator of the
    frame's physical plan, each counted once by JVM identity.

    An AdaptiveSparkPlanExec is read through its initial plan (its
    input plan has no exchanges yet, and its final plan exists only
    once executed, so reading it would make counts depend on what ran
    before). Every other node is followed through ``children`` and
    ``innerChildren``, which reach cached InMemoryRelation plans and
    subqueries. ``live`` is False below an InMemoryTableScanExec: that
    cached build plan runs once at materialization, not per
    invocation of the frame."""
    ident = df.sparkSession._jvm.java.lang.System.identityHashCode
    live, cached = [df._jdf.queryExecution().executedPlan()], []
    seen: set[int] = set()
    out = []
    while live or cached:
        is_live = bool(live)
        node = (live or cached).pop()
        key = ident(node)
        if key in seen:
            continue
        seen.add(key)
        name = node.getClass().getSimpleName()
        out.append((name, node, is_live))
        if name == "AdaptiveSparkPlanExec":
            kids = [node.initialPlan()]
        else:
            kids = [
                seq.apply(i)
                for seq in (node.children(), node.innerChildren())
                for i in range(seq.size())
            ]
        # reversed: pop() then visits children left to right
        below = live if is_live and name != "InMemoryTableScanExec" else cached
        below.extend(reversed(kids))
    return out


def _scan(node) -> str:
    table = node.relation().location().rootPaths().head().getName()
    pushed = ", pushed" if node.metadata().apply("PushedFilters") != "[]" else ""
    return f"{table.removesuffix('.parquet')}({node.requiredSchema().length()} cols{pushed})"


def audit(df) -> dict:
    """Operator counts of ``df``'s physical plan (keys of COUNTED) and
    its parquet scans, over the whole plan and, as ``live_*``, over
    the per-invocation part only (cached build plans excluded)."""
    ops = _operators(df)
    out = {}
    for prefix, kept in (("", ops), ("live_", [op for op in ops if op[2]])):
        names = [name for name, _, _ in kept]
        out.update({prefix + k: names.count(cls) for k, cls in COUNTED.items()})
        out[prefix + "scans"] = ", ".join(
            _scan(node) for name, node, _ in kept if name == "FileSourceScanExec"
        )
    return out


def loop_rounds(executions: list[dict]) -> list[dict]:
    """The loop-round executions among ``observe.read(..., sql=True)``'s
    ``executions``. The PageRank and CC loops cut each round batch with
    a lazy localCheckpoint, so a round batch runs as one execution with
    a live join, and the loop's next action (the count or convergence
    probe that materializes the cut) is an execution without one."""
    def joins(e):
        return e["live_broadcasts"] + e["live_smj"]

    return [e for e, nxt in zip(executions, executions[1:]) if joins(e) and not joins(nxt)]


def main() -> None:
    spark = get_spark(app_name="plan_audit")
    qs = all_queries()
    lines = [
        "# PLANS — physical-plan audit of the bench headline queries",
        "",
        f"Generated by tools/gen_plans.py at {SF_DIR}. Counts walk the",
        "physical plan tree (`queryExecution().executedPlan()`) and count",
        "each distinct operator once. Adaptive (AQE) nodes are read",
        "through their initial plan, the pre-execution plan; AQE may",
        "still coalesce or convert at runtime. Cached (InMemoryRelation)",
        "build plans and subqueries are included. shuffles =",
        "ShuffleExchangeExec, broadcast joins = BroadcastHashJoinExec,",
        "sort-merge joins = SortMergeJoinExec. Scans list each parquet",
        "FileSourceScanExec: table, width of its required schema, and",
        "'pushed' when it carries pushed filters.",
        "",
        "The `[loop rounds]` rows are executed plans: each query runs once",
        "through `observe.run`, and `observe.read` counts each SQL",
        "execution's plan graph, which is the AQE final plan. A row shows",
        "the heaviest loop-round execution's live counts (the walk stops at",
        "the cache scan of the persisted edge frame, so its one-time build",
        "plan is excluded) and how many loop-round executions ran. A",
        "PageRank execution runs 3 rounds (CHK_EVERY); a CC execution runs",
        "one. Shapes on a fixture graph are pinned by",
        "tests/test_plans.py::test_iterative_loop_body_shapes.",
        "",
        "| query | shuffles | broadcast joins | sort-merge joins | scans (pruned cols) |",
        "|---|---|---|---|---|",
    ]
    for name in BENCH_QUERIES:
        try:
            a = audit(qs[name].fn(spark, SF_DIR))
        except Exception as ex:  # pragma: no cover
            lines.append(f"| {name} | — | — | — | ERROR {str(ex)[:80]} |")
            continue
        counts = " | ".join(str(a[k]) for k in ("exchanges", "broadcasts", "smj"))
        lines.append(f"| {name} | {counts} | {a['scans'] or '—'} |")
    # iterative queries return a localCheckpoint whose lineage is cut,
    # so their headline rows read 0/0/0; their loop rows come from a run
    for name in ("source_pagerank", "dedup_canonicalize"):
        rounds = loop_rounds(observe.read(spark, observe.run(spark, qs[name], SF_DIR), sql=True)["executions"])
        top = max(rounds, key=lambda e: sum(e[f"live_{k}"] for k in COUNTED))
        counts = " | ".join(str(top[f"live_{k}"]) for k in ("exchanges", "broadcasts", "smj"))
        lines.append(f"| {name}[loop rounds] | {counts} | {len(rounds)} loop-round executions |")
    lines.append("")
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
