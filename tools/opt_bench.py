#!/usr/bin/env python3
"""Optimization-round iteration harness (r18): time a SUBSET of
registered queries with the bench methodology (noop sink, sf0.1,
median of N round-robin reps, warm-up pass) and optionally dump
``explain("formatted")`` for each into the untracked ``.plans/``
directory at the repo root.

This is a builder tool, not the driver contract — bench.py stays the
one true bench. Usage:

    python tools/opt_bench.py q1 q2 ...            # time queries
    python tools/opt_bench.py --reps 5 q1 q2
    python tools/opt_bench.py --explain before q1  # .plans/q1_before.txt
    python tools/opt_bench.py --explain after q1   # .plans/q1_after.txt

Timing and explain can be combined; explain runs after the timed reps
so plan capture never pollutes the timings.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_kafka_spark.caching import release_all  # noqa: E402
from flink_kafka_spark.queries import all_queries  # noqa: E402
from flink_kafka_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    reps = 5
    explain_tag = None
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--reps":
            reps = int(args[i + 1])
            i += 2
        elif args[i] == "--explain":
            explain_tag = args[i + 1]
            i += 2
        else:
            names.append(args[i])
            i += 1

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="opt_bench")
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.rdd.MapPartitionsRDD",
        jvm.org.apache.logging.log4j.Level.ERROR,
    )
    registry = all_queries()
    unknown = [n for n in names if n not in registry]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    warm_dir = "/root/testdata/sf0.001"
    for name in names:
        try:
            registry[name].fn(spark, warm_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:
            pass
        release_all()
        spark.catalog.clearCache()

    samples: dict[str, list[float]] = {n: [] for n in names}
    for _rep in range(reps):
        for name in names:
            spark.sparkContext.setJobDescription(f"opt_bench:{name}")
            t0 = time.perf_counter()
            registry[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            samples[name].append(time.perf_counter() - t0)
            release_all()
            spark.catalog.clearCache()
    out = {
        n: {
            "median": round(sorted(r)[len(r) // 2], 3),
            "min": round(min(r), 3),
            "runs": [round(x, 3) for x in r],
        }
        for n, r in samples.items()
        if r
    }
    print(json.dumps(out, indent=1))

    if explain_tag:
        plans_dir = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".plans"
        )
        os.makedirs(plans_dir, exist_ok=True)
        import contextlib
        import io

        for name in names:
            df = registry[name].fn(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
            path = os.path.join(plans_dir, f"{name}_{explain_tag}.txt")
            with open(path, "w") as f:
                f.write(text)
            release_all()
            spark.catalog.clearCache()
            print(f"wrote {path}", file=sys.stderr)


if __name__ == "__main__":
    main()
