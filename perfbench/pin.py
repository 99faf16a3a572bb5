"""Pin the result digests of the rows-only benchmark queries.

    python3 perfbench/pin.py

Run from the root of a checkout whose engine results are trusted. For
every corpus variant (``seed % CORPUS_VARIANTS``) it runs each query
without a DuckDB oracle on that variant's inputs and writes the digests
to ``perfbench/pins.json``, which the batch workloads check against.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import batch  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from check import digest  # noqa: E402


class _Args:
    seed, seconds, trace, cores = 0, 0, 0, 4


def main() -> int:
    root = os.getcwd()
    work = os.path.join(root, ".perfbench")
    shutil.rmtree(work, ignore_errors=True)
    run._isolate(root, work)
    ctx = run.Context(_Args, root, work)
    pins: dict[str, dict[str, str]] = {}
    try:
        spark = ctx.start_session()
        from flink_kafka_spark.caching import release_all
        from flink_kafka_spark.queries import all_queries

        registry = all_queries()
        for spec in batch.WORKLOADS.values():
            rows_only = [q for q in spec["queries"] if not registry[q].oracle]
            for variant in range(gen.CORPUS_VARIANTS):
                data = os.path.join(work, f"data{variant}")
                gen.write_tables(gen.batch_tables(variant, spec["sf"]), data)
                for q in rows_only:
                    pdf = registry[q].fn(spark, data).toPandas()
                    release_all()
                    pins.setdefault(f"{q}@sf{spec['sf']}", {})[str(variant)] = digest(pdf)
                    print(q, variant, pins[f"{q}@sf{spec['sf']}"][str(variant)], flush=True)
    finally:
        ctx.stop()
        os.chdir(root)
        shutil.rmtree(work, ignore_errors=True)
    with open(batch.PINS, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
