"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--cores C]

Run from the root of a checkout of the repository. The workload's
inputs are generated from ``--seed`` under ``.perfbench/`` in that
checkout, which is removed again at exit. The last line of standard
output is one JSON object: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. Metric names and units are
the ones in ``BENCHMARK.json``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, for setup_s

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("reference_surface", "driver_loops", "stream_detectors")


def tail_quantile(n: int, q: float = 0.9, beyond: int = 10) -> float:
    """``q``, lowered to the highest quantile of ``n`` samples that still
    leaves ``beyond`` samples above it."""
    return min(q, (n - beyond) / n)


def percentile(samples: list[float], q: float = 0.9, beyond: int = 10) -> float:
    """The :func:`tail_quantile` of ``samples`` (nearest rank), and the
    median when that quantile would fall below it."""
    xs = sorted(samples)
    q = tail_quantile(len(xs), q, beyond)
    return xs[math.ceil(q * len(xs)) - 1] if q > 0.5 else statistics.median(xs)


def _spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


class Context:
    """What a workload needs from the runner: seed, window, paths and a
    timed session start."""

    def __init__(self, args, root: str, work: str) -> None:
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.cores, self.root, self.work, self.t0 = args.cores, root, work, T0
        self.session_layers: dict[str, float] = {}
        self.spark = None

    def start_session(self):
        from flink_kafka_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.memory": "4g",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData"
                ),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.spark.range(1).collect()  # the first job warms the scheduler
        self.session_layers = {
            "session.start_s": t1 - t0,
            "session.first_job_s": time.perf_counter() - t1,
        }
        return self.spark

    def stop(self) -> None:
        """Stop the session and wait for the JVM to exit; it exits when
        its stdin closes, taking its Python workers with it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def _isolate(root: str, work: str) -> None:
    """Keep every file the run writes inside ``work``, and let Python
    workers import the engine from any working directory."""
    for d in ("tmp", "spark", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    paths = [root, *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path.insert(0, root)
    os.chdir(work)


def metrics(result: dict, session: dict, trace: bool, spec: dict) -> dict:
    lat = result["latencies_s"] or [0.0]  # every operation failed
    if trace:
        values = {**session, **result["layers"]}
        wanted = spec["per_layer"]
    else:
        values = {
            "setup_s": result["setup_s"],
            "rows_per_s": result["rows"] / result["wall_s"],
            "latency_p50_ms": statistics.median(lat) * 1e3,
            "latency_p90_ms": percentile(lat) * 1e3,
        }
        wanted = spec["end_to_end"]
    undeclared = set(values) - {m["name"] for m in wanted}
    if undeclared:
        raise ValueError(f"metrics missing from BENCHMARK.json: {sorted(undeclared)}")
    # a layer the workload does not exercise reads 0
    return {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "flink_kafka_spark", "__init__.py")):
        print(f"perfbench: no flink_kafka_spark package under {root}", file=sys.stderr)
        return 2
    spec = _spec()
    work = os.path.join(root, ".perfbench")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(root, work)
    ctx = Context(args, root, work)
    try:
        if args.workload == "stream_detectors":
            import stream

            result = stream.run(ctx, args.workload)
        else:
            import batch

            result = batch.run(ctx, args.workload)
    finally:
        ctx.stop()
        os.chdir(root)
        shutil.rmtree(work, ignore_errors=True)

    n = len(result["latencies_s"])
    q = max(0.5, tail_quantile(n)) if n else 0
    host = result["layers"]
    print(f"perfbench: {args.workload} seed={args.seed}: {result['attempted']} operations, "
          f"latency_p90_ms is the p{round(q * 100)} of {n} samples; host steal "
          f"{host['host.steal_frac']:.1%}, load {host['host.load1']:.2f}", file=sys.stderr)
    print(json.dumps({
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": metrics(result, ctx.session_layers, bool(args.trace), spec),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
