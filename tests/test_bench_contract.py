"""The driver records only a 2,000-byte stdout TAIL of bench.py and
parses the last line as JSON. A bench record was once lost because
the single output line grew past that tail (per-query maps at 75
queries). bench.py now prints the detail record first and a compact
summary LAST; these tests pin the compact line's size so BENCH_QUERIES
growth can never silently re-break the driver's parse."""

import json

import bench

DRIVER_TAIL_BYTES = 2000
# headroom: the driver tail must hold the line even if every numeric
# field lands at max width and a few regressions fire
SIZE_BUDGET = bench.SIZE_BUDGET


def _worst_case_detail() -> dict:
    # every query at a max-width timing; totals and ratios at max width
    queries = {name: 99999.999 for name in bench.BENCH_QUERIES}
    return {
        "metric": "headline queries wall time",
        "value": 9999999.999,
        "unit": "sec",
        "queries": queries,
        "calibration_sec": 99999.999,
        "sf": 0.123,
        "cpus": 128,
        "vs_baseline": {
            "common_queries": len(queries),
            "raw_total_ratio": 99999.999,
            "norm_geomean": 99999.999,
            "worst": {"name": max(queries, key=len), "raw": 99999.999, "norm": 99999.999},
            "per_query": {n: {"raw": 99999.999, "norm": 99999.999} for n in queries},
        },
        "leaked_persists": sorted(queries),  # every query leaked
        "regressions": {
            n: f"{99999.99:.2f} vs baseline {99999.99:.2f} cal-units "
            f"({99999.99:.2f}x; raw {99999.999:.3f}s vs {99999.999:.3f}s)"
            for n in sorted(queries, key=len, reverse=True)[:8]
        },
    }


def test_compact_line_fits_driver_tail():
    line = json.dumps(bench._compact_line(_worst_case_detail()))
    assert len(line.encode()) < SIZE_BUDGET, (
        f"compact bench line is {len(line)} bytes; the driver keeps a "
        f"{DRIVER_TAIL_BYTES}-byte tail — trim fields or tighten truncation"
    )


def test_compact_line_keeps_summary_fields():
    out = bench._compact_line(_worst_case_detail())
    for key in ("metric", "value", "unit", "calibration_sec", "sf", "n_queries"):
        assert key in out
    assert out["n_queries"] == len(bench.BENCH_QUERIES)
    vs = out["vs_baseline"]
    assert "per_query" not in vs
    for key in ("common_queries", "raw_total_ratio", "norm_geomean", "worst"):
        assert key in vs
    # regressions and leak lists truncated to a bounded count,
    # remainder counted (a mass leak must not re-break the parse)
    assert len(out["regressions"]) <= 5
    assert out["regressions_truncated"] == 3
    assert len(out["leaked_persists"]) <= 5
    assert out["leaked_truncated"] == len(bench.BENCH_QUERIES) - 5


def test_compact_line_carries_budget_capped_per_query_seconds():
    """The driver's per-query comparison found no common rows while the
    last line carried no per-query seconds.
    The compact line now carries the most-expensive-first prefix of the
    per-query map that fits the byte budget, exact values, count of
    the omitted tail."""
    detail = _worst_case_detail()
    # realistic distinct costs so the ranking is observable
    detail["queries"] = {
        name: float(len(bench.BENCH_QUERIES) - i)
        for i, name in enumerate(bench.BENCH_QUERIES)
    }
    out = bench._compact_line(detail)
    kept = out["queries"]
    assert kept, "budget fill kept nothing despite a sub-budget base line"
    # exact values, and every omitted row is cheaper than every kept one
    assert all(detail["queries"][n] == v for n, v in kept.items())
    floor = min(kept.values())
    omitted = [n for n in detail["queries"] if n not in kept]
    assert all(detail["queries"][n] <= floor for n in omitted)
    assert out.get("queries_omitted", 0) == len(omitted)
    assert len(json.dumps(out).encode()) < SIZE_BUDGET
    # a tiny map fits whole: no omission marker
    small = dict(detail, queries={"tpch_q1": 1.234, "tpch_q3": 0.5})
    small.pop("regressions"), small.pop("leaked_persists"), small.pop("vs_baseline")
    out_small = bench._compact_line(small)
    assert out_small["queries"] == {"tpch_q1": 1.234, "tpch_q3": 0.5}
    assert "queries_omitted" not in out_small


def test_vs_baseline_survives_zero_timing(monkeypatch):
    """A 0.0-rounded median must not abort the bench via
    math.log(0)."""
    vs = bench._vs_baseline(
        {"q": 0.0, "z": 0.0}, calibration=0.5, loaded=({"q": 1.0, "z": 0.0}, 0.5)
    )
    # "z" has a zero BASELINE — no signal, skipped by the existing guard;
    # "q"'s zero TIMING is clamped instead of feeding math.log(0)
    assert vs["common_queries"] == 1
    assert all(v["raw"] > 0 and v["norm"] > 0 for v in vs["per_query"].values())


def test_load_baseline_exposes_recording_cpus():
    """The frozen baseline records the core count it was measured at;
    bench.main() suppresses the vs-baseline guardrail when the session
    runs at a different count (calibration ratios are not comparable
    across core counts)."""
    queries, cal, cpus = bench._load_baseline("0.1")
    assert queries and cal
    assert cpus == 32


def test_readme_bench_block_is_generated_and_renderable():
    """The README's bench paragraph is GENERATED from the recorded JSON
    (tools/gen_bench.py), never hand-typed. Pin the marker block's
    presence, that the generator renders cleanly from the committed
    files, and that the committed block is fresh (what
    `python tools/gen_bench.py --check` asserts)."""
    import pathlib
    import sys

    repo = pathlib.Path(__file__).resolve().parent.parent
    sys.path.insert(0, str(repo / "tools"))
    try:
        import gen_bench
    finally:
        sys.path.pop(0)

    text = (repo / "README.md").read_text()
    assert gen_bench.BEGIN in text and gen_bench.END in text
    assert text.index(gen_bench.BEGIN) < text.index(gen_bench.END)
    block = gen_bench.render()
    assert block.startswith(gen_bench.BEGIN) and block.endswith(gen_bench.END)
    assert "Latest recorded bench" in block
    committed = text[text.index(gen_bench.BEGIN):text.index(gen_bench.END) + len(gen_bench.END)]
    assert committed == block, "README bench block is stale — run tools/gen_bench.py"
    # every per-query number in the block must come from the JSON, so
    # the five-most-expensive names it lists must be benched queries
    detail = json.loads((repo / "BENCH_DETAIL.json").read_text())
    for name, _ in sorted(detail["queries"].items(), key=lambda kv: -kv[1])[:5]:
        assert f"`{name}`" in block


def test_no_round_named_files():
    """Records are named for what they hold, not for the run that wrote
    them: git history keeps superseded files, so no file at the repo
    root carries a round suffix."""
    import pathlib

    repo = pathlib.Path(__file__).resolve().parent.parent
    offenders = sorted(p.name for p in repo.glob("*_r[0-9]*"))
    assert not offenders, f"round-named files at the repo root: {offenders}"


def test_driver_rows_become_frames_only_through_local_frame():
    """The engine turns driver-side rows into a DataFrame only through
    ``io.local_frame``, a LocalRelation whose actions run no Spark job.
    ``createDataFrame`` over a Python list parallelizes the rows into
    pickled slices, and every action over them pays a wide stage of
    Python-worker round trips; this scan keeps that path out."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "flink_kafka_spark"
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text())
        allowed = {
            id(n)
            for fn in ast.walk(tree)
            if path == pkg / "io.py" and isinstance(fn, ast.FunctionDef)
            and fn.name == "local_frame"
            for n in ast.walk(fn)
        }
        offenders += [
            f"{path.relative_to(pkg.parent)}:{n.lineno}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
            and n.func.attr == "createDataFrame" and id(n) not in allowed
        ]
    assert not offenders, f"createDataFrame outside io.local_frame: {offenders}"
