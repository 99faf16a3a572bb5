#!/usr/bin/env python3
"""Regenerate the README's bench paragraph from the recorded JSON (one
source of truth — the committed BENCH_DETAIL.json — no hand-typed
per-query numbers).

Usage:
    python tools/gen_bench.py            # rewrite the README block
    python tools/gen_bench.py --check    # exit 1 if README is stale

The block lives between BENCH:BEGIN / BENCH:END markers; everything in
it is derived from BENCH_DETAIL.json + BENCH_BASELINE.json at
generation time. Run after any `python bench.py` that rewrites
BENCH_DETAIL.json.
"""

from __future__ import annotations

import json
import pathlib
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent
BEGIN = "<!-- BENCH:BEGIN generated by tools/gen_bench.py from BENCH_DETAIL.json; do not hand-edit -->"
END = "<!-- BENCH:END -->"


def render() -> str:
    detail = json.loads((REPO / "BENCH_DETAIL.json").read_text())
    baseline = json.loads((REPO / "BENCH_BASELINE.json").read_text())
    q = detail["queries"]
    vs = detail.get("vs_baseline") or {}
    base_q = baseline["parsed"]["queries"]
    lines = [
        BEGIN,
        "",
        f"**Latest recorded bench** ({len(q)} queries, sf{detail['sf']}, "
        f"{detail['cpus']} cores): total {detail['value']:.1f} s, "
        f"calibration {detail['calibration_sec']:.3f} s.",
    ]
    if vs:
        worst = vs.get("worst") or {}
        lines += [
            "",
            f"Vs the frozen `BENCH_BASELINE.json` on the "
            f"{vs['common_queries']} common rows: raw total ratio "
            f"**{vs['raw_total_ratio']:.3f}**, calibration-normalized "
            f"geomean **{vs['norm_geomean']:.3f}**"
            + (
                f", worst row `{worst['name']}` at {worst['raw']:.2f}× raw / "
                f"{worst['norm']:.2f}× normalized."
                if worst
                else "."
            ),
        ]
    top = sorted(q.items(), key=lambda kv: -kv[1])[:5]
    lines += [
        "",
        "Five most expensive rows: "
        + ", ".join(f"`{n}` {s:.2f} s" for n, s in top)
        + ".",
    ]
    # coverage is judged against the LIVE suite, not the recorded
    # detail: a row added to BENCH_QUERIES after the last recording
    # must show up as unguarded even before a fresh bench run
    sys.path.insert(0, str(REPO))
    from bench import BENCH_QUERIES

    unguarded = sorted(n for n in set(q) | set(BENCH_QUERIES) if n not in base_q)
    if unguarded:
        lines += [
            "",
            f"Rows with no baseline entry yet (guardrail skips them until "
            f"the next justified re-record): "
            + ", ".join(f"`{n}`" for n in unguarded)
            + ".",
        ]
    else:
        lines += [
            "",
            "Every benched row has a baseline entry — the regression "
            "guardrail covers the full suite.",
        ]
    lines += ["", END]
    return "\n".join(lines)


def main() -> int:
    readme = REPO / "README.md"
    text = readme.read_text()
    if BEGIN not in text or END not in text:
        print("README.md is missing the BENCH:BEGIN/END markers", file=sys.stderr)
        return 1
    head, rest = text.split(BEGIN, 1)
    _, tail = rest.split(END, 1)
    new = head + render() + tail
    if "--check" in sys.argv:
        if new != text:
            print("README bench block is stale — run tools/gen_bench.py", file=sys.stderr)
            return 1
        print("README bench block matches BENCH_DETAIL.json")
        return 0
    readme.write_text(new)
    print("README bench block regenerated")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
