"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import stream  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_batch_tables_are_deterministic_per_seed():
    a, b, c = gen.batch_tables(7, 0.001), gen.batch_tables(7, 0.001), gen.batch_tables(8, 0.001)
    assert a.keys() == b.keys() == set(gen.table_rows(0.001))
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert all(a[t].num_rows == n for t, n in gen.table_rows(0.001).items())


def test_corpus_cycles_through_pinned_variants():
    a = gen.batch_tables(3, 0.001)
    b = gen.batch_tables(3 + gen.CORPUS_VARIANTS, 0.001)
    assert a["documents"].equals(b["documents"]) and a["embeddings"].equals(b["embeddings"])
    assert not a["events"].equals(b["events"])


def test_stream_backlogs_are_deterministic_per_seed(tmp_path):
    first = stream.make_backlogs(5, str(tmp_path / "a"))
    again = stream.make_backlogs(5, str(tmp_path / "b"))
    other = stream.make_backlogs(6, str(tmp_path / "c"))
    assert first == again and first != other
    for d in os.listdir(tmp_path / "a"):
        cmp = filecmp.dircmp(tmp_path / "a" / d, tmp_path / "b" / d)
        assert not cmp.diff_files and not cmp.left_only and not cmp.right_only


def test_backlog_files_never_go_back_in_event_time(tmp_path):
    """The file source admits files by mtime; each file must start at or
    after the previous one's last event, or its rows arrive late."""
    stream.make_backlogs(1, str(tmp_path))
    for d in os.listdir(tmp_path):
        files = sorted((tmp_path / d).iterdir(), key=lambda p: p.stat().st_mtime)
        assert len({p.stat().st_mtime for p in files}) == len(files)
        last = -1
        for p in files:
            ts = [int(line.rsplit(",", 1)[1]) for line in p.read_text().split()]
            assert min(ts) >= last
            last = max(ts)


def test_percentile_keeps_ten_samples_beyond():
    xs = list(range(1, 101))  # 100 samples: the plain p90
    assert run.percentile(xs) == 90
    xs = list(range(1, 35))  # 34 samples: p90 would leave 3 beyond
    got = run.percentile(xs)
    assert sum(x > got for x in xs) == 10
    assert run.percentile([3.0, 1.0, 2.0, 10.0]) == 2.5  # too few: the median
    assert run.percentile(list(np.arange(1000.0))) == 899.0


@pytest.mark.parametrize("trace", [False, True])
def test_printed_metrics_match_benchmark_json(trace):
    spec = _spec()
    result = {
        "setup_s": 1.0, "latencies_s": [0.5, 0.7], "rows": 100, "wall_s": 2.0,
        "layers": {"exec.jobs": 3.0, "stream.state_rows_peak": 5.0},
    }
    out = run.metrics(result, {"session.start_s": 1.0}, trace, spec)
    declared = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in out.items()} == declared
    assert all(isinstance(v["value"], float) for v in out.values())


def test_undeclared_layer_metric_is_refused():
    result = {"setup_s": 1.0, "latencies_s": [1.0], "rows": 1, "wall_s": 1.0,
              "layers": {"exec.not_declared": 1.0}}
    with pytest.raises(ValueError, match="exec.not_declared"):
        run.metrics(result, {}, True, _spec())


def test_benchmark_json_keeps_the_contract_shape():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower",
                      "bound": max(m["bound"] for m in spec["end_to_end"])}]


def test_refuses_to_run_without_the_engine(tmp_path, monkeypatch, capsys):
    monkeypatch.chdir(tmp_path)
    args = ["--workload", "reference_surface", "--seed", "1", "--seconds", "1"]
    assert run.main(args) != 0
    assert capsys.readouterr().out == ""
